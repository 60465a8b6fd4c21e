package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.sources.FakeLogGenerator

/** Run the four reference-shaped pipelines end-to-end over the
  * deterministic generator and print output summaries — the library's
  * equivalent of the reference's local job runs (pipeline/README.md).
  *
  * Usage: runMain graft.jobs.JobRunner [users] [viewsPerUser]
  */
object JobRunner {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = graft.GraftSession.create()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val opts = FakeLogGenerator.Options(
      users = args.headOption.map(_.toInt).getOrElse(10),
      viewsPerUser = args.lift(1).map(_.toInt).getOrElse(3))
    val envelopes = FakeLogGenerator.generate(opts).toDS().toDF()

    val raw = RawOutputJob.run(envelopes)
    println(s"JOBS raw: views=${raw.views.count()} dlogs=${raw.deliveryLogs.count()} " +
      s"imps=${raw.impressions.count()} acts=${raw.actions.count()} luu=${raw.logUserUser.count()} " +
      s"dlogIds=${raw.deliveryLogIds.count()} respInsIds=${raw.responseInsertionIds.count()}")

    val flat = FlatOutputJob.run(envelopes)
    val impsByType = flat.joinedImpressions.groupBy("matchType").count()
      .as[(String, Long)].collect().toMap
    println(s"JOBS flat: joinedImpressions=$impsByType " +
      s"droppedImps=${flat.droppedImpressions.count()} " +
      s"joinedActions=${flat.joinedActions.count()} " +
      s"validationErrors=${flat.validationErrors.count()}")

    val events = flat.joinedActions.selectExpr("platformId",
      "userInfo.logUserId AS logUserId", "'u' AS userId", "contentId",
      "actionType", "timing.eventApiTimestamp AS tsMs",
      "CAST(NULL AS BIGINT) AS quantity")
    println(s"JOBS counter: commands=${CounterJob.run(events).count()}")

    println(s"JOBS contentmetrics: hourlyRows=${ContentMetricsJob.hourly(envelopes).count()} " +
      s"dailyRows=${ContentMetricsJob.daily(envelopes).count()}")
    spark.stop()
  }
}
