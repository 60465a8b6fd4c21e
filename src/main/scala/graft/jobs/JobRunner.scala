package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit, max}

import graft.functions.UserAgents
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
      s"validationErrors=${flat.validationErrors.count()} " +
      s"flatResponseInsertions=${flat.flatResponseInsertions.count()}")

    // a joined action carries neither a search query nor a user agent:
    // the query families stay empty, and the device families count under
    // the parser's family for a missing agent
    val events = flat.joinedActions.selectExpr("platformId",
      "userInfo.logUserId AS logUserId", "'u' AS userId", "contentId",
      "actionType", "timing.eventApiTimestamp AS tsMs",
      "CAST(NULL AS BIGINT) AS queryHash",
      s"'${UserAgents.OtherFamily}' AS osFamily",
      s"'${UserAgents.OtherFamily}' AS agentFamily",
      "CAST(NULL AS BIGINT) AS quantity")
    val nowMs = events.agg(coalesce(max(col("tsMs")), lit(0L))).head().getLong(0)
    println(s"JOBS counter: commands=" +
      s"${CounterJob.run(events, minQueryCount = 3L, nowMs).count()}")

    println(s"JOBS contentmetrics: hourlyRows=${ContentMetricsJob.hourly(envelopes).count()} " +
      s"dailyRows=${ContentMetricsJob.daily(envelopes).count()}")
    spark.stop()
  }
}
