package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `CounterJob.run` scans its input once. Every family aggregates from one
  * persisted projection; a union stage that finds a cached partition still
  * being written waits for that writer (Spark then logs "Block rdd_N_P
  * already exists on this machine; not re-adding it") instead of
  * computing it again. */
class CounterJobScanSpec extends SparkSpec {
  import spark.implicits._

  test("CounterJob.run evaluates each input row once") {
    val n = 2000
    // a fresh plan per round (nowMs differs), so no round reads an earlier
    // round's cache; a slow row keeps each partition in its writer's hands
    for (round <- 1 to 3) {
      val evals = spark.sparkContext.longAccumulator(s"counter_row_evals_$round")
      val events = (0 until n).toDF("i").repartition(8)
        .map { r => evals.add(1L); Thread.sleep(1L); r.getInt(0) }.toDF("i")
        .select(lit(1L).as("platformId"), (col("i") % 37).cast("string").as("logUserId"),
          (col("i") % 31).cast("string").as("userId"),
          (col("i") % 11).cast("string").as("contentId"), (col("i") % 5).as("actionType"),
          (lit(1700000000000L) + col("i").cast("long") * 60000L).as("tsMs"),
          (col("i") % 7).cast("long").as("queryHash"), lit("Linux").as("osFamily"),
          lit("Firefox").as("agentFamily"), lit(null).cast("long").as("quantity"))
      assert(CounterJob.run(events, 3L, 1700000000000L + n * 60000L + round)
        .collect().nonEmpty)
      assert(evals.sum == n, s"round $round: ${evals.sum} row evaluations for $n rows")
    }
  }
}
