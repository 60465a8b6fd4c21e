package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.jobs.ContentMetricsJob

/** Content-metrics shape over the catalog's `events` table: each event
  * type maps to sparse metric columns, summed per hour by the Content
  * Metrics Job's own [[ContentMetricsJob.rollup]]
  * (P:job/contentmetrics/resources/1_create_unified_event_stream.sql:1-84,
  * 2_create_view_hourly_content_metrics.sql; SURVEY §2.6 A9-A11).
  *
  * Money is integer cents end-to-end (the reference uses amount_micros
  * longs): integer sums are associative, so results are independent of
  * partitioning — required for cross-engine verification and exactly what
  * you want at 1000-executor scale.
  */
object ContentMetrics {

  /** Dollars-double → integer cents (exact for 2-decimal money columns). */
  def cents(dollars: Column): Column = round(dollars * 100).cast("long")

  private val metricCols =
    Seq("view_count", "click_count", "signup_count", "error_count",
      "purchase_count", "gmv_cents")

  /** Sparse metric encoding of the `events` table (SURVEY A11 analogue). */
  def unifiedMetrics(events: DataFrame): DataFrame = {
    val t = col("event_type")
    events.select(
      col("ts"), col("user_id"),
      when(t === "view", 1L).otherwise(0L).as("view_count"),
      when(t === "click", 1L).otherwise(0L).as("click_count"),
      when(t === "signup", 1L).otherwise(0L).as("signup_count"),
      when(t === "error", 1L).otherwise(0L).as("error_count"),
      when(t === "purchase", 1L).otherwise(0L).as("purchase_count"),
      when(t === "purchase", cents(col("value"))).otherwise(0L).as("gmv_cents"))
  }

  // cast("timestamp") is a no-op for session-TZ inputs and converts
  // TIMESTAMP_NTZ wall-clocks under the UTC session TZ — keeps the
  // rollup working over either parquet timestamp flavor.
  def hourly(events: DataFrame): DataFrame =
    ContentMetricsJob.rollup(unifiedMetrics(events),
      Windows.bucket(unix_millis(col("ts").cast("timestamp")), 3600 * 1000L)
        .as("window_start_ms"),
      keys = Nil, metrics = metricCols)
}
