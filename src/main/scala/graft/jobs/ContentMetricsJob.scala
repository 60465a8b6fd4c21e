package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Windows
import graft.schema.ActionType
import graft.sinks.Sinks
import graft.sources.LogRequestSplit

/** Content Metrics Job (reference
  * P:job/contentmetrics/ContentMetricsJob.java, SURVEY §3.3, A9-A11),
  * stated once for batch and stream: union the typed streams into a
  * sparse metric-column stream ([[unifiedEvents]], the [[MetricCols]])
  * and sum it per (platformId, contentId) per time bucket ([[rollup]]).
  * The batch buckets with `Windows.bucket`; `StreamingJobs.contentMetrics`
  * buckets with an event-time `window`, which append mode requires.
  * ContentMetricsParitySpec pins that both give the same hourly rows.
  */
object ContentMetricsJob {

  /** The seven A11 metric columns, in output order. */
  val MetricCols: Seq[String] = Seq("view_count", "impression_count",
    "navigate_count", "add_to_cart_count", "checkout_count",
    "purchase_count", "gmv_usd_micros")

  /** The rollup key. */
  val Keys: Seq[String] = Seq("platformId", "contentId")

  /** A11: per-event sparse metric columns. */
  def unifiedEvents(envelopes: DataFrame)(implicit spark: SparkSession): DataFrame = {
    // one metric column per name, the given ones set and the rest 0
    def metrics(set: (String, Column)*): Seq[Column] =
      MetricCols.map(m => set.toMap.getOrElse(m, lit(0L)).as(m))
    def typed(df: DataFrame, contentId: Column, set: (String, Column)*) =
      df.select(col("platformId") +: contentId.as("contentId") +:
        col("timing.eventApiTimestamp").as("tsMs") +: metrics(set: _*): _*)
    val t = col("actionType")
    def isType(a: Int) = when(t === a, 1L).otherwise(0L)
    // cart actions contribute per cart item with quantity × unit price
    val acts = LogRequestSplit.actions(envelopes).toDF()
      .withColumn("cartItem", explode_outer(col("cart")))
    typed(LogRequestSplit.views(envelopes).toDF(), col("contentId"),
        "view_count" -> lit(1L))
      .unionByName(typed(LogRequestSplit.impressions(envelopes).toDF(),
        col("contentId"), "impression_count" -> lit(1L)))
      .unionByName(typed(acts,
        coalesce(when(col("cartItem.contentId") =!= "", col("cartItem.contentId")),
          col("contentId")),
        "navigate_count" -> isType(ActionType.Navigate),
        "add_to_cart_count" -> isType(ActionType.AddToCart),
        "checkout_count" -> isType(ActionType.Checkout),
        "purchase_count" -> isType(ActionType.Purchase),
        "gmv_usd_micros" -> when(t === ActionType.Purchase,
          coalesce(col("cartItem.quantity") * col("cartItem.priceMicrosPerUnit"),
            lit(0L))).otherwise(0L)))
  }

  /** A9: sum each of `metrics` per `bucket` and `keys`. The batch passes
    * `Windows.bucket(tsMs, size)`, the stream an event-time `window`. */
  def rollup(unified: DataFrame, bucket: Column, keys: Seq[String],
      metrics: Seq[String] = MetricCols): DataFrame =
    unified.groupBy(bucket +: keys.map(col): _*)
      .agg(sum(col(metrics.head)).as(metrics.head),
        metrics.tail.map(c => sum(col(c)).as(c)): _*)

  /** Tumbling batch rollup with dt/hour partition columns from the
    * window start. */
  private def tumbling(envelopes: DataFrame, sizeMs: Long)(
      implicit spark: SparkSession): DataFrame =
    Sinks.withDtHour(rollup(unifiedEvents(envelopes),
      Windows.bucket(col("tsMs"), sizeMs).as("window_start_ms"), Keys),
      "window_start_ms")

  def hourly(envelopes: DataFrame)(implicit spark: SparkSession): DataFrame =
    tumbling(envelopes, 3600 * 1000L)

  def daily(envelopes: DataFrame)(implicit spark: SparkSession): DataFrame =
    tumbling(envelopes, 24 * 3600 * 1000L).drop("hour")
}
