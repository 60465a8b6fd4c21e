package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.WindowAggResult

/** Exact emit-cadence sliding counter (reference SlidingCounter,
  * P:common/functions/SlidingCounter.java:38-292, and its hourly/daily
  * subclasses): per key, counts accumulate into ceil-aligned sub-buckets;
  * every `emitMs` the live buckets re-sum into one WindowAggResult per
  * configured window size, and buckets older than the largest window drop
  * out — counts *slide* (decrement after expiry), unlike append-mode
  * window aggregation which only ever finalizes.
  *
  * `Windows.slidingCount` gives value parity for batch/oracle checks; this
  * operator reproduces the reference's emission profile (one row per key
  * per emit tick per window size) for feature-store freshness.
  *
  * State per key = one count per live sub-bucket: windows/emitMs longs —
  * bounded, watermark-pruned, skew-safe.
  */
object SlidingCounter {

  case class Event(key: String, tsMs: Long, n: Long)
  case class State(buckets: Map[Long, Long], lastEmitMs: Long)

  /** Pure transition: ingest, then emit ticks up to the watermark. */
  def advance(key: String, events: Seq[Event], st: State, watermarkMs: Long,
      emitMs: Long, windowsMs: Seq[Long]): (Seq[WindowAggResult], State) = {
    val maxWindow = windowsMs.max
    var buckets = st.buckets
    events.foreach { e =>
      // ceil-aligned sub-bucket (reference SlidingCounter.processElement)
      val b = ((e.tsMs + emitMs - 1) / emitMs) * emitMs
      buckets += (b -> (buckets.getOrElse(b, 0L) + e.n))
    }
    val out = Seq.newBuilder[WindowAggResult]
    var lastEmit = if (st.lastEmitMs > 0) st.lastEmitMs
      else buckets.keys.minOption.getOrElse(0L) - emitMs
    // fire every emit tick the watermark has fully passed
    while (lastEmit + emitMs <= watermarkMs && buckets.nonEmpty) {
      lastEmit += emitMs
      val tick = lastEmit
      windowsMs.foreach { w =>
        val sum = buckets.collect {
          case (b, n) if b <= tick && b > tick - w => n }.sum
        out += WindowAggResult(key, tick - w, w, sum)
      }
      buckets = buckets.filter { case (b, _) => b > tick - maxWindow }
    }
    (out.result(), State(buckets, lastEmit))
  }

  def countStream(events: Dataset[Event], watermarkDelay: String,
      emitMs: Long, windowsMs: Seq[Long])(
      implicit spark: SparkSession): Dataset[WindowAggResult] = {
    import spark.implicits._
    val keyed = events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
    // wake at the next emit tick
    KeyedTransition.flatMapGroups(keyed, State(Map.empty, 0L))(
      _.buckets.isEmpty, (_, st) => Some(st.lastEmitMs + emitMs)) {
      (key, rows, st, wm) => advance(key, rows, st, wm, emitMs, windowsMs)
    }
  }
}
