package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, ValueState}

/** Streaming one-sided CUSUM drift monitor — the continuous form of
  * [[graft.operators.Anomaly.cusumDrift]], with the KNOWN-target
  * parameterization control charts deploy online (Page 1954: μ is the
  * in-control level you're defending, decided up front; the batch form's
  * per-key empirical mean needs the whole series and is a backtest).
  *
  * Order discipline: CUSUM is a left fold, so out-of-order events CANNOT
  * be folded on arrival. Rows wait in the [[WatermarkOrderedFold]]
  * reorder buffer until the watermark passes them, then fold in
  * (tsMs, vE6) order — the same total order the batch window form sorts
  * by, which is what makes streaming ≡ batch exact (CusumTwsSpec pins
  * it). State per key: one running S + the in-flight reorder buffer,
  * pruned every drain — bounded by the watermark delay, independent of
  * stream length.
  *
  * Emission: one [[Point]] per processed event (S after the event, alarm
  * flag, and the fold sequence for downstream dedup). `emittedAt` carries
  * the release time so further tws stages can chain on it (the
  * `eventTimeColumnName` convention of the other ports). */
object CusumTws {

  case class Event(key: String, tsMs: Long, vE6: Long)
  case class Point(key: String, tsMs: Long, vE6: Long, sE6: Long,
      alarmed: Boolean, seq: Long, emittedAt: java.sql.Timestamp)

  class Processor(targetE6: Long, slackE6: Long, thresholdE6: Long)
      extends WatermarkOrderedFold[Event, Point] {
    @transient private var s: ValueState[Long] = _
    @transient private var seq: ValueState[Long] = _

    override protected def initState(): Unit = {
      s = getHandle.getValueState[Long]("s", Encoders.scalaLong,
        TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[Event]
    override protected def eventTimeMs(e: Event): Long = e.tsMs

    override protected def fold(key: String, due: Seq[Event],
        emittedAt: java.sql.Timestamp): Seq[Point] = {
      var cur = if (s.exists()) s.get() else 0L
      var n = if (seq.exists()) seq.get() else 0L
      val out = due.sortBy(e => (e.tsMs, e.vE6)).map { e =>
        cur = math.max(0L, cur + e.vE6 - targetE6 - slackE6)
        n += 1
        Point(e.key, e.tsMs, e.vE6, cur, cur > thresholdE6, n, emittedAt)
      }
      s.update(cur)
      seq.update(n)
      out
    }
  }

  /** Monitor a keyed event stream. Output watermark rides `emittedAt` for
    * chaining. */
  def monitor(events: Dataset[Event], watermarkDelay: String, targetE6: Long,
      slackE6: Long, thresholdE6: Long)(
      implicit spark: SparkSession): Dataset[Point] = {
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
      .transformWithState(new Processor(targetE6, slackE6, thresholdE6),
        "emittedAt", OutputMode.Append())
  }
}
