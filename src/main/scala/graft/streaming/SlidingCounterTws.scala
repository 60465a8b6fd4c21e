package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
  ValueState}

import graft.schema.WindowAggResult

/** [[SlidingCounter]] on `transformWithState` — completes the tws ports of
  * the stateful family (seen-gate, last-seen, inferred join, redundant
  * reduce), so counter emission can CHAIN with further stateful stages in
  * one query (e.g. sliding counts feeding a top-k threshold gate). The
  * transition logic is [[SlidingCounter.advance]] verbatim; this wrapper
  * maps it onto typed state (a bucket MapState instead of the FMGWS state
  * case class — per-bucket point updates, no full-map rewrite per batch)
  * and one [[KeyTimerProcessor]] timer per key at the emit cadence.
  *
  * Runs on the RocksDB state store that `GraftSession` sets for every
  * `transformWithState` operator. */
object SlidingCounterTws {
  import SlidingCounter.{Event, State}

  /** Chained-query output: `emittedAt` is the RELEASE stamp — the tick
    * time clamped above the current watermark (the chaining contract:
    * watermark values stay in the source event-time domain, only emission
    * stamps are inflated; identical to the other tws ports). After a
    * watermark jump, every tick drained in that catch-up shares one
    * release stamp — a downstream stage windowing on `emittedAt` windows
    * RELEASES, not cadence; window on `windowStartMs + windowSizeMs` for
    * cadence-aligned downstream aggregation. */
  case class ResultAt(key: String, windowStartMs: Long, windowSizeMs: Long,
      count: Long, emittedAt: java.sql.Timestamp)

  class Processor(emitMs: Long, windowsMs: Seq[Long])
      extends KeyTimerProcessor[String, Event, ResultAt] {
    @transient private var buckets: MapState[Long, Long] = _
    @transient private var lastEmit: ValueState[Long] = _

    override protected def initState(): Unit = {
      buckets = getHandle.getMapState[Long, Long]("buckets",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      lastEmit = getHandle.getValueState[Long]("lastEmit",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def ingest(rows: Iterator[Event]): Unit = {
      var minBucket = Long.MaxValue
      rows.foreach { e =>
        val b = ((e.tsMs + emitMs - 1) / emitMs) * emitMs // ceil-aligned
        buckets.updateValue(b,
          (if (buckets.containsKey(b)) buckets.getValue(b) else 0L) + e.n)
        if (b < minBucket) minBucket = b
      }
      // first sight of the key: anchor the cadence one tick before the
      // earliest bucket (advance's lastEmitMs==0 convention)
      if (!lastEmit.exists() && minBucket != Long.MaxValue)
        lastEmit.update(minBucket - emitMs)
    }

    /** Emit every tick the watermark has passed and point-rewrite the
      * bucket map (advance only ever drops buckets outside ingest). Both
      * the input path and the timer path run this, so a continuously-hot
      * key emits every batch off its own input processing — timers only
      * cover keys that go QUIET with live buckets (input processing runs
      * before timer expiry within a batch, so a due timer on a hot key is
      * a no-op, never the only emission path). */
    override protected def step(key: String, rows: Iterator[Event],
        wmMs: Long): Iterator[ResultAt] = {
      ingest(rows)
      if (!lastEmit.exists()) return Iterator.empty
      val st = State(buckets.iterator().map(kv => kv._1 -> kv._2).toMap,
        lastEmit.get())
      val (out, next) = SlidingCounter.advance(key, Nil, st, wmMs, emitMs, windowsMs)
      st.buckets.keysIterator.filterNot(next.buckets.contains)
        .foreach(buckets.removeKey)
      lastEmit.update(next.lastEmitMs)
      if (next.buckets.isEmpty) { buckets.clear(); lastEmit.clear() }
      out.map(r => ResultAt(r.key, r.windowStartMs, r.windowSizeMs,
        r.count, new java.sql.Timestamp(
          math.max(r.windowStartMs + r.windowSizeMs, wmMs + 1)))).iterator
    }

    /** The next FUTURE tick (step has already fired everything <= wm,
      * so lastEmit+emitMs > wm here — never delete-and-repark a due
      * timer, the starvation failure mode for always-active keys); none
      * once the key drained empty. */
    override protected def nextTimer(wmMs: Long): Option[Long] =
      if (!lastEmit.exists()) None
      else Some(math.max(lastEmit.get() + emitMs, wmMs + 1))
  }

  /** FMGWS-parity form (drops the chaining column). */
  def countStream(events: Dataset[Event], watermarkDelay: String,
      emitMs: Long, windowsMs: Seq[Long])(
      implicit spark: SparkSession): Dataset[WindowAggResult] = {
    import spark.implicits._
    countStreamChained(events, watermarkDelay, emitMs, windowsMs)
      .select(col("key"), col("windowStartMs"), col("windowSizeMs"),
        col("count").as("count")).as[WindowAggResult]
  }

  /** Chainable form: output watermark rides `emittedAt`. */
  def countStreamChained(events: Dataset[Event], watermarkDelay: String,
      emitMs: Long, windowsMs: Seq[Long])(
      implicit spark: SparkSession): Dataset[ResultAt] = {
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
      .transformWithState(new Processor(emitMs, windowsMs), "emittedAt",
        OutputMode.Append())
  }
}
