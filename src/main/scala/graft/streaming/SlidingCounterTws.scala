package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.schema.WindowAggResult

/** [[SlidingCounter]] on `transformWithState`, so counter emission can
  * CHAIN with further stateful stages in one query (sliding counts
  * feeding a seen-gate in `StreamingJobs.counterQueryFamilies`). It is
  * the same transition, [[SlidingCounter.advance]], on the
  * [[TransitionProcessor]] harness: the key's whole state in one
  * `counterState` value, as on FMGWS (see [[CounterState]]), and one
  * timer per key at the next emit tick.
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

  /** `SlidingCounter.State` as stored: Spark 4.1 derives an Avro schema
    * for every `transformWithState` state variable, and an Avro map takes
    * only string keys, so the buckets are kept as (bucket, count) pairs. */
  case class CounterState(buckets: Seq[(Long, Long)], lastEmitMs: Long)

  /** Both entry points emit every tick the watermark has passed, so a
    * continuously-hot key emits off its own input and the timer only
    * covers keys that go quiet with live buckets. */
  class Processor(emitMs: Long, windowsMs: Seq[Long])
      extends TransitionProcessor[String, Event, CounterState, WindowAggResult,
        ResultAt] {
    override protected def stateName = "counterState"
    override protected def stateEncoder = Encoders.product[CounterState]
    override protected def emptyState = CounterState(Nil, 0L)
    override protected def isEmpty(s: CounterState): Boolean =
      s.buckets.isEmpty
    override protected def fireAt(key: String,
        s: CounterState): Option[Long] = Some(s.lastEmitMs + emitMs)
    override protected def advance(key: String, rows: Seq[Event],
        s: CounterState, wmMs: Long): (Seq[WindowAggResult], CounterState) = {
      val (out, next) = SlidingCounter.advance(key, rows,
        State(s.buckets.toMap, s.lastEmitMs), wmMs, emitMs, windowsMs)
      (out, CounterState(next.buckets.toSeq, next.lastEmitMs))
    }
    override protected def stamp(r: WindowAggResult, wmMs: Long): ResultAt =
      ResultAt(r.key, r.windowStartMs, r.windowSizeMs, r.count,
        new java.sql.Timestamp(
          math.max(r.windowStartMs + r.windowSizeMs, wmMs + 1)))
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
