package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** [[SeenGate]] on Spark 4's `transformWithState` — the successor API to
  * FMGWS ([[KeyedTransition.flatMapGroups]]), and the one that may be
  * CHAINED with further stateful operators in a single streaming query
  * (the FMGWS restriction that forces one-stateful-stage-per-query goes
  * away). This port is the template for migrating the other stateful
  * ops: the pure `advance`
  * logic maps onto typed state variables (ValueState/ListState) plus
  * explicit per-key timers. It is the one streaming form of the gate:
  * SeenGateSpec pins its output against the batch left-semi + bypass.
  *
  * Runs on the RocksDB state store that `GraftSession` sets for every
  * `transformWithState` operator — also the production-scale choice:
  * state lives off-heap/on-disk, bounded only by local disk. */
object SeenGateTws {
  import SeenGate.{Event, Gated}

  /** Chained-query output: `emittedAt` is the RELEASE time (non-decreasing
    * relative to the watermark). A chained downstream stateful stage must
    * anchor on it — original event times re-emerge arbitrarily far behind
    * the single global watermark, and a fresh `withWatermark` node
    * downstream idles at zero until the gate emits, deadlocking the gate's
    * own timers (both failure modes pinned in SeenGateTwsSpec history).
    * The `transformWithState(processor, eventTimeColumnName, mode)`
    * overload re-assigns the watermark column without a second watermark
    * node — Spark's sanctioned chaining mechanism. */
  case class GatedAt(key: String, id: String, tsMs: Long,
      emittedAt: java.sql.Timestamp)

  /** Chained-INPUT row: [[SeenGate.Event]] plus the upstream stage's
    * release stamp (the union's shared time column). The stamp itself is
    * not read by the gate — it exists so a mid-chain gate's input frame
    * carries the watermark column the tws chaining contract requires. */
  case class EventAt(key: String, side: Int, id: String, tsMs: Long,
      immediate: Boolean, emittedAt: java.sql.Timestamp)

  /** The gate transition over any input shape that maps onto
    * [[SeenGate.Event]] — one body for the raw-stream and mid-chain
    * forms. */
  abstract class GateProcessor[I] extends StatefulProcessor[String, I, GatedAt] {
    protected def toEvent(i: I): Event

    @transient private var seen: ValueState[Boolean] = _
    @transient private var delayed: ListState[(Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig.NONE)
      delayed = getHandle.getListState[(Long, String)]("delayed",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING), TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[I],
        timerValues: TimerValues): Iterator[GatedAt] = {
      val out = Seq.newBuilder[GatedAt]
      rows.map(toEvent).foreach { e =>
        if (e.side == 1) {
          if (!seen.exists()) seen.update(true)
        } else if (e.immediate) {
          out += GatedAt(key, e.id, e.tsMs, new java.sql.Timestamp(
            math.max(e.tsMs, timerValues.getCurrentWatermarkInMs() + 1)))
        } else {
          delayed.appendValue((e.tsMs, e.id))
          // gate at the left's own timestamp, watermark-coordinated
          getHandle.registerTimer(
            math.max(e.tsMs, timerValues.getCurrentWatermarkInMs() + 1))
        }
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[GatedAt] = {
      val cutoff = expiredTimerInfo.getExpiryTimeInMs()
      val all = delayed.get().toList
      val (due, still) = all.partition(_._1 <= cutoff)
      delayed.clear()
      if (still.nonEmpty) delayed.appendList(still.toArray)
      if (seen.exists() && seen.get())
        due.sorted.iterator.map { case (ts, id) =>
          GatedAt(key, id, ts, new java.sql.Timestamp(cutoff)) }
      else Iterator.empty
    }
  }

  class Processor extends GateProcessor[Event] {
    protected def toEvent(e: Event): Event = e
  }

  /** Mid-chain form of [[Processor]]: consumes [[EventAt]] rows. */
  class ProcessorAt extends GateProcessor[EventAt] {
    protected def toEvent(e: EventAt): Event =
      Event(e.key, e.side, e.id, e.tsMs, e.immediate)
  }

  def gateStream(events: Dataset[Event], watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[Gated] = {
    import spark.implicits._
    gateStreamChained(events, watermarkDelay)
      .select(col("key"), col("id"), col("tsMs")).as[Gated]
  }

  /** The chainable form: output watermark rides the `emittedAt` column via
    * the eventTimeColumnName overload, so further stateful stages compose
    * in the SAME query (SeenGateTwsSpec chains a windowed count). */
  def gateStreamChained(events: Dataset[Event], watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[GatedAt] = {
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
      .transformWithState(new Processor, "emittedAt", OutputMode.Append())
  }

  /** MID-CHAIN gate: `events` already carry an upstream `emittedAt` time
    * column (e.g. a [[SlidingCounterTws]] emission stream unioned with a
    * watermarked marker stream — the reference's RightSeenOutput position
    * in the counter job, CounterJob.java:470-499 top-query filtering).
    * No new watermark node; the output re-anchors on its own release
    * stamps, so FURTHER stages can chain after the gate. */
  def gateChained(events: Dataset[EventAt])(
      implicit spark: SparkSession): Dataset[GatedAt] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .transformWithState(new ProcessorAt, "emittedAt", OutputMode.Append())
  }
}
