package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.agg.HllSketch

/** Streaming sliding-window distinct counts over HLL register slices —
  * the continuous form of the q108 batch gate: per key, each event
  * updates its time-slice's register array in MapState (m bytes per live
  * slice, NEVER the value set), and when the watermark closes a window
  * the covering slices merge by register max and emit one sketch row.
  *
  * Two state properties make this the cheapest stateful op in the
  * library:
  *  - register updates COMMUTE (max-monoid), so out-of-order events fold
  *    directly into their slice — no reorder buffer, no event-time sort,
  *    unlike the CUSUM fold one file over;
  *  - state per key is (live slices) × m bytes, bounded by the window
  *    span + watermark delay — independent of cardinality and stream
  *    length. A slice prunes as soon as its LAST covering window emits.
  *
  * Emission is deterministic: window W emits only once the watermark
  * passes W's end, when every in-delay event for its slices has arrived —
  * the emitted registers are byte-identical to the batch slice-merge over
  * the same rows (SlidingHllTwsSpec pins it). `emittedAt` rides the
  * output for downstream chaining, per the tws-port convention. */
object SlidingHllTws {

  case class Event(key: String, tsMs: Long, value: String)
  case class WindowSketch(key: String, windowStartMs: Long, hll: String,
      emittedAt: java.sql.Timestamp)

  class Processor(p: Int, sliceMs: Long, windowSlices: Int)
      extends SliceWindowProcessor[Event, WindowSketch](sliceMs, windowSlices) {
    private val hll = HllSketch.Algebra(p)

    @transient private var slices: MapState[Long, Array[Byte]] = _

    override protected def initSlices(): Unit =
      slices = sliceMap("slices", Encoders.BINARY)

    override protected def eventTimeMs(e: Event): Long = e.tsMs

    override protected def addToSlice(slice: Long, rows: Seq[Event]): Unit = {
      val buf = if (slices.containsKey(slice)) slices.getValue(slice) else hll.empty()
      rows.foreach(e => hll.insert(buf, UTF8String.fromString(e.value)))
      slices.updateValue(slice, buf)
    }

    /** Register max over the window's slices, as hex. */
    override protected def merge(key: String, windowStartMs: Long,
        live: Seq[Long], emittedAt: java.sql.Timestamp): Seq[WindowSketch] = {
      val buf = live.foldLeft(hll.empty())((b, s) => hll.merge(b, slices.getValue(s)))
      Seq(WindowSketch(key, windowStartMs, hll.render(buf), emittedAt))
    }
  }

  /** Per-key sliding distinct-count sketches: window = `windowSlices`
    * slices of `sliceMs`, advancing per slice. */
  def sketchStream(events: Dataset[Event], watermarkDelay: String, p: Int,
      sliceMs: Long, windowSlices: Int)(
      implicit spark: SparkSession): Dataset[WindowSketch] = {
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
      .transformWithState(new Processor(p, sliceMs, windowSlices),
        "emittedAt", OutputMode.Append())
  }
}
