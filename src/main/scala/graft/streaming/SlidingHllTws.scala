package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.RollingHash

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
    require(p >= 4 && p <= 16)
    private val m = 1 << p
    private val windowBits = 64 - p

    @transient private var slices: MapState[Long, Array[Byte]] = _

    override protected def initSlices(): Unit =
      slices = sliceMap("slices", Encoders.BINARY)

    override protected def eventTimeMs(e: Event): Long = e.tsMs

    override protected def addToSlice(slice: Long, rows: Seq[Event]): Unit = {
      val buf = if (slices.containsKey(slice)) slices.getValue(slice)
        else new Array[Byte](m)
      rows.foreach { e =>
        val h = RollingHash.polyHash64Utf8(UTF8String.fromString(e.value))
        val bucket = (h >>> windowBits).toInt
        val w = h & ((1L << windowBits) - 1)
        val rank = if (w == 0L) windowBits + 1
          else java.lang.Long.numberOfLeadingZeros(w) - p + 1
        if (rank > buf(bucket)) buf(bucket) = rank.toByte
      }
      slices.updateValue(slice, buf)
    }

    /** Register max over the window's slices, as hex. */
    override protected def merge(key: String, windowStartMs: Long,
        live: Seq[Long], emittedAt: java.sql.Timestamp): Seq[WindowSketch] = {
      val buf = new Array[Byte](m)
      live.foreach { s =>
        val sl = slices.getValue(s)
        var i = 0
        while (i < m) { if (sl(i) > buf(i)) buf(i) = sl(i); i += 1 }
      }
      val sb = new java.lang.StringBuilder(2 * m)
      var i = 0
      while (i < m) {
        val v = buf(i) & 0xff
        sb.append(Character.forDigit(v >> 4, 16))
          .append(Character.forDigit(v & 15, 16))
        i += 1
      }
      Seq(WindowSketch(key, windowStartMs, sb.toString, emittedAt))
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
