package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig}
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
      extends KeyTimerProcessor[Event, WindowSketch] {
    require(p >= 4 && p <= 16 && sliceMs > 0 && windowSlices >= 1)
    private val m = 1 << p
    private val windowBits = 64 - p
    private val spanMs = sliceMs * windowSlices

    @transient private var slices: MapState[Long, Array[Byte]] = _
    @transient private var pending: MapState[Long, Boolean] = _

    override protected def initState(): Unit = {
      slices = getHandle.getMapState[Long, Array[Byte]]("slices",
        Encoders.scalaLong, Encoders.BINARY, TTLConfig.NONE)
      pending = getHandle.getMapState[Long, Boolean]("pending",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    private def updateSlice(tsMs: Long, value: String): Unit = {
      val slice = tsMs - math.floorMod(tsMs, sliceMs)
      val buf = if (slices.containsKey(slice)) slices.getValue(slice)
        else new Array[Byte](m)
      val h = RollingHash.polyHash64Utf8(UTF8String.fromString(value))
      val bucket = (h >>> windowBits).toInt
      val w = h & ((1L << windowBits) - 1)
      val rank = if (w == 0L) windowBits + 1
        else java.lang.Long.numberOfLeadingZeros(w) - p + 1
      if (rank > buf(bucket)) { buf(bucket) = rank.toByte; slices.updateValue(slice, buf) }
      else if (!slices.containsKey(slice)) slices.updateValue(slice, buf)
      // a slice's data makes every window covering it live
      var j = 0
      while (j < windowSlices) {
        val wStart = slice - j * sliceMs
        if (!pending.containsKey(wStart)) pending.updateValue(wStart, true)
        j += 1
      }
    }

    override protected def ingest(key: String, rows: Iterator[Event]): Unit =
      rows.foreach(e => updateSlice(e.tsMs, e.value))

    /** Emit every pending window the watermark has closed; prune slices
      * no future window needs. */
    override protected def release(key: String,
        wmMs: Long): Iterator[WindowSketch] = {
      if (wmMs == Long.MinValue) return Iterator.empty
      val due = pending.iterator().map(_._1)
        .filter(w => w + spanMs <= wmMs).toArray.sorted
      if (due.isEmpty) return Iterator.empty
      val emitAt = new java.sql.Timestamp(wmMs)
      val out = due.iterator.map { w =>
        val buf = new Array[Byte](m)
        var j = 0
        while (j < windowSlices) {
          val s = w + j * sliceMs
          if (slices.containsKey(s)) {
            val sl = slices.getValue(s)
            var i = 0
            while (i < m) { if (sl(i) > buf(i)) buf(i) = sl(i); i += 1 }
          }
          j += 1
        }
        pending.removeKey(w)
        val sb = new java.lang.StringBuilder(2 * m)
        var i = 0
        while (i < m) {
          val v = buf(i) & 0xff
          sb.append(Character.forDigit(v >> 4, 16))
            .append(Character.forDigit(v & 15, 16))
          i += 1
        }
        WindowSketch(key, w, sb.toString, emitAt)
      }.toArray
      // slice H serves windows starting in (H−span, H]; the LAST is the
      // window starting at H, emitted once wm ≥ H + span
      slices.iterator().map(_._1).filter(_ + spanMs <= wmMs).toArray
        .foreach(slices.removeKey)
      out.iterator
    }

    /** Wake when the earliest open window can close. */
    override protected def nextTimer(wmMs: Long): Option[Long] =
      pending.iterator().map(_._1).minOption
        .map(w => math.max(w + spanMs, wmMs + 1))
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
