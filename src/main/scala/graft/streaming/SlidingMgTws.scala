package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.agg.MisraGries

/** Streaming sliding-window frequent-items CANDIDATES over Misra–Gries
  * slices — the continuous form of the q112 batch gate's first stage,
  * completing the slice→range trilogy ([[SlidingHllTws]] distinct counts,
  * Count-Min frequencies, now frequent items): per key, each time slice
  * holds an MG(k) working map in MapState, and when the watermark closes
  * a window the covering slices merge by counter addition + the
  * mergeable-MG prune and emit one summary row with the window's EXACT
  * row count.
  *
  * What is and isn't deterministic — the [[graft.agg.MisraGriesAgg]]
  * contract, restated for streaming: counter CONTENT depends on arrival
  * order (MG inserts don't commute), but the GUARANTEE is schedule-free —
  * the emitted candidate set covers every value with in-window count
  * > win_n/(k+1) (so every φ-heavy value when k ≥ phiDen), each counter
  * undercounts its true count by < win_n/(k+1), and `win_n` itself is
  * exact (addition commutes). Consumers that need bit-exact counts run
  * the same exact-verify join the batch path uses
  * ([[graft.agg.MisraGries.slidingHeavyHitters]]'s second scan) over the
  * emitted candidates; consumers that only gate on "≥ φ fraction,
  * ±1/(k+1)" read the summary directly. SlidingMgTwsSpec pins both the
  * guarantee and exactness of win_n against the batch form.
  *
  * State per key: (live slices) × (≤ 2k counters + one long) — bounded by
  * window span + watermark delay, independent of value cardinality; a
  * slice prunes as soon as its last covering window emits (the
  * [[SlidingHllTws]] retention rule). Out-of-order events need no reorder
  * buffer: an insert lands in its event-time slice wherever the batch
  * boundary falls, and the guarantee absorbs the order dependence. */
object SlidingMgTws {

  case class Event(key: String, tsMs: Long, value: String)
  case class WindowSummary(key: String, windowStartMs: Long, mg: String,
      winN: Long, emittedAt: java.sql.Timestamp)

  class Processor(k: Int, sliceMs: Long, windowSlices: Int)
      extends SliceWindowProcessor[Event, WindowSummary](sliceMs, windowSlices) {
    private val mg = MisraGries.Algebra(k)

    // slice → unpruned MG render (parse/insert/render once per key-batch,
    // not per event) and slice → exact row count
    @transient private var sliceMg: MapState[Long, String] = _
    @transient private var sliceN: MapState[Long, Long] = _

    override protected def initSlices(): Unit = {
      sliceMg = sliceMap("sliceMg", Encoders.STRING)
      sliceN = sliceMap("sliceN", Encoders.scalaLong)
    }

    override protected def eventTimeMs(e: Event): Long = e.tsMs

    private def stored(slice: Long) = mg.addRender(mg.empty(), sliceMg.getValue(slice))

    override protected def addToSlice(slice: Long, rows: Seq[Event]): Unit = {
      val buf = if (sliceMg.containsKey(slice)) stored(slice) else mg.empty()
      rows.foreach(e => mg.insert(buf, UTF8String.fromString(e.value)))
      sliceMg.updateValue(slice, mg.render(buf))
      sliceN.updateValue(slice,
        (if (sliceN.containsKey(slice)) sliceN.getValue(slice) else 0L)
          + rows.size)
    }

    /** Buffer merge of the window's slices (counter addition with the
      * mergeable-MG prune); exact row count. */
    override protected def merge(key: String, windowStartMs: Long,
        live: Seq[Long], emittedAt: java.sql.Timestamp): Seq[WindowSummary] = {
      val buf = live.foldLeft(mg.empty())((b, s) => mg.merge(b, stored(s)))
      Seq(WindowSummary(key, windowStartMs, mg.render(buf),
        live.map(sliceN.getValue).sum, emittedAt))
    }
  }

  /** Per-key sliding frequent-items summaries: window = `windowSlices`
    * slices of `sliceMs`, advancing per slice. Output watermark rides
    * `emittedAt` for chaining. */
  def summaryStream(events: Dataset[Event], watermarkDelay: String, k: Int,
      sliceMs: Long, windowSlices: Int)(
      implicit spark: SparkSession): Dataset[WindowSummary] = {
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
      .transformWithState(new Processor(k, sliceMs, windowSlices),
        "emittedAt", OutputMode.Append())
  }
}
