package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig}

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
      extends KeyTimerProcessor[Event, WindowSummary] {
    require(k >= 1 && sliceMs > 0 && windowSlices >= 1)
    private val spanMs = sliceMs * windowSlices

    // slice → rendered MG map (parse/insert/render once per key-batch,
    // not per event) and slice → exact row count
    @transient private var sliceMg: MapState[Long, String] = _
    @transient private var sliceN: MapState[Long, Long] = _
    @transient private var pending: MapState[Long, Boolean] = _

    override protected def initState(): Unit = {
      sliceMg = getHandle.getMapState[Long, String]("sliceMg",
        Encoders.scalaLong, Encoders.STRING, TTLConfig.NONE)
      sliceN = getHandle.getMapState[Long, Long]("sliceN",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getMapState[Long, Boolean]("pending",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    private def render(m: mutable.HashMap[String, Long]): String = {
      val sb = new java.lang.StringBuilder
      m.toSeq.sortBy(_._1).foreach { case (s, c) =>
        if (sb.length > 0) sb.append('\u001e')
        sb.append(MisraGries.escape(s)).append('\u001f').append(c)
      }
      sb.toString
    }

    override protected def ingest(key: String, rows: Iterator[Event]): Unit =
      rows.toSeq.groupBy(e => e.tsMs - math.floorMod(e.tsMs, sliceMs))
        .foreach { case (slice, es) =>
          val m = mutable.HashMap.empty[String, Long]
          if (sliceMg.containsKey(slice))
            MisraGries.parse(sliceMg.getValue(slice))
              .foreach { case (s, c) => m.update(s, c) }
          es.foreach { e =>
            m.update(e.value, m.getOrElse(e.value, 0L) + 1L)
            if (m.size > 2 * k) MisraGries.prune(m, k)
          }
          sliceMg.updateValue(slice, render(m))
          sliceN.updateValue(slice,
            (if (sliceN.containsKey(slice)) sliceN.getValue(slice) else 0L)
              + es.size)
          var j = 0
          while (j < windowSlices) {
            val wStart = slice - j * sliceMs
            if (!pending.containsKey(wStart)) pending.updateValue(wStart, true)
            j += 1
          }
        }

    /** Emit every pending window the watermark has closed; prune slices
      * no future window needs. */
    override protected def release(key: String,
        wmMs: Long): Iterator[WindowSummary] = {
      if (wmMs == Long.MinValue) return Iterator.empty
      val due = pending.iterator().map(_._1)
        .filter(w => w + spanMs <= wmMs).toArray.sorted
      if (due.isEmpty) return Iterator.empty
      val emitAt = new java.sql.Timestamp(wmMs)
      val out = due.iterator.map { w =>
        val m = mutable.HashMap.empty[String, Long]
        var n = 0L
        var j = 0
        while (j < windowSlices) {
          val s = w + j * sliceMs
          if (sliceMg.containsKey(s)) {
            MisraGries.parse(sliceMg.getValue(s)).foreach { case (v, c) =>
              m.update(v, m.getOrElse(v, 0L) + c)
            }
            if (m.size > k) MisraGries.prune(m, k)
            n += sliceN.getValue(s)
          }
          j += 1
        }
        pending.removeKey(w)
        WindowSummary(key, w, render(m), n, emitAt)
      }.toArray
      // slice H serves windows starting in (H−span, H]; prune once the
      // last one (start = H) has emitted
      sliceMg.iterator().map(_._1).filter(_ + spanMs <= wmMs).toArray
        .foreach { s => sliceMg.removeKey(s); sliceN.removeKey(s) }
      out.iterator
    }

    /** Wake when the earliest open window can close. */
    override protected def nextTimer(wmMs: Long): Option[Long] =
      pending.iterator().map(_._1).minOption
        .map(w => math.max(w + spanMs, wmMs + 1))
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
