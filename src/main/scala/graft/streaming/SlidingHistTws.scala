package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode}

/** Streaming EXACT sliding-window percentiles — the continuous form of
  * [[graft.agg.Windows.slidingPercentiles]] (the latency-SLO p50/p95/p99
  * per window), fourth member of the slice→range family: per key, each
  * time slice holds an exact (value → count) histogram in MapState; when
  * the watermark closes a window, the covering slices' histograms ADD
  * and the discrete-quantile rank rule (smallest value with cumulative
  * count ≥ ⌈n·p/100⌉) answers every requested percentile.
  *
  * Unlike the MG/HLL sketch ports, nothing here is approximate or
  * order-dependent: histogram addition commutes, so out-of-order events
  * fold straight into their slice (no reorder buffer) and the emitted
  * quantiles are BIT-EQUAL to the batch operator over the same rows
  * (SlidingHistTwsSpec pins the parity). The price is state proportional
  * to distinct values per live slice — exact and bounded for quantized
  * metrics (integer millis, cents); unbounded-cardinality doubles belong
  * in [[graft.agg.QuantileSketch]] instead.
  *
  * State per key: (live slices) × |distinct values in slice| counters; a
  * slice prunes when its last covering window emits (the
  * [[SlidingHllTws]] retention rule). Output: one row per (window,
  * percent) with the window's exact n. */
object SlidingHistTws {

  case class Event(key: String, tsMs: Long, value: Long)
  case class WindowQuantile(key: String, windowStartMs: Long, percent: Long,
      quantile: Long, winN: Long, emittedAt: java.sql.Timestamp)

  class Processor(sliceMs: Long, windowSlices: Int, percents: Seq[Int])
      extends SliceWindowProcessor[Event, WindowQuantile](sliceMs, windowSlices) {
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100))

    // slice → rendered histogram "v:c;..." (parse/insert/render once per
    // key-batch, the SlidingMgTws discipline)
    @transient private var sliceHist: MapState[Long, String] = _

    override protected def initSlices(): Unit =
      sliceHist = sliceMap("sliceHist", Encoders.STRING)

    override protected def eventTimeMs(e: Event): Long = e.tsMs

    private def parse(s: String): mutable.HashMap[Long, Long] = {
      val m = mutable.HashMap.empty[Long, Long]
      if (s.nonEmpty) s.split(';').foreach { e =>
        val i = e.indexOf(':')
        m.update(e.substring(0, i).toLong, e.substring(i + 1).toLong)
      }
      m
    }

    private def render(m: mutable.HashMap[Long, Long]): String =
      m.toSeq.sortBy(_._1).map { case (v, c) => s"$v:$c" }.mkString(";")

    override protected def addToSlice(slice: Long, rows: Seq[Event]): Unit = {
      val m = if (sliceHist.containsKey(slice)) parse(sliceHist.getValue(slice))
        else mutable.HashMap.empty[Long, Long]
      rows.foreach(e => m.update(e.value, m.getOrElse(e.value, 0L) + 1L))
      sliceHist.updateValue(slice, render(m))
    }

    /** Add the window's slice histograms, then the rank rule per percent. */
    override protected def merge(key: String, windowStartMs: Long,
        live: Seq[Long], emittedAt: java.sql.Timestamp): Seq[WindowQuantile] = {
      val m = mutable.HashMap.empty[Long, Long]
      live.foreach(s => parse(sliceHist.getValue(s)).foreach { case (v, c) =>
        m.update(v, m.getOrElse(v, 0L) + c)
      })
      val sorted = m.toArray.sortBy(_._1)
      val n = sorted.map(_._2).sum
      percents.map { p =>
        val target = (n * p + 99L) / 100L
        var cum = 0L
        var ans = sorted.last._1
        var i = 0
        var found = false
        while (i < sorted.length && !found) {
          cum += sorted(i)._2
          if (cum >= target) { ans = sorted(i)._1; found = true }
          i += 1
        }
        WindowQuantile(key, windowStartMs, p.toLong, ans, n, emittedAt)
      }
    }
  }

  /** Per-key sliding exact percentiles: window = `windowSlices` slices of
    * `sliceMs`, advancing per slice. Output watermark rides `emittedAt`
    * for chaining. */
  def quantileStream(events: Dataset[Event], watermarkDelay: String,
      sliceMs: Long, windowSlices: Int, percents: Seq[Int])(
      implicit spark: SparkSession): Dataset[WindowQuantile] = {
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
      .transformWithState(new Processor(sliceMs, windowSlices, percents),
        "emittedAt", OutputMode.Append())
  }
}
