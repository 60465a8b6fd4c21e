package graft.streaming

import graft.SparkSpec
import graft.schema.WindowAggResult
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SlidingCounterTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val fixture = Seq(
    SlidingCounter.Event("a", 500L, 1L),
    SlidingCounter.Event("a", 1500L, 1L),
    SlidingCounter.Event("b", 900L, 2L),
    SlidingCounter.Event("a", 2100L, 1L), // next tick
    SlidingCounter.Event("b", 3800L, 1L))

  private def sentinel(ts: Long) = SlidingCounter.Event("zzz", ts, 1L)

  private def run(name: String,
      mk: MemoryStream[SlidingCounter.Event] => org.apache.spark.sql.DataFrame)
      : Set[(String, Long, Long, Long)] = {
    val mem = MemoryStream[SlidingCounter.Event]
    val q = mk(mem).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(sentinel(60000L)) // advance the watermark past all ticks
      q.processAllAvailable()
      mem.addData(sentinel(120000L)) // and once more so sentinel ticks drain
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
      .select("key", "windowStartMs", "windowSizeMs", "count")
      .as[WindowAggResult].collect()
      .filterNot(_.key == "zzz")
      .map(r => (r.key, r.windowStartMs, r.windowSizeMs, r.count)).toSet
  }

  test("tws port emits exactly the FMGWS profile (cadence, slide, decrement)") {
    withRocksDb {
      val tws = run("slct_tws", m => SlidingCounterTws.countStream(
        m.toDS(), "1 second", emitMs = 1000L, windowsMs = Seq(2000L, 4000L)).toDF())
      val fmgws = run("slct_fmgws", m => SlidingCounter.countStream(
        m.toDS(), "1 second", emitMs = 1000L, windowsMs = Seq(2000L, 4000L)).toDF())
      assert(tws == fmgws)
      // sanity on the profile itself: the 2s window sees both early "a"
      // events at the t=2000 tick, and later slides back to zero
      assert(tws.contains(("a", 0L, 2000L, 2L)))
      assert(tws.exists(t => t._1 == "a" && t._3 == 2000L && t._4 == 0L))
    }
  }

  test("a key active in EVERY batch still emits (no timer starvation)") {
    withRocksDb {
      // the key itself drives the watermark forward batch after batch —
      // a design that only emits from timers starves here, because input
      // processing re-parks the due timer above the watermark each batch
      def runBatched(name: String,
          mk: MemoryStream[SlidingCounter.Event] => org.apache.spark.sql.DataFrame)
          : Set[(String, Long, Long, Long)] = {
        val mem = MemoryStream[SlidingCounter.Event]
        val q = mk(mem).writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          Seq(500L, 4000L, 9000L, 15000L, 22000L, 30000L).foreach { ts =>
            mem.addData(SlidingCounter.Event("hot", ts, 1L))
            q.processAllAvailable()
          }
        } finally q.stop()
        spark.table(name)
          .select("key", "windowStartMs", "windowSizeMs", "count")
          .as[WindowAggResult].collect()
          .map(r => (r.key, r.windowStartMs, r.windowSizeMs, r.count)).toSet
      }
      val tws = runBatched("slct_hot_tws", m => SlidingCounterTws.countStream(
        m.toDS(), "1 second", emitMs = 1000L, windowsMs = Seq(2000L)).toDF())
      val fmgws = runBatched("slct_hot_fmgws", m => SlidingCounter.countStream(
        m.toDS(), "1 second", emitMs = 1000L, windowsMs = Seq(2000L)).toDF())
      assert(tws.nonEmpty, "tws emitted nothing — timer starvation")
      assert(tws == fmgws)
    }
  }

  test("chained: sliding counts feed a windowed aggregation in ONE query") {
    withRocksDb {
      val mem = MemoryStream[SlidingCounter.Event]
      // stage 2: per-key count of emitted ticks in 10s tumbling windows of
      // RELEASE time — only legal in the same query because the tws output
      // re-anchors the watermark on emittedAt
      val counts = SlidingCounterTws.countStreamChained(
          mem.toDS(), "1 second", emitMs = 1000L, windowsMs = Seq(2000L))
        .groupBy(col("key"), window(col("emittedAt"), "10 seconds"))
        .agg(count(lit(1)).as("ticks"))
      val q = counts.writeStream.format("memory").queryName("slct_chain")
        .outputMode("append").start()
      try {
        mem.addData(fixture: _*)
        q.processAllAvailable()
        mem.addData(sentinel(60000L))
        q.processAllAvailable()
        mem.addData(sentinel(200000L)) // close the 10s windows downstream
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("slct_chain")
        .select("key", "ticks").as[(String, Long)].collect()
        .filter(_._1 == "a")
      assert(rows.nonEmpty && rows.map(_._2).sum >= 4L) // a ticks 1..4+
    }
  }
}
