package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

class SlidingHistTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val sliceMs = 1000L
  private val percents = Seq(50, 95)

  // skewed per-slice values with ties + one late row into slice 1
  private val fixture: Seq[SlidingHistTws.Event] = (0 until 5).flatMap { sl =>
    val base = sl * sliceMs + 11L
    (0 until 20).map(i =>
      SlidingHistTws.Event("a", base + i % 7, ((i * i + sl * 13) % 40).toLong))
  }
  private val late = SlidingHistTws.Event("a", sliceMs + 500L, 999L)

  test("streaming window quantiles are bit-equal to the batch operator") {
    withRocksDb {
      val mem = MemoryStream[SlidingHistTws.Event]
      val q = SlidingHistTws.quantileStream(mem.toDS(), "2 seconds",
          sliceMs, windowSlices = 3, percents)
        .writeStream.format("memory").queryName("hist_tws")
        .outputMode("append").start()
      try {
        mem.addData(fixture.take(55): _*)
        q.processAllAvailable()
        mem.addData(late +: fixture.drop(55): _*)
        q.processAllAvailable()
        mem.addData(SlidingHistTws.Event("zzz", 60000L, 0L))
        q.processAllAvailable()
        mem.addData(SlidingHistTws.Event("zzz", 120000L, 0L))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("hist_tws")
        .select("key", "windowStartMs", "percent", "quantile", "winN")
        .as[(String, Long, Long, Long, Long)].collect()
        .filter(_._1 == "a")
        .map(r => (r._2, r._3) -> (r._4, r._5)).toMap

      val all = fixture :+ late
      val batch = graft.agg.Windows.slidingPercentiles(
          all.map(e => (e.tsMs, e.value)).toDF("ts", "v"),
          col("v"), col("ts"), sliceMs, 3, percents)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got.keySet == batch.keySet, "window/percent coverage must match")
      got.foreach { case (k, (quant, _)) =>
        assert(quant == batch(k), s"window/percent $k: $quant != ${batch(k)}")
      }
      // exact n per window includes the late row in its event-time slice
      val w1n = got((1000L, 50L))._2
      val expected = all.count { e =>
        val sl = e.tsMs - e.tsMs % sliceMs; sl >= 1000L && sl < 4000L }
      assert(w1n == expected.toLong)
    }
  }
}
