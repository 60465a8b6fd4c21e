package graft.streaming

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class TrendTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val fixture = Seq(
    TrendTws.Obs("a", 0L, 2L), TrendTws.Obs("a", 1L, 5L),
    TrendTws.Obs("a", 2L, 8L), TrendTws.Obs("a", 3L, 11L),
    TrendTws.Obs("b", 1L, 7L), TrendTws.Obs("b", 1L, 9L))

  test("running fits converge to the batch operator bit-for-bit") {
    withRocksDb {
      val mem = MemoryStream[TrendTws.Obs]
      val q = TrendTws.fit(mem.toDS())
        .writeStream.format("memory").queryName("trend_tws")
        .outputMode("update").start()
      try {
        // split across two microbatches — sums must carry over
        mem.addData(fixture.take(3): _*)
        q.processAllAvailable()
        mem.addData(fixture.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      // latest emission per key = highest n
      val got = spark.table("trend_tws")
        .as[TrendTws.Fit].collect()
        .groupBy(_.key).map { case (k, fits) => k -> fits.maxBy(_.n) }

      val batch = graft.operators.Trend.groupedOls(
          fixture.map(o => (o.key, o.x, o.y)).toDF("g", "x", "y"),
          Seq("g"), col("x"), col("y"))
        .collect().map(r => r.getString(0) ->
          TrendTws.Fit(r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      assert(got == batch)
      // and the known line: slope 3, intercept 2
      val a = got("a")
      assert(a.slopeNum == 3 * a.slopeDen && a.interceptNum == 2 * a.slopeDen)
    }
  }

  test("mid-stream emissions are exact running fits") {
    withRocksDb {
      val mem = MemoryStream[TrendTws.Obs]
      val q = TrendTws.fit(mem.toDS())
        .writeStream.format("memory").queryName("trend_tws2")
        .outputMode("update").start()
      try {
        mem.addData(TrendTws.Obs("k", 0L, 0L), TrendTws.Obs("k", 2L, 4L))
        q.processAllAvailable()
      } finally q.stop()
      val fit = spark.table("trend_tws2").as[TrendTws.Fit].collect().head
      // two points on y = 2x: n=2 sx=2 sy=4 sxy=8 sxx=4
      assert(fit == TrendTws.Fit("k", 2L, 2L, 4L, 2L * 8L - 2L * 4L,
        2L * 4L - 2L * 2L, 4L * 4L - 2L * 8L))
    }
  }
}
