package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class CusumTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // drifting key (steps up at t≥5s), steady key; 2.5 arrives OUT OF ORDER
  // (after 4s in stream order) to exercise the reorder buffer.
  private val fixture = Seq(
    CusumTws.Event("d", 1000L, 10000000L),
    CusumTws.Event("d", 2000L, 10000000L),
    CusumTws.Event("d", 4000L, 11000000L),
    CusumTws.Event("d", 2500L, 9000000L), // late by 1.5s, inside the delay
    CusumTws.Event("d", 5000L, 25000000L),
    CusumTws.Event("d", 6000L, 26000000L),
    CusumTws.Event("d", 7000L, 24000000L),
    CusumTws.Event("s", 1000L, 10000000L),
    CusumTws.Event("s", 6000L, 10000000L))

  private val (target, slack, thr) = (10000000L, 1000000L, 20000000L)

  test("streaming fold equals the batch window form; late row lands in order") {
    val mem = MemoryStream[CusumTws.Event]
    val q = CusumTws.monitor(mem.toDS(), "2 seconds", target, slack, thr)
      .writeStream.format("memory").queryName("cusum_tws")
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(CusumTws.Event("zzz", 60000L, 0L)) // advance watermark
      q.processAllAvailable()
      mem.addData(CusumTws.Event("zzz", 120000L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cusum_tws")
      .select("key", "tsMs", "vE6", "sE6", "alarmed")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .filterNot(_._1 == "zzz").toSet

    val batch = graft.operators.Anomaly.cusumPoints(
        fixture.map(e => (e.key, e.tsMs, e.vE6.toDouble / 1e6))
          .toDF("k", "ts", "v"),
        "k", "ts", "v", target, slack, thr)
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(got == batch)

    // semantic spot-checks: the drift key alarms after the step; the
    // steady key never accumulates past the slack
    val d = got.filter(_._1 == "d").toSeq.sortBy(_._2)
    assert(d.map(_._2) == Seq(1000L, 2000L, 2500L, 4000L, 5000L, 6000L, 7000L),
      "late 2.5s row must fold in event-time position")
    assert(d.exists(_._5), "upward drift must alarm")
    assert(!d.takeWhile(_._2 < 5000L).exists(_._5),
      "no alarm before the shift")
    assert(got.filter(_._1 == "s").forall(!_._5), "steady key never alarms")
  }

  test("every point emits exactly once across the reorder boundary") {
    val mem = MemoryStream[CusumTws.Event]
    val q = CusumTws.monitor(mem.toDS(), "1 second", target, 0L, thr)
      .writeStream.format("memory").queryName("cusum_tws_once")
      .outputMode("append").start()
    try {
      // two separate batches so the first drain happens mid-stream;
      // s@1000 rides batch 1 (batch 2 starts past its watermark slack —
      // streaming would rightly DROP it as too-late there)
      mem.addData(fixture.take(4) :+ fixture(7): _*)
      q.processAllAvailable()
      mem.addData(fixture.slice(4, 7) :+ fixture(8): _*)
      q.processAllAvailable()
      mem.addData(CusumTws.Event("zzz", 60000L, 0L))
      q.processAllAvailable()
      mem.addData(CusumTws.Event("zzz", 120000L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("cusum_tws_once")
      .select("key", "tsMs").as[(String, Long)].collect()
      .filterNot(_._1 == "zzz").toSeq
    assert(rows.size == rows.distinct.size, "duplicate emission")
    assert(rows.size == fixture.size, "every event must emit one point")
  }
}
