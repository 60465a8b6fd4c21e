package graft.streaming

import graft.SparkSpec
import graft.functions.RollingHash
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class SlidingHllTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val (p, sliceMs, k) = (8, 1000L, 3)
  private val m = 1 << p

  /** Reference: registers of all values whose slice falls in the window. */
  private def refHex(values: Seq[String]): String = {
    val regs = new Array[Int](m)
    values.foreach { v =>
      val h = RollingHash.polyHash64(v.getBytes("UTF-8"))
      val bucket = (h >>> (64 - p)).toInt
      val w = h & ((1L << (64 - p)) - 1)
      val rank = if (w == 0L) 64 - p + 1
        else java.lang.Long.numberOfLeadingZeros(w) - p + 1
      if (rank > regs(bucket)) regs(bucket) = rank
    }
    regs.map(r => f"$r%02x").mkString
  }

  // two keys; u7 for key "a" arrives OUT OF ORDER (slice 1 after slice 3
  // data) — register updates commute, so it must still land in its slice
  private val fixture = Seq(
    SlidingHllTws.Event("a", 500L, "u1"),
    SlidingHllTws.Event("a", 1500L, "u2"),
    SlidingHllTws.Event("b", 700L, "x1"),
    SlidingHllTws.Event("a", 3200L, "u3"),  // batch 2 starts here
    SlidingHllTws.Event("a", 1700L, "u7"),  // late, within the delay
    SlidingHllTws.Event("a", 3900L, "u1"),
    SlidingHllTws.Event("b", 2500L, "x2"))

  test("emitted windows match per-window reference registers; late row lands") {
    val mem = MemoryStream[SlidingHllTws.Event]
    val q = SlidingHllTws.sketchStream(mem.toDS(), "2 seconds", p, sliceMs, k)
      .writeStream.format("memory").queryName("shll")
      .outputMode("append").start()
    try {
      mem.addData(fixture.take(3): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(3): _*)
      q.processAllAvailable()
      mem.addData(SlidingHllTws.Event("zzz", 60000L, "w")) // close all
      q.processAllAvailable()
      mem.addData(SlidingHllTws.Event("zzz", 120000L, "w"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("shll")
      .select("key", "windowStartMs", "hll")
      .as[(String, Long, String)].collect()
      .filterNot(_._1 == "zzz")
      .map(r => (r._1, r._2) -> r._3).toMap

    // expected: every window covering a data slice, registers from the
    // rows whose slice lies inside it
    val byKey = fixture.groupBy(_.key)
    val expected = byKey.flatMap { case (key, evs) =>
      val slices = evs.map(e => e.tsMs - e.tsMs % sliceMs).distinct
      val wins = slices.flatMap(sl => (0 until k).map(j => sl - j * sliceMs))
        .distinct
      wins.map { w =>
        val inWin = evs.filter(e => {
          val sl = e.tsMs - e.tsMs % sliceMs
          sl >= w && sl < w + k * sliceMs
        })
        (key, w) -> refHex(inWin.map(_.value))
      }
    }
    assert(got == expected)
    // the late u7 really contributes: window starting at slice 0 for
    // key "a" covers slices 0..2 and must include u1, u2, u7
    assert(got(("a", 0L)) == refHex(Seq("u1", "u2", "u7")))
  }

  test("every window emits exactly once") {
    val mem = MemoryStream[SlidingHllTws.Event]
    val q = SlidingHllTws.sketchStream(mem.toDS(), "1 second", p, sliceMs, k)
      .writeStream.format("memory").queryName("shll_once")
      .outputMode("append").start()
    try {
      fixture.grouped(2).foreach { batch =>
        mem.addData(batch: _*); q.processAllAvailable()
      }
      mem.addData(SlidingHllTws.Event("zzz", 60000L, "w"))
      q.processAllAvailable()
      mem.addData(SlidingHllTws.Event("zzz", 120000L, "w"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("shll_once")
      .select("key", "windowStartMs").as[(String, Long)].collect()
      .filterNot(_._1 == "zzz").toSeq
    assert(rows.size == rows.distinct.size, "duplicate window emission")
  }
}
