package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class AttributionTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // user a: touch 1s; equal-ts touches at 4s (ids 40, 41 — min id wins);
  //   conv 2s (credits 1s), conv 4s (same-ms touches invisible → credits
  //   1s), conv 5s (credits id 40), conv 40s (lookback 10s exceeded →
  //   sentinel). The 3.5s touch arrives LATE (after the 5s rows in stream
  //   order) but inside the delay, so it must fold in event-time position
  //   and win conv 4s... no — 3.5s < 4s, strictly earlier, it DOES win.
  // user b: conv 1s with no touch at all → sentinel.
  private val fixture = Seq(
    AttributionTws.Event("a", 10L, 1000L, isTouch = true),
    AttributionTws.Event("a", 20L, 2000L, isTouch = false),
    AttributionTws.Event("a", 40L, 4000L, isTouch = true),
    AttributionTws.Event("a", 41L, 4000L, isTouch = true),
    AttributionTws.Event("a", 42L, 4000L, isTouch = false),
    AttributionTws.Event("a", 50L, 5000L, isTouch = false),
    AttributionTws.Event("a", 35L, 3500L, isTouch = true), // late, in delay
    AttributionTws.Event("a", 90L, 40000L, isTouch = false),
    AttributionTws.Event("b", 11L, 1000L, isTouch = false))

  private val lookbackMs = 10000L

  private def batchCredits = {
    val df = fixture.map(e =>
        (e.user, e.id, e.tsMs, if (e.isTouch) "touch" else "conv"))
      .toDF("u", "id", "ts", "et")
    graft.operators.Attribution.lastTouch(df, "u", "id", "ts", "et",
        "touch", "conv", lookbackMs)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSet
  }

  test("streaming credits equal the batch window form, late touch folds in order") {
    withRocksDb {
      val mem = MemoryStream[AttributionTws.Event]
      val q = AttributionTws.attribute(mem.toDS(), "2 seconds", lookbackMs)
        .writeStream.format("memory").queryName("attr_tws")
        .outputMode("append").start()
      try {
        // rows arrive in stream order ≠ event order (3.5s touch late);
        // user b rides batch 1 so the watermark hasn't passed its 1s conv
        mem.addData((fixture.take(6) :+ fixture(8)): _*)
        q.processAllAvailable()
        mem.addData(fixture.slice(6, 8): _*)
        q.processAllAvailable()
        mem.addData(AttributionTws.Event("zzz", 0L, 120000L, isTouch = true))
        q.processAllAvailable()
        mem.addData(AttributionTws.Event("zzz", 1L, 240000L, isTouch = true))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("attr_tws")
        .select("user", "convId", "convTs", "touchId", "touchTs", "lagMs",
          "attributed")
        .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
        .filterNot(_._1 == "zzz").toSet
      assert(got == batchCredits)
      // semantic pins: conv 4s credits the late 3.5s touch (equal-ts
      // touches invisible), conv 5s credits min-id touch 40, conv 40s and
      // user b are sentinels
      val byConv = got.map(c => c._2 -> c).toMap
      assert(byConv(42L)._4 == 35L, "conv@4s must credit the late 3.5s touch")
      assert(byConv(50L)._4 == 40L, "equal-ts touches tie-break to min id")
      assert(byConv(90L)._7 == false && byConv(90L)._4 == -1L)
      assert(byConv(11L)._7 == false)
    }
  }

  test("touch state expires once the watermark is stateTtl past it") {
    withRocksDb {
      val mem = MemoryStream[AttributionTws.Event]
      // tiny ttl = lookback: the 1s touch must be GONE when the watermark
      // reaches 20s, so a (late-ish but in-delay) conv probing afterwards
      // sees no state even though ts arithmetic alone would attribute it
      val q = AttributionTws.attribute(mem.toDS(), "10 seconds",
          lookbackMs = 5000L, stateTtlMs = 5000L)
        .writeStream.format("memory").queryName("attr_ttl")
        .outputMode("append").start()
      try {
        mem.addData(AttributionTws.Event("u", 1L, 1000L, isTouch = true))
        q.processAllAvailable()
        mem.addData(AttributionTws.Event("u", 2L, 30000L, isTouch = true))
        q.processAllAvailable() // wm → 20s; expire clears the 1s touch
        mem.addData(AttributionTws.Event("u", 3L, 31000L, isTouch = false))
        mem.addData(AttributionTws.Event("u", 4L, 45000L, isTouch = true))
        q.processAllAvailable()
        mem.addData(AttributionTws.Event("u", 5L, 60000L, isTouch = true))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("attr_ttl")
        .select("convId", "touchId", "attributed")
        .as[(Long, Long, Boolean)].collect().toSet
      // conv at 31s: its valid touch is 30s (in lookback, in state — the
      // 30s touch itself is younger than the ttl horizon when the conv
      // drains), so attribution still works across the expiry machinery
      assert(got == Set((3L, 2L, true)))
    }
  }
}
