package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class SlidingMgTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val sliceMs = 1000L
  private val slices = 3
  private val k = 8

  // key "a": "h" heavy in every second, "m" heavy only in slices 4-5,
  // churn singletons everywhere; one late-but-in-delay row lands in
  // slice 2 after slice 5 rows have streamed.
  private val fixture: Seq[SlidingMgTws.Event] = (0 until 6).flatMap { sl =>
    val base = sl * sliceMs + 13L
    Seq.fill(8)(SlidingMgTws.Event("a", base, "h")) ++
      (if (sl == 4 || sl == 5)
        Seq.fill(9)(SlidingMgTws.Event("a", base + 3, "m")) else Nil) ++
      (0 until 5).map(i => SlidingMgTws.Event("a", base + i, s"u$sl-$i"))
  }
  private val late = SlidingMgTws.Event("a", 2 * sliceMs + 500L, "h")

  test("window summaries: exact winN, candidate completeness, undercount bound") {
    withRocksDb {
      val mem = MemoryStream[SlidingMgTws.Event]
      val q = SlidingMgTws.summaryStream(mem.toDS(), "2 seconds", k,
          sliceMs, slices)
        .writeStream.format("memory").queryName("mg_tws")
        .outputMode("append").start()
      try {
        mem.addData(fixture.take(40): _*)
        q.processAllAvailable()
        mem.addData(late +: fixture.drop(40): _*)
        q.processAllAvailable()
        mem.addData(SlidingMgTws.Event("zzz", 60000L, "x"))
        q.processAllAvailable()
        mem.addData(SlidingMgTws.Event("zzz", 120000L, "x"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("mg_tws")
        .select("key", "windowStartMs", "mg", "winN")
        .as[(String, Long, String, Long)].collect()
        .filter(_._1 == "a")
        .map(r => r._2 -> (graft.agg.MisraGries.parse(r._3).toMap, r._4))
        .toMap

      val all = fixture :+ late
      // model: per window over the slice grid (slices -2..5 covered)
      val model = (for {
        w <- (-2 until 6).map(_ * sliceMs)
        inWin = all.filter { e =>
          val sl = e.tsMs - e.tsMs % sliceMs
          sl >= w && sl < w + slices * sliceMs
        }
        if inWin.nonEmpty
      } yield w -> inWin).toMap

      assert(got.keySet == model.keySet, "every closed window emits once")
      model.foreach { case (w, rows) =>
        val (sketch, winN) = got(w)
        val n = rows.size.toLong
        assert(winN == n, s"window $w: winN=$winN != $n (must be exact)")
        val truth = rows.groupBy(_.value).view.mapValues(_.size.toLong).toMap
        truth.filter { case (_, c) => c > n / (k + 1) }.foreach { case (v, _) =>
          assert(sketch.contains(v), s"window $w: heavy $v evicted")
        }
        sketch.foreach { case (v, c) =>
          val t = truth.getOrElse(v, 0L)
          assert(c <= t, s"window $w: $v overcounted $c > $t")
          assert(c > t - n.toDouble / (k + 1) - 1,
            s"window $w: $v undercount bound violated ($c vs $t, n=$n)")
        }
        assert(sketch.size <= k)
      }
      // the late row must be inside its event-time windows: window 0
      // covers slices 0-2 and must count it in winN (26 rows, not 25)
      assert(got(0L)._2 == model(0L).size.toLong)
    }
  }
}
