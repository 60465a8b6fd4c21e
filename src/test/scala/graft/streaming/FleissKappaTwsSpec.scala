package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class FleissKappaTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // m = 3 campaign. i1/i2/i5 complete; i3 under- and i4 over-staffed
  // (both must be DROPPED, exactly like the batch operator's nr ≠ m
  // rule). i5 exercises the duplicate-rater min rule (c then a → a)
  // and out-of-order arrival; zs1/zs2 are watermark-advancing sentinel
  // items that close as dropped singletons IN BOTH ENGINES.
  private val fixture = Seq(
    FleissKappaTws.Rating("i1", "r1", "a", 1000L),
    FleissKappaTws.Rating("i1", "r2", "a", 1100L),
    FleissKappaTws.Rating("i1", "r3", "b", 1200L),
    FleissKappaTws.Rating("i2", "r1", "b", 2000L),
    FleissKappaTws.Rating("i2", "r2", "b", 2300L),
    FleissKappaTws.Rating("i2", "r3", "b", 2100L),
    FleissKappaTws.Rating("i3", "r1", "a", 3000L),
    FleissKappaTws.Rating("i3", "r2", "a", 3100L),
    FleissKappaTws.Rating("i4", "r1", "a", 4000L),
    FleissKappaTws.Rating("i4", "r2", "b", 4100L),
    FleissKappaTws.Rating("i4", "r3", "a", 4200L),
    FleissKappaTws.Rating("i4", "r4", "b", 4300L),
    FleissKappaTws.Rating("i5", "r1", "c", 5200L),
    FleissKappaTws.Rating("i5", "r2", "a", 5300L),
    FleissKappaTws.Rating("i5", "r1", "a", 5000L), // dup rater, min wins
    FleissKappaTws.Rating("i5", "r3", "b", 5100L))
  private val sentinels = Seq(
    FleissKappaTws.Rating("zs1", "r1", "a", 60000L),
    FleissKappaTws.Rating("zs2", "r1", "a", 120000L))

  test("running kappa ends at the exact batch value; drops match") {
    val mem = MemoryStream[FleissKappaTws.Rating]
    val q = FleissKappaTws.monitor(mem.toDS(), m = 3,
        sessionGapMs = 2000L, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("fk_tws")
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(sentinels(0))
      q.processAllAvailable()
      mem.addData(sentinels(1))
      q.processAllAvailable()
      // push the watermark past zs2's close so every item finalizes
      mem.addData(FleissKappaTws.Rating("zopen", "r1", "a", 300000L))
      q.processAllAvailable()
    } finally q.stop()
    val pts = spark.table("fk_tws")
      .select("item", "completed", "nItems", "nDropped", "pbarE6",
        "peE6", "kappaE6")
      .as[(String, Boolean, Long, Long, Long, Long, Option[Long])]
      .collect().toSeq
    // one point per closed item (zopen still open)
    assert(pts.size == 7, s"expected 7 closes, got ${pts.size}: $pts")
    assert(pts.map(_._1).sorted ==
      Seq("i1", "i2", "i3", "i4", "i5", "zs1", "zs2"))
    assert(pts.filter(_._2).map(_._1).sorted == Seq("i1", "i2", "i5"))

    // the final point's stats equal the batch operator on the same
    // closed data (zopen excluded — it never closed)
    val last = pts.maxBy(p => p._3 + p._4)
    val batch = graft.operators.Preference.fleissKappaE6(
      (fixture ++ sentinels).toDF("item", "rater", "category", "tsMs"),
      col("item"), col("rater"), col("category"), raters = 3)
      .select("n_items", "n_dropped", "pbar_e6", "pe_e6", "kappa_e6")
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert((last._3, last._4, last._5, last._6, last._7) == batch,
      s"streaming $last vs batch $batch")
    // kappa strictly defined on this fixture
    assert(batch._5.nonEmpty)
  }

  test("running points are prefix-exact: each equals batch on its prefix") {
    val mem = MemoryStream[FleissKappaTws.Rating]
    val q = FleissKappaTws.monitor(mem.toDS(), m = 3,
        sessionGapMs = 2000L, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("fk_tws_prefix")
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(sentinels(0))
      q.processAllAvailable()
    } finally q.stop()
    val pts = spark.table("fk_tws_prefix")
      .select("item", "nItems", "nDropped", "kappaE6")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    // closes drain in (closedAtMs, item) order: i1..i5 deterministic
    val order = pts.map(_._1)
    assert(order == Seq("i1", "i2", "i3", "i4", "i5"),
      s"close order: $order")
    // after i2 (two complete items, zero drops yet): batch on i1+i2
    val p2 = pts(1)
    val b2 = graft.operators.Preference.fleissKappaE6(
      fixture.filter(r => r.item == "i1" || r.item == "i2")
        .toDF("item", "rater", "category", "tsMs"),
      col("item"), col("rater"), col("category"), raters = 3)
      .select("n_items", "n_dropped", "kappa_e6")
      .as[(Long, Long, Option[Long])].head()
    assert((p2._2, p2._3, p2._4) == b2, s"prefix point $p2 vs batch $b2")
  }
}
