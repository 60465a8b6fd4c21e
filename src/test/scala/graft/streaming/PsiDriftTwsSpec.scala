package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class PsiDriftTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // reference: 0..99 (uniform); target: shifted upward + OOO arrivals
  private val refRows = (0L until 100L).map(v => (v, v))
  private val fixture = Seq(
    PsiDriftTws.ValueEvent(2000L, 2L, 95L), // arrives first, later ts
    PsiDriftTws.ValueEvent(1000L, 1L, 10L),
    PsiDriftTws.ValueEvent(3000L, 3L, 88L),
    PsiDriftTws.ValueEvent(3500L, 4L, 91L))
  private val lateBatch = Seq(
    PsiDriftTws.ValueEvent(60000L, 5L, 77L),
    PsiDriftTws.ValueEvent(61000L, 6L, 42L))

  test("running PSI trajectory ends at the batch psiBins sum") {
    val ref = refRows.toDF("v", "k")
    val mem = MemoryStream[PsiDriftTws.ValueEvent]
    val q = PsiDriftTws.monitor(mem.toDS(), ref, col("v"), col("k"),
        buckets = 4, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("psi_tws")
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(lateBatch: _*)
      q.processAllAvailable()
      mem.addData(PsiDriftTws.ValueEvent(300000L, 99L, 50L)) // sentinel
      q.processAllAvailable()
    } finally q.stop()
    val pts = spark.table("psi_tws")
      .select("tsMs", "tieBreak", "bucket", "nTgt", "psiE6")
      .as[(Long, Long, Int, Long, Long)]
      .collect().toSeq.sortBy(_._4)

    assert(pts.size == 6, s"got $pts")
    assert(pts.map(_._4) == (1L to 6L))
    // drift direction: the upward-shifted target should read > 0.25
    // (the "action" band) once a few events land
    assert(pts.last._5 > 250000L, s"psi ${pts.last._5}")

    // batch operator on the same drained events: both counts and the
    // summed per-bin terms must match the final streaming point
    val drained = (fixture ++ lateBatch).map(e => (e.value, e.tieBreak))
      .toDF("v", "k")
    val batch = graft.operators.Drift.psiBins(ref, drained, col("v"),
        col("k"), buckets = 4)
      .select("bucket", "n_tgt", "psi_term_e6")
      .as[(Int, Long, Long)].collect().toSeq
    val batchPsi = batch.map(_._3).sum
    assert(pts.last._5 == batchPsi,
      s"stream ${pts.last._5} vs batch $batchPsi")
    val streamCounts = pts.groupBy(_._3).view.mapValues(_.size.toLong)
      .toMap
    val batchCounts = batch.filter(_._2 > 0).map(b => b._1 -> b._2).toMap
    assert(streamCounts == batchCounts)
    // trajectory is per-event monotone in n and deterministic: the
    // same fixture re-folded gives the same psi at each step
    assert(pts.map(_._5).distinct.size >= 2, "psi actually moved")
  }
}
