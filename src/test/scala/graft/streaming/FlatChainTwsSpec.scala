package graft.streaming

import graft.SparkSpec
import graft.jobs.FlatOutputJob
import graft.schema.ScopedEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming chains in ONE query (transformWithState chaining) must emit
  * exactly what the batch compositions q35 gates emit: two inferred-join
  * stages, then the full flagship program — THREE join stages plus the D3
  * redundant reduction — including a kill-and-restart of the chained
  * query recovering every stage's state from the checkpoint. */
class FlatChainTwsSpec extends SparkSpec {
  import spark.implicits._
  import FlagshipFixture.{OOO, SEP, W, batchPairs, insStatic, reducedStream,
    sentinels, toStage2Left}
  implicit lazy val s = spark

  // stage 1 (FlagshipFixture): views × insertions, logUserId scope,
  // right-outer — the q35 stage-1 shape

  // stage 2 RHS: impressions — exact FK, scope-inferred (rid scope with a
  // matching content id), content-MISmatch (must not match), and no-scope
  private val stage2Rhs = Seq(
    ScopedEvent(0, "u1", 1, "m1", "i1", 3000L, Seq("", "")),
    ScopedEvent(0, "u1", 1, "m2", "", 4000L, Seq("R1", ""), Seq("C1")),
    ScopedEvent(0, "u2", 1, "m3", "", 4000L, Seq("R2", ""), Seq("CX")),
    ScopedEvent(0, "u3", 1, "m4", "", 2500L, Seq("", "v3")))

  private def batchResult = batchPairs(Nil, stage2Rhs)._1
    .select("logUserId", "leftId", "rightId", "leftTs", "rightTs", "matchType")
    .as[(String, String, String, Long, Long, String)].collect().toSet

  test("two chained tws inferred-join stages match the batch composition") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val stage1 = InferredJoinTws.joinScopedStream(
      mem1.toDS(), "1 second", W, OOO, rightOuter = true)
    val out = FlatChainTws.nextStage(stage1, toStage2Left(insStatic),
      mem2.toDS(), "1 second", W, OOO, rightOuter = false)
    val q = out.writeStream.format("memory").queryName("flat_chain_tws")
      .outputMode("append").start()
    mem1.addData(FlagshipFixture.stage1: _*)
    mem2.addData(stage2Rhs: _*)
    q.processAllAvailable()
    // advance BOTH source watermarks past every timer, twice: the first
    // sentinel round moves stage 1 (whose releases then move the chained
    // watermark), the second lets stage-2 timers fire on the moved value
    for (ts <- Seq(600000L, 1200000L)) {
      mem1.addData(ScopedEvent(0, "zz", 1, s"z$ts", "", ts, Seq("zz")))
      mem2.addData(ScopedEvent(0, "zz", 1, s"y$ts", "", ts, Seq("zz")))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("flat_chain_tws")
      .where(col("logUserId") =!= "zz")
      .select("logUserId", "leftId", "rightId", "leftTs", "rightTs",
        "matchType")
      .as[(String, String, String, Long, Long, String)].collect().toSet
    assert(got == batchResult)
    // and the interesting cases really are in there
    val byRight = got.map(t => t._3 -> t._6).toMap
    assert(byRight("m1") == "exact")
    assert(byRight("m2") == "inferred")
    assert(byRight("m4") == "inferred")
    assert(byRight("m3") == "dropped") // content mismatch on the rid scope
  }

  // ------------------------------------------------------------------
  // Full flagship program: view→insertion→impression→action (three
  // inferred-join stages) + the D3 redundant reduction, as ONE query.
  // ------------------------------------------------------------------

  // a1 exact on the REDUNDANT mE (must re-point to root mI); a2 scope-
  // inferred onto i3's impression, cart-packed with a content id; a3 exact
  // on the root itself; aX references an unknown impression → dropped in
  // stage 3, never reaches the reduce
  private val fcStage3Rhs = Seq(
    ScopedEvent(0, "u1", 1, "a1", "mE", 5000L, Seq("")),
    ScopedEvent(0, "u3", 1, "a2" + SEP + "C9", "", 4500L, Seq("i3")),
    ScopedEvent(0, "u1", 1, "a3", "mI", 6000L, Seq("")),
    ScopedEvent(0, "u1", 1, "aX", "mZ", 6500L, Seq("")))

  /** (luid, kind, insertionId, impressionId, actionId, contentId, tsMs) */
  private type ReducedSig = (String, String, String, String, String, String, Long)

  /** Batch composition: the fixture's three batch joins, then the batch
    * job's D3 step (`FlatOutputJob.redundantReduce`). */
  private def fcBatchResult: Set[ReducedSig] = {
    val (p2, p3) = batchPairs(fcStage3Rhs)
    FlatOutputJob.redundantReduce(p2, p3).collect()
      .map(r => (r.logUserId, r.kind, r.insertionId, r.impressionId,
        r.actionId, r.contentId, r.tsMs)).toSet
  }

  private def reducedSig(df: org.apache.spark.sql.DataFrame): Set[ReducedSig] =
    df.where(col("logUserId") =!= "zz")
      .select("logUserId", "kind", "insertionId", "impressionId", "actionId",
        "contentId", "tsMs")
      .as[ReducedSig].collect().toSet

  test("full four-stage chain (3 joins + D3 reduce) matches the batch composition") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val q = reducedStream(mem1, mem2, mem3)
      .writeStream.format("memory").queryName("flat_full_chain")
      .outputMode("append").start()
    mem1.addData(FlagshipFixture.stage1: _*)
    mem2.addData(FlagshipFixture.stage2Rhs: _*)
    mem3.addData(fcStage3Rhs: _*)
    q.processAllAvailable()
    sentinels(mem1, mem2, mem3, q, 600000L, rounds = 6)
    q.stop()
    val got = reducedSig(spark.table("flat_full_chain"))
    assert(got == fcBatchResult)
    // the cases that prove the composition, pinned explicitly:
    // event-time root election beat release order (mI inferred < mE exact)
    assert(got(("u1", "impression", "i1", "mI", "", "", 3000L)))
    assert(got(("u1", "redundant", "i1", "mE", "", "", 3500L)))
    // action on the redundant impression re-pointed to the root
    assert(got(("u1", "action", "i1", "mI", "a1", "", 5000L)))
    assert(got(("u1", "action", "i1", "mI", "a3", "", 6000L)))
    // cart-item SEP unpacking survived the chain
    assert(got(("u3", "action", "i3", "m4", "a2", "C9", 4500L)))
    // the dropped action never reached the reduction
    assert(!got.exists(_._5 == "aX"))
  }

  test("chained query restarts from checkpoint with all four stages' state intact") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val cp = java.nio.file.Files.createTempDirectory("graft_fc_cp2").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_fc_out").toString
    // memory sinks can't recover a checkpoint; foreachBatch→parquet can
    // (at-least-once — replayed batches dedupe in the set comparison)
    def start() = reducedStream(mem1, mem2, mem3).writeStream
      .option("checkpointLocation", cp)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[RedundantReduceTws.Reduced],
          _: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    // phase A: views/insertions/impressions flow in; NO watermark push —
    // everything is still buffered in the four state stores at the kill
    val q1 = start()
    mem1.addData(FlagshipFixture.stage1: _*)
    mem2.addData(FlagshipFixture.stage2Rhs: _*)
    q1.processAllAvailable()
    q1.stop()
    // phase B: restart from the checkpoint, feed the actions, drain
    val q2 = start()
    mem3.addData(fcStage3Rhs: _*)
    q2.processAllAvailable()
    sentinels(mem1, mem2, mem3, q2, 600000L, rounds = 6)
    q2.stop()
    assert(reducedSig(spark.read.parquet(outDir)) == fcBatchResult)
  }

  test("action ids carrying the reserved SelfMarker prefix fail loudly") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val q = reducedStream(mem1, mem2, mem3)
      .writeStream.format("memory").queryName("flat_selfmarker_guard")
      .outputMode("append").start()
    // an adversarial action id that would otherwise be misclassified as
    // an impression self-pair in the fused stage-3 output mapping
    mem3.addData(ScopedEvent(0, "u1", 1,
      FlatChainTws.SelfMarker + "a1", "mE", 5000L, Seq("")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("reserved SelfMarker prefix")))
    q.stop()
  }
}
