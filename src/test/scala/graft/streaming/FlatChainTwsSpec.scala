package graft.streaming

import graft.SparkSpec
import graft.schema.ScopedEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming chains in ONE query (transformWithState chaining) must emit
  * exactly what the batch compositions q35 gates emit: two inferred-join
  * stages, then the full flagship program — THREE join stages plus the D3
  * redundant reduction — including a kill-and-restart of the chained
  * query recovering every stage's state from the checkpoint. */
class FlatChainTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val W = 10000L
  private val OOO = 1000L

  // stage 1: views (side 0) × insertions (side 1), logUserId scope,
  // right-outer — the q35 stage-1 shape
  private val stage1Events = Seq(
    ScopedEvent(0, "u1", 0, "v1", "", 1000L, Seq("u1")),
    ScopedEvent(0, "u1", 1, "i1", "", 2000L, Seq("u1")),
    ScopedEvent(0, "u2", 1, "i2", "", 2000L, Seq("u2")), // no view → outer
    ScopedEvent(0, "u3", 0, "v3", "", 1500L, Seq("u3")),
    ScopedEvent(0, "u3", 1, "i3", "", 1400L, Seq("u3"))) // slight OOO

  // static enrichment: iid → (request id, content, insertion ts)
  private def insStatic = Seq(
    ("i1", "R1", "C1", 2000L), ("i2", "R2", "C2", 2000L),
    ("i3", "R3", "C3", 1400L)).toDF("iid", "rid", "content", "its")

  // stage 2 RHS: impressions — exact FK, scope-inferred (rid scope with a
  // matching content id), content-MISmatch (must not match), and no-scope
  private val stage2Rhs = Seq(
    ScopedEvent(0, "u1", 1, "m1", "i1", 3000L, Seq("", "")),
    ScopedEvent(0, "u1", 1, "m2", "", 4000L, Seq("R1", ""), Seq("C1")),
    ScopedEvent(0, "u2", 1, "m3", "", 4000L, Seq("R2", ""), Seq("CX")),
    ScopedEvent(0, "u3", 1, "m4", "", 2500L, Seq("", "v3")))

  /** Upstream pairs (+ emittedAt) → stage-2 LHS rows, the q35 enrichment
    * shape: scopes = (request id, view id, content), content ids carried
    * for the ContentId filter. Shared verbatim by batch and streaming. */
  private def toStage2Left(pairs: DataFrame): DataFrame =
    pairs.join(insStatic.withColumnRenamed("iid", "rightId"), "rightId")
      .select(col("platformId"), col("logUserId"), lit(0).as("side"),
        col("rightId").as("id"), lit("").as("parentId"), col("its").as("tsMs"),
        array(col("rid"), col("leftId"), col("content")).as("scopes"),
        array(col("content")).as("contentIds"), col("emittedAt"))

  private def batchResult = {
    val p1 = InferredJoin.joinScopedBatch(
      stage1Events.toDS(), W, OOO, rightOuter = true)
    val left = toStage2Left(p1.toDF()
        .withColumn("emittedAt", timestamp_millis(col("rightTs"))))
      .drop("emittedAt").as[ScopedEvent]
    InferredJoin.joinScopedBatch(
      left.union(stage2Rhs.toDS()), W, OOO, rightOuter = false)
      .toDF().select("logUserId", "leftId", "rightId", "leftTs", "rightTs",
        "matchType")
      .as[(String, String, String, Long, Long, String)].collect().toSet
  }

  test("two chained tws inferred-join stages match the batch composition") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val stage1 = InferredJoinTws.joinScopedStream(
      mem1.toDS(), "1 second", W, OOO, rightOuter = true)
    val out = FlatChainTws.nextStage(stage1, toStage2Left,
      mem2.toDS(), "1 second", W, OOO, rightOuter = false)
    val q = out.writeStream.format("memory").queryName("flat_chain_tws")
      .outputMode("append").start()
    mem1.addData(stage1Events: _*)
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

  private val SEP = "\u0001" // cart-item pk split, as q35
  // reduce sizing per RedundantReduceTws.advance: ooo ≥ W + 2*OOO,
  // cleanup ≥ 2*W + OOO
  private val RedOoo = W + 2 * OOO + 3000L
  private val RedTtl = 1000000L // no root replacement in this fixture
  private val RedCleanup = 2 * W + OOO + 9000L

  private val fcStage1 = Seq(
    ScopedEvent(0, "u1", 0, "v1", "", 1000L, Seq("u1")),
    ScopedEvent(0, "u1", 1, "i1", "", 2000L, Seq("u1")),
    ScopedEvent(0, "u3", 0, "v3", "", 1500L, Seq("u3")),
    ScopedEvent(0, "u3", 1, "i3", "", 1400L, Seq("u3")))

  private def fcInsStatic = Seq(
    ("i1", "R1", "C1", 2000L), ("i3", "R3", "C3", 1400L))
    .toDF("iid", "rid", "content", "its")

  private def fcToStage2Left(pairs: DataFrame): DataFrame =
    pairs.join(fcInsStatic.withColumnRenamed("iid", "rightId"), "rightId")
      .select(col("platformId"), col("logUserId"), lit(0).as("side"),
        col("rightId").as("id"), lit("").as("parentId"), col("its").as("tsMs"),
        array(col("rid"), col("leftId"), col("content")).as("scopes"),
        array(col("content")).as("contentIds"), col("emittedAt"))

  // i1 gets an INFERRED impression mI@3000 (rid scope, matching content —
  // held in stage-2 state until its window closes) and an EXACT impression
  // mE@3500 (releasable on arrival): the event-time root is mI even though
  // mE can release first — the case a first-arrival election gets wrong.
  // i3 gets one exact impression m4.
  private val fcStage2Rhs = Seq(
    ScopedEvent(0, "u1", 1, "mI", "", 3000L, Seq("R1", ""), Seq("C1")),
    ScopedEvent(0, "u1", 1, "mE", "i1", 3500L, Seq("", "")),
    ScopedEvent(0, "u3", 1, "m4", "i3", 2500L, Seq("", "")))

  /** Stage-3 LHS from the matched stage-2 pairs (joinAndReduce filters);
    * selfRef = the insertion id the self-pair carries to the reduction. */
  private def fcToStage3Left(pairs: DataFrame): DataFrame =
    pairs.select(col("platformId"), col("logUserId"), lit(0).as("side"),
      col("rightId").as("id"), lit("").as("parentId"),
      col("rightTs").as("tsMs"), array(col("leftId")).as("scopes"),
      array().cast("array<string>").as("contentIds"), col("emittedAt"),
      col("leftId").as("selfRef"))

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

  /** Batch composition: three joinScopedBatch stages through the SAME
    * enrichment fns, then D3 via the shared pure transition in batch mode
    * (wm = MaxValue) per key. */
  private def fcBatchResult: Set[ReducedSig] = {
    def pseudoEmitted(df: DataFrame) =
      df.withColumn("emittedAt", timestamp_millis(col("rightTs")))
    val p1 = InferredJoin.joinScopedBatch(
      fcStage1.toDS(), W, OOO, rightOuter = true)
    val l2 = fcToStage2Left(pseudoEmitted(p1.toDF()))
      .drop("emittedAt").as[ScopedEvent]
    val p2 = InferredJoin.joinScopedBatch(
      l2.union(fcStage2Rhs.toDS()), W, OOO, rightOuter = false)
    val l3 = fcToStage3Left(pseudoEmitted(
        p2.toDF().where(col("matchType").isin("exact", "inferred"))))
      .drop("emittedAt", "selfRef").as[ScopedEvent]
    val p3 = InferredJoin.joinScopedBatch(
      l3.union(fcStage3Rhs.toDS()), W, OOO, rightOuter = false)
    def matched(df: DataFrame) =
      df.where(col("matchType").isin("exact", "inferred"))
        .select("platformId", "logUserId", "leftId", "rightId", "rightTs")
        .as[(Long, String, String, String, Long)].collect().toSeq
    val tiny =
      matched(p2.toDF()).map { case (pid, luid, iid, mid, ts) =>
        RedundantReduceTws.TinyJoined(pid, luid, iid, mid, "", "", ts,
          new java.sql.Timestamp(ts))
      } ++
      matched(p3.toDF()).map { case (pid, luid, mid, rid, ts) =>
        val (aid, content) =
          if (rid.contains(SEP)) (rid.split(SEP)(0), rid.split(SEP)(1))
          else (rid, "")
        RedundantReduceTws.TinyJoined(pid, luid, "", mid, aid, content, ts,
          new java.sql.Timestamp(ts))
      }
    tiny.groupBy(t => (t.platformId, t.logUserId)).flatMap { case (k, evs) =>
      RedundantReduceTws.advance(k, evs, RedundantReduceTws.emptyReduceState,
        Long.MaxValue, RedOoo, RedTtl, RedCleanup)._1
    }.map(r => (r.logUserId, r.kind, r.insertionId, r.impressionId,
      r.actionId, r.contentId, r.tsMs)).toSet
  }

  /** The full fused program: joins 1-2 via nextStage, join 3 + D3 fused
    * by joinAndReduce — four stateful operators, one linear chain. */
  private def fcReduced(mem1: MemoryStream[ScopedEvent],
      mem2: MemoryStream[ScopedEvent], mem3: MemoryStream[ScopedEvent]) = {
    val stage1 = InferredJoinTws.joinScopedStream(
      mem1.toDS(), "1 second", W, OOO, rightOuter = true)
    val p2 = FlatChainTws.nextStage(stage1, fcToStage2Left,
      mem2.toDS(), "1 second", W, OOO, rightOuter = false)
    FlatChainTws.joinAndReduce(p2, fcToStage3Left, mem3.toDS(), "1 second",
      W, OOO, SEP, RedOoo, RedTtl, RedCleanup)
  }

  /** Push all three source watermarks forward and cycle enough rounds for
    * the bump to cascade through four chained stateful operators. */
  private def fcSentinels(mem1: MemoryStream[ScopedEvent],
      mem2: MemoryStream[ScopedEvent], mem3: MemoryStream[ScopedEvent],
      q: org.apache.spark.sql.streaming.StreamingQuery, from: Long): Unit =
    for (r <- 0 until 6) {
      val ts = from + r * 600000L
      mem1.addData(ScopedEvent(0, "zz", 1, s"z1_$ts", "", ts, Seq("zz")))
      mem2.addData(ScopedEvent(0, "zz", 1, s"z2_$ts", "", ts, Seq("zz")))
      mem3.addData(ScopedEvent(0, "zz", 1, s"z3_$ts", "", ts, Seq("zz")))
      q.processAllAvailable()
    }

  private def fcCollect(names: String*): Set[ReducedSig] =
    names.map(spark.table)
      .reduce(_ unionByName _)
      .where(col("logUserId") =!= "zz")
      .select("logUserId", "kind", "insertionId", "impressionId", "actionId",
        "contentId", "tsMs")
      .as[ReducedSig].collect().toSet

  test("full four-stage chain (3 joins + D3 reduce) matches the batch composition") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val q = fcReduced(mem1, mem2, mem3)
      .writeStream.format("memory").queryName("flat_full_chain")
      .outputMode("append").start()
    mem1.addData(fcStage1: _*)
    mem2.addData(fcStage2Rhs: _*)
    mem3.addData(fcStage3Rhs: _*)
    q.processAllAvailable()
    fcSentinels(mem1, mem2, mem3, q, 600000L)
    q.stop()
    val got = fcCollect("flat_full_chain")
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
    def start() = fcReduced(mem1, mem2, mem3).writeStream
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
    mem1.addData(fcStage1: _*)
    mem2.addData(fcStage2Rhs: _*)
    q1.processAllAvailable()
    q1.stop()
    // phase B: restart from the checkpoint, feed the actions, drain
    val q2 = start()
    mem3.addData(fcStage3Rhs: _*)
    q2.processAllAvailable()
    fcSentinels(mem1, mem2, mem3, q2, 600000L)
    q2.stop()
    val got = spark.read.parquet(outDir)
      .where(col("logUserId") =!= "zz")
      .select("logUserId", "kind", "insertionId", "impressionId",
        "actionId", "contentId", "tsMs")
      .as[ReducedSig].collect().toSet
    assert(got == fcBatchResult)
  }

  test("action ids carrying the reserved SelfMarker prefix fail loudly") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val q = fcReduced(mem1, mem2, mem3)
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
