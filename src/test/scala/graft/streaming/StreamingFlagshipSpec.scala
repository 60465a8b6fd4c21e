package graft.streaming

import graft.SparkSpec
import graft.operators.Cogroup
import graft.schema.ScopedEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming flagship END-TO-END: the reference's join job deliverables
  * are JoinedEvent (tiny pairs + merged details, FlatOutputJob.java:712-754)
  * and FlatResponseInsertion (per-insertion session cogroup, :998-1044).
  * This spec pins, against batch compositions built from INDEPENDENT
  * operators (joinScopedBatch × 3 + advance, mergeFlagshipDetails,
  * Cogroup.sessionPayloadCogroup):
  *   - the single-query form: 3 joins + D3 reduce + J7 session cogroup =
  *     FIVE chained stateful operators emitting FlatResponseInsertion;
  *   - checkpoint kill-and-restart of that five-stage query;
  *   - the two-query production split: query 1 materializes JoinedEvent
  *     (ok + dropped side channel), query 2 session-cogroups the staged
  *     read — the shape the reference deploys (it materializes its flat
  *     tables and enriches downstream). */
class StreamingFlagshipSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val W = 10000L
  private val OOO = 1000L
  private val SEP = "\u0001"
  private val RedOoo = W + 2 * OOO + 3000L
  private val RedTtl = 1000000L
  private val RedCleanup = 2 * W + OOO + 9000L
  private val Gap = 2000L
  private val SessOoo = RedOoo + 3000L

  // ---- fixture ------------------------------------------------------
  // u1: view v1 → insertion i1 → impressions mI (inferred, event-time
  // root) and mE (exact, redundant) → actions a1 (on mE, re-points to mI,
  // session 1), a3 (on mI, 5s later — gap 2s splits it into session 2).
  // u3: v3 → i3 → impression m4 → action a2 (cart-packed content) in one
  // session, plus a5 whose action details are MISSING (dropped at the
  // merge, never enters a session).
  private val stage1 = Seq(
    ScopedEvent(0, "u1", 0, "v1", "", 1000L, Seq("u1")),
    ScopedEvent(0, "u1", 1, "i1", "", 2000L, Seq("u1")),
    ScopedEvent(0, "u3", 0, "v3", "", 1500L, Seq("u3")),
    ScopedEvent(0, "u3", 1, "i3", "", 1400L, Seq("u3")))

  private def insStatic = Seq(
    ("i1", "R1", "C1", 2000L), ("i3", "R3", "C3", 1400L))
    .toDF("iid", "rid", "content", "its")

  private val stage2Rhs = Seq(
    ScopedEvent(0, "u1", 1, "mI", "", 3000L, Seq("R1", ""), Seq("C1")),
    ScopedEvent(0, "u1", 1, "mE", "i1", 3500L, Seq("", "")),
    ScopedEvent(0, "u3", 1, "m4", "i3", 2500L, Seq("", "")))

  private val stage3Rhs = Seq(
    ScopedEvent(0, "u1", 1, "a1", "mE", 4000L, Seq("")),
    ScopedEvent(0, "u1", 1, "a3", "mI", 9000L, Seq("")),
    ScopedEvent(0, "u3", 1, "a2" + SEP + "C9", "", 4500L, Seq("i3")),
    ScopedEvent(0, "u3", 1, "a5", "m4", 5000L, Seq("")))

  // detail tables (dimension-sized statics): a5 has NO action details
  private def insDetails = Seq(("i1", "ID1"), ("i3", "ID3"))
    .toDF("insertionId", "ins_payload")
  private def impDetails = Seq(("mI", "MD_I"), ("mE", "MD_E"), ("m4", "MD_4"))
    .toDF("impressionId", "imp_payload")
  private def actDetails = Seq(("a1", "AD1"), ("a2", "AD2"), ("a3", "AD3"))
    .toDF("actionId", "act_payload")

  private def toStage2Left(pairs: DataFrame): DataFrame =
    pairs.join(insStatic.withColumnRenamed("iid", "rightId"), "rightId")
      .select(col("platformId"), col("logUserId"), lit(0).as("side"),
        col("rightId").as("id"), lit("").as("parentId"), col("its").as("tsMs"),
        array(col("rid"), col("leftId"), col("content")).as("scopes"),
        array(col("content")).as("contentIds"), col("emittedAt"))

  private def toStage3Left(pairs: DataFrame): DataFrame =
    pairs.select(col("platformId"), col("logUserId"), lit(0).as("side"),
      col("rightId").as("id"), lit("").as("parentId"),
      col("rightTs").as("tsMs"), array(col("leftId")).as("scopes"),
      array().cast("array<string>").as("contentIds"), col("emittedAt"),
      col("leftId").as("selfRef"))

  // ---- batch composition (independent operators) --------------------

  /** Three batch join stages + the shared reduce transition → Reduced. */
  private def batchReduced: Seq[RedundantReduceTws.Reduced] = {
    def pseudoEmitted(df: DataFrame) =
      df.withColumn("emittedAt", timestamp_millis(col("rightTs")))
    val p1 = InferredJoin.joinScopedBatch(stage1.toDS(), W, OOO, rightOuter = true)
    val l2 = toStage2Left(pseudoEmitted(p1.toDF()))
      .drop("emittedAt").as[ScopedEvent]
    val p2 = InferredJoin.joinScopedBatch(
      l2.union(stage2Rhs.toDS()), W, OOO, rightOuter = false)
    val l3 = toStage3Left(pseudoEmitted(
        p2.toDF().where(col("matchType").isin("exact", "inferred"))))
      .drop("emittedAt", "selfRef").as[ScopedEvent]
    val p3 = InferredJoin.joinScopedBatch(
      l3.union(stage3Rhs.toDS()), W, OOO, rightOuter = false)
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
    }.toSeq
  }

  /** (luid, kind, insertionId, impressionId, actionId, insP, impP, actP,
    * missing, status, tsMs) — the JoinedEvent signature. */
  private type JoinedSig = (String, String, String, String, String,
    String, String, String, String, String, Long)

  private def joinedSig(df: DataFrame) = df.select(
      col("logUserId"), col("kind"), col("insertionId"), col("impressionId"),
      col("actionId"), col("ins_payload"),
      col("imp_payload"), coalesce(col("act_payload"), lit("")).as("act_payload"),
      col("missing"), col("status"), col("tsMs"))
    .as[JoinedSig].collect().toSet

  private def batchMerged: DataFrame =
    FlatChainTws.mergeFlagshipDetails(
      spark.createDataset(batchReduced).toDF()
        .where(col("kind").isin("impression", "action")),
      insDetails, impDetails, actDetails)

  /** (luid, insertionId, startMs, nImps, nActs, impIds, actIds) */
  private type SessSig = (String, String, Long, Long, Long, String, String)

  /** Batch sessions via the INDEPENDENT batch operator (one shuffle
    * gaps-and-islands), not via SessionCogroupTws.advance. */
  private def batchSessions: Set[SessSig] = {
    val ok = batchMerged.where(col("status") === "ok")
    val imps = ok.where(col("kind") === "impression")
      .select(col("platformId"), col("logUserId"), col("insertionId"),
        col("impressionId").as("id"), col("tsMs"))
    val acts = ok.where(col("kind") === "action")
      .select(col("platformId"), col("logUserId"), col("insertionId"),
        col("actionId").as("id"), col("tsMs"))
    Cogroup.sessionPayloadCogroup(imps, acts,
        Seq("platformId", "logUserId", "insertionId"), "tsMs", Gap,
        "id", "id", tieType = "string")
      .select(col("logUserId"), col("insertionId"), col("session_start_ms"),
        col("n_left"), col("n_right"), col("left_ids"), col("right_ids"))
      .as[SessSig].collect().toSet
  }

  // ---- streaming chain ---------------------------------------------

  private def reducedStream(mem1: MemoryStream[ScopedEvent],
      mem2: MemoryStream[ScopedEvent], mem3: MemoryStream[ScopedEvent]) = {
    val s1 = InferredJoinTws.joinScopedStream(
      mem1.toDS(), "1 second", W, OOO, rightOuter = true)
    val p2 = FlatChainTws.nextStage(s1, toStage2Left,
      mem2.toDS(), "1 second", W, OOO, rightOuter = false)
    FlatChainTws.joinAndReduce(p2, toStage3Left, mem3.toDS(), "1 second",
      W, OOO, SEP, RedOoo, RedTtl, RedCleanup)
  }

  private def sentinels(mem1: MemoryStream[ScopedEvent],
      mem2: MemoryStream[ScopedEvent], mem3: MemoryStream[ScopedEvent],
      q: org.apache.spark.sql.streaming.StreamingQuery, from: Long): Unit =
    for (r <- 0 until 8) { // five stateful stages → more cascade rounds
      val ts = from + r * 600000L
      mem1.addData(ScopedEvent(0, "zz", 1, s"z1_$ts", "", ts, Seq("zz")))
      mem2.addData(ScopedEvent(0, "zz", 1, s"z2_$ts", "", ts, Seq("zz")))
      mem3.addData(ScopedEvent(0, "zz", 1, s"z3_$ts", "", ts, Seq("zz")))
      q.processAllAvailable()
    }

  private def sessSig(df: DataFrame): Set[SessSig] = df
    .where(col("logUserId") =!= "zz")
    .select(col("logUserId"), col("insertionId"), col("sessionStartMs"),
      col("nImps"), col("nActs"), col("impIds"), col("actIds"))
    .as[SessSig].collect().toSet

  test("single-query flagship: five chained stateful stages emit " +
      "FlatResponseInsertion matching the batch composition") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val sessions = FlatChainTws.flagshipSessions(
      reducedStream(mem1, mem2, mem3), insDetails, impDetails, actDetails,
      Gap, SessOoo)
    val q = sessions.writeStream.format("memory")
      .queryName("flagship_sessions").outputMode("append").start()
    mem1.addData(stage1: _*)
    mem2.addData(stage2Rhs: _*)
    mem3.addData(stage3Rhs: _*)
    q.processAllAvailable()
    sentinels(mem1, mem2, mem3, q, 600000L)
    q.stop()
    val got = sessSig(spark.table("flagship_sessions"))
    assert(got == batchSessions)
    // the structure that proves the composition:
    // session 1 of i1 = the ROOT impression (mI, not redundant mE) + the
    // re-pointed action a1; a3 opens a second session 5s later
    assert(got(("u1", "i1", 3000L, 1L, 1L, "mI", "a1")))
    assert(got(("u1", "i1", 9000L, 0L, 1L, "", "a3")))
    // u3: one session; a5 (missing action details → dropped at the
    // merge) never entered, a2's cart content unpacked upstream
    assert(got(("u3", "i3", 2500L, 1L, 1L, "m4", "a2")))
    assert(got.size == 3)
  }

  test("five-stage flagship restarts from checkpoint with session state intact") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    val cp = java.nio.file.Files.createTempDirectory("graft_fs_cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_fs_out").toString
    def start() = FlatChainTws.flagshipSessions(
        reducedStream(mem1, mem2, mem3), insDetails, impDetails, actDetails,
        Gap, SessOoo)
      .writeStream.option("checkpointLocation", cp).outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SessionCogroupTws.FlatSession],
          _: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    // phase A: everything except the actions; all five stores buffering
    val q1 = start()
    mem1.addData(stage1: _*)
    mem2.addData(stage2Rhs: _*)
    q1.processAllAvailable()
    q1.stop()
    // phase B: restart, feed actions, drain
    val q2 = start()
    mem3.addData(stage3Rhs: _*)
    q2.processAllAvailable()
    sentinels(mem1, mem2, mem3, q2, 600000L)
    q2.stop()
    assert(sessSig(spark.read.parquet(outDir)) == batchSessions)
  }

  test("production split: query 1 merges details AND user-enriches " +
      "(five stateful stages), query 2 cogroups the staged read") {
    val mem1 = MemoryStream[ScopedEvent]
    val mem2 = MemoryStream[ScopedEvent]
    val mem3 = MemoryStream[ScopedEvent]
    // user updates: (logUserId, userId, EVENT ts, arrival-ish stamp) —
    // tsMs is the merge-semantics time, the stamp only drives the
    // branch's watermark (the reference's user stream is the same:
    // old-effective-time records can arrive whenever)
    val memU = MemoryStream[(String, String, Long, Long)]
    val joinedDir = java.nio.file.Files.createTempDirectory("graft_fs_joined").toString
    // query 1: fused chain → stateless JoinedEvent merge → J10 user
    // join (the reference's joinUserAndOutput position) → parquet
    val merged = FlatChainTws.mergeFlagshipDetails(
      reducedStream(mem1, mem2, mem3).toDF()
        .where(col("kind").isin("impression", "action")),
      insDetails, impDetails, actDetails)
    val pSchema = merged.drop("emittedAt").schema
    val evBranch = merged.select(col("logUserId").as("key"),
      lit(1).as("side"),
      when(col("kind") === "impression", col("impressionId"))
        .otherwise(col("actionId")).as("id"),
      col("tsMs"), map().cast("map<string,string>").as("attrs"),
      to_json(struct(pSchema.fieldNames.map(col): _*)).as("payload"),
      col("emittedAt"))
    val upBranch = memU.toDF().toDF("key", "uid", "tsMs", "atMs")
      .withColumn("emittedAt", timestamp_millis(col("atMs")))
      .withWatermark("emittedAt", "1 second")
      .select(col("key"), lit(0).as("side"),
        concat_ws("_", lit("up"), col("key"), col("tsMs")).as("id"),
        col("tsMs"), map(lit("userId"), col("uid")).as("attrs"),
        lit("").as("payload"), col("emittedAt"))
    val MaxOoo = 1400000L // u3's slow release lands between rounds 2 and 3
    val enriched = UserJoinTws.joinChained(
      evBranch.unionByName(upBranch).as[UserJoinTws.InAt],
      fastOooMs = SessOoo, maxOooMs = MaxOoo, ttlMs = 100000000L)
    val q1 = enriched.toDF()
      .select(from_json(col("payload"), pSchema).as("r"),
        element_at(col("attrs"), "userId").as("userId"),
        col("path"), col("emittedAt"))
      .select((pSchema.fieldNames.map(n => col(s"r.$n")) ++
        Seq(col("userId"), col("path"), col("emittedAt"))): _*)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(joinedDir)
      }
      .start()
    // u1's user record is in place before its events → fast tier
    memU.addData(("u1", "U1", 400L, 400L))
    mem1.addData(stage1: _*)
    mem2.addData(stage2Rhs: _*)
    mem3.addData(stage3Rhs: _*)
    q1.processAllAvailable()
    def round(ts: Long): Unit = {
      mem1.addData(ScopedEvent(0, "zz", 1, s"z1_$ts", "", ts, Seq("zz")))
      mem2.addData(ScopedEvent(0, "zz", 1, s"z2_$ts", "", ts, Seq("zz")))
      mem3.addData(ScopedEvent(0, "zz", 1, s"z3_$ts", "", ts, Seq("zz")))
      memU.addData(("zz", "", ts, ts))
      q1.processAllAvailable()
    }
    round(600000L); round(1200000L)
    // u3's record arrives LATE (old effective time, current stamp):
    // its events already fell off the fast tier and must release SLOW
    // — enriched all the same
    memU.addData(("u3", "U3", 400L, 1250000L))
    for (r <- 3 to 8) round(r * 600000L)
    q1.stop()
    // JoinedEvent parity (detail columns + drop channel), as before
    val staged = spark.read.parquet(joinedDir).where(col("logUserId") =!= "zz")
    assert(joinedSig(staged) == joinedSig(batchMerged))
    assert(staged.where(col("status") === "dropped")
      .select("actionId", "missing")
      .as[(String, String)].collect().toSeq == Seq(("a5", "ACTION")))
    // enrichment parity: the batch J10 composition agrees on every
    // event's userId even though arrival order differed
    val bIn = batchMerged.select(col("logUserId"),
        when(col("kind") === "impression", col("impressionId"))
          .otherwise(col("actionId")).as("id"), col("tsMs"))
      .as[(String, String, Long)].collect().toSeq
      .map { case (k, id, ts) => UserJoin.In(k, 1, id, ts, Map.empty) } ++
      Seq(UserJoin.In("u1", 0, "b_up1", 400L, Map("userId" -> "U1")),
        UserJoin.In("u3", 0, "b_up3", 400L, Map("userId" -> "U3")))
    val bEnriched = UserJoin.joinBatch(
        spark.createDataset(bIn), SessOoo, MaxOoo)
      .collect().map(e => e.id -> e.attrs.getOrElse("userId", "")).toMap
    val gotUsers = staged.select("kind", "impressionId", "actionId", "userId", "path")
      .collect().map(r => (if (r.getString(0) == "impression") r.getString(1)
        else r.getString(2)) -> (r.getString(3), r.getString(4))).toMap
    assert(gotUsers.view.mapValues(_._1).toMap == bEnriched)
    // tier evidence: u1 rode the fast path, u3's late record forced slow
    assert(gotUsers("mI")._2 == "fast" && gotUsers("a1")._2 == "fast")
    assert(gotUsers("m4")._2 == "slow" && gotUsers("a2")._2 == "slow")
    // query 2: staged read → J7 session cogroup (the reference's
    // downstream-of-materialized-flat-tables shape); enrichment does
    // not perturb session membership
    val events = FlatChainTws.flatEvents(
        spark.readStream.schema(staged.schema).parquet(joinedDir)
          .where(col("status") === "ok" && col("logUserId") =!= "zz"))
      .withWatermark("emittedAt", "1 second")
    val q2 = SessionCogroupTws.cogroupChained(events, Gap, SessOoo)
      .writeStream.format("memory").queryName("flagship_split_sessions")
      .outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()
    assert(sessSig(spark.table("flagship_split_sessions")) == batchSessions)
  }
}
