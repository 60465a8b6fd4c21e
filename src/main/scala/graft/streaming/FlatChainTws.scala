package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeDetails
import graft.operators.MergeDetails.DetailSource
import graft.schema.ScopedEvent
import InferredJoinTws.JoinedPairAt

/** The multi-stage streaming flat chain as ONE query — the reference runs
  * view→insertion→impression→action as a single Flink program
  * (FlatOutputJob.java:368-641); with `transformWithState` chaining, the
  * Spark form is likewise a single streaming query: each stage's pairs are
  * projected into the next stage's LHS, the next stage's RHS stream unions
  * in under its own watermark (global watermark = min across sources), and
  * the next inferred join consumes the union keyed by (platformId,
  * logUserId).
  *
  * Stage plumbing rules (the two that make chaining work at all):
  *  - the inter-stage event-time column is the upstream stage's
  *    `emittedAt` RELEASE time, never the original event time (which ends
  *    up arbitrarily far behind the global watermark — a fresh
  *    withWatermark node on it would idle at zero and deadlock timers);
  *  - the raw RHS stream carries its own `emittedAt` = its event time with
  *    a watermark node applied BEFORE the union, so both union branches
  *    present the same time column to the downstream join.
  *
  * FlatChainTwsSpec pins two-stage parity against the batch chain
  * (`InferredJoin.joinScopedBatch` twice — the composition q35 gates). */
object FlatChainTws {

  /** One follow-on stage: map the upstream pairs into stage-N LHS rows
    * (keep `emittedAt`!), union the stage-N RHS stream, join again.
    *
    * `toLeft` receives the upstream [[JoinedPairAt]] frame and must return
    * ScopedEvent-shaped columns (side 0) PLUS the `emittedAt` column it
    * was given — enrichment joins against static/broadcast tables are fine
    * (stream-static joins preserve the watermark). */
  def nextStage(upstream: Dataset[JoinedPairAt],
      toLeft: DataFrame => DataFrame,
      rhs: Dataset[ScopedEvent], rhsWatermarkDelay: String,
      maxTimeMs: Long, outOfOrderMs: Long, rightOuter: Boolean)(
      implicit spark: SparkSession): Dataset[JoinedPairAt] =
    join(toLeft(upstream.toDF()), rhs.toDF(), rhsWatermarkDelay, maxTimeMs,
      outOfOrderMs, rightOuter)

  /** LHS rows (carrying `emittedAt`) ∪ the raw RHS stream under its own
    * watermark on `emittedAt` = its event time → the chained inferred join. */
  private def join(left: DataFrame, rhs: DataFrame, rhsWatermarkDelay: String,
      maxTimeMs: Long, outOfOrderMs: Long, rightOuter: Boolean)(
      implicit spark: SparkSession): Dataset[JoinedPairAt] = {
    import spark.implicits._
    val right = rhs.withColumn("emittedAt", timestamp_millis(col("tsMs")))
      .withWatermark("emittedAt", rhsWatermarkDelay)
    val cols = Seq("platformId", "logUserId", "side", "id", "parentId",
      "tsMs", "scopes", "contentIds", "emittedAt").map(col)
    InferredJoinTws.joinScopedChained(
      left.select(cols: _*).unionByName(right.select(cols: _*)).as[ScopedEvent],
      maxTimeMs, outOfOrderMs, rightOuter)
  }

  /** Reserved prefix tagging impression SELF-pairs inside the fused
    * stage-3 output (see [[joinAndReduce]]); action ids must not start
    * with it. */
  val SelfMarker = "\u0002"

  /** Stage 3 + D3 as the chain's tail (reference wiring: reduce AFTER
    * both join stages, FlatOutputJob.java:611-624 — a two-input DAG
    * node). Spark plans are trees, not DAGs, and the naive tree form —
    * stage-2 pairs feeding the reduce from one branch and stage 3's LHS
    * from another — both DUPLICATES the stage-1/2 subtree (state held
    * twice) and, worse, puts the two branches at different stateful
    * depths: the action branch's rows release one watermark hop behind
    * the impression branch's, so the union's watermark (driven by the
    * shallow branch) classifies them late and drops them. Instead the
    * impression pairs are re-injected into stage 3 as SELF-pairs — for
    * each matched (insertion, impression) pair a synthetic side-1 row
    * with `parentId` = its own impression id, which joins exactly onto
    * the impression LHS row and re-emerges in stage-3's output tagged
    * [[SelfMarker]]. ONE linear chain then carries both event kinds to
    * [[RedundantReduceTws.reduceChained]] at the same depth, and each
    * join stage's state exists exactly once.
    *
    * `impPairs` is the stage-2 output; `toLeft` builds stage-3 LHS rows
    * from the MATCHED pairs (as in [[nextStage]]) and must additionally
    * return a `selfRef` column — the insertion id to carry into the
    * impression's self-pair (in the stage-3 shape that is the pair's
    * `leftId`). `actRhs` is the raw action stream (`sep`-packed ids carry
    * a cart item content id). Outer/dropped pairs never reach the
    * reduction.
    *
    * The LHS row and its self-pair are derived in ONE pass (an explode of
    * each matched pair into both rows), NOT as two projections of the
    * upstream stream: a streaming self-union of the same stateful subtree
    * plans two copies of every upstream operator and only one branch's
    * rows survive — besides which, the single pass holds each stage's
    * state exactly once.
    *
    * Sizing (see [[RedundantReduceTws.advance]]): `oooMs` ≥ the upstream
    * join's maxTime + 2× its outOfOrder, `cleanupMs` ≥ 2× maxTime +
    * outOfOrder — the bounds under which every election contestant and
    * every action's impression is guaranteed to have drained out of the
    * upstream stages before the decision that needs it. */
  def joinAndReduce(impPairs: Dataset[JoinedPairAt],
      toLeft: DataFrame => DataFrame,
      actRhs: Dataset[ScopedEvent], rhsWatermarkDelay: String,
      maxTimeMs: Long, outOfOrderMs: Long, sep: String, oooMs: Long,
      replaceTtlMs: Long, cleanupMs: Long)(
      implicit spark: SparkSession): Dataset[RedundantReduceTws.Reduced] = {
    import spark.implicits._
    def matched(df: DataFrame) =
      df.where(col("matchType").isin("exact", "inferred"))
    val noIds = array().cast("array<string>")
    val enriched = toLeft(matched(impPairs.toDF()))
    val both = enriched.select(
      col("platformId"), col("logUserId"), col("tsMs"), col("emittedAt"),
      explode(array(
        struct(col("side"), col("id"), col("parentId"), col("scopes"),
          col("contentIds")),
        struct(lit(1).as("side"),
          concat(lit(SelfMarker), col("id"), lit(sep), col("selfRef")).as("id"),
          col("id").as("parentId"),
          noIds.as("scopes"), noIds.as("contentIds")))).as("r"))
      .select("platformId", "logUserId", "tsMs", "emittedAt", "r.*")
    val right = actRhs.toDF()
      // enforce the reserved-prefix contract documented on [[SelfMarker]]:
      // an adversarial action id starting with it would be silently
      // classified as a self-pair below — fail the batch loudly instead
      .withColumn("id", when(col("id").startsWith(SelfMarker),
        raise_error(concat(
          lit("action id begins with the reserved SelfMarker prefix: "),
          col("id")))).otherwise(col("id")))
    val joined = join(both, right, rhsWatermarkDelay, maxTimeMs,
      outOfOrderMs, rightOuter = false)
    // one-pass output mapping, for the same no-self-union reason as above:
    // self-pair rows (id = marker + impressionId + sep + insertionId)
    // become impression inputs, everything else action inputs
    val isSelf = col("rightId").startsWith(SelfMarker)
    val tiny = matched(joined.toDF()).select(
      col("platformId"), col("logUserId"),
      when(isSelf, substring_index(col("rightId"), sep, -1))
        .otherwise(lit("")).as("insertionId"),
      col("leftId").as("impressionId"),
      when(isSelf, lit(""))
        .when(col("rightId").contains(sep),
          substring_index(col("rightId"), sep, 1))
        .otherwise(col("rightId")).as("actionId"),
      when(!isSelf && col("rightId").contains(sep),
        substring_index(col("rightId"), sep, -1))
        .otherwise(lit("")).as("contentId"),
      col("rightTs").as("tsMs"), col("emittedAt"))
    RedundantReduceTws.reduceChained(
      tiny.as[RedundantReduceTws.TinyJoined], oooMs, replaceTtlMs, cleanupMs)
  }

  /** J6 onto the chain's `Reduced` output, stateless — the JoinedEvent
    * merge (reference MergeImpressionDetails / MergeActionDetails,
    * FlatOutputJob.java:712-754): left-join the full entity payloads onto
    * the tiny ids, label what a row is missing, keep the drop side channel
    * in-plan as a `status` column (K6 discipline).
    *
    * ONE pass over the single reduced stream with per-kind required-detail
    * sets, instead of the reference's two merge operators: splitting the
    * stream into an impression branch and an action branch and unioning
    * the merges back would plan the four stateful upstream stages TWICE
    * (the self-union trap documented on [[joinAndReduce]]). Kind
    * `impression` requires insertion + impression details; kind `action`
    * additionally requires action details (labels = the reference's
    * MissingEvent names). `redundant`/`dangling` rows should be filtered
    * or side-channeled by the caller before the merge.
    *
    * Detail frames join on `insertionId` / `impressionId` / `actionId` and
    * must carry uniquely-named payload columns. In streaming mode they are
    * static (stream-static left equi-joins — watermark-preserving,
    * broadcast when dimension-sized); at 100 TB each is one equi-join with
    * no state. It is the batch J6, `MergeDetails.mergeWithDropTracking`,
    * with the action detail required on action rows only. */
  def mergeFlagshipDetails(reduced: DataFrame, insertionDetails: DataFrame,
      impressionDetails: DataFrame, actionDetails: DataFrame): DataFrame =
    MergeDetails.mergeWithDropTracking(reduced, Seq(
      DetailSource(insertionDetails, "insertionId", "DELIVERY_LOG"),
      DetailSource(impressionDetails, "impressionId", "IMPRESSION"),
      DetailSource(actionDetails, "actionId", "ACTION",
        requiredWhen = col("kind") === "action")))

  /** The COMPLETE streaming flagship as one query: the fused four-stage
    * chain's `Reduced` output → stateless JoinedEvent merge
    * ([[mergeFlagshipDetails]]) → J7 session cogroup — FIVE stateful
    * operators in one linear chain, emitting FlatResponseInsertion rows
    * (reference deliverable, FlatOutputJob.java:998-1044). Root
    * impressions and re-pointed actions of each insertion cogroup in
    * `gapMs` event-time sessions; rows that failed the merge (`status` =
    * dropped) never enter a session, like the reference's dropped-merge
    * side output.
    *
    * `sessOooMs` ≥ the reduce stage's `oooMs` + a scheduling margin (see
    * [[SessionCogroupTws]] sizing notes). When the JoinedEvent stream
    * itself must also be materialized, use the two-query production split
    * instead: sink the merged frame, then run [[SessionCogroupTws]] over a
    * staged read (the reference materializes its flat tables anyway) —
    * StreamingFlagshipSpec drives both shapes. */
  def flagshipSessions(reduced: Dataset[RedundantReduceTws.Reduced],
      insertionDetails: DataFrame, impressionDetails: DataFrame,
      actionDetails: DataFrame, gapMs: Long, sessOooMs: Long)(
      implicit spark: SparkSession): Dataset[SessionCogroupTws.FlatSession] = {
    val merged = mergeFlagshipDetails(
      reduced.toDF().where(col("kind").isin("impression", "action")),
      insertionDetails, impressionDetails, actionDetails)
    SessionCogroupTws.cogroupChained(
      flatEvents(merged.where(col("status") === "ok")), gapMs, sessOooMs)
  }

  /** Detail-merged rows → the cogroup's input shape: impressions collect
    * their impressionId, actions their actionId. */
  def flatEvents(merged: DataFrame)(
      implicit spark: SparkSession): Dataset[SessionCogroupTws.FlatEvent] = {
    import spark.implicits._
    merged.select(col("platformId"), col("logUserId"), col("insertionId"),
        (col("kind") === "impression").as("isImpression"),
        when(col("kind") === "impression", col("impressionId"))
          .otherwise(col("actionId")).as("id"),
        col("tsMs"), col("emittedAt"))
      .as[SessionCogroupTws.FlatEvent]
  }
}
