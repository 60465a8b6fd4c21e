package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cogroup
import graft.schema.ScopedEvent
import graft.sources.{Filters, LogRequestSplit, Validation}
import graft.streaming.{FlatChainTws, InferredJoin, RedundantReduceTws}

/** Flat Output ("join") Job (reference P:job/join/FlatOutputJob.java,
  * SURVEY §3.1). This object holds the job's stage table once, in the
  * reference's wiring order (FlatOutputJob.java:411-608):
  *
  *   [[gate]]: validate → RestructureDeliveryLog → shouldJoin traffic gate
  *   → bot filters; then per join stage one LHS and one RHS projection:
  *   view ×(right-outer) insertion ([[viewSide]], [[insertionSide]]) →
  *   insertion × impression ([[insertionLeft]], [[impressionSide]]) →
  *   impression × action, cart-split ([[impressionLeft]], [[actionSide]]).
  *
  * [[run]] composes the table with `InferredJoin.joinScopedBatch`, and
  * `StreamingJobs.flagshipOutput` composes the same projections with the
  * `transformWithState` stages, so the batch job is the stream's oracle
  * ([[flatResponseInsertions]] is its tail). Each join stage is the scoped
  * inferred join (exact FK, then the ancestor-scope cascade with the
  * ContentId filter); the caller passes each stage's window.
  *
  * A later stage's LHS reads every id it needs off the previous stage's
  * pairs, never off a second copy of the entities (the reference's
  * TinyEvent merge): an RHS pk packs the ids after its own, separated by
  * [[PkSep]] (the insertion its request and content ids, the impression
  * its content id, the action its cart item), and a pair carries its
  * LHS's scopes (`JoinedPair.leftScopes`). Only TinyEvent-width columns
  * enter the stateful joins; payloads re-attach afterwards by pk
  * (P:README.md:118-119).
  */
object FlatOutputJob {

  case class Outputs(
      joinedImpressions: DataFrame, // flat chain at impression level (+details)
      joinedActions: DataFrame, // flat chain at action level (+details)
      droppedImpressions: DataFrame,
      droppedActions: DataFrame,
      flatResponseInsertions: DataFrame, // J7 sessions, the stream's deliverable
      validationErrors: DataFrame,
      droppedDeliveryLogs: DataFrame, // shouldJoin gate + bot filter channel
      droppedViews: DataFrame) // bot filter channel

  /** Pk field separator; also the cart-item pk split
    * (ImpressionActionProcessFunction.java:14). */
  val PkSep = "\u0001"

  /** Session gap of the FlatResponseInsertion cogroup (1 day,
    * FlatOutputJob.java:998-1044). */
  val SessionGapMs = 86400000L

  /** The D3 reduce's root-replacement TTL: a root is never replaced. */
  val ReplaceTtlMs = Long.MaxValue / 4

  /** The entities that pass the pre-join gate, and its side channels. */
  case class Gated(views: DataFrame, deliveryLogs: DataFrame,
      impressions: DataFrame, actions: DataFrame, validationErrors: DataFrame,
      droppedDeliveryLogs: DataFrame, droppedViews: DataFrame)

  /** Validation, RestructureDeliveryLog, the shouldJoin traffic gate and
    * the bot filters, all before the stateful joins
    * (FlatOutputJob.java:435-451). Batch and streaming envelopes alike; a
    * stream never runs the side-channel frames. */
  def gate(envelopes: DataFrame)(implicit spark: SparkSession): Gated = {
    val viewsAll = LogRequestSplit.views(envelopes).toDF()
    val dlogsAll = LogRequestSplit.deliveryLogs(envelopes).toDF()
    val impsAll = LogRequestSplit.impressions(envelopes).toDF()
    val actsAll = LogRequestSplit.actions(envelopes).toDF()
    val usersAll = LogRequestSplit.users(envelopes).toDF()
    val errors = Seq(
      ("view", viewsAll, Validation.viewRules),
      ("delivery_log", dlogsAll, Validation.deliveryLogRules),
      ("impression", impsAll, Validation.impressionRules),
      ("action", actsAll, Validation.actionRules),
      ("user", usersAll, Validation.userRules)).map { case (t, df, rules) =>
        Validation.errors(df, rules).select(lit(t).as("record_type"), col("error"))
      }.reduce(_ unionByName _)

    val restructured = Filters.restructureDeliveryLog(
      Validation.valid(dlogsAll, Validation.deliveryLogRules))
    val joinable = Filters.shouldJoin(col("request.clientInfo.trafficType"))
    val notBotDlog = Filters.isNotBot(col("request.device.browser.userAgent"))
    val viewsValid = Validation.valid(viewsAll, Validation.viewRules)
    val notBotView = Filters.isNotBot(col("device.browser.userAgent"))
    Gated(
      viewsValid.where(notBotView),
      restructured.where(joinable && notBotDlog),
      Validation.valid(impsAll, Validation.impressionRules),
      Validation.valid(actsAll, Validation.actionRules),
      errors,
      restructured.where(!joinable || !notBotDlog)
        .select(col("request.requestId").as("id"),
          when(!joinable, "should_not_join").otherwise("is_bot").as("reason")),
      viewsValid.where(!notBotView)
        .select(col("viewId").as("id"), lit("is_bot").as("reason")))
  }

  // ---- the stage table: one LHS and one RHS projection per join stage --

  private def ts = col("timing.eventApiTimestamp").as("tsMs")
  private def luid = col("userInfo.logUserId").as("logUserId")
  private def noContent = array().cast("array<string>").as("contentIds")
  private def nonEmpty(ids: Column): Column = filter(ids, c => c =!= "")
  private def pk(fields: Column*): Column =
    concat_ws(PkSep, fields.map(coalesce(_, lit(""))): _*)

  /** Field `i` of a [[PkSep]]-packed pk ("" when absent). */
  private def pkField(packed: Column, i: Int): Column =
    coalesce(get(split(packed, PkSep), lit(i)), lit(""))

  /** The release time (and the self-pair reference) a streaming stage's
    * pairs carry into the next stage's LHS rows. */
  private val Carried = Set("emittedAt", "selfRef")
  private def leftOf(pairs: DataFrame, cols: Column*): DataFrame =
    pairs.select(cols ++ pairs.columns.filter(Carried).map(col): _*)

  /** Stage 1 LHS: views, under the logUserId scope. */
  def viewSide(views: DataFrame): DataFrame =
    views.select(col("platformId"), luid, lit(0).as("side"),
      col("viewId").as("id"), lit("").as("parentId"), ts,
      array(col("userInfo.logUserId")).as("scopes"), noContent)

  /** Stage 1 RHS: one row per response insertion, FK = request.viewId,
    * logUserId backup scope (ViewResponseInsertionProcessFunction.java:
    * 10-48); pk = insertionId ⊕ requestId ⊕ contentId. */
  def insertionSide(deliveryLogs: DataFrame): DataFrame =
    deliveryLogs.select(col("platformId"), luid, ts,
        col("request.requestId").as("requestId"),
        col("request.viewId").as("fkViewId"), explode(col("insertions")).as("ins"))
      .select(col("platformId"), col("logUserId"), lit(1).as("side"),
        pk(col("ins.insertionId"), col("requestId"), col("ins.contentId")).as("id"),
        col("fkViewId").as("parentId"), col("tsMs"),
        array(col("logUserId")).as("scopes"), noContent)

  /** Stage 2 LHS from stage-1 pairs (every match type): the insertion
    * under its request, matched view and content scopes
    * (InsertionImpressionProcessFunction.java:23-35). */
  def insertionLeft(pairs: DataFrame): DataFrame = {
    val ins = col("rightId")
    leftOf(pairs, col("platformId"), col("logUserId"), lit(0).as("side"),
      pkField(ins, 0).as("id"), lit("").as("parentId"), col("rightTs").as("tsMs"),
      array(pkField(ins, 1), col("leftId"), pkField(ins, 2)).as("scopes"),
      nonEmpty(array(pkField(ins, 2))).as("contentIds"))
  }

  /** Stage 2 RHS: impressions, FK = insertionId, scope cascade requestId →
    * viewId → contentId; pk = impressionId ⊕ contentId. */
  def impressionSide(impressions: DataFrame): DataFrame =
    impressions.select(col("platformId"), luid, lit(1).as("side"),
      pk(col("impressionId"), col("contentId")).as("id"),
      col("insertionId").as("parentId"), ts,
      array(col("requestId"), col("viewId"), col("contentId")).as("scopes"),
      nonEmpty(array(col("contentId"))).as("contentIds"))

  /** Attach the other-content rollup ids of `contentCol` as `__other`
    * (empty without a content-dimension snapshot). */
  private def withOther(df: DataFrame, contentCol: Column,
      contentOtherIds: Option[DataFrame]): DataFrame = contentOtherIds match {
    case None => df.withColumn("__other", array().cast("array<string>"))
    case Some(d) => df
      .join(broadcast(d.select(col("contentId").as("__c"),
        col("otherIds").as("__other"))), contentCol === col("__c"), "left")
      .withColumn("__other", coalesce(col("__other"), array().cast("array<string>")))
      .drop("__c")
  }
  /** Other-content rollup ids ride both the scope list and the content-
    * filter set (an action on an item joins the impression of its parent
    * store/brand). */
  private def plusOther(base: Column): Column =
    concat(base, nonEmpty(col("__other")))

  /** The joined impression's ids off a matched stage-2 pair; its content
    * id is the impression's when set, else the insertion's
    * (mergeImpression). */
  private def impressionIds(pairs: DataFrame): DataFrame = {
    val insScope = (i: Int) => coalesce(get(col("leftScopes"), lit(i)), lit(""))
    val impContent = pkField(col("rightId"), 1)
    pairs.withColumn("insertionId", col("leftId"))
      .withColumn("impressionId", pkField(col("rightId"), 0))
      .withColumn("requestId", insScope(0))
      .withColumn("viewId", insScope(1))
      .withColumn("contentId",
        when(impContent =!= "", impContent).otherwise(insScope(2)))
  }

  /** Stage 3 LHS from the matched stage-2 pairs: the impression under its
    * insertion, request, view and content scopes plus the other-content
    * ids (ImpressionActionProcessFunction.java:37-78). */
  def impressionLeft(pairs: DataFrame,
      contentOtherIds: Option[DataFrame]): DataFrame =
    leftOf(withOther(impressionIds(pairs), col("contentId"), contentOtherIds),
      col("platformId"), col("logUserId"), lit(0).as("side"),
      col("impressionId").as("id"), lit("").as("parentId"),
      col("rightTs").as("tsMs"),
      plusOther(array(col("insertionId"), col("requestId"), col("viewId"),
        col("contentId"))).as("scopes"),
      nonEmpty(plusOther(array(col("contentId")))).as("contentIds"))

  /** Stage 3 RHS: one row per cart item, pk = actionId ⊕ item contentId;
    * an empty cart falls back to the action's own contentId
    * (ImpressionActionProcessFunction.java:18-78). */
  def actionSide(actions: DataFrame,
      contentOtherIds: Option[DataFrame]): DataFrame = {
    val items = actions.withColumn("item", explode(when(size(col("cart")) > 0,
        transform(col("cart"), c => c.getField("contentId")))
      .otherwise(array(col("contentId")))))
    withOther(items, col("item"), contentOtherIds)
      .select(col("platformId"), luid, lit(1).as("side"),
        pk(col("actionId"), col("item")).as("id"),
        col("impressionId").as("parentId"), ts,
        plusOther(array(col("insertionId"), col("requestId"), col("viewId"),
          col("item"))).as("scopes"),
        nonEmpty(plusOther(array(col("item")))).as("contentIds"))
  }

  /** The detail frames of the flagship's merge over envelopes, in the
    * shapes `StreamingJobs.flagshipOutput` reads: insertions (insertionId,
    * requestId, contentId, tsMs), impressions (impressionId, imp_content)
    * and actions (actionId, act_type). */
  def detailFrames(envelopes: DataFrame)(
      implicit spark: SparkSession): Seq[DataFrame] = Seq(
    LogRequestSplit.deliveryLogs(envelopes).toDF()
      .select(ts, col("request.requestId").as("requestId"),
        explode(col("insertions")).as("i"))
      .select(col("i.insertionId").as("insertionId"), col("requestId"),
        col("i.contentId").as("contentId"), col("tsMs")),
    LogRequestSplit.impressions(envelopes).toDF()
      .select(col("impressionId"), col("contentId").as("imp_content")),
    LogRequestSplit.actions(envelopes).toDF()
      .select(col("actionId"), col("actionType").as("act_type")))

  private def matched(pairs: DataFrame): DataFrame =
    pairs.where(col("matchType").isin("exact", "inferred"))

  /** The D3 redundant reduce as a batch step, over matched stage-2
    * (impression) and stage-3 (action) pairs at an infinite watermark,
    * where every root election and re-point resolves and the reduce's
    * reorder and cleanup bounds play no part (RedundantReduceTws.advance,
    * FlatOutputJob.java:611-624). */
  def redundantReduce(impressionPairs: DataFrame, actionPairs: DataFrame)(
      implicit spark: SparkSession): Dataset[RedundantReduceTws.Reduced] = {
    import spark.implicits._
    matched(impressionPairs).select(col("platformId"), col("logUserId"),
        col("leftId").as("insertionId"),
        pkField(col("rightId"), 0).as("impressionId"), lit("").as("actionId"),
        lit("").as("contentId"), col("rightTs").as("tsMs"))
      .unionByName(matched(actionPairs).select(col("platformId"),
        col("logUserId"), lit("").as("insertionId"),
        col("leftId").as("impressionId"),
        pkField(col("rightId"), 0).as("actionId"),
        pkField(col("rightId"), 1).as("contentId"), col("rightTs").as("tsMs")))
      .withColumn("emittedAt", timestamp_millis(col("tsMs")))
      .as[RedundantReduceTws.TinyJoined]
      .groupByKey(t => (t.platformId, t.logUserId))
      .flatMapGroups { (key, rows) =>
        RedundantReduceTws.advance(key, rows.toSeq,
          RedundantReduceTws.emptyReduceState, Long.MaxValue, 0L,
          ReplaceTtlMs, 0L)._1
      }
  }

  /** The flagship tail as a batch step: [[redundantReduce]] → the
    * JoinedEvent detail merge → the J7 session cogroup
    * (FlatOutputJob.java:712-754, :998-1044), in the columns of
    * `FlatChainTws.flagshipSessions`. A session holds one member per
    * (kind, id), as the streaming cogroup does: the items of one cart that
    * join the same insertion are one action. */
  def flatResponseInsertions(impressionPairs: DataFrame,
      actionPairs: DataFrame, insertionDetails: DataFrame,
      impressionDetails: DataFrame, actionDetails: DataFrame,
      gapMs: Long = SessionGapMs)(implicit spark: SparkSession): DataFrame = {
    val members = FlatChainTws.mergeFlagshipDetails(
        redundantReduce(impressionPairs, actionPairs).toDF()
          .where(col("kind").isin("impression", "action")),
        insertionDetails, impressionDetails, actionDetails)
      .where(col("status") === "ok")
      .select(col("platformId"), col("logUserId"), col("insertionId"),
        col("kind"), when(col("kind") === "impression", col("impressionId"))
          .otherwise(col("actionId")).as("id"), col("tsMs"))
      .dropDuplicates("platformId", "logUserId", "insertionId", "kind", "id")
    def side(kind: String) = members.where(col("kind") === kind)
    Cogroup.sessionPayloadCogroup(side("impression"), side("action"),
        Seq("platformId", "logUserId", "insertionId"), "tsMs", gapMs,
        "id", "id", tieType = "string")
      .select(col("platformId"), col("logUserId"), col("insertionId"),
        col("session_start_ms").as("sessionStartMs"), col("n_left").as("nImps"),
        col("n_right").as("nActs"), col("left_ids").as("impIds"),
        col("right_ids").as("actIds"))
  }

  /** Batch form: the stage table over bounded envelopes, each join stage
    * resolved in one pass (`InferredJoin.joinScopedBatch`), then J6
    * MergeDetails, the buyer filter and clearUserId on the joined rows,
    * and the flagship tail ([[flatResponseInsertions]]).
    *
    * @param contentOtherIds optional content-dimension snapshot
    *   (contentId, otherIds: array&lt;string&gt;) — item → store/brand
    *   rollup ids from the Content API (S4). When present, the J4 stage
    *   adds them to both sides' join scopes and content-filter sets so
    *   actions on child content attribute to parent-content impressions
    *   (ImpressionActionProcessFunction.java:37-78,
    *   TinyFlatUtil.getAllContentIds). Broadcast — dimension-sized. */
  def run(envelopes: DataFrame, viewInsWindowMs: Long = 30 * 60 * 1000L,
      insImpWindowMs: Long = 30 * 60 * 1000L,
      impActWindowMs: Long = 24 * 3600 * 1000L, outOfOrderMs: Long = 1000L,
      nonBuyerUserSparseHashes: Seq[Long] = Nil,
      contentOtherIds: Option[DataFrame] = None)(
      implicit spark: SparkSession): Outputs = {
    import spark.implicits._
    val g = gate(envelopes)
    val Seq(insertions, impressionDetails, actionDetails) = detailFrames(envelopes)
    def join(left: DataFrame, right: DataFrame, windowMs: Long,
        rightOuter: Boolean): DataFrame =
      InferredJoin.joinScopedBatch(left.unionByName(right).as[ScopedEvent],
        windowMs, outOfOrderMs, rightOuter).toDF()

    // J2 view × insertion (right-outer), J3 insertion × impression, J4
    // impression × action; the stage-2/3 pairs feed several outputs —
    // persisted so each scoped-join stage executes once
    val p1 = join(viewSide(g.views), insertionSide(g.deliveryLogs),
      viewInsWindowMs, rightOuter = true)
    val p2 = join(insertionLeft(p1), impressionSide(g.impressions),
      insImpWindowMs, rightOuter = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val p3 = join(impressionLeft(matched(p2), contentOtherIds),
      actionSide(g.actions, contentOtherIds), impActWindowMs, rightOuter = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // J6 MergeDetails: re-attach full payloads by pk; chain ids ride along
    val chain = impressionIds(matched(p2)).select(col("impressionId"),
      col("insertionId"), col("requestId"), col("viewId").as("chainViewId"),
      col("matchType"))
    val joinedImpressions = chain
      .join(g.impressions.drop("insertionId", "requestId"), Seq("impressionId"), "left")
    val joinedActions = p3.where(col("matchType") =!= "dropped")
      .select(pkField(col("rightId"), 0).as("actionId"),
        pkField(col("rightId"), 1).as("itemContentId"),
        col("leftId").as("impressionId"), col("matchType"))
      .join(chain.drop("matchType"), Seq("impressionId"), "left")
      .join(g.actions.drop("impressionId", "insertionId", "requestId"),
        Seq("actionId"), "left")

    // P4 BuyerPredicate: drop flat events whose execution insertion flags a
    // non-buyer user (no-op when no hashes configured,
    // FlatOutputJob.java:1150-1170). Features live on the response
    // insertion; probe them through the chain's insertionId.
    def buyerFiltered(df: DataFrame): DataFrame =
      if (nonBuyerUserSparseHashes.isEmpty) df
      else {
        val feats = g.deliveryLogs.select(explode(col("insertions")).as("ins"))
          .select(col("ins.insertionId").as("insertionId"),
            col("ins.sparseFeatures").as("__feats"))
        df.join(feats, Seq("insertionId"), "left")
          .where(Filters.isBuyer(col("__feats"), nonBuyerUserSparseHashes))
          .drop("__feats")
      }
    def dropped(pairs: DataFrame): DataFrame =
      pairs.where(col("matchType") === "dropped").drop("leftScopes")

    Outputs(
      Validation.clearUserId(buyerFiltered(joinedImpressions)),
      Validation.clearUserId(buyerFiltered(joinedActions)),
      dropped(p2).withColumn("rightId", pkField(col("rightId"), 0)),
      dropped(p3),
      flatResponseInsertions(p2, p3, insertions.select("insertionId"),
        impressionDetails, actionDetails),
      g.validationErrors,
      g.droppedDeliveryLogs,
      g.droppedViews)
  }
}
