package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.schema.{JoinSideEvent, JoinedPair, ScopedEvent}

/** Inferred-reference join (reference J1 core,
  * P:common/functions/inferred/BaseInferred.java) with the full ancestor-
  * scope cascade and ContentId filter (P:common/functions/inferred/
  * ContentId.java:64-95).
  *
  * Streams are keyed by (platformId, logUserId). RHS (child) events join
  * their LHS (parent) by exact foreign key when present — including
  * out-of-order arrival, where the RHS waits for its LHS (the reference's
  * `ooIdJoin` buffer, BaseInferred.java:444-456). RHS events *without* a
  * foreign key wait out the out-of-orderness bound, then cascade through
  * their ORDERED scope keys (BaseInferred.java:524-547): the first scope
  * holding a candidate within `[rightTs - maxTimeMs, rightTs + outOfOrderMs]`
  * wins, taking the temporally-closest LHS (ties at equal distance go to the
  * LATER event, BaseInferred.java:619-635; remaining ties break on pk for
  * partition-order independence). When the RHS carries content ids, scope
  * candidates must share at least one (ContentId filter). Exhausted scopes →
  * right-outer emission (matchType="outer", BaseInferred.java:548-550) or
  * the dropped side channel.
  *
  * Scale design: state per key holds only (pk → ts, contentIds) for live
  * LHS events, the ts-sorted scope index, and pending RHS skeletons — the
  * TinyEvent pattern — and every map is pruned by watermark-driven TTL
  * (BaseInferred.java:670-692). State size is bounded by events-in-window
  * per (platform, logUser), never by stream length.
  *
  * `joinBatch`/`joinScopedBatch` run identical logic over bounded data (the
  * reference's "run stream jobs as batch" testing trick, SURVEY §5).
  */
object InferredJoin {

  case class ScopedState(
      lefts: Map[String, (Long, Seq[String], Seq[String])], // LHS pk → (ts, contentIds, scopes)
      scopeIdx: Map[String, List[(Long, String)]], // scope key → ts-sorted (ts, pk)
      pendingFk: List[ScopedEvent], // RHS awaiting LHS by exact FK
      pendingInfer: List[ScopedEvent]) // RHS awaiting inference

  def emptyScopedState: ScopedState = ScopedState(Map.empty, Map.empty, Nil, Nil)

  private def toScoped(platformId: Long, logUserId: String, e: JoinSideEvent): ScopedEvent =
    ScopedEvent(platformId, logUserId, e.side, e.id, e.parentId, e.tsMs,
      scopes = Seq(logUserId))

  /** Pure per-key transition shared by batch and streaming: consume new
    * events, resolve everything resolvable at `watermarkMs`, return
    * (outputs, nextState). `watermarkMs = Long.MaxValue` resolves all. */
  def advanceScoped(key: (Long, String), events: Seq[ScopedEvent], st: ScopedState,
      watermarkMs: Long, maxTimeMs: Long, outOfOrderMs: Long,
      rightOuter: Boolean): (Seq[JoinedPair], ScopedState) = {
    val (platformId, logUserId) = key
    var lefts = st.lefts
    var scopeIdx = st.scopeIdx
    val out = Seq.newBuilder[JoinedPair]

    def emit(leftId: String, leftTs: Long, rightId: String, rightTs: Long,
        how: String): Unit =
      out += JoinedPair(platformId, logUserId, leftId, rightId, leftTs, rightTs,
        how, lefts.get(leftId).fold(Seq.empty[String])(_._3))

    // 1. ingest LHS first (same-batch RHS may reference them); FIFO-dedupe
    //    by pk (BaseInferred.java:337-352), register ancestor scopes sorted
    //    by ts for the nearest-in-time searches (BaseInferred.java:354-378)
    var flushFks = Set.empty[String]
    events.foreach { e =>
      if (e.side == 0 && e.id.nonEmpty && !lefts.contains(e.id)) {
        lefts += (e.id -> ((e.tsMs, e.contentIds, e.scopes)))
        flushFks += e.id
        e.scopes.foreach { sk =>
          if (sk.nonEmpty) {
            val entry = (e.tsMs, e.id)
            val cur = scopeIdx.getOrElse(sk, Nil)
            val (before, after) = cur.span(_._1 <= e.tsMs)
            scopeIdx += (sk -> (before ::: entry :: after))
          }
        }
      }
    }

    // 2. ingest RHS: exact-FK fast path, else buffer (ooIdJoin /
    //    inferenceCandidates split, BaseInferred.java:434-468); inference
    //    candidates FIFO-dedupe by RHS pk
    var pendingFk = st.pendingFk
    var pendingInfer = st.pendingInfer
    // O(1) FIFO dedupe: a per-event `pendingInfer.exists(_.id == …)` scan
    // is O(n²) on a hot key (10k duplicate RHS pks in one batch = 5·10⁷
    // comparisons). The pk set is derived from the deserialized list once
    // per invocation — same cost class as reading the state — so the
    // persisted state shape stays unchanged.
    var pendingInferIds = pendingInfer.iterator.map(_.id).toSet
    events.foreach { e =>
      if (e.side == 1) {
        if (e.parentId.nonEmpty) {
          lefts.get(e.parentId) match {
            case Some((lts, _, _)) => emit(e.parentId, lts, e.id, e.tsMs, "exact")
            case None => pendingFk ::= e
          }
        } else if (!pendingInferIds.contains(e.id)) {
          pendingInfer ::= e
          pendingInferIds += e.id
        }
      }
    }

    // 3. out-of-order FK joins: LHS may have arrived in this batch
    pendingFk = pendingFk.filter { e =>
      if (flushFks.contains(e.parentId)) {
        val lts = lefts(e.parentId)._1
        emit(e.parentId, lts, e.id, e.tsMs, "exact"); false
      } else if (e.tsMs + outOfOrderMs <= watermarkMs) { // LHS will never come
        if (rightOuter) emit("", -1L, e.id, e.tsMs, "outer")
        else emit("", -1L, e.id, e.tsMs, "dropped")
        false
      } else true
    }

    // 4. inference: RHS past the OOO bound cascades through its scopes; the
    //    first scope with a valid candidate wins the temporally-closest LHS
    //    (equal distance → later event), content-filtered when the RHS
    //    carries content ids.
    def nearestInScope(e: ScopedEvent, scopeKey: String): Option[(String, Long)] = {
      val cands = scopeIdx.getOrElse(scopeKey, Nil)
        .filter { case (lts, _) =>
          lts >= e.tsMs - maxTimeMs && lts <= e.tsMs + outOfOrderMs }
        .flatMap { case (lts, pk) =>
          lefts.get(pk) match {
            case Some((_, lContents, _)) if e.contentIds.isEmpty ||
                e.contentIds.exists(c => c.nonEmpty && lContents.contains(c)) =>
              Some((pk, lts))
            case _ => None
          }
        }
      if (cands.isEmpty) None
      else Some(cands.minBy { case (pk, lts) => (math.abs(lts - e.tsMs), -lts, pk) })
    }

    pendingInfer = pendingInfer.filter { e =>
      if (e.tsMs + outOfOrderMs <= watermarkMs) {
        e.scopes.iterator.filter(_.nonEmpty)
          .map(nearestInScope(e, _)).collectFirst { case Some(m) => m } match {
          case Some((lid, lts)) => emit(lid, lts, e.id, e.tsMs, "inferred")
          case None =>
            if (rightOuter) emit("", -1L, e.id, e.tsMs, "outer")
            else emit("", -1L, e.id, e.tsMs, "dropped")
        }
        false
      } else true
    }

    // 5. TTL cleanup: an LHS at lts can still match RHS with rts up to
    //    lts + maxTime, which resolves at rts + outOfOrder.
    if (watermarkMs != Long.MaxValue) {
      val expired = lefts.collect {
        case (pk, (lts, _, _)) if lts + maxTimeMs + outOfOrderMs <= watermarkMs => pk
      }.toSet
      if (expired.nonEmpty) {
        lefts --= expired
        scopeIdx = scopeIdx.flatMap { case (sk, lst) =>
          val kept = lst.filterNot { case (_, pk) => expired.contains(pk) }
          if (kept.isEmpty) None else Some(sk -> kept)
        }
      }
    }

    (out.result(), ScopedState(lefts, scopeIdx, pendingFk, pendingInfer))
  }

  /** Batch scoped form: one pass per key, everything resolvable. */
  def joinScopedBatch(events: Dataset[ScopedEvent], maxTimeMs: Long,
      outOfOrderMs: Long, rightOuter: Boolean)(
      implicit spark: SparkSession): Dataset[JoinedPair] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.platformId, e.logUserId))
      .flatMapGroups { (key, it) =>
        // order by ts so FIFO-dedupe of duplicate pks is deterministic
        val evs = it.toSeq.sortBy(e => (e.tsMs, e.side, e.id))
        advanceScoped(key, evs, emptyScopedState, Long.MaxValue, maxTimeMs,
          outOfOrderMs, rightOuter)._1.iterator
      }
  }

  /** Streaming single-scope form (round-1 shape): [[InferredJoinTws]]
    * projected to [[JoinedPair]]. */
  def joinStream(events: Dataset[JoinSideEvent], watermarkDelay: String,
      maxTimeMs: Long, outOfOrderMs: Long)(implicit spark: SparkSession): Dataset[JoinedPair] = {
    import spark.implicits._
    InferredJoinTws.joinScopedStream(
        events.map(e => toScoped(e.platformId, e.logUserId, e)),
        watermarkDelay, maxTimeMs, outOfOrderMs, rightOuter = false)
      .drop("emittedAt").as[JoinedPair]
  }

  /** Batch single-scope form (round-1 shape). */
  def joinBatch(events: Dataset[JoinSideEvent], maxTimeMs: Long,
      outOfOrderMs: Long)(implicit spark: SparkSession): Dataset[JoinedPair] = {
    import spark.implicits._
    joinScopedBatch(
      events.map(e => toScoped(e.platformId, e.logUserId, e)),
      maxTimeMs, outOfOrderMs, rightOuter = false)
  }
}
