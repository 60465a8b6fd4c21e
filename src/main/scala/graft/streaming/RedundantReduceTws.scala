package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** D3 as a chainable `transformWithState` stage — the streaming form of
  * the reference's redundant-impression reduction
  * (ReduceRedundantTinyImpressions.java:111-158, keyed by
  * RedundantImpressionKey.java:37-45, wired after BOTH join stages at
  * FlatOutputJob.java:611-624): the first impression of an insertion is
  * the root; later impressions of the same insertion are redundant (side
  * channel); actions re-point to the root of the insertion their joined
  * impression belongs to; actions whose impression never shows up release
  * as-is after a cleanup TTL (the reference's onTimer error path).
  *
  * Differences from the reference, both deliberate:
  *  - root election is WATERMARK-deterministic: impressions buffer until
  *    `tsMs + oooMs ≤ wm` (sound in a chain because watermark VALUES stay
  *    event-time-domain, see [[advance]]), then the (tsMs, impressionId)-
  *    min becomes root — first-ARRIVAL election (the reference's) makes
  *    output depend on network interleaving; first-EVENT-TIME makes
  *    stream ≡ batch (Cogroup.redundantRepoint picks the same row), which
  *    is what the parity spec pins;
  *  - the key is (platformId, logUserId) with the per-insertion grouping
  *    inside the state, because a re-pointed action only knows the
  *    impression id it joined to — the insertionId lookup (reference:
  *    carried on TinyEvent) rides in the same state map instead of the
  *    event, so one keyed stage does both the lookup and the reduction.
  *
  * Emits a release-time column (`emittedAt` ≥ wm+1) like
  * [[InferredJoinTws]], so this composes as the FOURTH stateful operator
  * of the single-query flagship chain ([[FlatChainTws.joinAndReduce]]).
  */
object RedundantReduceTws {

  /** Input row: an impression (actionId empty; insertionId = the
    * insertion it joined, impressionId = its own id) or an action
    * (actionId set; impressionId = the impression it joined, insertionId
    * unknown — filled by the reduction). */
  case class TinyJoined(platformId: Long, logUserId: String,
      insertionId: String, impressionId: String, actionId: String,
      contentId: String, tsMs: Long, emittedAt: java.sql.Timestamp)

  /** Output row. kind: `impression` (elected root) | `redundant`
    * (side-channel, reference REDUNDANT_IMPRESSION tag) | `action`
    * (re-pointed: impressionId is the ROOT's id) | `dangling` (action
    * whose impression never arrived, released as-is at cleanup — the
    * reference logs these as errors and forwards them). */
  case class Reduced(platformId: Long, logUserId: String,
      insertionId: String, impressionId: String, actionId: String,
      contentId: String, tsMs: Long, kind: String,
      emittedAt: java.sql.Timestamp)

  /** Per-(platform, logUser) state. Bounded by events-in-window like the
    * join states: every entry expires on watermark TTL below. */
  case class ReduceState(
      roots: Map[String, (Long, String)], // insertionId → (rootTs, rootMid)
      midToIns: Map[String, (String, Long)], // impressionId → (insertionId, ts)
      pendImps: List[(String, String, Long)], // (iid, mid, ts) awaiting wm
      pendActs: List[(String, String, String, Long)]) // (mid, aid, content, ts)

  def emptyReduceState: ReduceState = ReduceState(Map.empty, Map.empty, Nil, Nil)

  /** Pure per-key transition shared by batch checks and streaming: consume
    * rows, resolve everything resolvable at `wm`, return (out, next).
    * `wm = Long.MaxValue` resolves all (batch mode).
    *
    * Buffering compares ORIGINAL event times (`tsMs`) against `wm`, which
    * is sound even when chained behind other tws stages: the watermark
    * VALUES flowing down a chain stay source-event-time watermarks (each
    * stage passes its input watermark through; only emission STAMPS are
    * inflated to ≥ wm+1 to keep the time column non-late), and an upstream
    * join has released every matched pair with event ts ≤ T by the time
    * its input watermark passes T + its window-close slack — rows flow
    * through the plan at least as fast as watermarks do. So at `wm`, all
    * potential election contestants with ts ≤ wm - oooMs have arrived,
    * PROVIDED oooMs covers the upstream slack — see below.
    *
    *  - `oooMs`: reorder slack before a root election is final. Raw input:
    *    the stream's own disorder bound. Chained behind an inferred join:
    *    ≥ upstream maxTime + 2× upstream outOfOrder (an inferred pair
    *    holds until ts + ooo; an exact pair can additionally wait for its
    *    parent's own release, ≤ window + ooo later);
    *  - `replaceTtlMs`: an impression this far after the current root
    *    REPLACES it (reference replaceReducedImpressionAfter);
    *  - `cleanupMs`: unmatched actions release as `dangling` after this,
    *    and root/lookup map entries expire at 2× it (the reference keeps
    *    the root "for 2 * ttl" for late redundant-impression actions).
    *    Size it ≥ 2× upstream window + ooo so an action can never dangle
    *    while its impression is merely in flight upstream. */
  def advance(key: (Long, String), events: Seq[TinyJoined], st: ReduceState,
      wm: Long, oooMs: Long, replaceTtlMs: Long,
      cleanupMs: Long): (Seq[Reduced], ReduceState) = {
    val (pid, luid) = key
    var roots = st.roots
    var midToIns = st.midToIns
    var pendImps = st.pendImps
    var pendActs = st.pendActs
    val out = Seq.newBuilder[Reduced]
    def stamp(ts: Long) = new java.sql.Timestamp(
      if (wm == Long.MaxValue) ts else math.max(ts, wm + 1))

    // 1. ingest; impressions FIFO-dedupe by id (replayed micro-batches)
    events.foreach { e =>
      if (e.actionId.isEmpty) {
        if (!midToIns.contains(e.impressionId)) {
          midToIns += e.impressionId -> ((e.insertionId, e.tsMs))
          pendImps ::= ((e.insertionId, e.impressionId, e.tsMs))
        }
      } else pendActs ::= ((e.impressionId, e.actionId, e.contentId, e.tsMs))
    }

    // 2. elect/extend roots from impressions whose reorder window closed:
    //    event-time order within the insertion, min (ts, id) first
    val (ripe, unripe) = pendImps.partition(_._3 + oooMs <= wm)
    ripe.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (iid, imps) =>
      var root = roots.get(iid)
      imps.sortBy { case (_, mid, ts) => (ts, mid) }.foreach { case (_, mid, ts) =>
        val replaced = root.exists { case (rts, _) => ts > rts + replaceTtlMs }
        if (root.isEmpty || replaced) {
          root = Some((ts, mid))
          out += Reduced(pid, luid, iid, mid, "", "", ts, "impression", stamp(ts))
        } else {
          out += Reduced(pid, luid, iid, mid, "", "", ts, "redundant", stamp(ts))
        }
      }
      root.foreach(r => roots += iid -> r)
    }
    pendImps = unripe

    // 3. re-point actions whose root is known; an action can't hit the
    //    dangling branch while its impression is merely unripe — the
    //    impression ripens at imp.ts + ooo, far inside act.ts + cleanup
    //    for any join-consistent pair
    pendActs = pendActs.filter { case (mid, aid, content, ts) =>
      val target = for {
        (iid, _) <- midToIns.get(mid)
        (_, rootMid) <- roots.get(iid)
      } yield (iid, rootMid)
      target match {
        case Some((iid, rootMid)) =>
          out += Reduced(pid, luid, iid, rootMid, aid, content, ts, "action",
            stamp(ts))
          false
        case None if ts + cleanupMs <= wm =>
          out += Reduced(pid, luid, "", mid, aid, content, ts, "dangling",
            stamp(ts))
          false
        case None => true
      }
    }

    // 4. watermark TTL on the lookup maps (reference: state TTL at 2×)
    if (wm != Long.MaxValue) {
      roots = roots.filter { case (_, (rts, _)) => rts + 2 * cleanupMs > wm }
      midToIns = midToIns.filter { case (_, (_, ts)) => ts + 2 * cleanupMs > wm }
    }
    (out.result(), ReduceState(roots, midToIns, pendImps, pendActs))
  }

  class Processor(oooMs: Long, replaceTtlMs: Long, cleanupMs: Long)
      extends TransitionProcessor[(Long, String), TinyJoined, ReduceState,
        Reduced, Reduced] {
    override protected def stateName = "reduceState"
    override protected def stateEncoder = Encoders.product[ReduceState]
    override protected def emptyState = emptyReduceState
    override protected def isEmpty(s: ReduceState): Boolean =
      s.roots.isEmpty && s.midToIns.isEmpty && s.pendImps.isEmpty &&
        s.pendActs.isEmpty
    override protected def fireAt(key: (Long, String),
        s: ReduceState): Option[Long] =
      (s.pendImps.map(_._3 + oooMs) ++ s.pendActs.map(_._4 + cleanupMs) ++
        s.roots.values.map(_._1 + 2 * cleanupMs) ++
        s.midToIns.values.map(_._2 + 2 * cleanupMs)).minOption
    override protected def advance(key: (Long, String), rows: Seq[TinyJoined],
        s: ReduceState, wmMs: Long): (Seq[Reduced], ReduceState) =
      RedundantReduceTws.advance(key, rows, s, wmMs, oooMs, replaceTtlMs,
        cleanupMs)
    // advance already stamps its emissions
    override protected def stamp(r: Reduced, wmMs: Long): Reduced = r
  }

  /** Chained-stage form: `tiny` must already carry an event-time column
    * (the upstream stages' `emittedAt`). Output re-anchors the watermark
    * on its own `emittedAt`. */
  def reduceChained(tiny: Dataset[TinyJoined], oooMs: Long,
      replaceTtlMs: Long, cleanupMs: Long)(
      implicit spark: SparkSession): Dataset[Reduced] = {
    import spark.implicits._
    tiny.groupByKey(t => (t.platformId, t.logUserId))
      .transformWithState(new Processor(oooMs, replaceTtlMs, cleanupMs),
        "emittedAt", OutputMode.Append())
  }
}
