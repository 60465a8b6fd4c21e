package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming J8 (reference AddLatestImpressions,
  * P:common/functions/AddLatestImpressions.java:33-388): a keyed
  * co-process of flat actions and flat impressions that attaches to each
  * action the latest impressions the user saw, excluding content already
  * actioned and duplicate content, newest-first, capped.
  *
  * Keyed by (platformId, logUserId). Actions buffer until the watermark
  * passes their ts + outOfOrderMs (the reference's output timer), then
  * emit with their impression list resolved against state at that point.
  * State holds the TinyEvent-width (ts, id, content) triples only:
  *  - `impressions`: pruned to the session lookback, deduped by content
  *    (newest wins) and capped at `maxState` (25+5 in production — spare
  *    impressions in case the user actions several seen items);
  *  - `actioned`: the contents the user actioned, same session prune.
  * The prune keeps not-yet-late events uncounted against the cap
  * (KEEP_DO_NOT_COUNT, AddLatestImpressions.java:262-268) so a late
  * duplicate can't evict a still-mutable entry.
  *
  * Batch parity: [[graft.operators.Cogroup.attachLatestExcluding]] — the
  * spec pins streaming ≡ batch on shared input (state caps don't bind
  * below maxState impressions per key-session).
  */
object LatestImpressions {

  /** side: 0 = impression, 1 = action. */
  case class Event(platformId: Long, logUserId: String, side: Int,
      id: String, contentId: String, tsMs: Long)

  case class Entry(tsMs: Long, id: String, contentId: String)

  case class LatestState(
      impressions: List[Entry], // ts-ascending
      actioned: List[Entry], // ts-ascending; id = acting action's id
      pending: List[Entry]) // actions awaiting their output timer

  def emptyState: LatestState = LatestState(Nil, Nil, Nil)

  case class ActionWithLatest(platformId: Long, logUserId: String,
      actionId: String, tsMs: Long, impressionIds: String)

  private def insertAsc(lst: List[Entry], e: Entry): List[Entry] = {
    val (before, after) =
      lst.span(x => x.tsMs < e.tsMs || (x.tsMs == e.tsMs && x.id <= e.id))
    before ::: e :: after
  }

  /** Reference prune (AddLatestImpressions.java:245-270): walk newest →
    * oldest; drop session-expired entries; entries newer than the late
    * watermark are kept without counting; the rest dedupe by content and
    * count against `maxKeep`. */
  private def prune(lst: List[Entry], wmMs: Long, sessionMs: Long,
      oooMs: Long, maxKeep: Int): List[Entry] = {
    if (wmMs == Long.MaxValue) return lst // batch: no state to bound
    val seen = scala.collection.mutable.Set.empty[String]
    var kept = List.empty[Entry] // rebuilt ascending by prepending
    var counted = 0
    lst.reverseIterator.foreach { e =>
      if (e.tsMs >= wmMs - sessionMs) {
        if (e.tsMs > wmMs - oooMs) kept ::= e // too new to finalize
        else if (seen.add(e.contentId) && counted < maxKeep) {
          kept ::= e; counted += 1
        }
      }
    }
    kept
  }

  /** Pure per-key transition shared by batch and streaming. */
  def advance(key: (Long, String), events: Seq[Event], st: LatestState,
      wmMs: Long, k: Int, maxState: Int, sessionMs: Long,
      oooMs: Long): (Seq[ActionWithLatest], LatestState) = {
    val (platformId, logUserId) = key
    var imps = st.impressions
    var actioned = st.actioned
    var pending = st.pending

    events.foreach { e =>
      val entry = Entry(e.tsMs, e.id, e.contentId)
      if (e.side == 0) imps = insertAsc(imps, entry)
      else {
        actioned = insertAsc(actioned, entry)
        pending = insertAsc(pending, entry)
      }
    }

    val out = Seq.newBuilder[ActionWithLatest]
    val (ready, stillPending) = pending.partition(_.tsMs + oooMs <= wmMs)
    ready.foreach { a =>
      // contents with positive behavior at-or-before this action (the
      // anchor itself is in `actioned`, so its own content excludes too)
      val seen = scala.collection.mutable.Set.empty[String]
      actioned.foreach(x => if (x.tsMs <= a.tsMs) seen += x.contentId)
      // newest → oldest, dedupe via seen.add, cap k
      val attached = imps.reverseIterator
        .filter(i => i.tsMs <= a.tsMs && i.tsMs >= a.tsMs - sessionMs)
        .filter(i => seen.add(i.contentId))
        .take(k).map(_.id).toList
      out += ActionWithLatest(platformId, logUserId, a.id, a.tsMs,
        attached.mkString(","))
    }

    imps = prune(imps, wmMs, sessionMs, oooMs, maxState)
    actioned = prune(actioned, wmMs, sessionMs, oooMs, maxState)
    (out.result(), LatestState(imps, actioned, stillPending))
  }

  /** Streaming form on [[KeyedTransition.flatMapGroups]], waking when the
    * earliest pending action resolves or kept entry expires. */
  def attachStream(events: Dataset[Event], watermarkDelay: String, k: Int,
      maxState: Int, sessionMs: Long, oooMs: Long)(
      implicit spark: SparkSession): Dataset[ActionWithLatest] = {
    import spark.implicits._
    val keyed = events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(e => (e.platformId, e.logUserId))
    // an action resolves at ts + ooo; a kept entry can age out of the
    // session at ts + session + ooo
    KeyedTransition.flatMapGroups(keyed, emptyState)(
      st => st.impressions.isEmpty && st.actioned.isEmpty && st.pending.isEmpty,
      (_, st) => (st.pending.map(_.tsMs + oooMs) ++
        (st.impressions ++ st.actioned).map(_.tsMs + sessionMs + oooMs))
        .minOption) {
      (key, rows, st, wm) =>
        advance(key, rows, st, wm, k, maxState, sessionMs, oooMs)
    }
  }

  /** Batch form over bounded data (everything resolves; caps vacuous). */
  def attachBatch(events: Dataset[Event], k: Int, sessionMs: Long,
      oooMs: Long)(implicit spark: SparkSession): Dataset[ActionWithLatest] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.platformId, e.logUserId))
      .flatMapGroups { (key, it) =>
        val evs = it.toSeq.sortBy(e => (e.tsMs, e.side, e.id))
        advance(key, evs, emptyState, Long.MaxValue, k, Int.MaxValue,
          sessionMs, oooMs)._1.iterator
      }
  }
}
