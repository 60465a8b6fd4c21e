package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** J7 — the FlatResponseInsertion session cogroup — as a chainable
  * `transformWithState` stage (reference: flat impressions coGroup flat
  * actions keyed by (logUserId, insertionId) in EventTimeSessionWindows,
  * FlatOutputJob.java:998-1044). This is the FIFTH stateful operator of the
  * single-query streaming flagship: it consumes the detail-merged output of
  * [[FlatChainTws.joinAndReduce]] (via [[FlatChainTws.mergeFlagshipDetails]])
  * and emits one FlatResponseInsertion-shaped row per closed session.
  *
  * Semantics match the batch form (`Cogroup.sessionPayloadCogroup`): events
  * of one (platformId, logUserId, insertionId) sort by (tsMs, id); a gap
  * > `gapMs` starts a new session; each session emits its start, counts and
  * the member id lists (impressions and actions separately, sorted by
  * (ts, id), comma-joined — the insertion + repeated impression + repeated
  * action record shape of FlatUtil.createFlatResponseInsertion).
  *
  * Sessions close WATERMARK-deterministically: an extender of session
  * [s..e] has ts ≤ e + gap, and (chained behind other tws stages) is
  * guaranteed delivered by the time this stage's watermark passes
  * ts + `oooMs` — so [s..e] is final once `e + gapMs + oooMs ≤ wm`. Size
  * `oooMs` ≥ the upstream stage's emission slack (behind the D3 reduce:
  * its `oooMs`, see RedundantReduceTws.advance sizing notes) plus a
  * scheduling margin; oversizing only delays emission, never changes it.
  * Spark's native `session_window` cannot substitute here: chained stages
  * carry inflated RELEASE stamps (`emittedAt` ≥ wm+1) as their time column,
  * and sessions must form on ORIGINAL event time (`tsMs`).
  *
  * State per key is the open-session event list — bounded by session size
  * like the reference's window state (its cogroup holds the same lists).
  */
object SessionCogroupTws {

  /** Input: one detail-merged flat event. `isImpression` tags the cogroup
    * side; `id` is the member id collected into the session lists. */
  case class FlatEvent(platformId: Long, logUserId: String,
      insertionId: String, isImpression: Boolean, id: String, tsMs: Long,
      emittedAt: java.sql.Timestamp)

  /** Output: one session = one FlatResponseInsertion. Lists sorted by
    * (ts, id), comma-joined; `emittedAt` ≥ wm+1 for further chaining. */
  case class FlatSession(platformId: Long, logUserId: String,
      insertionId: String, sessionStartMs: Long, nImps: Long, nActs: Long,
      impIds: String, actIds: String, emittedAt: java.sql.Timestamp)

  /** One buffered member event. */
  case class SessEv(isImp: Boolean, id: String, tsMs: Long)

  /** ValueState wrapper (Encoders.product needs a case class root). */
  case class SessState(events: List[SessEv])

  /** Pure per-key transition shared by the streaming processor and batch
    * parity checks: merge `events` into `st` (FIFO-deduped by (side, id)
    * against replayed micro-batches), close every session final at `wm`,
    * return (sessions, still-open events). `wm = Long.MaxValue` closes all
    * (batch mode; emission stamps then carry the session end itself). */
  def advance(key: (Long, String, String), events: Seq[SessEv],
      st: List[SessEv], wm: Long, gapMs: Long,
      oooMs: Long): (Seq[FlatSession], List[SessEv]) = {
    val (pid, luid, iid) = key
    val seen = scala.collection.mutable.HashSet.empty[(Boolean, String)]
    st.foreach(e => seen += ((e.isImp, e.id)))
    val merged = st ++ events.filter(e => seen.add((e.isImp, e.id)))
    if (merged.isEmpty) return (Nil, Nil)
    val sorted = merged.sortBy(e => (e.tsMs, e.id))
    // gaps-and-islands over the sorted buffer; each acc head is the
    // NEWEST session with its events newest-first (reversed at the end)
    val sessions = sorted.foldLeft(List.empty[List[SessEv]]) { (acc, e) =>
      acc match {
        case cur :: rest if e.tsMs - cur.head.tsMs <= gapMs => (e :: cur) :: rest
        case _ => List(e) :: acc
      }
    }.map(_.reverse).reverse
    // sessions are time-ordered and gap-separated, so closure is monotone:
    // the closed set is always a prefix
    val (closed, open) = sessions.partition(s => s.last.tsMs + gapMs + oooMs <= wm)
    def stamp(ts: Long) = new java.sql.Timestamp(
      if (wm == Long.MaxValue) ts else math.max(ts, wm + 1))
    val out = closed.map { s =>
      val (imps, acts) = s.partition(_.isImp)
      FlatSession(pid, luid, iid, s.head.tsMs, imps.size.toLong,
        acts.size.toLong, imps.map(_.id).mkString(","),
        acts.map(_.id).mkString(","), stamp(s.last.tsMs))
    }
    (out, open.flatten)
  }

  class Processor(gapMs: Long, oooMs: Long)
      extends TransitionProcessor[(Long, String, String), FlatEvent,
        SessState, FlatSession, FlatSession] {
    override protected def stateName = "sessState"
    override protected def stateEncoder = Encoders.product[SessState]
    override protected def emptyState = SessState(Nil)
    override protected def isEmpty(s: SessState): Boolean = s.events.isEmpty

    /** The earliest possible close: the FIRST open session's end + gap +
      * ooo. Later input that extends that session moves the timer; an
      * early firing just re-checks and re-arms — wasted work, never wrong
      * emission. */
    override protected def fireAt(key: (Long, String, String),
        s: SessState): Option[Long] = {
      val ts = s.events.map(_.tsMs).sorted
      ts.zip(ts.tail).collectFirst { case (a, b) if b - a > gapMs => a }
        .orElse(ts.lastOption).map(_ + gapMs + oooMs)
    }

    override protected def advance(key: (Long, String, String),
        rows: Seq[FlatEvent], s: SessState,
        wmMs: Long): (Seq[FlatSession], SessState) = {
      val (out, open) = SessionCogroupTws.advance(key,
        rows.map(e => SessEv(e.isImpression, e.id, e.tsMs)), s.events, wmMs,
        gapMs, oooMs)
      (out, SessState(open))
    }

    // advance already stamps its emissions
    override protected def stamp(f: FlatSession, wmMs: Long): FlatSession = f
  }

  /** Chained-stage form: `events` must already carry an event-time column
    * (the upstream stages' `emittedAt`, or a watermark node on a staged
    * read in the two-query production split). */
  def cogroupChained(events: Dataset[FlatEvent], gapMs: Long, oooMs: Long)(
      implicit spark: SparkSession): Dataset[FlatSession] = {
    import spark.implicits._
    events.groupByKey(e => (e.platformId, e.logUserId, e.insertionId))
      .transformWithState(new Processor(gapMs, oooMs), "emittedAt",
        OutputMode.Append())
  }
}
