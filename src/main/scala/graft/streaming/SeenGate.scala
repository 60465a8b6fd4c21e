package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming J11 (reference RightSeenOutput,
  * P:common/functions/RightSeenOutput.java:22-107): emit left elements
  * only if their key has been seen on the right stream by the time the
  * watermark passes the left's timestamp; an `immediate` flag bypasses
  * the gate (the reference's emitImmediately predicate). Unseen-by-then
  * lefts drop — the gate is a watermark-coordinated semi-join, not an
  * unbounded buffer.
  *
  * One deliberate divergence: the reference's onTimer clears the WHOLE
  * buffer at the first firing timer, which can early-release or
  * early-drop lefts whose own timestamps the watermark hasn't passed
  * yet; here each left gates at its own timestamp (the apparent intent —
  * the buffer clear is watermark-safe only when per-key lefts arrive
  * in timestamp order).
  *
  * State per key = one boolean + the not-yet-due lefts — bounded by the
  * watermark delay, the same bound the reference's timer coordination
  * gives. Batch parity: left-semi join + union of bypass rows
  * (gate q11's shape); `gateBatch` reproduces it from the same advance.
  */
object SeenGate {

  /** side: 0 = left (gated), 1 = right (marks seen). */
  case class Event(key: String, side: Int, id: String, tsMs: Long,
      immediate: Boolean = false)
  case class GateState(seen: Boolean, delayed: List[(Long, String)])
  case class Gated(key: String, id: String, tsMs: Long)

  def emptyState: GateState = GateState(seen = false, Nil)

  /** Pure transition shared by batch and streaming. */
  def advance(key: String, events: Seq[Event], st: GateState,
      wmMs: Long): (Seq[Gated], GateState) = {
    var seen = st.seen
    var delayed = st.delayed
    val out = Seq.newBuilder[Gated]
    events.foreach { e =>
      if (e.side == 1) seen = true
      else if (e.immediate) out += Gated(key, e.id, e.tsMs)
      else delayed = (e.tsMs, e.id) :: delayed
    }
    val (due, still) = delayed.partition(_._1 <= wmMs)
    if (seen)
      due.sortBy(identity).foreach { case (ts, id) => out += Gated(key, id, ts) }
    // unseen due lefts drop (the reference clears them without emitting)
    (out.result(), GateState(seen, still))
  }

  /** Batch form (everything resolves; equals left-semi + bypass union). */
  def gateBatch(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[Gated] = {
    import spark.implicits._
    events.groupByKey(_.key).flatMapGroups { (key, it) =>
      advance(key, it.toSeq.sortBy(e => (e.tsMs, e.side, e.id)),
        emptyState, Long.MaxValue)._1.iterator
    }
  }
}
