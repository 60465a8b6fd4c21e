package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One event-time timer per key, for `transformWithState` processors that
  * wake themselves on watermark progress (the watermark-ordered folds,
  * the sliding slice operators and the join chain's transitions below).
  * Both entry points run `step` at the current watermark — input rows
  * with the key's new rows, an expired timer with none — then move the
  * key's single timer to `nextTimer`, or delete it when nothing more is
  * owed. The timer's time lives in the `timerAt` long, so the old timer
  * can be deleted when the time moves. `nextTimer` is always above the
  * watermark (`step` has fired everything at or below it), so a due
  * timer is never re-parked. A timer fires only once the watermark has
  * reached it, so the current watermark is the step's watermark on both
  * paths.
  *
  * An expired timer clears `timerAt` only when it is the timer `timerAt`
  * holds. Any other timer (one left registered by a checkpoint of an
  * earlier version) runs one step that finds nothing due and leaves the
  * live timer in place.
  *
  * Subclasses register their own state in `initState`. */
abstract class KeyTimerProcessor[K, I, O] extends StatefulProcessor[K, I, O] {
  @transient private var timerAt: ValueState[Long] = _

  /** Register the operator's own state variables. */
  protected def initState(): Unit

  /** Take one key's new rows (none when a timer fired) into state and
    * emit what the watermark `wmMs` has released. */
  protected def step(key: K, rows: Iterator[I], wmMs: Long): Iterator[O]

  /** When the key's timer should next fire after a step at `wmMs`
    * (above `wmMs`), or None when the key owes nothing more. */
  protected def nextTimer(wmMs: Long): Option[Long]

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    initState()
    timerAt = getHandle.getValueState[Long]("timerAt", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override final def handleInputRows(key: K, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] =
    onWatermark(key, rows, timerValues.getCurrentWatermarkInMs())

  override final def handleExpiredTimer(key: K, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    if (timerAt.exists() && timerAt.get() == expiredTimerInfo.getExpiryTimeInMs())
      timerAt.clear()
    onWatermark(key, Iterator.empty, timerValues.getCurrentWatermarkInMs())
  }

  private def onWatermark(key: K, rows: Iterator[I], wmMs: Long): Iterator[O] = {
    val out = step(key, rows, wmMs)
    nextTimer(wmMs) match {
      case Some(next) =>
        if (!timerAt.exists() || timerAt.get() != next) {
          if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
          getHandle.registerTimer(next)
          timerAt.update(next)
        }
      case None =>
        if (timerAt.exists()) {
          getHandle.deleteTimer(timerAt.get())
          timerAt.clear()
        }
    }
    out
  }
}

/** Timer harness for a pure per-key transition
  * `advance(key, rows, state, wm) → (out, next)` — the join chain's
  * stages, whose batch forms and parity checks run the same `advance`.
  * The harness owns the operator's one `ValueState` (its name and
  * encoder are the operator's, so checkpoints keep their layout), clears
  * it when the next state is empty, and keeps the key's single timer at
  * `max(fireAt(next), wm + 1)`. Each operator supplies only `advance`,
  * its emptiness test, `fireAt` (the earliest event time at which the
  * state can change) and `stamp`, which turns a released value into an
  * output row with its release time. */
abstract class TransitionProcessor[K, I, S, A, O]
    extends KeyTimerProcessor[K, I, O] {
  @transient private var state: ValueState[S] = _
  private var fire: Option[Long] = None

  protected def stateName: String
  protected def stateEncoder: Encoder[S]
  protected def emptyState: S
  protected def isEmpty(s: S): Boolean
  protected def fireAt(s: S): Long
  protected def advance(key: K, rows: Seq[I], s: S, wmMs: Long): (Seq[A], S)
  protected def stamp(a: A, wmMs: Long): O

  override protected def initState(): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override protected final def step(key: K, rows: Iterator[I],
      wmMs: Long): Iterator[O] = {
    val cur = if (state.exists()) state.get() else emptyState
    val (out, next) = advance(key, rows.toSeq, cur, wmMs)
    if (isEmpty(next)) { state.clear(); fire = None }
    else { state.update(next); fire = Some(math.max(fireAt(next), wmMs + 1)) }
    out.iterator.map(stamp(_, wmMs))
  }

  override protected final def nextTimer(wmMs: Long): Option[Long] = fire
}

/** Watermark-ordered fold — the reorder buffer of every left-fold
  * operator here (the keyed process function of the reference: buffer
  * until the watermark passes, then fold in event-time order). Rows wait
  * in the `pending` list state until the watermark reaches their event
  * time; each release takes the due rows out of the buffer and hands them
  * to `fold`, stamped `emittedAt` = the release watermark, so a further
  * stage can use that column as its event time. While rows stay buffered
  * the key keeps one timer at watermark + 1, so a watermark that advances
  * with no new rows for the key still releases them.
  *
  * Each operator supplies its own state (`initState`), the row encoder
  * and event-time accessor of the buffer, and `fold`, which sorts the due
  * rows into the operator's own total order — the order its batch form
  * sorts by, which is what makes streaming equal batch. State per key is
  * the operator's own plus the buffer, bounded by the watermark delay. */
abstract class WatermarkOrderedFold[I, O]
    extends KeyTimerProcessor[String, I, O] {
  @transient private var pending: ListState[I] = _

  /** Encoder of the buffered rows. */
  protected def rowEncoder: Encoder[I]

  /** Event time of a buffered row: its `tsMs`, or `emittedAt` for a stage
    * chained on an upstream release. */
  protected def eventTimeMs(row: I): Long

  /** Fold the rows the watermark has passed (never empty), in the
    * operator's own order, into output rows stamped `emittedAt`. */
  protected def fold(key: String, due: Seq[I],
      emittedAt: java.sql.Timestamp): Seq[O]

  /** Runs after every release, also when nothing was due: drop state
    * that ages out by the watermark alone. */
  protected def expire(wmMs: Long): Unit = ()

  override final def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    super.init(outputMode, timeMode)
    pending = getHandle.getListState[I]("pending", rowEncoder, TTLConfig.NONE)
  }

  override protected final def step(key: String, rows: Iterator[I],
      wmMs: Long): Iterator[O] = {
    rows.foreach(pending.appendValue)
    val (due, later) = pending.get().toSeq.partition(eventTimeMs(_) <= wmMs)
    val out =
      if (due.isEmpty) Nil
      else {
        pending.clear()
        later.foreach(pending.appendValue)
        fold(key, due, new java.sql.Timestamp(wmMs))
      }
    expire(wmMs)
    out.iterator
  }

  override protected final def nextTimer(wmMs: Long): Option[Long] =
    if (pending.get().hasNext) Some(wmMs + 1) else None
}
