package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** The state-and-timer rule of every keyed transition here, on both Spark
  * stateful APIs: after `advance(key, rows, state, wm) → (out, next)`, a
  * key whose next state is empty drops it and owes no wake-up; otherwise
  * it keeps `next` and wakes at `max(fireAt(key, next), wm + 1)` — never
  * at or below the watermark, which `advance` has already fired through —
  * or, when `fireAt` is None, only on its next input.
  * [[TransitionProcessor]] runs it on `transformWithState`;
  * [[KeyedTransition.flatMapGroups]] runs it on `flatMapGroupsWithState`
  * (FMGWS), for operators that no further stateful stage follows: there
  * the counters measured about half the `features_live` lag they have on
  * `transformWithState`. */
object KeyedTransition {

  /** A wake-up owed at `fireMs`, parked above the watermark `wmMs`. */
  private[streaming] def wakeAt(fireMs: Long, wmMs: Long): Long = math.max(fireMs, wmMs + 1)

  /** The state to keep after a step at `wmMs` with its wake-up, or None
    * when the key's state is dropped. */
  private[streaming] def settle[K, S](key: K, next: S, wmMs: Long, isEmpty: S => Boolean,
      fireAt: (K, S) => Option[Long]): Option[(S, Option[Long])] =
    if (isEmpty(next)) None
    else Some((next, fireAt(key, next).map(wakeAt(_, wmMs))))

  /** The transition on `flatMapGroupsWithState` (append mode, event-time
    * timeout): the state row carries its timeout, which Spark clears on
    * every call, so a key with no wake-up simply sets none. */
  def flatMapGroups[K, I, S: Encoder, O: Encoder](
      grouped: KeyValueGroupedDataset[K, I], emptyState: S)(
      isEmpty: S => Boolean, fireAt: (K, S) => Option[Long])(
      advance: (K, Seq[I], S, Long) => (Seq[O], S)): Dataset[O] =
    grouped.flatMapGroupsWithState[S, O](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
      (key: K, rows: Iterator[I], state: GroupState[S]) =>
        val wm = state.getCurrentWatermarkMs()
        val (out, next) =
          advance(key, rows.toSeq, state.getOption.getOrElse(emptyState), wm)
        settle(key, next, wm, isEmpty, fireAt) match {
          case None => state.remove()
          case Some((s, wake)) =>
            state.update(s)
            wake.foreach(state.setTimeoutTimestamp)
        }
        out.iterator
    }
}

/** One event-time timer per key, for `transformWithState` processors that
  * wake themselves on watermark progress (the watermark-ordered folds,
  * the slice windows and the transitions below).
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

/** [[KeyedTransition]] on `transformWithState`, for a pure per-key
  * transition `advance(key, rows, state, wm) → (out, next)` — the join
  * chain's stages and the sliding counter, whose batch forms, FMGWS forms
  * and parity checks run the same `advance`. The harness owns the
  * operator's one `ValueState` (its name and encoder are the operator's,
  * so checkpoints keep their layout) and the key's single timer. Each
  * operator supplies only `advance`, its empty state and emptiness test,
  * `fireAt` (the earliest event time at which the state can change) and
  * `stamp`, which turns a released value into an output row with its
  * release time. */
abstract class TransitionProcessor[K, I, S, A, O]
    extends KeyTimerProcessor[K, I, O] {
  @transient private var state: ValueState[S] = _
  private var fire: Option[Long] = None

  protected def stateName: String
  protected def stateEncoder: Encoder[S]
  protected def emptyState: S
  protected def isEmpty(s: S): Boolean
  protected def fireAt(key: K, s: S): Option[Long]
  protected def advance(key: K, rows: Seq[I], s: S, wmMs: Long): (Seq[A], S)
  protected def stamp(a: A, wmMs: Long): O

  override protected def initState(): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override protected final def step(key: K, rows: Iterator[I],
      wmMs: Long): Iterator[O] = {
    val cur = if (state.exists()) state.get() else emptyState
    val (out, next) = advance(key, rows.toSeq, cur, wmMs)
    fire = KeyedTransition.settle(key, next, wmMs, isEmpty, fireAt) match {
      case None => state.clear(); None
      case Some((s, wake)) => state.update(s); wake
    }
    out.iterator.map(stamp(_, wmMs))
  }

  override protected final def nextTimer(wmMs: Long): Option[Long] = fire
}

/** Sliding windows over event-time slices — the sketch operators' harness.
  * Per key, rows fold into slices of `sliceMs` in arrival order (no
  * reorder buffer: each operator's slice update tolerates any order), and
  * each window of `windowSlices` slices, advancing per slice, emits once
  * the watermark passes its end, stamped `emittedAt` = the release
  * watermark. The
  * harness owns the `pending` map of windows owed an emission (every
  * window covering a slice that got rows), takes the due ones in start
  * order, drops the slices no open window needs (slice H's last window
  * starts at H), and wakes the key at the earliest pending window's end.
  *
  * Each operator registers its slice state through `sliceMap`, under its
  * own names (the first map registered lists the live slices), and
  * supplies `addToSlice` and `merge`. State per key is bounded by the
  * window span plus the watermark delay. */
abstract class SliceWindowProcessor[I, O](sliceMs: Long, windowSlices: Int)
    extends KeyTimerProcessor[String, I, O] {
  require(sliceMs > 0 && windowSlices >= 1)
  private val spanMs = sliceMs * windowSlices
  @transient private var sliceMaps: Vector[MapState[Long, _]] = _
  @transient private var pending: MapState[Long, Boolean] = _

  /** Register the slice state, each map through `sliceMap`. */
  protected def initSlices(): Unit

  /** Event time of a row. */
  protected def eventTimeMs(row: I): Long

  /** Fold one slice's new rows, in arrival order, into its state. */
  protected def addToSlice(slice: Long, rows: Seq[I]): Unit

  /** Output rows of the window starting at `windowStartMs`, from its live
    * slices (in start order). */
  protected def merge(key: String, windowStartMs: Long, slices: Seq[Long],
      emittedAt: java.sql.Timestamp): Seq[O]

  /** Register a map keyed by slice start. */
  protected final def sliceMap[V](name: String,
      valueEncoder: Encoder[V]): MapState[Long, V] = {
    val m = getHandle.getMapState[Long, V](name, Encoders.scalaLong,
      valueEncoder, TTLConfig.NONE)
    sliceMaps :+= m
    m
  }

  override protected final def initState(): Unit = {
    sliceMaps = Vector.empty
    initSlices()
    pending = getHandle.getMapState[Long, Boolean]("pending",
      Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override protected final def step(key: String, rows: Iterator[I],
      wmMs: Long): Iterator[O] = {
    rows.toSeq
      .groupBy { r => val t = eventTimeMs(r); t - math.floorMod(t, sliceMs) }
      .foreach { case (slice, sliceRows) =>
        addToSlice(slice, sliceRows)
        for (j <- 0 until windowSlices) {
          val w = slice - j * sliceMs
          if (!pending.containsKey(w)) pending.updateValue(w, true)
        }
      }
    val due = pending.keys().filter(_ + spanMs <= wmMs).toArray.sorted
    if (due.isEmpty) return Iterator.empty
    val emittedAt = new java.sql.Timestamp(wmMs)
    val live = sliceMaps.head
    val out = due.toSeq.flatMap { w =>
      pending.removeKey(w)
      merge(key, w, (0 until windowSlices).map(w + _ * sliceMs)
        .filter(live.containsKey), emittedAt)
    }
    live.keys().filter(_ + spanMs <= wmMs).toArray
      .foreach(s => sliceMaps.foreach(_.removeKey(s)))
    out.iterator
  }

  override protected final def nextTimer(wmMs: Long): Option[Long] =
    pending.keys().minOption
      .map(w => KeyedTransition.wakeAt(w + spanMs, wmMs))
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
