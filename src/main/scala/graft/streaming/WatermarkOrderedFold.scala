package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One event-time timer per key, for `transformWithState` processors that
  * wake themselves on watermark progress (the watermark-ordered folds
  * below and the sliding slice operators). New rows go to `ingest`; then
  * both entry points (input rows and an expired timer) run `release` at
  * the current watermark and move the key's single timer to `nextTimer`,
  * or delete it when nothing more is owed. The timer's time lives in the
  * `timerAt` long, so the old timer can be deleted when the time moves.
  * `nextTimer` is always above the watermark (`release` has fired
  * everything at or below it), so a due timer is never re-parked.
  *
  * Subclasses register their own state in `initState`. */
abstract class KeyTimerProcessor[I, O] extends StatefulProcessor[String, I, O] {
  @transient private var timerAt: ValueState[Long] = _

  /** Register the operator's own state variables. */
  protected def initState(): Unit

  /** Take one key's new rows into state. */
  protected def ingest(key: String, rows: Iterator[I]): Unit

  /** Emit what the watermark `wmMs` has released for this key. */
  protected def release(key: String, wmMs: Long): Iterator[O]

  /** When the key's timer should next fire after a release at `wmMs`
    * (above `wmMs`), or None when the key owes nothing more. */
  protected def nextTimer(wmMs: Long): Option[Long]

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    initState()
    timerAt = getHandle.getValueState[Long]("timerAt", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  override final def handleInputRows(key: String, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    ingest(key, rows)
    onWatermark(key, timerValues.getCurrentWatermarkInMs())
  }

  override final def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    timerAt.clear()
    onWatermark(key, timerValues.getCurrentWatermarkInMs())
  }

  private def onWatermark(key: String, wmMs: Long): Iterator[O] = {
    val out = release(key, wmMs)
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
abstract class WatermarkOrderedFold[I, O] extends KeyTimerProcessor[I, O] {
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

  override protected final def ingest(key: String, rows: Iterator[I]): Unit =
    rows.foreach(pending.appendValue)

  override protected final def release(key: String, wmMs: Long): Iterator[O] = {
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
