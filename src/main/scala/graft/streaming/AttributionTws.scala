package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, ValueState}

/** Streaming last-touch attribution — the continuous form of
  * [[graft.operators.Attribution.lastTouch]]: each conversion credits the
  * user's latest STRICTLY-earlier touch within the lookback, online.
  *
  * Order discipline (the [[WatermarkOrderedFold]] rule): attribution
  * reads "latest touch so far", a left fold over event time, so
  * out-of-order rows CANNOT be folded on arrival. Events wait in the
  * reorder buffer until the watermark passes them, then fold in
  * event-time order. The strictly-earlier rule is enforced by VALUE (touch_ts ≤ conv_ts − 1 at credit
  * time), and the state update keeps the smallest touch id among
  * equal-timestamp touches — both decisions are arrival-order-free, which
  * is what makes streaming ≡ batch exact (AttributionTwsSpec pins the
  * parity against the batch window form).
  *
  * State per user: ONE latest-touch record + the in-flight reorder
  * buffer (bounded by the watermark delay) — O(1) per user regardless of
  * history length, vs. the batch form's full-partition sort. The touch
  * record self-expires once the watermark is `stateTtlMs` past it;
  * `stateTtlMs` must cover lookbackMs + the source's allowed lateness or
  * a maximally-late conversion could lose its credit (default adds an
  * hour of slack).
  *
  * Emission: one [[Credit]] per conversion — attributed with lag, or the
  * −1 sentinel census row (same contract as the batch operator).
  * `emittedAt` carries the release time for chaining further tws stages.
  * Requires the RocksDB state store provider, as all tws ops do. */
object AttributionTws {

  case class Event(user: String, id: Long, tsMs: Long, isTouch: Boolean)
  case class Touch(tsMs: Long, id: Long)
  case class Credit(user: String, convId: Long, convTs: Long, touchId: Long,
      touchTs: Long, lagMs: Long, attributed: Boolean, seq: Long,
      emittedAt: java.sql.Timestamp)

  class Processor(lookbackMs: Long, stateTtlMs: Long)
      extends WatermarkOrderedFold[Event, Credit] {
    @transient private var lastTouch: ValueState[Touch] = _
    @transient private var seq: ValueState[Long] = _

    override protected def initState(): Unit = {
      lastTouch = getHandle.getValueState[Touch]("lastTouch",
        Encoders.product[Touch], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[Event]
    override protected def eventTimeMs(e: Event): Long = e.tsMs

    private def nextSeq(): Long = {
      val n = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(n)
      n
    }

    /** Conversions read the latest-touch state BY VALUE (strictly earlier
      * + lookback), so same-millisecond touches are invisible to them no
      * matter the fold order at equal ts. */
    override protected def fold(key: String, due: Seq[Event],
        emittedAt: java.sql.Timestamp): Seq[Credit] = {
      val out = Seq.newBuilder[Credit]
      // (tsMs, isTouch, id): at equal ts conversions fold first — they
      // cannot see an equal-ts touch anyway; ids order equal peers
      due.sortBy(e => (e.tsMs, e.isTouch, e.id)).foreach { e =>
        if (e.isTouch) {
          val cur = if (lastTouch.exists()) Option(lastTouch.get()) else None
          val better = cur.forall(c =>
            e.tsMs > c.tsMs || (e.tsMs == c.tsMs && e.id < c.id))
          if (better) lastTouch.update(Touch(e.tsMs, e.id))
        } else {
          val cur = if (lastTouch.exists()) Option(lastTouch.get()) else None
          val hit = cur.filter(c =>
            c.tsMs <= e.tsMs - 1 && c.tsMs >= e.tsMs - lookbackMs)
          out += (hit match {
            case Some(c) => Credit(key, e.id, e.tsMs, c.id, c.tsMs,
              e.tsMs - c.tsMs, attributed = true, nextSeq(), emittedAt)
            case None => Credit(key, e.id, e.tsMs, -1L, -1L, -1L,
              attributed = false, nextSeq(), emittedAt)
          })
        }
      }
      out.result()
    }

    /** Clear the touch record once no in-watermark conversion can still
      * reach back to it. */
    override protected def expire(wmMs: Long): Unit =
      if (wmMs != Long.MinValue && lastTouch.exists() &&
        lastTouch.get().tsMs < wmMs - stateTtlMs) lastTouch.clear()
  }

  /** Attribute a keyed touch/conversion stream. Output watermark rides
    * `emittedAt` for chaining. `stateTtlMs` defaults to lookback + 1h of
    * lateness slack; it must be ≥ lookbackMs + the source's maximum
    * lateness for exactness. */
  def attribute(events: Dataset[Event], watermarkDelay: String,
      lookbackMs: Long, stateTtlMs: Long = -1L)(
      implicit spark: SparkSession): Dataset[Credit] = {
    require(lookbackMs > 0)
    val ttl = if (stateTtlMs >= 0) stateTtlMs else lookbackMs + 3600000L
    require(ttl >= lookbackMs, s"stateTtlMs=$ttl < lookbackMs=$lookbackMs")
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.user)
      .transformWithState(new Processor(lookbackMs, ttl), "emittedAt",
        OutputMode.Append())
  }
}
