package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming A4 (reference LastTimeAndCount,
  * P:common/functions/LastTimeAndCount.java:29-290): per key, remember the
  * last event timestamp and a day-bucketed rolling count; every event
  * emits (key, lastTs, liveCount, ttl), and event-time timers decrement
  * day buckets once they age past the TTL — re-emitting the shrunken
  * count so the feature store decays even for inactive keys.
  *
  * Timer spread (the reference's hotspot guard,
  * LastTimeAndCount.java:117-129): cleanup timers get a deterministic
  * pseudo-random [0, 1 day) offset derived from the key hash, so a day's
  * expirations don't all fire on the same tick — the same smoothing its
  * `pseudoRandomTimerOffset` does.
  *
  * State per key = lastTs + one long per live day: ≤ ttlDays entries,
  * watermark-pruned. `agg/Windows.lastTimeAndCount` is the batch/oracle
  * value-parity form (gate q14); this operator reproduces the emission
  * profile.
  */
object LastSeen {

  private val DayMs = 86400000L

  case class Event(key: String, tsMs: Long)
  case class State(lastTs: Long, dayCounts: Map[Long, Long], seq: Long)
  /** `seq` is a per-key monotone emission sequence: the value string
    * (lastTs:count) is non-monotone (TTL decrements shrink the count), so
    * latest-wins sinks order by `seq` — a decay re-emission carries the
    * same lastTs as the event that preceded it and would otherwise lose a
    * value-ordered tie-break within a micro-batch. */
  case class Result(key: String, lastTsMs: Long, count: Long, ttlSec: Long,
      seq: Long)

  /** Deterministic [0, 1 day) spread from a key hash — the reference's
    * cheap hash-seeded offset (LastTimeAndCount.java:120-129). */
  def pseudoRandomOffsetMs(hash: Int): Long = {
    var h = 513431879 * hash
    if (h == Int.MinValue) h = 0
    val rate = math.abs(1f * h / Int.MinValue)
    (rate * DayMs).toLong
  }

  private[streaming] def cleanupTime(keyHash: Int, dayStartMs: Long,
      ttlDays: Int): Long =
    dayStartMs + (ttlDays + 1).toLong * DayMs + pseudoRandomOffsetMs(keyHash)

  private[streaming] def emittedTtlSec(ttlDays: Int): Long =
    (ttlDays + 3).toLong * 86400L

  /** Pure transition: ingest in event-time order (one emission per event,
    * like the reference's processElement), then expire day buckets whose
    * spread cleanup time the watermark passed (one refreshed emission when
    * anything dropped — the onTimer re-emit). */
  def advance(key: String, events: Seq[Event], st: State, wmMs: Long,
      ttlDays: Int): (Seq[Result], State) = {
    var lastTs = st.lastTs
    var days = st.dayCounts
    var seq = st.seq
    val ttlSec = emittedTtlSec(ttlDays)
    val out = Seq.newBuilder[Result]
    events.sortBy(_.tsMs).foreach { e =>
      lastTs = e.tsMs // most recently PROCESSED event, per the reference
      val day = e.tsMs - math.floorMod(e.tsMs, DayMs)
      days += (day -> (days.getOrElse(day, 0L) + 1L))
      seq += 1
      out += Result(key, lastTs, days.values.sum, ttlSec, seq)
    }
    if (wmMs != Long.MinValue) {
      val kept = days.filter { case (day, _) =>
        cleanupTime(key.hashCode, day, ttlDays) > wmMs }
      if (kept.size != days.size) {
        days = kept
        seq += 1
        out += Result(key, lastTs, days.values.sum, ttlSec, seq)
      }
    }
    (out.result(), State(lastTs, days, seq))
  }

  /** Streaming form on [[KeyedTransition.flatMapGroups]], waking at each
    * key's earliest spread cleanup time. */
  def countStream(events: Dataset[Event], watermarkDelay: String,
      ttlDays: Int = 90)(implicit spark: SparkSession): Dataset[Result] = {
    import spark.implicits._
    val keyed = events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.key)
    KeyedTransition.flatMapGroups(keyed, State(0L, Map.empty, 0L))(
      _.dayCounts.isEmpty, (key, st) => st.dayCounts.keys
        .map(cleanupTime(key.hashCode, _, ttlDays)).minOption) {
      (key, rows, st, wm) => advance(key, rows, st, wm, ttlDays)
    }
  }
}
