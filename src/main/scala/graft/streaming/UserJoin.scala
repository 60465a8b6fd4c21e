package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-attribute join (reference J10 UserJoin + UserUpdateMerger,
  * P:common/functions/userjoin/UserJoin.java:62-358): partial user-record
  * updates merge per key (latest non-empty field wins), and events join
  * the merged user state as of their timestamp.
  *
  * Streaming form: `joinStream` ([[UserJoinTws]]) is the full two-tier
  * port of the reference's fast path — events wait only `fastOooMs` when
  * the user is already known (UserJoin.java:172-231), re-buffer to the
  * full `maxOooMs` window when not, and emit UNenriched if the user never
  * arrives (the reference's until-end-of-window pass). Batch form
  * composes `mergedUpdates` with `operators.AsOfJoin`.
  */
object UserJoin {

  /** side 0 = user update (attrs; empty values mean "not set"),
    * side 1 = event to enrich. */
  case class In(key: String, side: Int, id: String, tsMs: Long,
      attrs: Map[String, String])
  case class JoinState(
      updates: List[(Long, Map[String, String])], // ts-ascending
      fastPending: List[(Long, String)],
      slowPending: List[(Long, String)])
  case class Enriched(key: String, id: String, tsMs: Long,
      attrs: Map[String, String], path: String) // fast | slow | unenriched

  def emptyJoinState: JoinState = JoinState(Nil, Nil, Nil)

  /** Latest non-empty value per attr over updates with ts <= asOfMs
    * (UserUpdateMerger semantics). None when no update qualifies. */
  private def effectiveUser(updates: List[(Long, Map[String, String])],
      asOfMs: Long): Option[Map[String, String]] = {
    val live = updates.takeWhile(_._1 <= asOfMs)
    if (live.isEmpty) None
    else Some(live.foldLeft(Map.empty[String, String]) { case (acc, (_, m)) =>
      acc ++ m.filter(_._2.nonEmpty)
    })
  }

  /** Pure two-tier transition. `ttlMs` bounds how long user state lives
    * past the watermark (the reference's CLEAN_UP_MULTIPLIER pass). */
  def advance(key: String, events: Seq[In], st: JoinState, wmMs: Long,
      fastOooMs: Long, maxOooMs: Long,
      ttlMs: Long): (Seq[Enriched], JoinState) = {
    var updates = st.updates
    var fast = st.fastPending
    var slow = st.slowPending
    val out = Seq.newBuilder[Enriched]

    events.foreach { e =>
      if (e.side == 0) {
        val (before, after) = updates.span(_._1 <= e.tsMs)
        updates = before ::: (e.tsMs, e.attrs) :: after
      } else fast = (e.tsMs, e.id) :: fast
    }

    // fast tier: user already known at the event's ts → join early
    val (fastDue, fastStill) = fast.partition(_._1 + fastOooMs <= wmMs)
    fastDue.sortBy(identity).foreach { case (ts, id) =>
      effectiveUser(updates, ts) match {
        case Some(u) => out += Enriched(key, id, ts, u, "fast")
        case None => slow = (ts, id) :: slow
      }
    }
    // slow tier: waited the full out-of-order window
    val (slowDue, slowStill) = slow.partition(_._1 + maxOooMs <= wmMs)
    slowDue.sortBy(identity).foreach { case (ts, id) =>
      effectiveUser(updates, ts) match {
        case Some(u) => out += Enriched(key, id, ts, u, "slow")
        case None => out += Enriched(key, id, ts, Map.empty, "unenriched")
      }
    }
    // prune: keep the newest update at-or-before the horizon (it stays
    // the effective base) plus everything after it
    if (wmMs != Long.MinValue) {
      val horizon = wmMs - ttlMs
      val (old, rest) = updates.span(_._1 <= horizon)
      updates = old.lastOption.toList ::: rest
    }
    (out.result(), JoinState(updates, fastStill, slowStill))
  }

  /** Streaming form: the [[UserJoinTws]] stage on a raw stream (the
    * watermark on the events' own time, no payload), projected to
    * [[Enriched]]. */
  def joinStream(events: Dataset[In], watermarkDelay: String,
      fastOooMs: Long, maxOooMs: Long, ttlMs: Long)(
      implicit spark: SparkSession): Dataset[Enriched] = {
    import spark.implicits._
    UserJoinTws.joinChained(
        events.withColumn("payload", lit(""))
          .withColumn("emittedAt", timestamp_millis(col("tsMs")))
          .withWatermark("emittedAt", watermarkDelay)
          .as[UserJoinTws.InAt],
        fastOooMs, maxOooMs, ttlMs)
      .drop("payload", "emittedAt").as[Enriched]
  }

  /** Batch form (everything resolves; fast/slow tiers converge). */
  def joinBatch(events: Dataset[In], fastOooMs: Long, maxOooMs: Long)(
      implicit spark: SparkSession): Dataset[Enriched] = {
    import spark.implicits._
    events.groupByKey(_.key).flatMapGroups { (key, it) =>
      advance(key, it.toSeq.sortBy(e => (e.tsMs, e.side, e.id)),
        emptyJoinState, Long.MaxValue, fastOooMs, maxOooMs,
        Long.MaxValue)._1.iterator
    }
  }

  /** Per-key running merge of partial updates: each update row becomes the
    * merged snapshot at its timestamp — for every attribute column, the
    * latest non-empty value at-or-before that row. One window pass. */
  def mergedUpdates(updates: DataFrame, keys: Seq[String], tsMs: String,
      tieBreak: String, attrCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsMs), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    attrCols.foldLeft(updates) { (df, c) =>
      df.withColumn(c,
        last(when(col(c) =!= "", col(c)), ignoreNulls = true).over(w))
    }
  }
}
