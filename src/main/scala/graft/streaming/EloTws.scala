package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
  ValueState}

/** Online Elo ratings as a continuous monitor — the streaming form of
  * [[graft.operators.Preference.eloRatings]] (r15 verdict item 4): a
  * leaderboard job consumes the match stream and emits post-update
  * ratings after EVERY match instead of refolding history per refresh.
  * The batch operator's bounded driver fold is the small-data form;
  * this is the production path at stream scale.
  *
  * Elo state is GLOBAL (each update reads both players' current
  * ratings), so the processor is keyed by the constant leaderboard key —
  * the [[ConformanceTws]] census-stage shape. Matches wait in the
  * [[WatermarkOrderedFold]] reorder buffer until the watermark passes
  * them and drain in (tsMs, tieBreak) order — deterministic across
  * triggers — so the trajectory is the batch fold's trajectory exactly:
  * the update arithmetic is the SHARED `Preference.eloDelta` (one
  * pow(10, Δ/400) on integer rating diffs, ⌊x+0.5⌋-pinned expected
  * score, zero-sum transfer), not a reimplementation. EloTwsSpec pins
  * stream ≡ batch on an out-of-order fixture.
  *
  * State bounds: the (player → rating, player → n_matches) maps are
  * PLAYER-census grain, not stream grain, plus the watermark-delay-
  * bounded reorder buffer and three scalars. A single-key fold is the
  * semantics, not a skew accident — Elo's sequential coupling cannot
  * shard; throughput-scale deployments shard by LEAGUE (disjoint
  * player pools), which is just this processor under a league key. */
object EloTws {

  case class MatchEvent(tsMs: Long, tieBreak: Long, playerA: Long,
      playerB: Long, aWins: Boolean)
  case class EloPoint(tsMs: Long, tieBreak: Long, winner: Long,
      loser: Long, winnerRating: Long, loserRating: Long, nMatches: Long,
      emittedAt: java.sql.Timestamp)

  class EloProcessor(kFactor: Long, initialRating: Long)
      extends WatermarkOrderedFold[MatchEvent, EloPoint] {
    @transient private var ratings: MapState[Long, Long] = _
    @transient private var counts: MapState[Long, Long] = _
    @transient private var nMatches: ValueState[Long] = _

    override protected def initState(): Unit = {
      ratings = getHandle.getMapState[Long, Long]("ratings",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      counts = getHandle.getMapState[Long, Long]("counts",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      nMatches = getHandle.getValueState[Long]("nMatches",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[MatchEvent]
    override protected def eventTimeMs(m: MatchEvent): Long = m.tsMs

    override protected def fold(key: String, due: Seq[MatchEvent],
        emittedAt: java.sql.Timestamp): Seq[EloPoint] = {
      var n = if (nMatches.exists()) nMatches.get() else 0L
      val out = due
        .sortBy(m => (m.tsMs, m.tieBreak))
        .flatMap { m =>
          if (m.playerA == m.playerB) None
          else {
            val (w, l) =
              if (m.aWins) (m.playerA, m.playerB) else (m.playerB, m.playerA)
            val rw = Option(ratings.getValue(w)).getOrElse(initialRating)
            val rl = Option(ratings.getValue(l)).getOrElse(initialRating)
            val d = graft.operators.Preference.eloDelta(rw, rl, kFactor)
            ratings.updateValue(w, rw + d)
            ratings.updateValue(l, rl - d)
            counts.updateValue(w, Option(counts.getValue(w)).getOrElse(0L) + 1L)
            counts.updateValue(l, Option(counts.getValue(l)).getOrElse(0L) + 1L)
            n += 1
            Some(EloPoint(m.tsMs, m.tieBreak, w, l, rw + d, rl - d, n,
              emittedAt))
          }
        }
      nMatches.update(n)
      out
    }
  }

  /** Rate a match stream: one [[EloPoint]] per match, post-update. */
  def ratings(matches: Dataset[MatchEvent], watermarkDelay: String,
      kFactor: Long = 32L, initialRating: Long = 1500L)(
      implicit spark: SparkSession): Dataset[EloPoint] = {
    import spark.implicits._
    matches
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[MatchEvent]
      .groupByKey(_ => "leaderboard")
      .transformWithState(new EloProcessor(kFactor, initialRating),
        "emittedAt", OutputMode.Append())
  }
}
