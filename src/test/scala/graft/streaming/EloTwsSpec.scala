package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EloTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // Three players, OUT-OF-ORDER arrivals (match at 2000 arrives before
  // 1000's) and a second batch that lands after the first drain — the
  // watermark-ordered fold must still replay them in (tsMs, tieBreak)
  // order. A self-match (p1 vs p1) must be dropped, not folded.
  private val fixture = Seq(
    EloTws.MatchEvent(2000L, 2L, 1L, 2L, aWins = false), // arrives first
    EloTws.MatchEvent(1000L, 1L, 1L, 2L, aWins = true),
    EloTws.MatchEvent(3000L, 3L, 2L, 3L, aWins = true),
    EloTws.MatchEvent(3000L, 4L, 1L, 1L, aWins = true)) // self: dropped
  private val lateBatch = Seq(
    EloTws.MatchEvent(60000L, 5L, 3L, 1L, aWins = false),
    EloTws.MatchEvent(61000L, 6L, 2L, 1L, aWins = true))

  test("streaming trajectory ends at the batch fold's ratings") {
    withRocksDb {
      val mem = MemoryStream[EloTws.MatchEvent]
      val q = EloTws.ratings(mem.toDS(), "1 second")
        .writeStream.format("memory").queryName("elo_tws")
        .outputMode("append").start()
      try {
        mem.addData(fixture: _*)
        q.processAllAvailable()
        mem.addData(lateBatch: _*)
        q.processAllAvailable()
        // sentinel pushes the watermark past every buffered match
        mem.addData(EloTws.MatchEvent(300000L, 99L, 8L, 9L, aWins = true))
        q.processAllAvailable()
      } finally q.stop()
      val pts = spark.table("elo_tws")
        .select("tsMs", "tieBreak", "winner", "loser", "winnerRating",
          "loserRating", "nMatches")
        .as[(Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq.sortBy(p => (p._1, p._2))

      // 5 real matches (the self-match emitted nothing; the sentinel
      // stays buffered — nothing pushes the watermark past it)
      assert(pts.size == 5, s"expected 5 points, got $pts")
      assert(pts.map(_._7) == (1L to 5L), "running count is the fold order")

      // final per-player rating = last update touching the player
      val finalRatings = pts.flatMap(p =>
          Seq((p._3, p._7, p._5), (p._4, p._7, p._6)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)._3).toMap

      // batch fold over the same DRAINED matches (self-match dropped
      // there too; the sentinel never drained, so it stays out)
      val all = fixture ++ lateBatch
      val batch = graft.operators.Preference.eloRatings(
          all.toDF(), col("playerA"), col("playerB"), col("aWins"),
          Seq(col("tsMs"), col("tieBreak")))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(finalRatings == batch.view.mapValues(_._1).toMap,
        s"stream $finalRatings vs batch $batch")

      // per-player match counts agree too
      val streamCounts = pts.flatMap(p => Seq(p._3, p._4))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(streamCounts == batch.view.mapValues(_._2).toMap)

      // zero-sum: total drift from the initial rating is exactly 0
      assert(finalRatings.values.map(_ - 1500L).sum == 0L)
    }
  }
}
