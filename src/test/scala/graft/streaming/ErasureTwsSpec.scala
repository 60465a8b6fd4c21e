package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Erasure semantics: live keys converge to the batch totals, the erased
  * key emits exactly one purge row and then stays dark — including for
  * late-arriving rows that predate the command. */
class ErasureTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  test("purge on command, one audit row, retroactive suppression") {
    withRocksDb {
      val mem = MemoryStream[ErasureTws.Msg]
      val q = ErasureTws.snapshots(mem.toDS(), "10 seconds")
        .writeStream.format("memory").queryName("erasure_tws")
        .outputMode("append").start()
      try {
        mem.addData(
          ErasureTws.Msg("a", 100000L, isErasure = false, 10L),
          ErasureTws.Msg("a", 101000L, isErasure = false, 20L),
          ErasureTws.Msg("b", 100000L, isErasure = false, 7L))
        q.processAllAvailable()
        mem.addData(
          ErasureTws.Msg("a", 102000L, isErasure = false, 30L),
          ErasureTws.Msg("b", 102000L, isErasure = true, 0L), // the command
          ErasureTws.Msg("b", 101500L, isErasure = false, 9L)) // same batch
        q.processAllAvailable()
        mem.addData( // post-command rows for b: must stay dark
          ErasureTws.Msg("b", 103000L, isErasure = false, 11L),
          ErasureTws.Msg("a", 103000L, isErasure = false, 40L))
        q.processAllAvailable()
      } finally q.stop()

      val rows = spark.table("erasure_tws")
        .select("key", "n", "cents", "purged", "seq")
        .as[(String, Long, Long, Boolean, Long)].collect()
      val byKey = rows.groupBy(_._1)
      // a: three snapshots, converging to the full batch totals
      val aLast = byKey("a").maxBy(_._5)
      assert(aLast == (("a", 4L, 100L, false, 3L)), s"got $aLast")
      // b: the pre-command snapshot, then EXACTLY one purge row, then dark
      val bRows = byKey("b").sortBy(_._5)
      assert(bRows.map(r => (r._2, r._3, r._4)).toSeq ==
        Seq((1L, 7L, false), (0L, 0L, true)), s"got ${bRows.toSeq}")
      // batch parity for live keys: the final snapshot IS the plain agg
      val batchA = Seq(10L, 20L, 30L, 40L)
      assert(aLast._2 == batchA.size && aLast._3 == batchA.sum)
    }
  }
}
