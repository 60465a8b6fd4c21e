package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ConformanceTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val model = Seq(("start", "pay"), ("pay", "ship"),
    ("ship", "done"))

  // c1 conforms end-to-end; c2 skips pay (start->ship off-model) and
  // arrives OUT OF ORDER (ship before start in the stream); c3 repeats
  // pay (pay->pay off-model) and spans two watermark releases.
  private val fixture = Seq(
    ConformanceTws.CaseEvent("c1", 1000L, 1L, "start"),
    ConformanceTws.CaseEvent("c1", 2000L, 2L, "pay"),
    ConformanceTws.CaseEvent("c1", 3000L, 3L, "ship"),
    ConformanceTws.CaseEvent("c1", 4000L, 4L, "done"),
    ConformanceTws.CaseEvent("c2", 2500L, 6L, "ship"), // OOO arrival
    ConformanceTws.CaseEvent("c2", 1500L, 5L, "start"),
    ConformanceTws.CaseEvent("c2", 3500L, 7L, "done"),
    ConformanceTws.CaseEvent("c3", 1200L, 8L, "start"),
    ConformanceTws.CaseEvent("c3", 2200L, 9L, "pay"))
  private val lateBatch = Seq(
    ConformanceTws.CaseEvent("c3", 60000L, 10L, "pay"),
    ConformanceTws.CaseEvent("c3", 61000L, 11L, "ship"))

  test("per-edge census and off-model share end at the batch values") {
    withRocksDb {
      val mem = MemoryStream[ConformanceTws.CaseEvent]
      val q = ConformanceTws.monitor(mem.toDS(), model, "1 second")
        .writeStream.format("memory").queryName("conf_tws")
        .outputMode("append").start()
      try {
        mem.addData(fixture: _*)
        q.processAllAvailable()
        mem.addData(lateBatch: _*)
        q.processAllAvailable()
        // sentinel pushes the watermark past every buffered event
        mem.addData(ConformanceTws.CaseEvent("zz", 300000L, 99L, "start"))
        q.processAllAvailable()
      } finally q.stop()
      val pts = spark.table("conf_tws")
        .select("fromAct", "toAct", "edgeN", "allowed", "nTransitions",
          "nOffModel", "offModelShareE6")
        .as[(String, String, Long, Boolean, Long, Long, Long)]
        .collect().toSeq

      // one point per transition: c1 has 3, c2 has 2, c3 has 3
      assert(pts.size == 8, s"expected 8 transitions, got $pts")

      // streaming edge census = per-edge max running count
      val streamCensus = pts.groupBy(p => (p._1, p._2))
        .view.mapValues(_.map(_._3).max).toMap
      val streamAllowed = pts.map(p => (p._1, p._2) -> p._4).toMap

      // the batch operator on the same events (sentinel has no pair)
      val batch = graft.operators.ProcessMining.dfgConformanceE6(
          (fixture ++ lateBatch).toDF(),
          col("caseId"), col("tsMs"), col("tieBreak"), col("activity"),
          model)
        .select("from_act", "to_act", "n", "allowed")
        .as[(String, String, Long, Boolean)].collect().toSeq
      val batchCensus = batch.map(b => (b._1, b._2) -> b._3).toMap
      val batchAllowed = batch.map(b => (b._1, b._2) -> b._4).toMap
      assert(streamCensus == batchCensus,
        s"stream $streamCensus vs batch $batchCensus")
      assert(streamAllowed == batchAllowed)

      // final running share = exact batch-census share
      val last = pts.maxBy(_._5)
      val offTotal = batch.filter(!_._4).map(_._3).sum
      val nTotal = batch.map(_._3).sum
      assert(last._5 == nTotal && last._6 == offTotal)
      assert(last._7 == offTotal * 1000000L / nTotal)

      // the off-model edges are the expected ones
      assert(pts.filter(!_._4).map(p => (p._1, p._2)).toSet ==
        Set(("start", "ship"), ("pay", "pay")))
    }
  }
}
