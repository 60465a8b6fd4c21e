package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class LinkageClustersTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  // chain {1,2,3}, pair {10,11}, then a late link MERGES the two
  // clusters (2—10 at t=2.5s arrives after t=4s in stream order);
  // {20,21,22} forms a triangle (redundant link must not double-count)
  private val fixture = Seq(
    LinkageClustersTws.Link(1000L, 1L, 2L),
    LinkageClustersTws.Link(2000L, 2L, 3L),
    LinkageClustersTws.Link(3000L, 10L, 11L),
    LinkageClustersTws.Link(4000L, 20L, 21L),
    LinkageClustersTws.Link(2500L, 2L, 10L), // late, inside the delay
    LinkageClustersTws.Link(5000L, 21L, 22L),
    LinkageClustersTws.Link(6000L, 20L, 22L)) // closes the triangle

  test("final census equals the batch alternating-components census") {
    withRocksDb {
      val mem = MemoryStream[LinkageClustersTws.Link]
      val q = LinkageClustersTws.monitor(mem.toDS(), "2 seconds")
        .writeStream.format("memory").queryName("lc_tws")
        .outputMode("append").start()
      try {
        mem.addData(fixture.take(4): _*)
        q.processAllAvailable()
        mem.addData(fixture.drop(4): _*)
        q.processAllAvailable()
        mem.addData(LinkageClustersTws.Link(60000L, 990L, 991L))
        q.processAllAvailable()
        // second watermark push releases the 60s link too (the 120s
        // one stays buffered and is excluded from the batch compare)
        mem.addData(LinkageClustersTws.Link(120000L, 992L, 993L))
        q.processAllAvailable()
      } finally q.stop()
      val snaps = spark.table("lc_tws")
        .as[LinkageClustersTws.Snap].collect().toSeq
      val last = snaps.map(_.seq).max
      val finalCensus = snaps.filter(_.seq == last)
        .map(s => s.size -> s.nClusters).toMap

      val links = (fixture :+ LinkageClustersTws.Link(60000L, 990L, 991L))
        .map(l => (l.a, l.b)).toDF("id_a", "id_b")
      val batch = graft.operators.Graph
        .alternatingComponents(links, "id_a", "id_b")
        .groupBy("component").count()
        .groupBy("count").count()
        .as[(Long, Long)].collect().toMap
      assert(finalCensus == batch,
        s"streaming $finalCensus vs batch $batch")
      // the merged cluster {1,2,3,10,11} must exist
      assert(finalCensus(5L) == 1L)
      assert(finalCensus(3L) == 1L) // the triangle, not double-counted
    }
  }

  test("trajectory is deterministic and monotone in links folded") {
    withRocksDb {
      val mem = MemoryStream[LinkageClustersTws.Link]
      val q = LinkageClustersTws.monitor(mem.toDS(), "1 second")
        .writeStream.format("memory").queryName("lc_tws_traj")
        .outputMode("append").start()
      try {
        mem.addData(fixture: _*)
        q.processAllAvailable()
        mem.addData(LinkageClustersTws.Link(60000L, 990L, 991L))
        q.processAllAvailable()
      } finally q.stop()
      val snaps = spark.table("lc_tws_traj")
        .as[LinkageClustersTws.Snap].collect().toSeq
      // nLinks never decreases across seq, nRecords consistent with census
      val bySeq = snaps.groupBy(_.seq).toSeq.sortBy(_._1)
      assert(bySeq.map(_._2.head.nLinks) == bySeq.map(_._2.head.nLinks).sorted)
      bySeq.foreach { case (_, rows) =>
        val fromCensus = rows.map(r => r.size * r.nClusters).sum
        assert(fromCensus == rows.head.nRecords,
          s"census mass $fromCensus != nRecords ${rows.head.nRecords}")
      }
    }
  }
}
