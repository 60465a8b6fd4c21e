package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

class HoltTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // two keys; one row arrives OUT OF ORDER (2.5s after 4s) inside the
  // watermark delay to exercise the reorder buffer; values include a drop
  // so a negative trend step exercises truncation-toward-zero
  private val fixture = Seq(
    HoltTws.Obs("a", 1000L, 100L),
    HoltTws.Obs("a", 2000L, 200L),
    HoltTws.Obs("a", 4000L, 50L),
    HoltTws.Obs("a", 2500L, 160L), // late, inside the 2s delay
    HoltTws.Obs("a", 5000L, 300L),
    HoltTws.Obs("b", 1000L, 10L),
    HoltTws.Obs("b", 6000L, 0L))

  test("streaming fold equals batch holtLinear bit-for-bit; late row folds in order") {
    val mem = MemoryStream[HoltTws.Obs]
    val q = HoltTws.smooth(mem.toDS(), "2 seconds", 2, 3, 10)
      .writeStream.format("memory").queryName("holt_tws")
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(HoltTws.Obs("zzz", 60000L, 0L)) // advance watermark
      q.processAllAvailable()
      mem.addData(HoltTws.Obs("zzz", 120000L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("holt_tws")
      .filter(col("key") =!= "zzz")
      .select("key", "tsMs", "level", "trend", "seq")
      .as[(String, Long, Long, Long, Long)].collect()

    // the late 2.5s row folds in event-time position
    val aSeq = rows.filter(_._1 == "a").sortBy(_._5)
    assert(aSeq.map(_._2).toSeq == Seq(1000L, 2000L, 2500L, 4000L, 5000L))

    // final streaming state per key == batch holtLinear, bit-for-bit
    val finalState = rows.groupBy(_._1).map { case (k, rs) =>
      val last = rs.maxBy(_._5); k -> ((last._3, last._4))
    }
    val batch = graft.operators.Trend.holtLinear(
        fixture.map(o => (o.key, o.tsMs, o.y)).toDF("k", "t", "y"),
        Seq("k"), col("t"), col("y"), 2, 3, 10)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("level"), r.getAs[Long]("trend")))).toMap
    assert(finalState == batch)

    // every observation emitted exactly once
    assert(rows.length == fixture.length)
  }

  test("state survives a checkpoint restart mid-stream") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("holt_tws_ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("holt_tws_out").toString
    val mem = MemoryStream[HoltTws.Obs]
    // the memory sink refuses checkpoint recovery — foreachBatch to
    // parquet, the flagship restart pattern
    def start() = HoltTws.smooth(mem.toDS(), "2 seconds", 2, 3, 10)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[HoltTws.Forecast], _: Long) =>
          b.write.mode("append").parquet(outDir)
      }
      .start()
    // phase 1 processes the first three rows WITHOUT advancing the
    // watermark past 2s, so the late 2.5s row is still admissible when
    // it arrives after the restart
    val q1 = start()
    try {
      mem.addData(fixture.take(3): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData(fixture.drop(3): _*)
      mem.addData(HoltTws.Obs("zzz", 120000L, 0L))
      mem.addData(HoltTws.Obs("zzz", 180000L, 0L))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter(col("key") =!= "zzz")
      .select("key", "level", "trend", "seq")
      .as[(String, Long, Long, Long)].collect()
    // late 2.5s row was still pending at the restart: it must fold
    // after recovery, and the final state must match batch
    val finalA = rows.filter(_._1 == "a").maxBy(_._4)
    val batch = graft.operators.Trend.holtLinear(
        fixture.filter(_.key == "a").map(o => (o.key, o.tsMs, o.y))
          .toDF("k", "t", "y"),
        Seq("k"), col("t"), col("y"), 2, 3, 10).collect().head
    assert((finalA._2, finalA._3) ==
      ((batch.getAs[Long]("level"), batch.getAs[Long]("trend"))))
    deleteRecursively(new java.io.File(ckpt))
    deleteRecursively(new java.io.File(outDir))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
