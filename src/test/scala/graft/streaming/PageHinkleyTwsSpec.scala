package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PageHinkleyTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // a level shift at t>=4000 on key "a" (100-ish → 500-ish) that PH must
  // flag; a late in-delay row exercises the reorder buffer; "b" is calm
  private val fixture = Seq(
    PageHinkleyTws.Obs("a", 1000L, 100L),
    PageHinkleyTws.Obs("a", 2000L, 110L),
    PageHinkleyTws.Obs("a", 4000L, 500L),
    PageHinkleyTws.Obs("a", 2500L, 90L), // late, inside the 2s delay
    PageHinkleyTws.Obs("a", 5000L, 520L),
    PageHinkleyTws.Obs("a", 6000L, 510L),
    PageHinkleyTws.Obs("b", 1000L, 50L),
    PageHinkleyTws.Obs("b", 5000L, 52L))

  /** The q305 batch window pipeline on the same rows (running mean →
    * deviation → U → running min → PH). */
  private def batchPh: Map[(String, Long), (Long, Long, Long)] = {
    val order = Window.partitionBy(col("key")).orderBy(col("tsMs"))
    val run = order.rowsBetween(Window.unboundedPreceding, 0)
    fixture.toDF("key", "tsMs", "x")
      .withColumn("i", row_number().over(order).cast("long"))
      .withColumn("cumx", sum(col("x")).over(run))
      .withColumn("dev",
        col("x") * lit(1000000L) - expr("cumx * 1000000L div i"))
      .withColumn("u", sum(col("dev")).over(run))
      .withColumn("ph", col("u") - min(col("u")).over(run))
      .select(col("key"), col("tsMs"), col("i"), col("u"), col("ph"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  test("streaming PH equals the batch windows step for step; shift alarms") {
    val mem = MemoryStream[PageHinkleyTws.Obs]
    val q = PageHinkleyTws.detect(mem.toDS(), "2 seconds")
      .writeStream.format("memory").queryName("ph_tws")
      .outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(PageHinkleyTws.Obs("zzz", 60000L, 0L))
      q.processAllAvailable()
      mem.addData(PageHinkleyTws.Obs("zzz", 120000L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ph_tws").filter(col("key") =!= "zzz")
      .select("key", "tsMs", "n", "u", "ph", "alarm")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()

    // every emitted step matches the batch window pipeline exactly
    val want = batchPh
    rows.foreach { case (k, t, n, u, ph, _) =>
      assert(want((k, t)) == ((n, u, ph)), s"($k, $t)")
    }
    assert(rows.length == want.size)

    // the late 2.5s row folded in event-time position (n=3 at ts=2500)
    assert(rows.find(r => r._1 == "a" && r._2 == 2500L).get._3 == 3L)

    // the level shift alarms on key a; calm key b never does
    val aAlarms = rows.filter(r => r._1 == "a" && r._6).map(_._2)
    assert(aAlarms.nonEmpty && aAlarms.forall(_ >= 4000L), aAlarms.toSeq)
    assert(!rows.exists(r => r._1 == "b" && r._6))
  }
}
