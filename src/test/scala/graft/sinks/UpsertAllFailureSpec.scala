package graft.sinks

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

object UpsertAllFailureSpec {
  /** Counted down by the slow write's first task, so the failing write
    * throws only once the slow one is really running. */
  val slowRunning = new CountDownLatch(1)
}

/** The failure path of overlapped commits: a failing write must take its
  * in-flight sibling down with it, leave no temp dir and no seq behind,
  * and a retry must publish exactly what sequential upserts would. */
class UpsertAllFailureSpec extends SparkSpec {
  import spark.implicits._
  import UpsertAllFailureSpec.slowRunning

  private def table(dir: String) =
    new UpsertTable(s"$dir/t", Seq("k"), "ver", Seq("dt"), Some("del"))

  private def frame(rows: (Long, String, Long, String, Boolean)*) =
    rows.toDF("k", "dt", "ver", "v", "del")

  /** Rows k = 10..13 in dt=d1, computed by `v` in two real tasks. */
  private def computed(v: org.apache.spark.sql.Column): DataFrame =
    spark.range(10, 14, 1, 2).select(col("id").as("k"), lit("d1").as("dt"),
      lit(5L).as("ver"), v.as("v"), lit(false).as("del"))

  private def snapshotRows(t: UpsertTable) =
    t.snapshot(spark).select("k", "dt", "ver", "v", "del")
      .as[(Long, String, Long, String, Boolean)].collect().toSet

  test("upsertAll failure cancels the in-flight write, cleans up, and a retry equals sequential upserts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_fail").toString
    val t = table(dir)
    val first = frame((1L, "d1", 1L, "a", false), (2L, "d2", 1L, "b", false))
    t.upsert(first)
    def seqMarker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/t/_seq")), "UTF-8")
    val seqBefore = seqMarker

    val sleepy = udf { (id: Long) =>
      slowRunning.countDown(); Thread.sleep(60000L); s"slow$id" }
    val boom = udf { (id: Long) =>
      slowRunning.await(30, TimeUnit.SECONDS)
      if (id >= 0) throw new IllegalStateException(s"boom$id")
      s"unreachable$id" }
    val slow = computed(sleepy(col("id")))
    val failing = computed(boom(col("id")))

    val sc = spark.sparkContext
    val group = "upsert-all-failure-spec"
    sc.setJobGroup(group, "overlapped commits with one failing write")
    val t0 = System.nanoTime()
    val e = try intercept[Exception](t.upsertAll(Seq(slow, failing)))
      finally sc.clearJobGroup()
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(x => String.valueOf(x.getMessage).contains("boom")), e)
    assert((System.nanoTime() - t0) / 1e9 < 50, "the call waited out the slow write")

    // no job the call started is still running (the status store trails
    // the scheduler by a listener-bus hop, hence the short wait)
    eventually(timeout(10.seconds), interval(100.millis)) {
      val running = sc.statusTracker.getJobIdsForGroup(group).toSeq
        .flatMap(sc.statusTracker.getJobInfo)
        .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
      assert(running.isEmpty && sc.statusTracker.getActiveJobIds.isEmpty,
        s"still running: ${running.map(_.jobId)}")
    }
    val leftovers = Option(new java.io.File(s"$dir/t/delta").listFiles)
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith(".tmp_c"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    assert(seqMarker == seqBefore)
    assert(t.commits(spark) == Seq(1L))

    // retry with good frames: same published table as sequential upserts
    val good1 = frame((2L, "d2", 2L, "b2", false), (10L, "d1", 1L, "x", false))
    val good2 = frame((1L, "d1", 2L, "a2", true), (11L, "d1", 1L, "y", false))
    assert(t.upsertAll(Seq(good1, good2)) == Seq(2L, 3L))
    val ref = table(java.nio.file.Files.createTempDirectory("graft_upsert_ref").toString)
    Seq(first, good1, good2).foreach(ref.upsert)
    assert(t.commits(spark) == ref.commits(spark))
    assert(snapshotRows(t) == snapshotRows(ref))
    assert(snapshotRows(t) == Set((2L, "d2", 2L, "b2", false),
      (10L, "d1", 1L, "x", false), (11L, "d1", 1L, "y", false)))
  }
}
