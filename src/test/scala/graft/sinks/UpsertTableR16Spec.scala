package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r16 optimization internals: batched overlapped commits, directory-
  * metadata churn sets, the base-only as-of fast path, and the
  * reliable-checkpoint seam — each must be OBSERVATIONALLY identical
  * to the shape it replaced. */
class UpsertTableR16Spec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_upsert_r16").toString

  private def frame(rows: (Long, String, Long, String, Boolean)*) =
    rows.toDF("k", "dt", "ver", "v", "del")

  test("upsertAll equals sequential upserts: same commit dirs, same seqs, same snapshot") {
    val c1 = frame((1L, "d1", 1L, "a", false), (2L, "d2", 1L, "b", false))
    val c2 = frame((1L, "d1", 2L, "a2", false), (3L, "d2", 1L, "c", false))
    val dirA = freshDir(); val dirB = freshDir()
    val seqTab = new UpsertTable(s"$dirA/t", Seq("k"), "ver", Seq("dt"), Some("del"))
    seqTab.upsert(c1); seqTab.upsert(c2)
    val batTab = new UpsertTable(s"$dirB/t", Seq("k"), "ver", Seq("dt"), Some("del"))
    assert(batTab.upsertAll(Seq(c1, c2)) == Seq(1L, 2L))
    assert(batTab.commits(spark) == seqTab.commits(spark))
    assert(batTab.lastCommitSeq(spark) == 2L)
    def snap(t: UpsertTable) = t.snapshot(spark)
      .select("k", "dt", "v", "ver").as[(Long, String, String, Long)]
      .collect().toSet
    assert(snap(batTab) == snap(seqTab))
    // batched commits stay individually addressable for time travel
    assert(batTab.snapshotAt(spark, 1L).select("k").as[Long].collect().toSet
      == Set(1L, 2L))
  }

  test("dir-derived churn sets match the row-derived ones, escaping included") {
    // partition values exercising Hive %XX path escaping (space, colon)
    // and the null sentinel
    val c1 = Seq((1L, "d 1", 1L, "a", false), (2L, "x:y", 1L, "b", false),
      (3L, null.asInstanceOf[String], 1L, "n", false))
      .toDF("k", "dt", "ver", "v", "del")
    val dir = freshDir()
    val t = new UpsertTable(s"$dir/t", Seq("k"), "ver", Seq("dt"), Some("del"))
    t.upsert(c1)
    t.compact(spark)
    val c2 = Seq((1L, "d 1", 2L, "a2", false)).toDF("k", "dt", "ver", "v", "del")
    t.upsert(c2)
    // changedDistinct over the partition column comes from dir names now
    val changed = t.changedDistinct(spark, sinceCommit = 1L, Seq("dt"))
      .as[String].collect().toSet
    assert(changed == Set("d 1"))
    // incrementalRead's base prune uses the same dir-derived condition;
    // the resolved record must still surface
    val inc = t.incrementalRead(spark, sinceCommit = 1L)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(inc == Set((1L, "a2")))
    // compact again: the touched-partition rewrite keeps the other
    // partitions' rows intact
    t.compact(spark)
    val snap = t.snapshot(spark).select("k", "v").as[(Long, String)]
      .collect().toSet
    assert(snap == Set((1L, "a2"), (2L, "b"), (3L, "n")))
  }

  test("base-only snapshotAt skips the resolve window but returns identical rows") {
    val c1 = frame((1L, "d1", 1L, "a", false), (2L, "d1", 1L, "b", true))
    val dir = freshDir()
    val t = new UpsertTable(s"$dir/t", Seq("k"), "ver", Seq("dt"), Some("del"))
    t.upsert(c1)
    t.compact(spark)
    val asOf = t.snapshotAt(spark, 1L)
    // fast path: no Window in the plan (tombstone filter only)
    assert(!asOf.queryExecution.optimizedPlan.toString.contains("windowspecdefinition"))
    assert(asOf.select("k", "v").as[(Long, String)].collect().toSet
      == Set((1L, "a")))
    // with a live delta the resolve window is back
    t.upsert(frame((1L, "d1", 2L, "a2", false)))
    val live = t.snapshot(spark)
    assert(live.queryExecution.optimizedPlan.toString.contains("windowspecdefinition"))
    assert(live.select("k", "v").as[(Long, String)].collect().toSet
      == Set((1L, "a2")))
  }

  test("Checkpoints.truncate routes to reliable checkpoint only when a dir is set") {
    import graft.Checkpoints.TruncateOps
    val df = Seq(1, 2, 3).toDF("x")
    val local = df.truncate(true)
    assert(local.count() == 3)
    assert(local.rdd.getCheckpointFile.isEmpty) // local checkpoint: no files
    val ckDir = freshDir()
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val rel = df.truncate(true)
      assert(rel.count() == 3)
      // reliable checkpoint writes under the configured dir
      assert(new java.io.File(ckDir).listFiles.nonEmpty)
      // the eager reliable checkpoint computes its sub-plan once
      val evals = spark.sparkContext.longAccumulator("truncate_evals")
      df.map { r => evals.add(1L); r.getInt(0) }.toDF("x").truncate(true)
      assert(evals.sum == 3L)
      // so does the lazy one, counted through its first action
      val lazyEvals = spark.sparkContext.longAccumulator("truncate_lazy_evals")
      val lazyRel = df.map { r => lazyEvals.add(1L); r.getInt(0) }.toDF("x")
        .truncate(false)
      assert(lazyRel.count() == 3)
      assert(lazyEvals.sum == 3L)
    } finally {
      // SparkContext has no public unset; clear the private var so the
      // shared test context goes back to local checkpoints (test-only
      // reflection, mirrors what a fresh context would be)
      val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(spark.sparkContext, None)
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
    }
  }
}
