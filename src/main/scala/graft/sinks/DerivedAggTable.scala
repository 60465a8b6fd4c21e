package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** CDC-maintained derived aggregate — the consumer pattern
  * [[UpsertTable.incrementalRead]] exists for (Hudi's "incremental ETL"
  * shape; the reference's downstream metric tables sit on its Hudi tables
  * the same way): `derived` holds one row per group =
  * `aggregate(source rows of that group)`, kept in sync by consuming only
  * the commits since the last refresh.
  *
  * Each [[refresh]]:
  *  1. reads the touched keys from `source.incrementalRead(checkpoint)`,
  *     deletes included — a deletion changes its group's aggregate too;
  *  2. re-aggregates ONLY the touched groups from the current snapshot.
  *     Aggregates aren't incrementally decomposable under updates/deletes
  *     (the delta math needs the shadowed old values), but a group-scoped
  *     recompute is: cost scales with the CHURNED groups' rows, not the
  *     table — and when the group columns are partition columns the scan
  *     prunes to exactly the touched partitions;
  *  3. upserts the refreshed group rows and TOMBSTONES vanished groups
  *     (every key deleted) through the derived table's delete column;
  *  4. advances the checkpoint marker, written atomically AFTER the
  *     upsert commits — a crash between the two replays the same window,
  *     and the replayed upsert resolves to the same winners (same groups,
  *     same precombine = the source head seq): idempotent.
  *
  * Soundness requires group membership be IMMUTABLE per key:
  * `groupCols ⊆ source partition ∪ key columns` (enforced at
  * construction) — otherwise an update could move a row between groups
  * and the row's OLD group would not appear in the touched set. This is
  * the same scoping contract as the source table's non-global index.
  *
  * `aggregate` must be a grouped aggregation over the group columns:
  * input = any source subset closed under groups, output = one row per
  * group carrying `groupCols` plus the aggregate columns.
  */
class DerivedAggTable(source: UpsertTable, derived: UpsertTable,
    groupCols: Seq[String], aggregate: DataFrame => DataFrame,
    markerPath: String) extends Serializable {

  require(groupCols.nonEmpty, "groupCols must be non-empty")
  require(groupCols.forall((source.partitionCols ++ source.keyCols).contains),
    s"group columns $groupCols must be source partition/key columns — an " +
      "update may not move a row between groups (its old group would " +
      "never be marked touched)")
  require(derived.keyCols.toSet == groupCols.toSet,
    s"derived table must be keyed by the group columns $groupCols")
  require(derived.deleteCol.isDefined,
    "derived table needs a delete column to tombstone vanished groups")

  /** Last fully-applied source commit seq (0 = never refreshed). Torn or
    * absent markers read as 0 — the refresh replays, which is safe. */
  def checkpoint(spark: SparkSession): Long =
    MarkerFile.readLong(spark, markerPath).getOrElse(0L)

  private def writeCheckpoint(spark: SparkSession, v: Long): Unit =
    MarkerFile.write(spark, markerPath, v.toString)

  /** One maintenance step; returns the new checkpoint (= the old one when
    * the source has no new commits — nothing is read or written then). */
  def refresh(spark: SparkSession): Long = {
    val since = checkpoint(spark)
    val head = source.lastCommitSeq(spark)
    if (head <= since) return since
    if (since == 0L) {
      // bootstrap: EVERY group is new — churn scoping, pruning and
      // tombstones are all no-ops, so write the full aggregate in one
      // pass (skips the delta scan + collect + anti-join)
      val delCol = derived.deleteCol.get
      derived.upsert(aggregate(source.snapshot(spark))
        .withColumn(delCol, lit(false))
        .withColumn(derived.precombineCol, lit(head)))
      writeCheckpoint(spark, head)
      return head
    }
    // raw-delta churn scope: the touched-group set needs no per-key
    // resolution (changedDistinct scaladoc) — one delta-dir scan instead
    // of incrementalRead's full-history resolve per refresh
    val touched = source.changedDistinct(spark, since, groupCols)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val scoped =
        if (groupCols.forall(source.partitionCols.contains)) {
          // groups = partitions: collect the churned group list (bounded,
          // the same collect incrementalRead uses) into a pruning filter
          val rows = touched.collect()
          val cond = rows.map(r => groupCols.zipWithIndex.map {
            case (c, i) => col(c) <=> lit(r.get(i))
          }.reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))
          source.snapshot(spark).where(cond)
        } else {
          source.snapshot(spark)
            .join(broadcast(touched), groupCols, "left_semi")
        }
      // fresh feeds BOTH the upsert rows and the tombstone anti-join:
      // persisted so the scoped snapshot+aggregate runs once, not twice
      // inside the write job (|churned groups| rows — bounded cache)
      val fresh = aggregate(scoped).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val aggCols = fresh.columns.filterNot(groupCols.contains)
        // groups in the touched set with no surviving rows → tombstones,
        // carrying typed NULL aggregate columns (exact-schema upserts)
        val dead = aggCols.foldLeft(
            touched.join(fresh.select(groupCols.map(col): _*),
              groupCols, "left_anti")) { (d, c) =>
          d.withColumn(c, lit(null).cast(fresh.schema(c).dataType))
        }
        val delCol = derived.deleteCol.get
        derived.upsert(
          fresh.withColumn(delCol, lit(false))
            .unionByName(dead.withColumn(delCol, lit(true)))
            .withColumn(derived.precombineCol, lit(head)))
        writeCheckpoint(spark, head)
        head
      } finally { fresh.unpersist(); () }
    } finally { touched.unpersist(); () }
  }

  /** The parity oracle: what `derived.snapshot` must equal (minus the
    * version/delete bookkeeping columns) after any refresh chain. */
  def fullRecompute(spark: SparkSession): DataFrame =
    aggregate(source.snapshot(spark))
}
