package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** CDC-maintained materialized JOIN view — the join twin of
  * [[DerivedAggTable]]: `view` holds one row per fact key =
  * `project(fact row, dim row)` under a many-to-one inner equi-join
  * `fact.fk = dim.key`, kept in sync by consuming BOTH sides' commits
  * since the last refresh (classic incremental view maintenance,
  * Δ(F⋈D) = ΔF⋈D ∪ F⋈ΔD, realized as a key-scoped recompute the same
  * way DerivedAggTable scopes groups).
  *
  * Each [[refresh]] computes the touched FACT keys:
  *  - fact-side churn: keys in `fact.incrementalRead` (upserts and
  *    deletes — a deleted fact's view row must tombstone);
  *  - dim-side churn: fact keys whose fk hits a changed dim key — one
  *    left-semi of the fact snapshot against the (broadcast, churn-sized)
  *    changed-dim-key set. A dim update/delete rewrites exactly those
  *    view rows.
  * then recomputes `project(factScoped ⋈ dimSnapshot)` for those keys
  * only, upserts, and tombstones touched keys with no surviving join row
  * (fact deleted, fk now dangling, or dim row deleted). Cost scales with
  * churn × join fan-in, never table size; at 100 TB the dim-churn probe
  * is the one full-fact-scan term, and it prunes like any semi join
  * (partition/bloom on fk) — the alternative, a fk→factkey inverted
  * index, is what [[UpsertTable]]'s partition-scoped index would provide
  * if fk were a partition column.
  *
  * Soundness contracts (checked where cheap):
  *  - `dim.keyCols` is the dim's FULL key (many-to-one join — at most
  *    one dim row per fact);
  *  - `view.keyCols == fact.keyCols` (one view row per fact row);
  *  - fk MAY change under fact updates (the fact key lands in the
  *    fact-side churn either way);
  *  - `project` must emit `view.keyCols` and must not drop rows beyond
  *    the inner join itself.
  *
  * The checkpoint marker carries both sides' applied commit seqs
  * ("factSeq,dimSeq"), written atomically AFTER the view upsert — a
  * crash between the two replays the window; the replay upserts the
  * same winners (precombine = max head seq): idempotent.
  */
class DerivedJoinTable(fact: UpsertTable, dim: UpsertTable,
    view: UpsertTable, fkCols: Seq[String],
    project: DataFrame => DataFrame,
    markerPath: String) extends Serializable {

  require(fkCols.size == dim.keyCols.size,
    s"fk columns $fkCols must align with dim key ${dim.keyCols}")
  require(view.keyCols.toSet == fact.keyCols.toSet,
    s"view must be keyed by the fact key ${fact.keyCols}")
  require(view.deleteCol.isDefined,
    "view needs a delete column to tombstone vanished join rows")

  /** (fact seq, dim seq) both fully applied; (0,0) = never refreshed.
    * A torn side reads as 0. */
  def checkpoint(spark: SparkSession): (Long, Long) = {
    def seq(s: String) = scala.util.Try(s.toLong).getOrElse(0L)
    MarkerFile.read(spark, markerPath).map(_.trim.split(",")) match {
      case Some(Array(a, b)) => (seq(a), seq(b))
      case _ => (0L, 0L)
    }
  }

  private def writeCheckpoint(spark: SparkSession, f0: Long, d0: Long): Unit =
    MarkerFile.write(spark, markerPath, s"$f0,$d0")

  /** One maintenance step; returns the new checkpoint. */
  def refresh(spark: SparkSession): (Long, Long) = {
    val (sF, sD) = checkpoint(spark)
    val hF = fact.lastCommitSeq(spark)
    val hD = dim.lastCommitSeq(spark)
    if (hF <= sF && hD <= sD) return (sF, sD)
    // bootstrap: until BOTH sides have a first commit nothing can join —
    // no-op WITHOUT advancing, so the pre-existing side's rows replay as
    // churn once the other side appears
    if (hF == 0L || hD == 0L) return (sF, sD)
    if (sF == 0L && sD == 0L) {
      // first real refresh: EVERY joined key is new — churn scoping and
      // tombstones are no-ops, write the full projected join in one pass
      val delCol = view.deleteCol.get
      view.upsert(fullRecompute(spark)
        .withColumn(delCol, lit(false))
        .withColumn(view.precombineCol, lit(math.max(hF, hD))))
      writeCheckpoint(spark, hF, hD)
      return (hF, hD)
    }

    val factKeyCols = fact.keyCols
    // raw-delta churn scope on both sides: the touched KEY set is
    // identical raw vs resolved (changedDistinct scaladoc), so skip the
    // two full-history resolves incrementalRead would pay
    val fromFact =
      if (hF > sF) fact.changedDistinct(spark, sF, factKeyCols)
      else fact.snapshot(spark).where(lit(false))
        .select(factKeyCols.map(col): _*)
    val factSnap = fact.snapshot(spark)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val fromDim =
        if (hD > sD) {
          val dimKeys = dim.changedDistinct(spark, sD, dim.keyCols)
          factSnap.join(broadcast(dimKeys),
              fkCols.zip(dim.keyCols)
                .map { case (f, d) => col(f) <=> col(d) }
                .reduce(_ && _),
              "left_semi")
            .select(factKeyCols.map(col): _*)
        } else factSnap.where(lit(false))
          .select(factKeyCols.map(col): _*)

      val touched = fromFact.unionByName(fromDim).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val factScoped = factSnap
          .join(broadcast(touched), factKeyCols, "left_semi")
        // fresh feeds BOTH the upsert rows and the tombstone anti-join:
        // persisted so the scoped join runs once inside the write job
        // (|churned fact keys| rows — bounded cache)
        val fresh = project(factScoped
            .join(dim.snapshot(spark),
              fkCols.zip(dim.keyCols)
                .map { case (f, d) => col(f) === col(d) }
                .reduce(_ && _),
              "inner"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val aggCols = fresh.columns.filterNot(factKeyCols.contains)
          val dead = aggCols.foldLeft(
              touched.join(fresh.select(factKeyCols.map(col): _*),
                factKeyCols, "left_anti")) { (d, c) =>
            d.withColumn(c, lit(null).cast(fresh.schema(c).dataType))
          }
          val delCol = view.deleteCol.get
          view.upsert(
            fresh.withColumn(delCol, lit(false))
              .unionByName(dead.withColumn(delCol, lit(true)))
              .withColumn(view.precombineCol, lit(math.max(hF, hD))))
          writeCheckpoint(spark, hF, hD)
          (hF, hD)
        } finally { fresh.unpersist(); () }
      } finally { touched.unpersist(); () }
    } finally { factSnap.unpersist(); () }
  }

  /** The parity oracle: what `view.snapshot` must equal (minus
    * bookkeeping columns) after any refresh chain. */
  def fullRecompute(spark: SparkSession): DataFrame =
    project(fact.snapshot(spark)
      .join(dim.snapshot(spark),
        fkCols.zip(dim.keyCols)
          .map { case (f, d) => col(f) === col(d) }
          .reduce(_ && _),
        "inner"))
}
