package graft

import org.apache.spark.sql.DataFrame

/** Lineage-truncation seam for every iterative operator (r16, verdict
  * item: reliable checkpointing).
  *
  * Iterative operators (graph fixed points, EM loops, quantile
  * brackets) truncate their per-round plans with `localCheckpoint`,
  * whose blocks live on executors WITHOUT lineage: cheap and exactly
  * right in `local[*]`, but on a real cluster an executor loss
  * mid-query kills the job. This seam keeps the local default and
  * routes to the RELIABLE `checkpoint()` — files under the configured
  * checkpoint dir, surviving executor loss — whenever the session has
  * one (`SparkContext.setCheckpointDir` / `spark.checkpoint.dir`),
  * which is how a 100 TB deployment should run. Behavior in this
  * repo's mains and tests (no checkpoint dir set) is byte-identical to
  * the previous direct `localCheckpoint` calls.
  *
  * Usage: `import graft.Checkpoints.TruncateOps` and call
  * `df.truncate(eager)` wherever `df.localCheckpoint(eager)` was
  * called.
  */
object Checkpoints {

  /** True when the session has a reliable checkpoint directory. */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    /** Truncate lineage: `localCheckpoint(eager)` without a checkpoint
      * dir; with one, the reliable `checkpoint`, always eager. The eager
      * checkpoint job is the sub-plan's only evaluation (Spark writes the
      * files straight off the RDD). A lazy reliable checkpoint would run
      * a narrow sub-plan twice: once in the first action on the result,
      * and again in the checkpoint job that follows it. */
    def truncate(eager: Boolean = true): DataFrame =
      if (reliable(df)) df.checkpoint(eager = true)
      else df.localCheckpoint(eager)
  }
}
