package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J6: merge full entity details back onto tiny id streams, TRACKING what
  * could not be merged (reference AbstractMergeDetails.java:35-466 — fill
  * in details per referenced id, buffer incomplete events for
  * missingEntityDelay, emit still-incomplete ones as
  * DroppedMergeDetailsEvent on a side output).
  *
  * Batch rendering: the missingEntityDelay wait is vacuous — every detail
  * that will ever arrive is in the details table — so "incomplete after
  * the delay" becomes "required detail absent after the left join". Each
  * row carries a `missing` label list (the MissingEvent enum names) and a
  * kept/dropped `status`; callers split the dropped side channel with a
  * `where` (one plan, no second scan — Spark's analogue of the tagged
  * side output).
  *
  * Scale: each detail source is one equi-join on its id — broadcast when
  * the details table is dimension-sized, shuffle-hash otherwise; no
  * range conditions, no state.
  */
object MergeDetails {

  /** One detail source: `details` must carry `refCol` (the id the tiny
    * stream references) plus uniquely-named payload columns.
    * `label` mirrors the reference's MissingEvent enum values; the detail
    * is required on the rows where `requiredWhen` holds. */
  final case class DetailSource(details: DataFrame, refCol: String,
      label: String, requiredWhen: Column = lit(true))

  /** Left-join every source onto `tiny`, then label rows by which
    * REQUIRED details are missing: `missing` = comma-joined labels
    * (empty = fully merged), `status` = ok | dropped. A NULL reference id
    * (the tiny event never resolved one) counts as missing, like the
    * reference's empty-id path. */
  def mergeWithDropTracking(tiny: DataFrame,
      sources: Seq[DetailSource]): DataFrame = {
    val joined = sources.foldLeft(tiny) { (acc, s) =>
      acc.join(s.details.withColumn(s"__has_${s.label}", lit(1)),
        Seq(s.refCol), "left")
    }
    val missingLabels = sources.map(s =>
      when(col(s"__has_${s.label}").isNull && s.requiredWhen, lit(s.label)))
    joined
      .withColumn("missing", concat_ws(",", missingLabels: _*))
      .withColumn("status",
        when(col("missing") === "", lit("ok")).otherwise(lit("dropped")))
      .drop(sources.map(s => s"__has_${s.label}"): _*)
  }
}
