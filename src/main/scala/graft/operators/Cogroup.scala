package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J7/J8/D3 batch forms.
  *
  *  - `sessionCogroup`: full-outer cogroup of two tagged streams per key
  *    within event-time sessions (reference FlatResponseInsertion cogroup,
  *    P:job/join/FlatOutputJob.java:998-1044 — impressions+actions per
  *    insertion in 1-day-gap session windows).
  *  - `attachLatestExcluding`: up to K most recent prior right-side events
  *    attached to each left event within a lookback window (reference
  *    AddLatestImpressions, P:common/functions/AddLatestImpressions
  *    .java:45-386 — ≤25 impressions, 6h session).
  *  - `redundantRepoint`: collapse repeated right-side events per
  *    (key, content) onto the first ("canonical") and re-point referencing
  *    rows (reference ReduceRedundantTinyImpressions,
  *    P:common/functions/redundantimpression/ReduceRedundantTinyImpressions
  *    .java:38-249).
  */
object Cogroup {

  /** [[sessionPayloadCogroup]] without the id lists (column pruning drops
    * their collection). Output: keys, session_start_ms, n_left, n_right. */
  def sessionCogroup(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsMs: String, gapMs: Long, leftTie: String, rightTie: String): DataFrame =
    sessionPayloadCogroup(left, right, keys, tsMs, gapMs, leftTie, rightTie)
      .drop("left_ids", "right_ids")

  /** Tag + union + sessionize + pivot, one shuffle: per session its start,
    * the side counts and the reference's full payload, the COLLECTED
    * left/right id lists (FlatResponseInsertion = insertion + repeated
    * impression + repeated action records,
    * P:job/join/FlatOutputJob.java:1016-1025), sorted by (ts, id) for a
    * total order and serialized comma-joined for cross-engine compare. The
    * lists are bounded by session size (the reference holds the same
    * per-session state in its window cogroup). Output: keys,
    * session_start_ms, n_left, n_right, left_ids, right_ids. */
  def sessionPayloadCogroup(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsMs: String, gapMs: Long, leftTie: String, rightTie: String,
      tieType: String = "long"): DataFrame = {
    val l = left.select((keys.map(col) :+ col(tsMs) :+
      col(leftTie).cast(tieType).as("__tie") :+ lit(1).as("__isLeft")): _*)
    val r = right.select((keys.map(col) :+ col(tsMs) :+
      col(rightTie).cast(tieType).as("__tie") :+ lit(0).as("__isLeft")): _*)
    def ids(isLeft: Int): Column = array_join(transform(
      sort_array(collect_list(when(col("__isLeft") === isLeft,
        struct(col(tsMs).as("t"), col("__tie").as("i"))))),
      x => x.getField("i").cast("string")), ",")
    Sessionize.assignSessions(l.unionByName(r), keys, tsMs, gapMs, "__tie")
      .groupBy((keys.map(col) :+ col("__session")): _*)
      .agg(min(col(tsMs)).as("session_start_ms"),
        sum(col("__isLeft")).cast("long").as("n_left"),
        (count(lit(1)) - sum(col("__isLeft"))).cast("long").as("n_right"),
        ids(1).as("left_ids"), ids(0).as("right_ids"))
      .drop("__session")
  }

  /** Up to K most recent prior right rows attached to each left row, with
    * the reference's full exclusion semantics
    * (P:common/functions/AddLatestImpressions.java:355-374): for each left
    * (action) row at time `at`,
    *   1. candidate right (impression) rows have ts in [at − lookback, at];
    *   2. rows whose `contentCol` appears among same-key left rows with
    *      ts <= at are EXCLUDED (already-actioned content — the anchor
    *      itself actions its own content, so self-content drops too);
    *   3. duplicates by content keep only the newest (seenContentIds.add
    *      walking newest→oldest in the reference);
    *   4. the newest `k` survivors emit (maxOutputImpressions = 25 in
    *      production; state cap 30 is a streaming-only concern).
    * Ties broken by id for a total order. All three joins are equi-key +
    * bounded range — no cross products; the exclusion anti-join keys on
    * (keys, content), so skew only arises on genuinely hot content. */
  def attachLatestExcluding(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsMs: String, rightTsMs: String, leftId: String, rightId: String,
      contentCol: String, k: Int, lookbackMs: Long): DataFrame = {
    val l = left.as("l"); val r = right.as("r")
    val keyCond = keys.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _)
    val range = col(s"r.$rightTsMs") <= col(s"l.$leftTsMs") &&
      col(s"r.$rightTsMs") >= col(s"l.$leftTsMs") - lookbackMs
    val cand = l.join(r, keyCond && range, "inner")
      .select((keys.map(c => col(s"l.$c").as(c)) :+
        col(s"l.$leftId").as(leftId) :+ col(s"l.$leftTsMs").as(leftTsMs) :+
        col(s"r.$contentCol").as("content_id") :+
        col(s"r.$rightId").as(rightId) :+ col(s"r.$rightTsMs").as(rightTsMs)): _*)
    // newest impression per (anchor, content)
    val wc = Window.partitionBy(col(leftId), col("content_id"))
      .orderBy(col(rightTsMs).desc, col(rightId).desc)
    val newest = cand.withColumn("__rnc", row_number().over(wc))
      .where(col("__rnc") === 1).drop("__rnc")
    // drop content the user actioned at-or-before the anchor action
    val acts = left.select((keys.map(c => col(c).as(s"__a_$c")) :+
      col(contentCol).as("__a_content") :+ col(leftTsMs).as("__a_ts")): _*)
    val keyCondA = keys.map(c => col(c) === col(s"__a_$c")).reduce(_ && _)
    val kept = newest.join(acts,
      keyCondA && col("__a_content") === col("content_id") &&
        col("__a_ts") <= col(leftTsMs), "left_anti")
    val w = Window.partitionBy(col(leftId))
      .orderBy(col(rightTsMs).desc, col(rightId).desc)
    kept.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Canonicalization map: every event re-points to the first event of its
    * (keys) group by (ts, id). Output = input cols + canonical_id. */
  def redundantRepoint(events: DataFrame, keys: Seq[String], id: String,
      tsMs: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsMs), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.withColumn("canonical_id", first(col(id)).over(w))
  }

  /** D3 second half (reference ReduceRedundantTinyImpressions
    * .java:120-180: actions referencing a redundant impression re-point to
    * the kept one): rewrite `refs.refCol` through the canonical map that
    * [[redundantRepoint]] produced. Rows whose reference is unknown to the
    * map keep their original id (the reference buffers those as
    * out-of-order actions and forwards them once the impression arrives —
    * in batch every impression is present, so "unknown" means genuinely
    * foreign). One equi-join; broadcast when the canonical map is small. */
  def repointReferences(refs: DataFrame, canonicalMap: DataFrame, id: String,
      refCol: String): DataFrame = {
    val m = canonicalMap.select(col(id).as(refCol), col("canonical_id"))
    refs.join(m, Seq(refCol), "left")
      .withColumn(s"canonical_$refCol", coalesce(col("canonical_id"), col(refCol)))
      .drop("canonical_id")
  }
}
