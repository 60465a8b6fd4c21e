package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Thin streaming wrappers where Spark's built-ins already carry the
  * reference semantics — kept as named operators so the job wiring reads
  * like the reference's DAG (SURVEY §2).
  */
object StreamOps {

  /** Replace TIMESTAMP_NTZ with session-TZ TIMESTAMP throughout a schema
    * (recursing into structs/arrays/maps). An upstream table written by
    * another engine with `isAdjustedToUTC=0` otherwise injects NTZ columns
    * into a restarted stream's schema, and every epoch/watermark function
    * downstream is LTZ-only — the round-8 environment shift, applied to
    * streaming. Parquet NTZ data reads fine into an LTZ column (the
    * pre-3.4 behavior); under the UTC session TZ the values are identical.
    */
  def ntzFree(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampNTZType => TimestampType
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = ntzFree(f.dataType))))
      case a: ArrayType => a.copy(elementType = ntzFree(a.elementType))
      case m: MapType =>
        m.copy(keyType = ntzFree(m.keyType), valueType = ntzFree(m.valueType))
      case other => other
    }
  }

  def ntzFree(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    ntzFree(s: org.apache.spark.sql.types.DataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** KeepFirstRow (reference D1, P:common/functions/KeepFirstRow.java:14-48):
    * keyed first-wins dedupe whose state is dropped once the watermark
    * passes — exactly `dropDuplicatesWithinWatermark`. `tsCol` must be a
    * timestamp column. */
  def keepFirstRows(df: DataFrame, keys: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** SlidingHourlyCounter-style windowed counts (reference A2):
    * event-time sliding windows with watermark; run in update mode so
    * emissions refresh as buckets fill (the reference emits every
    * `emitWindow`; micro-batches are Spark's emission cadence). */
  def slidingCounts(df: DataFrame, keys: Seq[String], tsCol: String,
      watermarkDelay: String, size: String, slide: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), size, slide) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((Seq(unix_millis(col("window.start")).as("window_start_ms"),
        col("n")) ++ keys.map(col)): _*)

  /** A5 streaming form (reference top-query frequency window,
    * P:job/counter/CounterJob.java:399-456): sliding-window counts per
    * query hash, thresholded to the hot set. Downstream consumers gate on
    * it with [[SeenGate]] (the reference's RightSeenOutput wiring) or a
    * per-batch broadcast join. */
  def topKeyStream(df: DataFrame, keyCol: String, tsCol: String,
      watermarkDelay: String, size: String, slide: String,
      minCount: Long): DataFrame =
    slidingCounts(df, Seq(keyCol), tsCol, watermarkDelay, size, slide)
      .where(col("n") >= minCount)
      .select(col(keyCol), col("window_start_ms"), col("n"))

  /** Session windows (reference J7 gap semantics) in streaming form via
    * Spark's native session_window.
    *
    * Boundary note: Spark merges events strictly INSIDE the gap
    * (diff < gap) while the batch gaps-and-islands form merges at
    * diff == gap too; with integer-millisecond event time, passing
    * `gap + 1 ms` here makes the two identical. */
  def sessionCounts(df: DataFrame, keys: Seq[String], tsCol: String,
      watermarkDelay: String, gap: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select((Seq(unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events")) ++ keys.map(col)): _*)

  /** Streaming J7 with the COLLECTED payload (the FlatResponseInsertion
    * record shape, P:job/join/FlatOutputJob.java:1016-1025): per session,
    * the sorted member-id lists of both tagged sides. Append mode — a
    * session's record emits once, when the watermark closes it; state per
    * open session is its member list, the same bound the reference's
    * window cogroup holds. `isLeftCol` tags the side (1 = left). */
  def sessionPayloads(df: DataFrame, keys: Seq[String], tsCol: String,
      idCol: String, isLeftCol: String, watermarkDelay: String,
      gap: String): DataFrame = {
    def ids(isLeft: Int) = array_join(transform(
      sort_array(collect_list(when(col(isLeftCol) === isLeft,
        struct(unix_millis(col(tsCol)).as("t"), col(idCol).cast("long").as("i"))))),
      x => x.getField("i").cast("string")), ",")
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(min(unix_millis(col(tsCol))).as("session_start_ms"),
        sum(col(isLeftCol)).cast("long").as("n_left"),
        (count(lit(1)) - sum(col(isLeftCol))).cast("long").as("n_right"),
        ids(1).as("left_ids"), ids(0).as("right_ids"))
      .select((keys.map(col) ++ Seq(col("session_start_ms"), col("n_left"),
        col("n_right"), col("left_ids"), col("right_ids"))): _*)
  }
}
