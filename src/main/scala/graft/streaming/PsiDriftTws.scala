package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
  ValueState}

/** Streaming PSI drift monitor — the continuous form of
  * [[graft.operators.Drift.psiBins]]: the deployment reality is a
  * REFERENCE distribution frozen at train/deploy time (its equi-depth
  * cuts and bin census are small constants) and a serving-metric stream
  * whose drift you want to see move, not recompute nightly. After every
  * drained event the monitor emits the running PSI of the
  * target-so-far against the frozen reference — the live "has serving
  * traffic left the training distribution" gauge.
  *
  * Parity discipline: bin assignment is the BATCH operator's
  * `ExactQuantiles.binColumn` column expression, applied STATELESSLY on
  * the stream before the stateful fold (shared expressions, not a
  * reimplementation), and each bin's PSI term replays the batch
  * operator's pinned double pipeline exactly — p floored at 1e-6,
  * (p_t−p_r)·ln(p_t/p_r), rounded HALF_UP to e6 per bin BEFORE the sum
  * (`Math.log` is the same libm call Spark's `log` codegen makes;
  * `BigDecimal.decimal(x).setScale(0, HALF_UP)` is Spark's `round`).
  * PsiDriftTwsSpec pins the final point ≡ `Drift.psiBins` on the same
  * events.
  *
  * State bounds: one (bucket → count) map of BUCKETS entries plus a
  * scalar and the watermark-bounded reorder buffer — constants, not
  * stream-sized. The fold is constant-keyed because PSI is one global
  * number; per-feature deployments shard by feature key, which is this
  * processor under a feature key. Per-event cost is O(buckets)
  * (buckets ≤ ~20 in practice). */
object PsiDriftTws {

  case class ValueEvent(tsMs: Long, tieBreak: Long, value: Long)
  private[streaming] case class BinnedEvent(tsMs: Long, tieBreak: Long,
      bucket: Int)
  case class DriftPoint(tsMs: Long, tieBreak: Long, bucket: Int,
      nTgt: Long, psiE6: Long, emittedAt: java.sql.Timestamp)

  private[streaming] def psiE6(refCounts: Map[Int, Long], nRef: Long,
      tgtCounts: scala.collection.Map[Int, Long], nTgt: Long): Long = {
    val bins = refCounts.keySet ++ tgtCounts.keySet
    bins.toSeq.map { b =>
      val pr = math.max(refCounts.getOrElse(b, 0L).toDouble / nRef.toDouble,
        1e-6)
      val pt = math.max(tgtCounts.getOrElse(b, 0L).toDouble / nTgt.toDouble,
        1e-6)
      BigDecimal.decimal((pt - pr) * math.log(pt / pr) * 1000000.0)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
  }

  class DriftProcessor(refCounts: Map[Int, Long], nRef: Long)
      extends WatermarkOrderedFold[BinnedEvent, DriftPoint] {
    @transient private var counts: MapState[Int, Long] = _
    @transient private var nTgt: ValueState[Long] = _

    override protected def initState(): Unit = {
      counts = getHandle.getMapState[Int, Long]("counts",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)
      nTgt = getHandle.getValueState[Long]("nTgt", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[BinnedEvent]
    override protected def eventTimeMs(e: BinnedEvent): Long = e.tsMs

    override protected def fold(key: String, due: Seq[BinnedEvent],
        emittedAt: java.sql.Timestamp): Seq[DriftPoint] = {
      val tgt = scala.collection.mutable.Map.empty[Int, Long]
      counts.iterator().foreach { case (b, c) => tgt(b) = c }
      var n = if (nTgt.exists()) nTgt.get() else 0L
      val out = due.sortBy(e => (e.tsMs, e.tieBreak)).map { e =>
        tgt(e.bucket) = tgt.getOrElse(e.bucket, 0L) + 1L
        n += 1
        DriftPoint(e.tsMs, e.tieBreak, e.bucket, n,
          psiE6(refCounts, nRef, tgt, n), emittedAt)
      }
      tgt.foreach { case (b, c) => counts.updateValue(b, c) }
      nTgt.update(n)
      out
    }
  }

  /** Monitor a metric stream against a frozen reference sample. The
    * reference census is computed here once (bounded: `buckets` rows)
    * and rides the processor closure — no join, no shuffle. */
  def monitor(values: Dataset[ValueEvent], ref: DataFrame,
      refValue: org.apache.spark.sql.Column,
      refRowKey: org.apache.spark.sql.Column, buckets: Int,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[DriftPoint] = {
    import spark.implicits._
    val cuts = graft.operators.ExactQuantiles.equiDepthCuts(
      ref, refValue, refRowKey, buckets)
    val refCounts = ref
      .select(graft.operators.ExactQuantiles.binColumn(cuts, refValue)
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nRef = refCounts.values.sum
    require(nRef > 0L, "PsiDriftTws: empty reference sample")
    values.toDF()
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("bucket",
        graft.operators.ExactQuantiles.binColumn(cuts, col("value")))
      .select(col("tsMs"), col("tieBreak"), col("bucket"), col("eventTime"))
      .as[BinnedEvent]
      .groupByKey(_ => "drift")
      .transformWithState(new DriftProcessor(refCounts, nRef),
        "emittedAt", OutputMode.Append())
  }
}
