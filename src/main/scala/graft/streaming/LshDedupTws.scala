package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, ValueState}

/** Streaming MinHash-LSH near-duplicate monitor (r15 verdict item 5) —
  * the continuous form of [[graft.operators.Dedup.minHashLshPairs]]'s
  * candidate blocking: an ingestion pipeline watches its document
  * stream and emits, after EVERY document, whether the doc collided
  * with an earlier document in any LSH band bucket plus the running
  * duplicate-rate trajectory — the live "how much of today's crawl is
  * near-dup" gauge, instead of waiting for the nightly batch dedup.
  *
  * Signature and bucketing are the BATCH operator's shared column
  * expressions ([[graft.operators.Dedup.minHashSigCols]] /
  * [[graft.operators.Dedup.bandStructCols]]), computed statelessly on
  * the stream — so "collides" means exactly what the batch LSH join
  * means, and LshDedupTwsSpec pins stream ≡ batch on the same events.
  *
  * Two chained `transformWithState` stages (the [[FlatChainTws]] rule;
  * stage 2's event time is stage 1's `emittedAt` release time):
  *
  *  1. keyed by (band, bucket): doc-band rows buffer until the
  *     watermark passes them (the [[WatermarkOrderedFold]] rule), then fold in
  *     (tsMs, tieBreak, docId) order against one boolean per bucket —
  *     "has any earlier doc landed here" — emitting a [[BucketHit]]
  *     per row. Bucket-parallel: the shuffle key is the bucket hash,
  *     so the census shards across the cluster.
  *  2. keyed by the constant census: a doc's `bands` hits share one
  *     release time, drain together, and fold in the same total order
  *     into the running (nDocs, nDups) census — one [[DedupPoint]] per
  *     doc with its collision verdict and the truncating-e6 dup rate.
  *
  * State bounds: stage 1 holds one boolean per OCCUPIED bucket (distinct-
  * content grain — the same state any streaming dedup carries; bound it
  * in deployment with state TTL at the dedup-window retention) plus the
  * watermark-bounded reorder buffer; stage 2 holds two scalars and its
  * reorder buffer. Docs with no shingles (shorter than the gram width)
  * carry no signature in the batch path and are skipped here too. */
object LshDedupTws {

  case class DocEvent(docId: Long, tsMs: Long, tieBreak: Long, text: String)
  case class BucketRow(bucketKey: String, docId: Long, tsMs: Long,
      tieBreak: Long)
  case class BucketHit(docId: Long, tsMs: Long, tieBreak: Long,
      hadEarlier: Boolean, emittedAt: java.sql.Timestamp)
  case class DedupPoint(docId: Long, tsMs: Long, tieBreak: Long,
      isDup: Boolean, nDocs: Long, nDups: Long, dupRateE6: Long,
      emittedAt: java.sql.Timestamp)

  /** Stage 1: per-bucket watermark-ordered occupancy fold. */
  class BucketProcessor extends WatermarkOrderedFold[BucketRow, BucketHit] {
    @transient private var occupied: ValueState[Boolean] = _

    override protected def initState(): Unit =
      occupied = getHandle.getValueState[Boolean]("occupied",
        Encoders.scalaBoolean, TTLConfig.NONE)

    override protected def rowEncoder = Encoders.product[BucketRow]
    override protected def eventTimeMs(r: BucketRow): Long = r.tsMs

    override protected def fold(key: String, due: Seq[BucketRow],
        emittedAt: java.sql.Timestamp): Seq[BucketHit] = {
      var occ = occupied.exists() && occupied.get()
      val out = due.sortBy(r => (r.tsMs, r.tieBreak, r.docId)).map { r =>
        val hit = BucketHit(r.docId, r.tsMs, r.tieBreak, occ, emittedAt)
        occ = true
        hit
      }
      occupied.update(occ)
      out
    }
  }

  /** Stage 2: global fold of per-band verdicts into the dup census. */
  class CensusProcessor(bands: Int)
      extends WatermarkOrderedFold[BucketHit, DedupPoint] {
    @transient private var nDocs: ValueState[Long] = _
    @transient private var nDups: ValueState[Long] = _

    override protected def initState(): Unit = {
      nDocs = getHandle.getValueState[Long]("nDocs", Encoders.scalaLong,
        TTLConfig.NONE)
      nDups = getHandle.getValueState[Long]("nDups", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[BucketHit]
    override protected def eventTimeMs(h: BucketHit): Long =
      h.emittedAt.getTime

    override protected def fold(key: String, due: Seq[BucketHit],
        emittedAt: java.sql.Timestamp): Seq[DedupPoint] = {
      var n = if (nDocs.exists()) nDocs.get() else 0L
      var dups = if (nDups.exists()) nDups.get() else 0L
      val out = due.groupBy(h => (h.tsMs, h.tieBreak, h.docId))
        .toSeq.sortBy(_._1)
        .map { case ((ts, tie, id), hits) =>
          // a doc's band rows share one release time, so they drain in
          // one trigger; anything else is a chaining bug — fail loudly
          require(hits.size == bands,
            s"doc $id drained ${hits.size} of $bands band hits")
          val isDup = hits.exists(_.hadEarlier)
          n += 1
          if (isDup) dups += 1
          DedupPoint(id, ts, tie, isDup, n, dups,
            dups * 1000000L / n, emittedAt)
        }
      nDocs.update(n)
      nDups.update(dups)
      out
    }
  }

  /** Monitor a document stream: one [[DedupPoint]] per signed doc. */
  def monitor(docs: Dataset[DocEvent], n: Int, numHashes: Int, bands: Int,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[DedupPoint] = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.WordShingles.register(spark)
    val withSig = docs.toDF()
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("__arr",
        graft.functions.WordShingles.wordShingleHashes(col("text"), n))
      .where(size(col("__arr")) > 0) // batch parity: shingle-less docs skip
    val sig = withSig.select(col("docId") +: col("tsMs") +:
      col("tieBreak") +: col("eventTime") +:
      graft.operators.Dedup.minHashSigCols(col("__arr"), numHashes): _*)
    val rows = sig
      .withColumn("__band", explode(array(
        graft.operators.Dedup.bandStructCols(numHashes, bands): _*)))
      .select(
        concat(col("__band.band"), lit(":"), col("__band.bucket"))
          .as("bucketKey"),
        col("docId"), col("tsMs"), col("tieBreak"), col("eventTime"))
    val hits = rows
      .as[BucketRow]
      .groupByKey(_.bucketKey)
      .transformWithState(new BucketProcessor, "emittedAt",
        OutputMode.Append())
    hits
      .groupByKey(_ => "census")
      .transformWithState(new CensusProcessor(bands), "emittedAt",
        OutputMode.Append())
  }
}
