package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.XxHash64

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media travels as opaque `binary` columns with typed
  * metadata; decode / feature-extract / resize / frame-sample run as
  * batched per-partition transforms.
  *
  * Spark-side plumbing is real — schemas, partition sizing, batch shapes,
  * determinism — while the codec itself is a pluggable `MediaDecoder`;
  * this container has no image/audio libraries, so `StubDecoder` is a
  * clearly-marked deterministic fake standing in for a JNI/javacpp codec.
  *
  * Scale notes: blobs dominate partition bytes, so size partitions by
  * `spark.sql.files.maxPartitionBytes` (not row count) and keep features
  * in a separate narrow table joined by mediaId — never carry pixels past
  * the decode stage.
  */
case class MediaItem(
    mediaId: Long,
    kind: String, // image | audio | video
    bytes: Array[Byte],
    width: Int = 0,
    height: Int = 0,
    sampleRateHz: Int = 0,
    durationMs: Long = 0L)

case class MediaFeatures(
    mediaId: Long,
    kind: String,
    nBytes: Long,
    feature: Array[Float]) // fixed-dim feature vector

trait MediaDecoder extends Serializable {
  /** Decode one blob to a float buffer (pixels / PCM / frames). */
  def decode(item: MediaItem): Array[Float]
  val featureDim: Int
}

/** STUB decoder — deterministic fake. A real deployment replaces this with
  * an image/audio codec; everything around it (batching, schema, joins)
  * is production-shaped. Bytes map to floats via xxhash64 so outputs are
  * reproducible across runs and partitionings. */
class StubDecoder(override val featureDim: Int = 16) extends MediaDecoder {
  override def decode(item: MediaItem): Array[Float] = {
    // ??? real codec goes here (libjpeg/ffmpeg behind JNI); the stub
    // derives a deterministic pseudo-signal from the bytes
    val out = new Array[Float](featureDim)
    var i = 0
    while (i < featureDim) {
      val h = XxHash64.hashBytes(item.bytes, i.toLong)
      out(i) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat
      i += 1
    }
    out
  }
}

object Multimodal {

  /** Batched decode + feature extraction: one decoder instance per
    * partition, items processed in `batchSize` groups (the shape a
    * vectorized codec wants), features emitted as a narrow table. */
  def decodeFeatures(items: Dataset[MediaItem], decoder: MediaDecoder,
      batchSize: Int = 64)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = codec call boundary; a vectorized codec decodes
        // the whole group in one native call
        batch.iterator.map { m =>
          MediaFeatures(m.mediaId, m.kind, m.bytes.length.toLong,
            decoder.decode(m))
        }
      }
    }
  }

  /** Frame-sample stub for video: pick every `everyMs` frame timestamp —
    * plumbing for the (kind="video") path; emits one row per sampled
    * frame offset with the parent id. */
  def frameSamplePlan(items: Dataset[MediaItem], everyMs: Long)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    items.filter(_.kind == "video").toDF()
      .withColumn("frame_ms",
        explode(sequence(lit(0L), greatest(col("durationMs") - 1, lit(0L)),
          lit(math.max(everyMs, 1L)))))
      .select(col("mediaId"), col("frame_ms"))
  }

  /** Perceptual difference-hash (Krawetz's dHash) per media item: the
    * decoder resamples to a 9×8 luma grid (featureDim must be 72) and
    * bit r·8+c of the 64-bit hash is grid(r,c+1) > grid(r,c) — the
    * gradient signature that survives re-encoding, scaling and mild
    * edits, unlike the byte-exact md5 dedup. Decoder-agnostic: the
    * dHash math is real with ANY codec behind [[MediaDecoder]] (with
    * the stub it is deterministic plumbing, like the rest of this
    * module). Near-duplicates then mine with
    * [[graft.operators.Dedup.hammingPairs]] on the hash column — the
    * SAME exact pigeonhole pairing the text SimHash path uses, so the
    * image-dedup pipeline is: decode → dHash → hammingPairs →
    * components, all shared machinery. */
  def dHashes(items: Dataset[MediaItem], decoder: MediaDecoder,
      batchSize: Int = 64)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(decoder.featureDim == 72,
      s"dHash needs a 9x8 grid decoder (featureDim 72), got ${decoder.featureDim}")
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val g = decoder.decode(m)
          var h = 0L
          var r = 0
          while (r < 8) {
            var c = 0
            while (c < 8) {
              if (g(r * 9 + c + 1) > g(r * 9 + c))
                h |= 1L << (r * 8 + c)
              c += 1
            }
            r += 1
          }
          (m.mediaId, m.kind, h)
        }
      }
    }.toDF("mediaId", "kind", "dhash")
  }
}
