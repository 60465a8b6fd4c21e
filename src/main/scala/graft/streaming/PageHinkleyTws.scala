package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, ValueState}

/** Streaming Page–Hinkley change detector — the continuous form of the
  * q305 batch gate: each key carries the live sequential-test state
  * (count, running sum, cumulative deviation U, running min of U) and
  * every processed observation emits PH = U − min U with an alarm
  * against the ONLINE threshold λ = 2× the running mean (the batch gate
  * scores retrospectively against the final mean; a detector that needs
  * the future isn't a detector — the deviation/PH arithmetic is
  * IDENTICAL and PageHinkleyTwsSpec pins it against the batch windows
  * step for step).
  *
  * Order discipline: the recursion is a left fold, so rows wait in the
  * [[WatermarkOrderedFold]] reorder buffer until the watermark passes
  * them and fold in (tsMs, x) order — the same total order the batch
  * windows sort by. All arithmetic is BIGINT with the same truncating
  * division (running mean = cum·1e6 div n on non-negative cums).
  *
  * State per key: four longs + the watermark-bounded reorder buffer.
  * Emission: one [[Ph]] per observation with the fold sequence;
  * `emittedAt` rides the release watermark so tws stages chain.
  */
object PageHinkleyTws {

  case class Obs(key: String, tsMs: Long, x: Long)
  case class Ph(key: String, tsMs: Long, x: Long, n: Long, u: Long,
      ph: Long, alarm: Boolean, seq: Long, emittedAt: java.sql.Timestamp)

  private case class St(n: Long, cumX: Long, u: Long, minU: Long)

  class Processor extends WatermarkOrderedFold[Obs, Ph] {
    @transient private var st: ValueState[St] = _

    override protected def initState(): Unit =
      st = getHandle.getValueState[St]("st", Encoders.product[St],
        TTLConfig.NONE)

    override protected def rowEncoder = Encoders.product[Obs]
    override protected def eventTimeMs(o: Obs): Long = o.tsMs

    override protected def fold(key: String, due: Seq[Obs],
        emittedAt: java.sql.Timestamp): Seq[Ph] = {
      var cur = if (st.exists()) st.get() else St(0L, 0L, 0L, Long.MaxValue)
      val out = due.sortBy(o => (o.tsMs, o.x)).map { o =>
        val n = cur.n + 1
        val cumX = cur.cumX + o.x
        val mean = cumX * 1000000L / n // non-negative: trunc ≡ floor
        val u = cur.u + (o.x * 1000000L - mean)
        val minU = math.min(cur.minU, u)
        cur = St(n, cumX, u, minU)
        val ph = u - minU
        Ph(o.key, o.tsMs, o.x, n, u, ph, ph > 2L * mean, n, emittedAt)
      }
      st.update(cur)
      out
    }
  }

  /** Detect on a keyed observation stream (x must be non-negative —
    * the running-mean division is only trunc≡floor there; shift
    * upstream if a metric can go negative). */
  def detect(obs: Dataset[Obs], watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[Ph] = {
    import spark.implicits._
    obs
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Obs]
      .groupByKey(_.key)
      .transformWithState(new Processor, "emittedAt", OutputMode.Append())
  }
}
