package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, ValueState}

/** Streaming Holt double-exponential smoothing — the continuous form of
  * [[graft.operators.Trend.holtLinear]]: each key carries a live
  * (level, trend) pair and every processed observation emits the updated
  * one-step forecast, the online "where is this metric heading" readout.
  *
  * Order discipline: the Holt recursion is a left fold, so rows wait in
  * the [[WatermarkOrderedFold]] reorder buffer until the watermark passes
  * them and fold in (orderKey, y) order — the same total order batch
  * `holtLinear` sorts by, which is what makes streaming ≡ batch EXACT:
  * all arithmetic is the identical pure-BIGINT integer-ratio recursion
  * with truncating division per step (HoltTwsSpec pins final state
  * against the batch operator bit-for-bit).
  *
  * State per key: two longs + a fold counter + the in-flight reorder
  * buffer, pruned on every drain — bounded by the watermark delay,
  * independent of stream length. Emission: one [[Forecast]] per
  * processed observation with the fold sequence for downstream dedup;
  * `emittedAt` carries the release time so further tws stages can chain.
  */
object HoltTws {

  case class Obs(key: String, tsMs: Long, y: Long)
  case class Forecast(key: String, tsMs: Long, y: Long, level: Long,
      trend: Long, forecastNext: Long, seq: Long,
      emittedAt: java.sql.Timestamp)

  private case class St(level: Long, trend: Long, n: Long)

  class Processor(alphaNum: Long, betaNum: Long, den: Long)
      extends WatermarkOrderedFold[Obs, Forecast] {
    @transient private var st: ValueState[St] = _

    override protected def initState(): Unit =
      st = getHandle.getValueState[St]("st", Encoders.product[St],
        TTLConfig.NONE)

    override protected def rowEncoder = Encoders.product[Obs]
    override protected def eventTimeMs(o: Obs): Long = o.tsMs

    /** Truncating integer division — Spark SQL `div` / Java `/`. */
    @inline private def tdiv(a: Long, b: Long): Long = a / b

    override protected def fold(key: String, due: Seq[Obs],
        emittedAt: java.sql.Timestamp): Seq[Forecast] = {
      var cur = if (st.exists()) st.get() else St(0L, 0L, 0L)
      val out = due.sortBy(o => (o.tsMs, o.y)).map { o =>
        cur =
          if (cur.n == 0L) St(o.y, 0L, 1L)
          else {
            val l = tdiv(alphaNum * o.y +
              (den - alphaNum) * (cur.level + cur.trend), den)
            val b = tdiv(betaNum * (l - cur.level) +
              (den - betaNum) * cur.trend, den)
            St(l, b, cur.n + 1)
          }
        Forecast(o.key, o.tsMs, o.y, cur.level, cur.trend,
          cur.level + cur.trend, cur.n, emittedAt)
      }
      st.update(cur)
      out
    }
  }

  /** Smooth a keyed observation stream. Output watermark rides
    * `emittedAt` for chaining. */
  def smooth(obs: Dataset[Obs], watermarkDelay: String, alphaNum: Int,
      betaNum: Int, den: Int)(
      implicit spark: SparkSession): Dataset[Forecast] = {
    require(den > 0 && alphaNum > 0 && alphaNum <= den &&
      betaNum >= 0 && betaNum <= den)
    import spark.implicits._
    obs
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Obs]
      .groupByKey(_.key)
      .transformWithState(
        new Processor(alphaNum.toLong, betaNum.toLong, den.toLong),
        "emittedAt", OutputMode.Append())
  }
}
