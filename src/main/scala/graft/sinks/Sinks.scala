package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Output sinks (SURVEY §2.2).
  *
  *  - K1: dt/hour-partitioned parquet, bucketed by the event-api timestamp
  *    (reference S3FileOutput + DateHourBucketAssigner) — exactly-once in
  *    streaming via the file-sink commit log.
  *  - K3: Redis command delivery through foreachBatch with a pluggable
  *    client; HSETs are idempotent so at-least-once is safe (reference
  *    RedisSink.java:26-298).
  */
object Sinks {

  /** Add dt=YYYY-MM-dd / hour=HH partition columns from an epoch-ms col. */
  def withDtHour(df: DataFrame, tsMsCol: String): DataFrame =
    df.withColumn("dt", date_format(timestamp_millis(col(tsMsCol)), "yyyy-MM-dd"))
      .withColumn("hour", date_format(timestamp_millis(col(tsMsCol)), "HH"))

  /** K1 batch form. */
  def writePartitioned(df: DataFrame, tsMsCol: String, path: String): Unit =
    withDtHour(df, tsMsCol).write.mode("append")
      .partitionBy("dt", "hour").parquet(path)

  /** K1 streaming form — returns the configured writer so callers pick the
    * trigger/checkpoint. */
  def streamPartitioned(df: DataFrame, tsMsCol: String, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    withDtHour(df, tsMsCol).writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .partitionBy("dt", "hour")

  /** Minimal client interface for the K3 command sink; production wires a
    * real Redis client, tests capture commands. */
  trait CommandClient extends Serializable {
    def execute(cmd: String, key: String, field: String, value: String, ttlSec: Long): Unit
  }

  /** K3 batch form: deliver a command frame (cmd,key,field,value,ttlSec).
    *
    * `maxPerSecondPerPartition > 0` paces delivery (A12: the reference
    * spreads backfill writes over timers so a bulk replay can't saturate
    * the feature store, CounterJob.java:501-567 + FlushStatus timers) —
    * cluster-wide QPS ≈ partitions × rate, so size the cap from the
    * store's budget divided by write parallelism. */
  def deliverCommands(commands: DataFrame, client: CommandClient,
      maxPerSecondPerPartition: Long = 0L): Unit =
    commands.foreachPartition { (rows: Iterator[Row]) =>
      var sent = 0L
      var windowStartNs = System.nanoTime()
      rows.foreach { r =>
        if (maxPerSecondPerPartition > 0 && sent >= maxPerSecondPerPartition) {
          val elapsedNs = System.nanoTime() - windowStartNs
          if (elapsedNs < 1000000000L)
            Thread.sleep((1000000000L - elapsedNs) / 1000000L + 1)
          sent = 0L
          windowStartNs = System.nanoTime()
        }
        client.execute(r.getAs[String]("cmd"), r.getAs[String]("key"),
          r.getAs[String]("field"), r.getAs[String]("value"),
          r.getAs[Long]("ttlSec"))
        sent += 1
      }
    }

  /** A12 output range gate: during backfill only commands whose event time
    * falls in [startMs, stopMs] reach the store (reference
    * CounterJob.java:569-583). Expects a `tsMs` column on the frame. */
  def backfillGate(commands: DataFrame, startMs: Long, stopMs: Long): DataFrame =
    commands.where(col("tsMs") >= startMs && col("tsMs") <= stopMs)

  /** K3 streaming form: `commands` must be a streaming frame; each
    * micro-batch keeps only the LATEST-EVENT value per (key, field) — the
    * reference's backfill buffering collapses writes the same way
    * (CounterJob.java:501-567). Latest means event time: frames carrying
    * `tsMs` order by it (value as the deterministic tie-break); frames
    * without an event-time column fall back to value order, which is only
    * correct for monotone counters — non-monotone streams (anything that
    * re-emits a shrunken value, e.g. TTL decrements) MUST carry `tsMs`
    * (any per-(key,field) monotone long: event time or an emission
    * sequence). Value ordering is numeric-first: `value` is a string, and
    * a lexicographic compare would pick "9" over "10" whenever a count
    * crosses a digit-length boundary. */
  def streamCommands(commands: DataFrame, client: CommandClient,
      checkpoint: String): DataStreamWriter[Row] =
    commands.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.expressions.Window
        val numValue = expr("try_cast(value AS decimal(38,6))").desc_nulls_last
        val ord =
          if (batch.columns.contains("tsMs"))
            Seq(col("tsMs").desc, numValue, col("value").desc)
          else Seq(numValue, col("value").desc)
        val w = Window.partitionBy(col("key"), col("field")).orderBy(ord: _*)
        deliverCommands(
          batch.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__rn"), client)
      }

  /** K5 CSV SQL sink (reference exports counter/metrics frames as CSV
    * alongside Kinesis; Kinesis itself is a format/connector swap on the
    * streaming writer, like Kafka — no connector in this container). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** K5 streaming CSV form. */
  def streamCsv(df: DataFrame, path: String, checkpoint: String,
      header: Boolean = true): DataStreamWriter[Row] =
    df.writeStream.format("csv")
      .option("path", path).option("checkpointLocation", checkpoint)
      .option("header", header.toString)
}
