package graft.jobs

import graft.SparkSpec
import graft.schema.{JoinSideEvent, JoinedPair}
import graft.sources.{FakeLogGenerator, LogRequestSplit}
import graft.streaming.InferredJoin
import org.apache.spark.sql.functions._

/** The join job's core as a stream: parquet file stream → envelope split
  * → inferred join (`InferredJoin.joinStream`, on `transformWithState`)
  * → memory sink, compared against the identical batch run — the
  * readStream/writeStream counterpart of the reference's streams-as-batch
  * equivalence. FlatJobParitySpec compares the whole job's two forms. */
class StreamingFlatSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  // split batch-side to define the tiny join input (same code path the
  // streaming reads use below)
  private def sides(env: org.apache.spark.sql.DataFrame) = {
    val ins = LogRequestSplit.deliveryLogs(env).toDF()
      .select(col("platformId"), col("userInfo.logUserId").as("logUserId"),
        col("timing.eventApiTimestamp").as("tsMs"), explode(col("insertions")).as("i"))
      .select(col("platformId"), col("logUserId"), lit(0).as("side"),
        col("i.insertionId").as("id"), lit("").as("parentId"), col("tsMs"))
    val imp = LogRequestSplit.impressions(env).toDF()
      .select(col("platformId"), col("userInfo.logUserId").as("logUserId"),
        lit(1).as("side"), col("impressionId").as("id"),
        col("insertionId").as("parentId"),
        col("timing.eventApiTimestamp").as("tsMs"))
    ins.unionByName(imp)
  }

  test("file-stream inferred join matches the batch result") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val opts = FakeLogGenerator.Options(users = 3, viewsPerUser = 2)
    val envelopes = FakeLogGenerator.generate(opts).toDS().toDF()

    val batchInput = sides(envelopes).as[JoinSideEvent]
    val expected = InferredJoin.joinBatch(batchInput, 1800000L, 1000L)
      .collect().map(p => p.rightId -> (p.leftId, p.matchType)).toMap

    // stage the same side events as three time-ordered parquet files plus a
    // watermark-advancing tail, consumed one file per micro-batch
    val staged = batchInput.orderBy("tsMs").collect()
    val tail = staged.map(e => e.copy(tsMs = e.tsMs + 7200000L,
      id = "wm-" + e.id, side = 0, parentId = ""))
    val groups = staged.grouped(math.max(staged.length / 3, 1)).toSeq :+ tail.take(1) :+
      tail.slice(1, 2).map(e => e.copy(tsMs = e.tsMs + 7200000L))
    groups.zipWithIndex.foreach { case (g, i) =>
      g.toSeq.toDS().repartition(1).write.parquet(s"$tmp/in/batch=$i")
    }

    val stream = spark.readStream
      .schema(batchInput.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in/*")
      .as[JoinSideEvent]
    val q = InferredJoin.joinStream(stream, "1 second", 1800000L, 1000L)
      .writeStream.format("memory").queryName("sflat_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sflat_out").as[JoinedPair].collect()
      .filterNot(_.rightId.startsWith("wm-"))
      .map(p => p.rightId -> (p.leftId, p.matchType)).toMap
    assert(got == expected)
  }

  test("restart from checkpoint recovers join state exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val envelopes = FakeLogGenerator.generate(
      FakeLogGenerator.Options(users = 3, viewsPerUser = 2)).toDS().toDF()
    val batchInput = sides(envelopes).as[JoinSideEvent]
    val expected = InferredJoin.joinBatch(batchInput, 1800000L, 1000L)
      .collect().map(p => p.rightId -> (p.leftId, p.matchType)).toMap

    val staged = batchInput.orderBy("tsMs").collect()
    val half = staged.length / 2
    val tail = staged.take(2).zipWithIndex.map { case (e, i) =>
      e.copy(tsMs = e.tsMs + (i + 1) * 7200000L, id = "wm-" + e.id,
        side = 0, parentId = "") }

    def run(): Unit = {
      val stream = spark.readStream.schema(batchInput.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
        .as[JoinSideEvent]
      val q = InferredJoin.joinStream(stream, "1 second", 1800000L, 1000L)
        .toDF().writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }

    // phase 1: first half only — joins whose RHS is still pending stay
    // in the join's state when the query stops
    staged.take(half).toSeq.toDS().repartition(1).write.parquet(s"$tmp/in/batch=0")
    run()
    // phase 2: RESTART from the same checkpoint with the rest + watermark
    // tail; state recovery must resolve cross-boundary joins, the file
    // sink's commit log must not duplicate phase-1 output
    staged.drop(half).toSeq.toDS().repartition(1).write.parquet(s"$tmp/in/batch=1")
    tail.toSeq.toDS().repartition(1).write.parquet(s"$tmp/in/batch=2")
    run()

    val rows = spark.read.parquet(s"$tmp/out").as[JoinedPair].collect()
      .filterNot(_.rightId.startsWith("wm-"))
    assert(rows.length == rows.map(_.rightId).distinct.length, "duplicates")
    val got = rows.map(p => p.rightId -> (p.leftId, p.matchType)).toMap
    assert(got == expected)
  }
}
