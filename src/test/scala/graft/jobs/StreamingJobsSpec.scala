package graft.jobs

import graft.SparkSpec
import graft.sinks.Sinks
import graft.sources.FakeLogGenerator
import org.apache.spark.sql.functions._

/** Drives the streaming job entry points end-to-end over staged envelope
  * files: file stream in, dt/hour-partitioned parquet (or captured
  * commands) out. */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._
  import StreamingJobsSpec.publish
  implicit lazy val s = spark

  private def staged(): (String, org.apache.spark.sql.DataFrame) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sj").toString
    val env = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 3)).toDS().toDF()
    env.write.parquet(s"$tmp/in")
    (tmp, env)
  }

  test("rawOutput streams deduped, PII-stripped, dt/hour-partitioned tables") {
    val (tmp, env) = staged()
    val stream = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
    val qs = StreamingJobs.rawOutput(stream, s"$tmp/out", s"$tmp/ckpt")
    qs.foreach(_.processAllAvailable()); qs.foreach(_.stop())
    val views = spark.read.parquet(s"$tmp/out/view")
    assert(views.count() == 6) // 3 users × 2 views
    assert(views.columns.contains("dt") && views.columns.contains("hour"))
    assert(views.select("userInfo.userId").distinct().head().getString(0) == "")
  }

  test("contentMetrics streams hourly per-content rollups") {
    val (tmp, env) = staged()
    val stream = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
    val q = StreamingJobs.contentMetrics(stream, s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable(); q.stop()
    // append-mode window agg only finalizes below the watermark; push it
    // with a late empty batch by re-running over an extra file
    val late = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 1,
      startMs = 1700000000000L + 7L * 86400000L)).toDS().toDF()
    late.write.mode("append").parquet(s"$tmp/in")
    val q2 = StreamingJobs.contentMetrics(
      StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema),
      s"$tmp/out", s"$tmp/ckpt")
    q2.processAllAvailable(); q2.stop()
    val hourly = spark.read.parquet(s"$tmp/out/hourly")
    assert(hourly.count() > 0)
    assert(hourly.agg(sum("view_count")).head().getLong(0) >= 6)
  }

  test("latestImpressions attaches impression lists to streamed actions") {
    val (tmp, env) = staged()
    val stream = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
    val q = StreamingJobs.latestImpressions(stream, s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable()
    // push the watermark so buffered actions resolve
    val late = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 1,
      startMs = 1700000000000L + 7L * 86400000L)).toDS().toDF()
    publish(late, s"$tmp/in")
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(s"$tmp/out/latest_impressions")
    assert(out.count() > 0)
    assert(out.columns.contains("impressionIds"))
  }

  test("counterFamilies streams all four ungated families through one counter") {
    val (tmp, env) = staged()
    val events = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
      .select(col("platformId"),
        col("userInfo.logUserId").as("logUserId"),
        col("userInfo.userId").as("userId"),
        explode(col("impressions")).as("imp"))
      .select(col("platformId"), col("logUserId"), col("userId"),
        col("imp.contentId").as("contentId"),
        lit("Linux").as("osFamily"), lit("Firefox").as("agentFamily"),
        lit(1L).as("metric"),
        col("imp.timing.eventApiTimestamp").as("tsMs"))
    CapturingClient.keys.clear()
    val q = StreamingJobs.counterFamilies(events, CapturingClient, s"$tmp/ckpt")
    q.processAllAvailable()
    // advance the watermark so emit ticks fire
    val late = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 1,
      startMs = 1700000000000L + 7L * 86400000L)).toDS().toDF()
    publish(late, s"$tmp/in")
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val prefixes = CapturingClient.keys.asScala.map(_.split('\u001f')(0)).toSet
    assert(Set("gd", "cd", "lu", "uu").subsetOf(prefixes), prefixes)
  }

  test("counterLastSeen emits last-ts/90d-count commands") {
    val (tmp, env) = staged()
    val events = StreamingJobs.envelopeStream(spark, s"$tmp/in", env.schema)
      .select(col("platformId"),
        col("userInfo.logUserId").as("logUserId"),
        explode(col("impressions")).as("imp"))
      .select(col("platformId"), col("logUserId"),
        col("imp.contentId").as("contentId"),
        col("imp.timing.eventApiTimestamp").as("tsMs"))
    CapturingClient.count.set(0L)
    val q = StreamingJobs.counterLastSeen(events, CapturingClient, s"$tmp/ckpt")
    q.processAllAvailable(); q.stop()
    assert(CapturingClient.count.get() > 0)
  }
}

/** Serializable command capture (counter only — assertions stay simple). */
object CapturingClient extends Sinks.CommandClient {
  val count = new java.util.concurrent.atomic.AtomicLong()
  val keys = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def execute(cmd: String, key: String, field: String,
      value: String, ttlSec: Long): Unit = {
    count.incrementAndGet(); keys.add(key)
  }
}

object StreamingJobsSpec {
  /** Copy a checkpoint fixture tree from the test resources. */
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }

  /** Publish `df` into the running file source `dir` as one part, written
    * beside it and moved in by atomic rename, so the source never lists a
    * half-written file and every row lands in one micro-batch. */
  def publish(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = Files.createTempDirectory(Paths.get(dir).getParent, "late")
    df.coalesce(1).write.parquet(s"$staging/out")
    val part = new java.io.File(s"$staging/out").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, part.getName),
      StandardCopyOption.ATOMIC_MOVE)
  }
}
