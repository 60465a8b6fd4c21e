package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.schema._
import graft.sources.FakeLogGenerator

/** The seeded load generator. It stages every input before timing
  * starts, in this one process: `FakeLogGenerator` envelopes with users
  * interleaved in event time, seeded per-event jitter below one second,
  * one parquet file per publish slot. */
object LoadGen {

  /** `FakeLogGenerator` emits one user at a time, its views a minute
    * apart. Re-place every (user, view) envelope at a seeded time in
    * `[startMs, startMs + spanMs)` — each user's views one slot apart at
    * a per-user seeded offset, so users interleave — and jitter every
    * child event by `[0, jitterMs)`. Steps inside an envelope are 1 s,
    * so a jitter below 1 s keeps view < delivery log < impression <
    * action. Sorted by envelope time. */
  def envelopes(seed: Long, users: Int, viewsPerUser: Int, startMs: Long,
      spanMs: Long, jitterMs: Int): Seq[LogRequest] = {
    require(jitterMs <= 1000, "jitter must stay within the 1 s out-of-orderness bound")
    val rng = new Random(seed)
    val slot = spanMs / viewsPerUser
    val offsets = Array.fill(users)(rng.nextLong(slot))
    FakeLogGenerator.generate(FakeLogGenerator.Options(users = users,
        viewsPerUser = viewsPerUser, startMs = 0L))
      .zipWithIndex.map { case (lr, i) =>
        val (u, v) = (i / viewsPerUser, i % viewsPerUser)
        val base = startMs + v * slot + offsets(u)
        shift(lr, base - lr.timing.eventApiTimestamp, rng, jitterMs)
      }.sortBy(_.timing.eventApiTimestamp)
  }

  private def shift(lr: LogRequest, delta: Long, rng: Random,
      jitterMs: Int): LogRequest = {
    def t(x: Timing): Timing = x.copy(eventApiTimestamp =
      x.eventApiTimestamp + delta + (if (jitterMs > 0) rng.nextInt(jitterMs) else 0))
    lr.copy(
      timing = lr.timing.copy(eventApiTimestamp = lr.timing.eventApiTimestamp + delta),
      users = lr.users.map(x => x.copy(timing = t(x.timing))),
      views = lr.views.map(x => x.copy(timing = t(x.timing))),
      deliveryLogs = lr.deliveryLogs.map(x => x.copy(timing = t(x.timing))),
      impressions = lr.impressions.map(x => x.copy(timing = t(x.timing))),
      actions = lr.actions.map(x => x.copy(timing = t(x.timing))))
  }

  /** Log records in an envelope: users + views + delivery logs +
    * impressions + actions. */
  def records(lr: LogRequest): Long =
    (lr.users.size + lr.views.size + lr.deliveryLogs.size +
      lr.impressions.size + lr.actions.size).toLong

  def fileName(i: Int): String = f"f$i%05d.parquet"

  /** Write every `files(i)` of every `(dir, files)` pair as the single
    * parquet file `dir/f<i>.parquet`, all in one Spark job, and give each
    * directory's files increasing modification times so a
    * `maxFilesPerTrigger` stream takes them in index order. */
  def writeFiles(spark: SparkSession, tmp: Path,
      sets: Seq[(Path, Seq[Seq[LogRequest]])]): Unit = {
    import spark.implicits._
    val numbered = sets.flatMap { case (dir, files) =>
      files.zipWithIndex.map { case (f, i) => (dir, i, f) } }
    // whole files per task, encoded in parallel: no shuffle, one part each
    val slices = spark.sparkContext.parallelize(
      numbered.zipWithIndex.map { case ((_, _, f), n) => (n, f) },
      spark.sparkContext.defaultParallelism)
    spark.createDataset(slices.flatMap { case (n, f) => f.map(lr => (n, lr)) })
      .select(col("_1").as("f"), col("_2.*"))
      .write.partitionBy("f").parquet(tmp.toString)
    val now = System.currentTimeMillis()
    numbered.zipWithIndex.foreach { case ((dir, i, _), n) =>
      Files.createDirectories(dir)
      val parts = list(tmp.resolve(s"f=$n"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"staged file $n has ${parts.size} parts")
      val target = dir.resolve(fileName(i))
      Files.move(parts.head, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(now - numbered.size + n))
    }
    deleteTree(tmp)
  }

  /** The envelope schema every staged file shares. */
  def envelopeSchema(spark: SparkSession) = {
    import spark.implicits._
    Seq.empty[LogRequest].toDS().schema
  }

  /** The entries of a directory, or with `walk` of its whole tree; the
    * listing is closed before this returns. */
  def list(p: Path, walk: Boolean = false): List[Path] =
    scala.util.Using.resource(if (walk) Files.walk(p) else Files.list(p))(
      _.iterator().asScala.toList)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) list(p, walk = true).reverse.foreach(Files.delete)

  /** Open-loop publisher: moves staged file `i` into `inDir` by atomic
    * rename at `startMs + i * periodMs`, whether or not the system keeps
    * up. Records when each publish really happened. One thread. */
  final class Publisher(staged: Path, inDir: Path, n: Int, periodMs: Long) {
    val scheduledMs = new Array[Long](n)
    val actualMs = new Array[Long](n)
    @volatile var published = 0
    private var startMs = 0L
    private val thread = new Thread(() => loop(), "perfbench-publisher")
    thread.setDaemon(true)

    def start(): Unit = {
      startMs = System.currentTimeMillis()
      thread.start()
    }

    private def loop(): Unit =
      for (i <- 0 until n) {
        val due = startMs + i * periodMs
        scheduledMs(i) = due
        var wait = due - System.currentTimeMillis()
        while (wait > 0) { Thread.sleep(wait); wait = due - System.currentTimeMillis() }
        Files.move(staged.resolve(fileName(i)), inDir.resolve(fileName(i)),
          StandardCopyOption.ATOMIC_MOVE)
        actualMs(i) = System.currentTimeMillis()
        published = i + 1
      }

    def join(): Unit = thread.join()

    /** Largest lateness of a publish behind its schedule. */
    def lateMsMax: Double =
      (0 until published).map(i => (actualMs(i) - scheduledMs(i)).toDouble).maxOption.getOrElse(0.0)
  }

  /** Which batch of a file-stream query read each input file, from the
    * query's file-source log. The log compacts every 10 batches into
    * `<n>.compact`, so both plain and compact files are read. Keyed by
    * file name. */
  def fileBatches(checkpoint: Path): Map[String, Long] = {
    val sources = checkpoint.resolve("sources")
    if (!Files.isDirectory(sources)) return Map.empty
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    list(sources).flatMap { src =>
      list(src)
        .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
        .flatMap(f => Files.readAllLines(f).asScala)
        .flatMap(l => entry.findFirstMatchIn(l).map { m =>
          m.group(1).split('/').last -> m.group(2).toLong
        })
    }.toMap
  }

  /** Epoch ms at which a micro-batch committed: trigger start plus the
    * trigger's execution time. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** Every progress of a query, one per batch id (latest wins). */
  def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  /** True once every one of `names` was read by a batch of the query
    * whose checkpoint is `checkpoint`, and that batch committed. (Input
    * row counts cannot tell: a source scanned in several branches of a
    * plan counts its rows once per scan.) */
  def consumedAll(q: StreamingQuery, checkpoint: Path, names: Seq[String]): Boolean = {
    val batches = fileBatches(checkpoint)
    names.forall(batches.contains) && {
      val last = names.map(batches).max
      Option(q.lastProgress).exists(_.batchId >= last) &&
        progress(q).exists(_.batchId == last)
    }
  }

  /** Poll until `done` holds or the deadline passes; true if it held. */
  def await(deadlineMs: Long, pollMs: Long = 20)(done: => Boolean): Boolean = {
    while (!done && System.currentTimeMillis() < deadlineMs) Thread.sleep(pollMs)
    done
  }

  /** Streaming envelope frame over `dir`: the program's own
    * `envelopeStream`, or the same reader capped at `maxFiles` files per
    * micro-batch (`envelopeStream` takes no reader options). */
  def stream(spark: SparkSession, dir: Path, maxFiles: Option[Int] = None): DataFrame =
    maxFiles match {
      case None => graft.jobs.StreamingJobs.envelopeStream(spark, dir.toString,
        envelopeSchema(spark))
      case Some(m) => spark.readStream
        .schema(graft.streaming.StreamOps.ntzFree(envelopeSchema(spark)))
        .option("maxFilesPerTrigger", m.toLong).parquet(dir.toString)
    }
}
