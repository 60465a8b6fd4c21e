package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.jobs.{ContentMetricsJob, StreamingJobs}
import graft.schema.LogRequest
import graft.sinks.Sinks
import graft.sources.{FakeLogGenerator, LogRequestSplit}
import graft.streaming.{LastSeen, SlidingCounter}

/** Feature store stand-in: keeps the last value per (key, field) that a
  * command query delivered. Instances are looked up by name, so the copy
  * a Spark task deserializes writes to the same store. */
final class CaptureClient(name: String) extends Sinks.CommandClient {
  override def execute(cmd: String, key: String, field: String,
      value: String, ttlSec: Long): Unit = {
    val s = CaptureClient.store(name)
    s.values.put(key + "\u0000" + field, value)
    s.count.incrementAndGet()
  }
}

object CaptureClient {
  final class Store {
    val values = new ConcurrentHashMap[String, String]()
    val count = new java.util.concurrent.atomic.AtomicLong()
  }
  private val stores = new ConcurrentHashMap[String, Store]()
  def store(name: String): Store = stores.computeIfAbsent(name, _ => new Store)
  def reset(name: String): Store = { stores.put(name, new Store); store(name) }
}

/** `features_live`: an open loop at the paper's 11.6k log records/s.
  * Staged files are published by atomic rename on a fixed schedule that
  * does not wait for the system; event time advances at wall-clock
  * rate. Three queries read the same directory on RocksDB state with the
  * default trigger: `counterFamilies` and `counterLastSeen` (commands to
  * a capturing client) and `contentMetrics` (parquet). One lag sample
  * per (file, query): scheduled publish to the commit of the micro-batch
  * that read the file. */
object FeaturesLive extends Workload {
  val RecordsPerSecond = 11600
  val PeriodMs = 300L
  val ViewsPerUser = 4
  /** A publish more than this late makes the run invalid. */
  val MaxLateMs = 500.0
  val DrainMs = 30000L
  val queryNames = Seq("counter_families", "counter_last_seen", "content_metrics")

  final case class Staged(files: Seq[Seq[LogRequest]], flush: Seq[LogRequest])
  private var staged: Staged = _

  def stage(spark: SparkSession, run: Run): Unit = {
    val nFiles = (run.seconds * 1000 / PeriodMs).toInt
    val perFile = RecordsPerSecond * PeriodMs / 1000.0
    // envelopes carry ~12 records (1 view, 1 delivery log, 5 impressions,
    // 5 actions, 1 user record on a user's first view)
    val envelopes = math.round(nFiles * perFile / 12.25).toInt
    val users = math.max(1, envelopes / ViewsPerUser)
    // event time: a seeded instant 20–30 min into an hour, so the run and
    // its drain stay inside one hour and the flush closes that hour
    val hourMs = 3600000L
    val startMs = 1700000000000L / hourMs * hourMs + 20 * 60000L +
      math.floorMod(run.seed * 7919L, 600L) * 1000L
    val spanMs = nFiles * PeriodMs
    val all = LoadGen.envelopes(run.seed, users, ViewsPerUser, startMs, spanMs, 1000)
    Bench.log(s"generated ${all.size} envelopes")
    val byFile = all.groupBy(lr =>
      ((lr.timing.eventApiTimestamp - startMs) / PeriodMs).toInt.min(nFiles - 1))
    val files = (0 until nFiles).map(i => byFile.getOrElse(i, Nil))
    // one envelope past the hour's end + the 1 minute watermark delay:
    // closes the hourly windows and fires the counters' emit ticks
    val flushAt = startMs / hourMs * hourMs + hourMs + 61000L
    val flush = FakeLogGenerator.generate(FakeLogGenerator.Options(
      platformId = 2L, users = 1, viewsPerUser = 1, startMs = flushAt))
    LoadGen.writeFiles(spark, run.work.resolve("staging"), Seq(
      run.work.resolve("staged") -> files, run.work.resolve("flush") -> Seq(flush)))
    staged = Staged(files, flush)
    run.detail("features_input") = Json.obj(Seq(
      "files" -> Json.num(nFiles), "envelopes" -> Json.num(all.size),
      "records" -> Json.num(all.map(LoadGen.records).sum.toDouble),
      "users" -> Json.num(users), "period_ms" -> Json.num(PeriodMs.toDouble)))
  }

  override def stageWarmUp(spark: SparkSession, run: Run): Unit =
    LoadGen.writeFiles(spark, run.work.resolve("staging"), Seq(
      run.work.resolve("warm") -> Seq(FakeLogGenerator.generate(FakeLogGenerator.Options(
        platformId = 3L, users = 8, startMs = 1690000000000L)))))

  type Prepared = Unit

  /** Warm-up: the three queries over a small input, fresh checkpoints. */
  def prepare(spark: SparkSession, run: Run): Unit = {
    val root = Files.createTempDirectory(run.dir("warmups"), "w")
    val qs = start(spark, run.work.resolve("warm"), root, "warm")
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
  }

  /** Counter input: impressions (metric 1) and actions (metric = action
    * type) with their user, content and event time. */
  def counterEvents(env: DataFrame)(implicit spark: SparkSession): DataFrame = {
    def side(df: DataFrame, metric: org.apache.spark.sql.Column) = df.select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      col("userInfo.userId").as("userId"), col("contentId"),
      lit("Linux").as("osFamily"), lit("Firefox").as("agentFamily"),
      metric.cast("long").as("metric"),
      col("timing.eventApiTimestamp").as("tsMs"))
    side(LogRequestSplit.impressions(env).toDF(), lit(1L))
      .unionByName(side(LogRequestSplit.actions(env).toDF(), col("actionType")))
  }

  def lastSeenEvents(env: DataFrame)(implicit spark: SparkSession): DataFrame =
    LogRequestSplit.impressions(env).toDF().select(col("platformId"),
      col("userInfo.logUserId").as("logUserId"), col("contentId"),
      col("timing.eventApiTimestamp").as("tsMs"))

  private def start(spark: SparkSession, in: Path, root: Path,
      tag: String): Seq[StreamingQuery] = {
    implicit val s: SparkSession = spark
    def env = LoadGen.stream(spark, in)
    val ckpt = root.resolve("ckpt").toString
    Seq(
      StreamingJobs.counterFamilies(counterEvents(env),
        new CaptureClient(s"$tag.counter_families"), ckpt),
      StreamingJobs.counterLastSeen(lastSeenEvents(env),
        new CaptureClient(s"$tag.counter_last_seen"), ckpt),
      StreamingJobs.contentMetrics(env, root.resolve("out").toString, ckpt))
  }

  private def checkpointOf(root: Path, q: Int): Path =
    root.resolve("ckpt").resolve(Seq("counter_families", "last_seen", "hourly")(q))

  def measure(spark: SparkSession, run: Run, prepared: Unit,
      tracer: Option[Tracer]): Unit = {
    val st = staged
    val root = run.dir("live")
    val in = run.dir("live/in")
    queryNames.foreach(q => CaptureClient.reset(s"live.$q"))
    val t0 = System.currentTimeMillis()
    val qs = start(spark, in, root, "live")
    tracer.foreach(_.buildDone(t0))
    val pub = new LoadGen.Publisher(run.work.resolve("staged"), in,
      st.files.size, PeriodMs)
    pub.start()
    pub.join()
    Bench.log("published")
    val names = st.files.indices.map(LoadGen.fileName)
    val drained = LoadGen.await(System.currentTimeMillis() + DrainMs, 50) {
      qs.indices.forall(i => qs(i).exception.isDefined ||
        LoadGen.consumedAll(qs(i), checkpointOf(root, i), names))
    }
    val drainEndMs = System.currentTimeMillis()
    Bench.log(s"drained: $drained")
    qs.foreach(q => q.exception.foreach(e =>
      run.op(ok = false, s"query ${q.name} failed: ${e.getMessage.take(300)}")))

    // lag samples: (file, query) → commit of the batch that read it
    val lateMax = pub.lateMsMax
    val perQuery = qs.indices.map { qi =>
      val batches = LoadGen.fileBatches(checkpointOf(root, qi))
      val commits = LoadGen.progress(qs(qi)).map(p => p.batchId -> LoadGen.commitMs(p)).toMap
      names.indices.map(i =>
        batches.get(names(i)).flatMap(commits.get).map(_ - pub.scheduledMs(i)))
    }
    val samples = perQuery.flatten
    val missing = samples.count(_.isEmpty)
    samples.foreach(s => run.op(s.isDefined, "a published file was never committed"))
    // an uncommitted file misses every limit: count it at the drain's end
    val lags = perQuery.flatMap(_.zipWithIndex.map {
      case (Some(l), _) => l.toDouble
      case (None, i) => (drainEndMs - pub.scheduledMs(i)).toDouble
    })
    run.metric("feature_lag_p50_ms", Stats.quantile(lags, 0.5), "ms")
    run.metric("feature_lag_p95_ms", Stats.quantile(lags, 0.95), "ms")
    val records = st.files.flatten.map(LoadGen.records).sum
    val lastCommit = perQuery.flatMap(_.zipWithIndex.collect {
      case (Some(l), i) => pub.scheduledMs(i) + l }).maxOption.getOrElse(drainEndMs)
    run.metric("replay_records_per_s",
      records * 1000.0 / math.max(1L, lastCommit - pub.scheduledMs(0)), "records/s")
    StreamMetrics.phaseWalls(run, qs)
    run.layer("loadgen.late_ms_max", lateMax, "ms")
    // backlog: at each publish, files published but not yet committed by
    // the slowest query
    val commitAt = perQuery.map(_.zipWithIndex.map {
      case (Some(l), i) => pub.scheduledMs(i) + l
      case (None, _) => Long.MaxValue })
    val backlog = names.indices.map { i =>
      val now = pub.actualMs(i)
      commitAt.map(c => (0 to i).count(j => c(j) > now)).max
    }
    run.layer("loadgen.backlog_files_max", backlog.maxOption.getOrElse(0).toDouble, "files")
    run.detail("lag_samples") = Json.num(lags.size)
    run.detail("lag_samples_beyond_p95") =
      Json.num(lags.count(_ > Stats.quantile(lags, 0.95)))
    run.detail("lag_ms_per_query") = Json.obj(queryNames.zip(perQuery).map {
      case (n, ls) => n -> Json.arr(ls.map(_.map(l => Json.num(l.toDouble)).getOrElse(Json.Null)))
    })
    run.detail("generator_late_ms_max") = Json.num(lateMax)
    run.detail("drained") = Json.bool(drained)
    if (lateMax > MaxLateMs)
      run.invalid = Some(f"load generator fell behind its schedule by $lateMax%.0f ms")

    // flush: close the hour, fire the counters' emit ticks, then stop
    Files.move(run.work.resolve("flush").resolve(LoadGen.fileName(0)),
      in.resolve("flush.parquet"))
    qs.foreach(_.processAllAvailable())
    val progress = qs.map(LoadGen.progress)
    qs.foreach(_.stop())
    Bench.log("flushed and stopped")
    tracer.foreach(_.queriesDone(qs))
    StreamMetrics.layers(run, progress, Seq(root.resolve("out")),
      qs.indices.map(checkpointOf(root, _)))
    val commands = queryNames.take(2).map(q => CaptureClient.store(s"live.$q").count.get()).sum
    run.layer("sinks.commands", commands.toDouble, "count")
    run.layer("sinks.commands_per_record", commands.toDouble / math.max(1L, records), "ratio")
    run.detail("missing_samples") = Json.num(missing)

    check(spark, run, root, progress)
    if (run.trace) run.layer("baseline.local1_records_per_s", local1(spark, run), "records/s")
  }

  /** Single-thread baseline (traced runs only): the same three queries on
    * `local[1]`, closed loop over the first eighth of the published files,
    * all present at start. Log records per second to drain them. */
  private def local1(spark: SparkSession, run: Run): Double = {
    spark.stop()
    val one = Session.create(run, Some("local[1]"))
    try {
      val root = run.dir("local1")
      val in = run.dir("local1/in")
      val n = staged.files.size / 8
      val names = (0 until n).map(LoadGen.fileName)
      names.foreach(f => Files.createLink(in.resolve(f), run.work.resolve("live/in").resolve(f)))
      val t0 = System.currentTimeMillis()
      val qs = start(one, in, root, "local1")
      val drained = LoadGen.await(t0 + DrainMs * 2, 50) {
        qs.indices.forall(i => qs(i).exception.isDefined ||
          LoadGen.consumedAll(qs(i), checkpointOf(root, i), names))
      }
      val end = qs.flatMap(LoadGen.progress).map(LoadGen.commitMs).maxOption.getOrElse(t0)
      qs.foreach(_.stop())
      run.op(drained, "local[1] baseline did not drain")
      staged.files.take(n).flatten.map(LoadGen.records).sum * 1000.0 / math.max(1L, end - t0)
    } finally one.stop()
  }

  // ---- output checks (outside the timed window) ------------------------

  private def check(spark: SparkSession, run: Run, root: Path,
      progress: Seq[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]): Unit = {
    val st = staged
    val byName = (st.files.indices.map(i => LoadGen.fileName(i) -> st.files(i)) :+
      ("flush.parquet" -> st.flush)).toMap
    // envelopes per batch, in batch order, with that batch's watermark
    def batches(qi: Int): Seq[(Seq[LogRequest], Long)] = {
      val files = LoadGen.fileBatches(checkpointOf(root, qi))
      val wm = progress(qi).map(p => p.batchId -> watermarkMs(p)).toMap
      files.groupBy(_._2).toSeq.sortBy(_._1).map { case (b, fs) =>
        (fs.keys.toSeq.sorted.flatMap(byName), wm.getOrElse(b, Long.MinValue))
      }
    }
    val finalWm = progress.map(ps => ps.map(watermarkMs).maxOption.getOrElse(Long.MinValue))

    // counterFamilies: fold SlidingCounter.advance per key over the batches
    locally {
      import graft.agg.{CounterFeatures => CF}
      val sep = CF.Sep
      val emitMs = 15 * 60 * 1000L
      val windows = Seq(3600000L, 86400000L)
      def fid(ct: Long, metric: Long) = ((ct << 24) | (metric << 8)).toString
      def keys(e: CounterEvent): Seq[String] = Seq(
        Seq("gd", e.platform, "Linux", "Firefox", fid(CF.CountType.ItemDevice, e.metric)),
        Seq("cd", e.platform, e.content, "Linux", "Firefox", fid(CF.CountType.ItemDevice, e.metric)),
        Seq("lu", e.platform, e.logUser, fid(CF.CountType.LogUser, e.metric)),
        Seq("uu", e.platform, e.user, fid(CF.CountType.User, e.metric)))
        .map(_.mkString(sep))
      var state = Map.empty[String, SlidingCounter.State]
      val expected = scala.collection.mutable.HashMap.empty[String, String]
      def emit(out: Seq[graft.schema.WindowAggResult]): Unit = out.foreach { r =>
        expected(r.key + "\u0000" + s"${r.windowStartMs}:${r.windowSizeMs}") = r.count.toString
      }
      for ((envs, wm) <- batches(0)) {
        val evs = envs.flatMap(counterEventsOf).flatMap(e =>
          keys(e).map(k => SlidingCounter.Event(k, e.tsMs, 1L)))
        evs.groupBy(_.key).foreach { case (k, es) =>
          val (out, next) = SlidingCounter.advance(k, es,
            state.getOrElse(k, SlidingCounter.State(Map.empty, 0L)), wm, emitMs, windows)
          emit(out); state += (k -> next)
        }
      }
      state.foreach { case (k, s) =>
        emit(SlidingCounter.advance(k, Nil, s, finalWm(0), emitMs, windows)._1) }
      compareCommands(run, "counter_families", expected.toMap)
    }

    // counterLastSeen: fold LastSeen.advance per key over the batches
    locally {
      var state = Map.empty[String, LastSeen.State]
      val expected = scala.collection.mutable.HashMap.empty[String, (Long, String)]
      for ((envs, wm) <- batches(1)) {
        val evs = envs.flatMap(lr => lr.impressions.map(i => LastSeen.Event(
          Seq(pid(lr, i.platformId).toString, luid(lr, i.userInfo.logUserId),
            i.contentId).mkString("\u001f"), i.timing.eventApiTimestamp)))
        evs.groupBy(_.key).foreach { case (k, es) =>
          val (out, next) = LastSeen.advance(k, es,
            state.getOrElse(k, LastSeen.State(0L, Map.empty, 0L)), wm, 90)
          out.foreach(r => expected(k + "\u0000last_ts_and_n90") =
            (r.seq, s"${r.lastTsMs}:${r.count}"))
          state += (k -> next)
        }
      }
      compareCommands(run, "counter_last_seen", expected.view.mapValues(_._2).toMap)
    }

    // contentMetrics: hourly output equals ContentMetricsJob.hourly over the
    // same envelopes, restricted to windows closed by the final watermark
    locally {
      implicit val s: SparkSession = spark
      // the same envelopes, as published
      val env = spark.read.schema(LoadGen.envelopeSchema(spark))
        .parquet(root.resolve("in").toString)
      val cols = Seq("window_start_ms", "platformId", "contentId", "view_count",
        "impression_count", "purchase_count", "gmv_usd_micros")
      val want = ContentMetricsJob.hourly(env)
        .where(col("window_start_ms") + 3600000L <= finalWm(2))
        .select(cols.map(col): _*)
      val out = root.resolve("out").resolve("hourly")
      val got =
        if (Files.isDirectory(out)) spark.read.parquet(out.toString)
          .select(col("eventApiTs").as("window_start_ms") +: cols.tail.map(col): _*)
        else want.limit(0)
      val (w, g) = (want.collect().toSeq, got.collect().toSeq)
      val diff = w.diff(g).size + g.diff(w).size
      val n = w.size
      run.op(diff == 0 && n > 0,
        s"content_metrics: $diff rows differ from ContentMetricsJob.hourly ($n expected)")
      run.detail("check_content_metrics_rows") = Json.num(n.toDouble)
    }
  }

  private def compareCommands(run: Run, q: String, expected: Map[String, String]): Unit = {
    val got = CaptureClient.store(s"live.$q").values.asScala.toMap
    val wrong = expected.count { case (k, v) => !got.get(k).contains(v) }
    val extra = got.keySet.diff(expected.keySet).size
    run.op(wrong == 0 && extra == 0 && expected.nonEmpty,
      s"$q: $wrong of ${expected.size} (key, field) values differ from the fold, $extra unexpected")
    run.detail(s"check_${q}_fields") = Json.num(expected.size)
  }

  private final case class CounterEvent(platform: String, logUser: String,
      user: String, content: String, metric: Long, tsMs: Long)

  private def pid(lr: LogRequest, child: Long): Long =
    if (child != 0L) child else lr.platformId
  private def luid(lr: LogRequest, child: String): String =
    (if (child.nonEmpty) child else lr.userInfo.logUserId).toLowerCase
  private def uid(lr: LogRequest, child: String): String =
    if (child.nonEmpty) child else lr.userInfo.userId

  private def counterEventsOf(lr: LogRequest): Seq[CounterEvent] =
    lr.impressions.map(i => CounterEvent(pid(lr, i.platformId).toString,
      luid(lr, i.userInfo.logUserId), uid(lr, i.userInfo.userId), i.contentId,
      1L, i.timing.eventApiTimestamp)) ++
    lr.actions.map(a => CounterEvent(pid(lr, a.platformId).toString,
      luid(lr, a.userInfo.logUserId), uid(lr, a.userInfo.userId), a.contentId,
      a.actionType.toLong, a.timing.eventApiTimestamp))

  def watermarkMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)
}
