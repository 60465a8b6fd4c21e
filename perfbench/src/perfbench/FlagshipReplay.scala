package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.jobs.StreamingJobs
import graft.operators.Cogroup
import graft.schema.{LogRequest, ScopedEvent}
import graft.sources.{FakeLogGenerator, LogRequestSplit}
import graft.streaming.{InferredJoin, RedundantReduceTws}

/** `flagship_replay`: a closed-loop backfill through
  * `StreamingJobs.flagshipOutput` — five chained `transformWithState`
  * stages on RocksDB state into a dt/hour parquet sink, with the
  * reference defaults (30 min join window, 1 s out-of-orderness, 1 day
  * session gap). Seeded envelope files are staged up front; the file
  * stream takes a fixed number per micro-batch until the input is
  * drained. The event span exceeds the session gap, so sessions close
  * and output flows during the replay. */
object FlagshipReplay extends Workload {
  val NumFiles = 8
  val FilesPerTrigger = 1
  val EnvelopesPerFile = 700
  val ViewsPerUser = 4
  val SpanMs = 60L * 3600000L
  val MaxTimeMs = 30L * 60 * 1000
  val OooMs = 1000L
  val GapMs = 86400000L
  val StartMs = 1700000000000L
  // state sizing as flagshipOutput derives it from maxTimeMs / oooMs
  val RedOoo = MaxTimeMs + 2 * OooMs + 3000L
  val RedCleanup = 2 * MaxTimeMs + OooMs + 9000L
  val SessOoo = RedOoo + 3000L

  final case class Staged(files: Seq[Seq[LogRequest]])
  private var staged: Staged = _

  val DimNames = Seq("insertion_meta", "impression_details", "action_details")

  override def stageWarmUp(spark: SparkSession, run: Run): Unit = {
    LoadGen.writeFiles(spark, run.work.resolve("staging"), Seq(
      run.work.resolve("warm") -> Seq(FakeLogGenerator.generate(FakeLogGenerator.Options(
        platformId = 3L, users = 20, startMs = StartMs - 10L * 86400000L)))))
    writeDims(spark, run, "warm")
  }

  /** Dimension tables over the envelopes in `run.work/<input>`, which the
    * job's stream-static joins read (in production, read-optimized views
    * of the compacted raw tables). */
  private def writeDims(spark: SparkSession, run: Run, input: String): Unit = {
    implicit val s: SparkSession = spark
    val env = spark.read.schema(LoadGen.envelopeSchema(spark))
      .parquet(run.work.resolve(input).toString)
    DimNames.zip(dimensionFrames(env)).foreach { case (n, df) =>
      df.write.parquet(run.work.resolve(s"dims/$input/$n").toString) }
  }

  def stage(spark: SparkSession, run: Run): Unit = {
    val n = NumFiles * EnvelopesPerFile
    val all = LoadGen.envelopes(run.seed, n / ViewsPerUser, ViewsPerUser,
      StartMs, SpanMs, 1000)
    val files = all.grouped(EnvelopesPerFile).toSeq
    LoadGen.writeFiles(spark, run.work.resolve("staging"), Seq(
      run.work.resolve("staged") -> files))
    writeDims(spark, run, "staged")
    staged = Staged(files)
    run.detail("flagship_input") = Json.obj(Seq(
      "files" -> Json.num(files.size), "envelopes" -> Json.num(all.size),
      "records" -> Json.num(all.map(LoadGen.records).sum.toDouble),
      "files_per_trigger" -> Json.num(FilesPerTrigger)))
  }

  /** insertionMeta, impressionDetails, actionDetails over envelopes, in
    * the shapes `flagshipOutput` documents. */
  def dimensionFrames(env: DataFrame)(implicit spark: SparkSession): Seq[DataFrame] = Seq(
    LogRequestSplit.deliveryLogs(env).toDF()
      .select(col("timing.eventApiTimestamp").as("tsMs"),
        col("request.requestId").as("requestId"), explode(col("insertions")).as("i"))
      .select(col("i.insertionId").as("insertionId"), col("requestId"),
        col("i.contentId").as("contentId"), col("tsMs")),
    LogRequestSplit.impressions(env).toDF()
      .select(col("impressionId"), col("contentId").as("imp_content")),
    LogRequestSplit.actions(env).toDF()
      .select(col("actionId"), col("actionType").as("act_type")))

  /** The static frames: the replay's dimension tables, read and cached
    * (empty before the replay's input is staged). The warm-up reads its
    * own: FakeLogGenerator ids restart in every batch of envelopes, so
    * the two inputs share ids. */
  final case class Prepared(dims: Seq[DataFrame])

  private def dimsOf(spark: SparkSession, run: Run, input: String): Option[Seq[DataFrame]] =
    Some(run.work.resolve(s"dims/$input")).filter(Files.isDirectory(_)).map { d =>
      DimNames.map { n =>
        val df = spark.read.parquet(d.resolve(n).toString).cache()
        df.count()
        df
      }
    }

  def prepare(spark: SparkSession, run: Run): Prepared = {
    val root = Files.createTempDirectory(run.dir("warmups"), "w")
    val q = start(spark, run.work.resolve("warm"), root, dimsOf(spark, run, "warm").get,
      Some(FilesPerTrigger))
    q.processAllAvailable()
    q.stop()
    Prepared(dimsOf(spark, run, "staged").getOrElse(Nil))
  }

  private def start(spark: SparkSession, in: Path, root: Path,
      dims: Seq[DataFrame], maxFiles: Option[Int]): StreamingQuery = {
    implicit val s: SparkSession = spark
    StreamingJobs.flagshipOutput(LoadGen.stream(spark, in, maxFiles),
      dims(0), dims(1), dims(2), root.resolve("out").toString,
      root.resolve("ckpt").toString, MaxTimeMs, OooMs, GapMs)
  }

  def measure(spark: SparkSession, run: Run, prepared: Prepared,
      tracer: Option[Tracer]): Unit = {
    val r = replay(spark, run, prepared, "replay", tracer, math.max(3 * run.seconds, 30))
    val (q, progress, root) = (r.query, r.progress, r.root)
    run.metric("replay_records_per_s", r.recordsPerS, "records/s")
    run.metric("feature_lag_p50_ms", Stats.quantile(r.fileBatchMs, 0.5), "ms")
    run.metric("feature_lag_p95_ms", Stats.quantile(r.fileBatchMs, 0.95), "ms")
    StreamMetrics.phaseWalls(run, Seq(q))
    StreamMetrics.layers(run, Seq(progress), Seq(root.resolve("out")),
      Seq(root.resolve("ckpt/flagship")))
    run.layer("loadgen.late_ms_max", 0.0, "ms")
    run.layer("loadgen.backlog_files_max", staged.files.size.toDouble, "files")
    tracer.foreach(_.queriesDone(Seq(q)))
    check(spark, run, root, progress, prepared.dims)
    // single-thread baseline: the same replay on local[1] (traced runs only)
    if (run.trace) {
      spark.stop()
      val one = Session.create(run, Some("local[1]"))
      val dims = prepare(one, run).dims
      run.layer("baseline.local1_records_per_s", replay(one, run, Prepared(dims),
        "replay_local1", None, run.seconds).recordsPerS, "records/s")
      one.stop()
    }
  }

  /** One replay, until the input is drained or for at most `maxSeconds`:
    * log records per second from query start to the commit of the last
    * data batch, and per file the duration of the batch that read it. */
  final case class Replay(recordsPerS: Double, fileBatchMs: Seq[Double],
      query: StreamingQuery, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      root: Path)

  private def replay(spark: SparkSession, run: Run, prepared: Prepared,
      name: String, tracer: Option[Tracer], maxSeconds: Int): Replay = {
    val root = run.dir(name)
    val in = run.work.resolve("staged")
    val startMs = System.currentTimeMillis()
    val q = start(spark, in, root, prepared.dims, Some(FilesPerTrigger))
    tracer.foreach(_.buildDone(startMs))
    val names = staged.files.indices.map(LoadGen.fileName)
    val deadline = startMs + maxSeconds * 1000L
    val drained = LoadGen.await(deadline, 10) {
      q.exception.isDefined || LoadGen.consumedAll(q, root.resolve("ckpt/flagship"), names)
    }
    q.stop()
    Bench.log(s"$name drained: $drained")
    q.exception.foreach(e => run.op(ok = false, s"flagship query failed: ${e.getMessage.take(300)}"))
    val progress = LoadGen.progress(q)
    val data = progress.filter(_.numInputRows > 0)
    val lastCommit = data.map(LoadGen.commitMs).maxOption.getOrElse(System.currentTimeMillis())
    val fileBatch = LoadGen.fileBatches(root.resolve("ckpt/flagship"))
    val committed = data.map(_.batchId).toSet
    val recordsDone = staged.files.indices.collect {
      case i if fileBatch.get(LoadGen.fileName(i)).exists(committed) =>
        staged.files(i).map(LoadGen.records).sum
    }.sum
    val batchMs = data.map(p => p.batchId ->
      p.durationMs.get("triggerExecution").doubleValue).toMap
    val lags = staged.files.indices.flatMap(i =>
      fileBatch.get(LoadGen.fileName(i)).flatMap(batchMs.get))
    run.detail(s"${name}_drained") = Json.bool(drained)
    run.detail(s"${name}_batch_ms") = Json.arr(data.map(p =>
      Json.num(p.durationMs.get("triggerExecution").doubleValue)))
    Replay(recordsDone * 1000.0 / math.max(1L, lastCommit - startMs), lags, q, progress, root)
  }

  // ---- output check: the batch composition of the same stages ----------

  /** The replay's sessions against the batch composition of the same
    * stages, built from independent batch operators as
    * `StreamingFlagshipSpec` builds it: three `InferredJoin.joinScopedBatch`
    * joins, the pure `RedundantReduceTws.advance` at an infinite
    * watermark, `FlatChainTws.mergeFlagshipDetails`, and
    * `Cogroup.sessionPayloadCogroup`. Every emitted session must be in
    * the composition, and every composed session that started more than
    * `horizon` before the final watermark must have been emitted. */
  /** (logUserId, insertionId, session start, impressions, actions,
    * impression ids, action ids) */
  private type Sig = (String, String, Long, Long, Long, String, String)

  private def check(spark: SparkSession, run: Run, root: Path,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      dims: Seq[DataFrame]): Unit = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val fileBatch = LoadGen.fileBatches(root.resolve("ckpt/flagship"))
    val committed = progress.filter(_.numInputRows > 0).map(_.batchId).toSet
    val envs = staged.files.indices.filter(i =>
      fileBatch.get(LoadGen.fileName(i)).exists(committed)).flatMap(staged.files)
    val env = envs.toDS().toDF()
    val noIds = array().cast("array<string>")
    def scoped(df: DataFrame) = df.as[ScopedEvent]
    def matched(df: DataFrame) = df.where(col("matchType").isin("exact", "inferred"))
    val views = LogRequestSplit.views(env).toDF().select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      lit(0).as("side"), col("viewId").as("id"), lit("").as("parentId"),
      col("timing.eventApiTimestamp").as("tsMs"),
      array(col("userInfo.logUserId")).as("scopes"), noIds.as("contentIds"))
    val ins = LogRequestSplit.deliveryLogs(env).toDF().select(
        col("platformId"), col("userInfo.logUserId").as("logUserId"),
        col("timing.eventApiTimestamp").as("tsMs"),
        col("request.viewId").as("fkView"), explode(col("insertions")).as("i"))
      .select(col("platformId"), col("logUserId"), lit(1).as("side"),
        col("i.insertionId").as("id"), col("fkView").as("parentId"),
        col("tsMs"), array(col("logUserId")).as("scopes"), noIds.as("contentIds"))
    val p1 = InferredJoin.joinScopedBatch(scoped(views.unionByName(ins)),
      MaxTimeMs, OooMs, rightOuter = true)
    val meta = dims(0).select(col("insertionId").as("rightId"),
      col("requestId"), col("contentId"), col("tsMs").as("insTs"))
    val l2 = p1.toDF().join(meta, Seq("rightId")).select(col("platformId"),
      col("logUserId"), lit(0).as("side"), col("rightId").as("id"),
      lit("").as("parentId"), col("insTs").as("tsMs"),
      array(col("requestId"), col("leftId"), col("contentId")).as("scopes"),
      array(col("contentId")).as("contentIds"))
    val imps = LogRequestSplit.impressions(env).toDF().select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      lit(1).as("side"), col("impressionId").as("id"),
      col("insertionId").as("parentId"), col("timing.eventApiTimestamp").as("tsMs"),
      array(col("requestId"), col("viewId")).as("scopes"),
      array(col("contentId")).as("contentIds"))
    val p2 = InferredJoin.joinScopedBatch(scoped(l2.unionByName(imps)),
      MaxTimeMs, OooMs, rightOuter = false)
    val l3 = matched(p2.toDF()).select(col("platformId"), col("logUserId"),
      lit(0).as("side"), col("rightId").as("id"), lit("").as("parentId"),
      col("rightTs").as("tsMs"), array(col("leftId")).as("scopes"), noIds.as("contentIds"))
    val acts = LogRequestSplit.actions(env).toDF().select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      lit(1).as("side"), col("actionId").as("id"),
      col("impressionId").as("parentId"), col("timing.eventApiTimestamp").as("tsMs"),
      array(col("insertionId")).as("scopes"), array(col("contentId")).as("contentIds"))
    val p3 = InferredJoin.joinScopedBatch(scoped(l3.unionByName(acts)),
      MaxTimeMs, OooMs, rightOuter = false)
    def pairs(df: DataFrame) = matched(df)
      .select("platformId", "logUserId", "leftId", "rightId", "rightTs")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val sep = "\u0001"
    val tiny =
      pairs(p2.toDF()).map { case (pid, luid, iid, mid, ts) =>
        RedundantReduceTws.TinyJoined(pid, luid, iid, mid, "", "", ts, new java.sql.Timestamp(ts))
      } ++ pairs(p3.toDF()).map { case (pid, luid, mid, rid, ts) =>
        val (aid, content) =
          if (rid.contains(sep)) (rid.split(sep)(0), rid.split(sep)(1)) else (rid, "")
        RedundantReduceTws.TinyJoined(pid, luid, "", mid, aid, content, ts, new java.sql.Timestamp(ts))
      }
    val reduced = tiny.groupBy(t => (t.platformId, t.logUserId)).toSeq.flatMap { case (k, evs) =>
      RedundantReduceTws.advance(k, evs, RedundantReduceTws.emptyReduceState,
        Long.MaxValue, RedOoo, Long.MaxValue / 4, RedCleanup)._1
    }
    val merged = graft.streaming.FlatChainTws.mergeFlagshipDetails(
      spark.createDataset(reduced).toDF().where(col("kind").isin("impression", "action")),
      dims(0).select(col("insertionId"), col("requestId"), col("contentId").as("ins_content")),
      dims(1), dims(2)).where(col("status") === "ok")
    def side(kind: String, id: String) = merged.where(col("kind") === kind)
      .select(col("platformId"), col("logUserId"), col("insertionId"), col(id).as("id"), col("tsMs"))
    val want = Cogroup.sessionPayloadCogroup(side("impression", "impressionId"),
        side("action", "actionId"), Seq("platformId", "logUserId", "insertionId"),
        "tsMs", GapMs, "id", "id", tieType = "string")
      .select(col("logUserId"), col("insertionId"), col("session_start_ms"),
        col("n_left"), col("n_right"), col("left_ids"), col("right_ids"))
      .as[Sig].collect().toSet
    val out = root.resolve("out/flat_response_insertion")
    val got: Set[Sig] =
      if (!Files.isDirectory(out)) Set.empty
      else spark.read.parquet(out.toString)
        .select(col("logUserId"), col("insertionId"), col("sessionStartMs"),
          col("nImps"), col("nActs"), col("impIds"), col("actIds"))
        .as[Sig].collect().toSet
    val finalWm = progress.filter(_.numInputRows > 0).lastOption
      .map(FeaturesLive.watermarkMs).getOrElse(Long.MinValue)
    val horizon = GapMs + SessOoo + RedCleanup + 3 * MaxTimeMs
    val due = want.filter(_._3 + horizon < finalWm)
    val unexpected = got.diff(want).size
    val missing = due.diff(got).size
    got.diff(want).toSeq.sortBy(_._3).take(5).foreach { g =>
      System.err.println(s"[perfbench] emitted, not composed: $g") }
    due.diff(got).toSeq.sortBy(_._3).take(5).foreach { w =>
      System.err.println(s"[perfbench] composed, not emitted: $w") }
    run.op(unexpected == 0 && missing == 0 && due.nonEmpty,
      s"flagship: $unexpected emitted sessions not in the batch composition, " +
        s"$missing of ${due.size} closed sessions not emitted")
    run.detail("check_flagship_sessions") = Json.obj(Seq(
      "emitted" -> Json.num(got.size), "composed" -> Json.num(want.size),
      "due" -> Json.num(due.size)))
  }
}
