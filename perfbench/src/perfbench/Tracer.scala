package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`, registered
  * only when `--trace 1`. Events stay in memory; at the end they become
  * spans (name, layer, start, end, parent, trace id):
  *
  *  - workload → gate (`build`, `action`) → Spark job → stage, jobs
  *    attached to their gate by job group;
  *  - workload → query → micro-batch → its `durationMs` phases in
  *    execution order → Spark job → stage, jobs attached to their batch
  *    by the streaming batch-id local property.
  *
  * Each span's self time is its duration minus the union of its
  * children; summed per layer they account for the workload's wall. */
final class Tracer(run: Run) {
  import Tracer._

  val startMs: Long = System.currentTimeMillis()
  @volatile private var endMs = Long.MaxValue

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val gates = new ConcurrentLinkedQueue[GateRec]()
  private val queries = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  /** When the queries' build started and when they were started. */
  private var buildStart = Option.empty[(Long, Long)]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.add(JobRec(e.jobId, e.time, prop("spark.jobGroup.id"),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def get(k: String) = ph.get(k).map(s => (s.startTimeMs, s.endTimeMs))
      plans.add(PlanRec(get("analysis"), get("optimization"), get("planning"),
        numFiles(qe.executedPlan)))
    }
  }

  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The workload finished building (and started) its queries. */
  def buildDone(t0Ms: Long): Unit =
    buildStart = Some((t0Ms, System.currentTimeMillis()))

  def gate(name: String, family: String, t0Ms: Long, buildS: Double, actionS: Double): Unit =
    gates.add(GateRec(name, family, t0Ms, buildS, actionS))

  /** The timed part is over; later events are the output checks'. */
  def end(): Unit = endMs = System.currentTimeMillis()

  /** The workload's queries stopped. Ends the traced window. */
  def queriesDone(qs: Seq[StreamingQuery]): Unit = {
    val now = System.currentTimeMillis()
    qs.foreach(q => queries += ((q.name, q.id.toString,
      buildStart.map(_._1).getOrElse(startMs), now)))
    endMs = now
  }

  /** Unregister, build the spans, write the spans file and the self-time
    * summary, and add the per-layer metrics the listeners saw. */
  def finish(spark: SparkSession): Unit = {
    if (endMs == Long.MaxValue) endMs = System.currentTimeMillis()
    Thread.sleep(200) // let the listener bus deliver the window's last events
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val inWindow = (t: Long) => t >= startMs && t <= endMs
    val js = jobs.asScala.toSeq.filter(j => inWindow(j.startMs))
    val stageJob = js.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val ss = stages.asScala.toSeq.filter(s => stageJob.contains(s.stageId))
    val ps = plans.asScala.toSeq.filter(p => p.planning.exists(x => inWindow(x._2)))

    // ---- per-layer metrics from the listeners ----
    val windowS = (endMs - startMs) / 1e3
    run.layer("operators.jobs", js.size.toDouble, "count")
    run.layer("operators.stages", ss.size.toDouble, "count")
    run.layer("operators.tasks", ss.map(_.tasks.toDouble).sum, "count")
    run.layer("operators.task_run_s", ss.map(_.runMs).sum / 1e3, "s")
    val cpuS = ss.map(_.cpuNs).sum / 1e9
    run.layer("operators.task_cpu_s", cpuS, "s")
    run.layer("operators.gc_s", ss.map(_.gcMs).sum / 1e3, "s")
    run.layer("operators.cpu_utilization", cpuS / math.max(1e-9, windowS * run.cpus), "ratio")
    run.layer("operators.shuffle_write_bytes", ss.map(_.shuffleWrite.toDouble).sum, "bytes")
    run.layer("operators.shuffle_read_bytes", ss.map(_.shuffleRead.toDouble).sum, "bytes")
    run.layer("operators.shuffle_fetch_wait_ms", ss.map(_.fetchWaitMs.toDouble).sum, "ms")
    run.layer("operators.spill_bytes", ss.map(_.spill.toDouble).sum, "bytes")
    def phaseMs(f: PlanRec => Option[(Long, Long)]) = ps.flatMap(f).map(x => (x._2 - x._1).toDouble).sum
    run.layer("plans.analysis_ms", phaseMs(_.analysis), "ms")
    run.layer("plans.optimization_ms", phaseMs(_.optimization), "ms")
    run.layer("plans.planning_ms", phaseMs(_.planning), "ms")
    val gs = gates.asScala.toSeq
    if (gs.nonEmpty) {
      // batch writes: files from the write commands, bytes/rows from tasks
      run.layer("sinks.files_written", ps.map(_.files.toDouble).sum, "files")
      run.layer("sinks.output_bytes", ss.map(_.outBytes.toDouble).sum, "bytes")
      run.layer("sinks.output_rows", ss.map(_.outRows.toDouble).sum, "rows")
      run.layer("catalog.eager_jobs", js.count(j => gs.exists(g =>
        j.group.contains(s"gate:${g.name}") && j.startMs <= g.t0Ms + (g.buildS * 1e3).toLong)).toDouble, "count")
    } else buildStart.foreach { case (t0, t1) =>
      run.layer("catalog.build_s", (t1 - t0) / 1e3, "s")
      run.layer("catalog.action_s", (endMs - t1) / 1e3, "s")
      run.layer("catalog.eager_jobs", js.count(j => j.startMs >= t0 && j.startMs <= t1).toDouble, "count")
    }

    // ---- spans ----
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(name: String, layer: String, s: Long, e: Long, parent: Int): Int = {
      spans += Span(spans.size, name, layer, s, math.max(s, e), parent); spans.size - 1
    }
    val root = add(run.workload, "bench", startMs, endMs, -1)
    // (parent candidates for jobs) job → innermost enclosing span
    val jobParents = mutable.ArrayBuffer.empty[(Int, JobRec => Boolean)]
    gs.foreach { g =>
      val b = (g.buildS * 1e3).toLong; val a = (g.actionS * 1e3).toLong
      val gi = add(g.name, "catalog", g.t0Ms, g.t0Ms + b + a, root)
      val bi = add("build", "catalog", g.t0Ms, g.t0Ms + b, gi)
      val ai = add("action", "catalog", g.t0Ms + b, g.t0Ms + b + a, gi)
      Seq(bi, ai).foreach(i => jobParents += ((i, (j: JobRec) => j.group.contains(s"gate:${g.name}"))))
    }
    val byQuery = progress.asScala.toSeq.groupBy(_.id.toString)
    queries.foreach { case (name, id, qStart, qEnd) =>
      val qi = add(name, "streaming", qStart, qEnd, root)
      byQuery.getOrElse(id, Nil).sortBy(_.batchId).foreach { p =>
        val bs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val bi = add(s"batch ${p.batchId}", "jobs", bs, bs + dur, qi)
        var t = bs
        PhaseOrder.foreach { case (ph, layer) =>
          Option(p.durationMs.get(ph)).map(_.longValue).filter(_ > 0).foreach { d =>
            val pi = add(ph, layer, t, t + d, bi)
            jobParents += ((pi, (j: JobRec) => j.queryId.contains(id) && j.batchId.contains(p.batchId)))
            t += d
          }
        }
        jobParents += ((bi, (j: JobRec) => j.queryId.contains(id) && j.batchId.contains(p.batchId)))
      }
    }
    // query-plan phases hang under the innermost span containing them
    def innermost(t: Long, from: Seq[Int]): Int =
      from.filter(i => spans(i).start <= t && t <= spans(i).end)
        .sortBy(i => spans(i).end - spans(i).start).headOption.getOrElse(root)
    val frame = spans.indices.filter(i => spans(i).layer != "plans").toSeq
    ps.foreach { p =>
      Seq("analysis" -> p.analysis, "optimization" -> p.optimization, "planning" -> p.planning)
        .foreach { case (n, x) => x.foreach { case (s, e) =>
          add(n, "plans", s, e, innermost(s, frame)) } }
    }
    js.foreach { j =>
      val end = Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(endMs)
      val cands = jobParents.collect { case (i, f) if f(j) => i }.toSeq
      val parent = if (cands.nonEmpty) innermost(j.startMs, cands) else innermost(j.startMs, frame)
      val ji = add(s"job ${j.jobId}", "operators", j.startMs, end, parent)
      ss.filter(s => stageJob.get(s.stageId).contains(j.jobId)).foreach(s =>
        add(s"stage ${s.stageId}", "operators", s.startMs, s.endMs, ji))
    }
    val self = selfTimes(spans.toSeq)
    val byLayer = spans.groupBy(_.layer).view.mapValues(_.map(s => self(s.id)).sum / 1e3).toMap
    run.detail("self_time_s") = Json.obj(byLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    run.detail("traced_wall_s") = Json.num((endMs - startMs) / 1e3)
    val traceId = s"${run.workload}-${run.seed}"
    val file = Paths.get(sys.props.getOrElse("perfbench.results", run.work.toString))
      .resolve(s"spans_${run.workload}_s${run.seed}.json")
    Files.writeString(file, Json.render(Json.obj(Seq(
      "trace_id" -> Json.str(traceId),
      "spans" -> Json.arr(spans.toSeq.map(s => Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.start.toDouble), "end_ms" -> Json.num(s.end.toDouble),
        "parent" -> (if (s.parent < 0) Json.Null else Json.num(s.parent)),
        "trace_id" -> Json.str(traceId)))))))))
    run.detail("spans_file") = Json.str(file.toString)
  }
}

object Tracer {
  final case class JobRec(jobId: Int, startMs: Long, group: Option[String],
      queryId: Option[String], batchId: Option[Long], stageIds: Seq[Int])
  final case class StageRec(stageId: Int, startMs: Long, endMs: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spill: Long, outBytes: Long, outRows: Long)
  final case class PlanRec(analysis: Option[(Long, Long)], optimization: Option[(Long, Long)],
      planning: Option[(Long, Long)], files: Long)
  final case class GateRec(name: String, family: String, t0Ms: Long, buildS: Double, actionS: Double)
  final case class Span(id: Int, name: String, layer: String, start: Long, end: Long, parent: Int)

  /** Micro-batch phases in the order `MicroBatchExecution` runs them, with
    * the layer each belongs to. */
  val PhaseOrder: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources", "walCommit" -> "jobs", "getBatch" -> "sources",
    "queryPlanning" -> "plans", "addBatch" -> "sinks", "commitOffsets" -> "jobs")

  def install(spark: SparkSession, run: Run): Tracer = {
    val t = new Tracer(run)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.qeListener)
    spark.streams.addListener(t.streamListener)
    t
  }

  /** Files written by a batch write command, 0 for anything else. */
  def numFiles(plan: SparkPlan): Long = plan match {
    case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case a: AdaptiveSparkPlanExec => numFiles(a.executedPlan)
    case p => p.children.map(numFiles).sum
  }

  /** Self time per span id when spans run concurrently: every instant of
    * the window goes to the innermost spans active at that instant,
    * shared equally among them. The self times then add up to the root's
    * wall exactly, however many queries, jobs and stages overlap. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    val bounds = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted.toArray
    val self = Array.fill(spans.size)(0.0)
    // children outlive nothing: a span is clipped to its parent's interval
    val clip = spans.map { s =>
      var (a, b, p) = (s.start, s.end, s.parent)
      while (p >= 0) { a = math.max(a, spans(p).start); b = math.min(b, spans(p).end); p = spans(p).parent }
      (a, b)
    }
    for (k <- 0 until bounds.length - 1) {
      val (t0, t1) = (bounds(k), bounds(k + 1))
      val active = spans.indices.filter(i => clip(i)._1 <= t0 && clip(i)._2 >= t1)
      val activeSet = active.toSet
      // innermost: active spans none of whose children is active
      val leaves = active.filter(i => !kids.getOrElse(i, Nil).exists(activeSet))
      leaves.foreach(i => self(i) += (t1 - t0).toDouble / leaves.size)
    }
    spans.indices.map(i => i -> self(i)).toMap
  }
}
