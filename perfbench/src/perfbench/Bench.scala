package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: its arguments, its work directory
  * and the metrics, operation counts and detail it accumulates. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, val cpus: Int) {

  /** End-to-end metrics (untraced runs print these). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced runs print these). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Free-form per-gate / per-batch detail, written to the detail file. */
  val detail = mutable.LinkedHashMap.empty[String, Json.Value]

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** A run whose load generator fell behind measures nothing valid. */
  var invalid: Option[String] = None

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)

  /** Count one operation; a failed one is also logged with its reason. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"[perfbench] FAILED $what") }
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** One benchmark workload. `stage` writes the seeded inputs (untimed),
  * `prepare` is the repeatable set-up (warm-up, static frames) that
  * `setup_s` times, and `measure` is the timed part plus its output
  * checks. */
trait Workload {
  type Prepared
  /** The small input the warm-up reads; staged before the first set-up
    * pass, so the main staging below runs in a warm JVM. */
  def stageWarmUp(spark: SparkSession, run: Run): Unit = ()
  def stage(spark: SparkSession, run: Run): Unit
  def prepare(spark: SparkSession, run: Run): Prepared
  def measure(spark: SparkSession, run: Run, prepared: Prepared,
      tracer: Option[Tracer]): Unit
}

/** Benchmark entry point. The Python runner (`perfbench/run.py`) builds
  * the classes, starts this main in a fresh JVM and turns the result file
  * it writes into the final stdout line.
  *
  * Usage: `perfbench.Bench <workload> <seed> <seconds> <trace 0|1> <work
  * dir> <result file>`. */
object Bench {
  val SetupReps = 3

  val workloads: Map[String, Workload] = Map(
    "flagship_replay" -> FlagshipReplay,
    "features_live" -> FeaturesLive,
    "catalog_batch" -> CatalogBatch)

  private val t0Ns = System.nanoTime()
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0Ns) / 1e9}%8.2f s  $what")

  def main(args: Array[String]): Unit = {
    val Array(name, seed, seconds, trace, work, out) = args
    val workload = workloads.getOrElse(name,
      sys.error(s"unknown workload $name (known: ${workloads.keys.mkString(", ")})"))
    val run = new Run(name, seed.toLong, seconds.toInt, trace == "1",
      Paths.get(work).toAbsolutePath, Session.cpus)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = Session.create(run)
    val sessionUpMs = System.currentTimeMillis()
    log("session up")
    var stageS = 0.0
    def staging(f: => Unit): Unit = {
      val t = System.nanoTime(); f; stageS += (System.nanoTime() - t) / 1e9
    }
    staging(workload.stageWarmUp(spark, run))
    // Set-up is repeated: the first pass pays JVM start and class loading,
    // later passes start a fresh session in the same JVM. The median of
    // the passes is the reported set-up time. Staging is not set-up.
    val setups = mutable.ArrayBuffer.empty[Double]
    var t0 = System.nanoTime()
    var prepared = workload.prepare(spark, run)
    setups += (sessionUpMs - jvmStartMs) / 1e3 + (System.nanoTime() - t0) / 1e9
    staging(workload.stage(spark, run))
    run.layer("loadgen.stage_s", stageS, "s")
    log("inputs staged")
    for (_ <- 2 to SetupReps) {
      spark.stop()
      t0 = System.nanoTime()
      spark = Session.create(run)
      prepared = workload.prepare(spark, run)
      setups += (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up passes: ${setups.map(x => f"$x%.2f").mkString(", ")}")
    run.metric("setup_s", Stats.median(setups.toSeq), "s")
    run.detail("setup_s_passes") = Json.arr(setups.toSeq.map(Json.num))
    val tracer = if (run.trace) Some(Tracer.install(spark, run)) else None
    try workload.measure(spark, run, prepared, tracer)
    catch { case e: Throwable =>
      e.printStackTrace()
      run.op(ok = false, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    log("measured and checked")
    tracer.foreach(_.finish(spark))
    spark.stop()
    val rssMb = Session.peakRssMb()
    run.metric("peak_rss_mb", rssMb, "MB")
    run.layer("failed_ops_share",
      if (run.attempted == 0) 1.0 else run.failed.toDouble / run.attempted, "ratio")
    Files.writeString(Paths.get(out), Json.render(result(run)))
    log("done")
  }

  private def result(run: Run): Json.Value = {
    def m(ms: Iterable[(String, (Double, String))]) = Json.obj(ms.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Json.obj(Seq(
      "workload" -> Json.str(run.workload),
      "seed" -> Json.num(run.seed.toDouble),
      "trace" -> Json.bool(run.trace),
      "cpus" -> Json.num(run.cpus.toDouble),
      "attempted" -> Json.num(run.attempted.toDouble),
      "failed" -> Json.num(run.failed.toDouble),
      "failures" -> Json.arr(run.failures.toSeq.map(Json.str)),
      "invalid" -> run.invalid.map(Json.str).getOrElse(Json.Null),
      "metrics" -> m(run.metrics),
      "layers" -> m(run.layers),
      "detail" -> Json.obj(run.detail.toSeq)))
  }
}

/** The benchmark's Spark session: the same settings as the repo's batch
  * bench (`graft.Bench`), RocksDB state for the streams, and every
  * scratch directory inside the run's work directory. */
object Session {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def create(run: Run, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[${run.cpus}]"))
      .appName(s"perfbench-${run.workload}")
      .config("spark.sql.shuffle.partitions", run.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.dir("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", run.dir("hadoop-tmp").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), 0 on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON values and rendering — enough for the result and detail
  * files, without a JSON library on the benchmark's class path. */
object Json {
  sealed trait Value
  case object Null extends Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final case class Obj(kvs: Seq[(String, Value)]) extends Value

  def num(v: Double): Value = Num(v)
  def str(v: String): Value = Str(v)
  def bool(v: Boolean): Value = Bool(v)
  def arr(vs: Seq[Value]): Value = Arr(vs)
  def obj(kvs: Seq[(String, Value)]): Value = Obj(kvs)

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Value): String = v match {
    case Null => "null"
    case Num(d) =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case Str(s) => "\"" + quote(s) + "\""
    case Bool(b) => b.toString
    case Arr(vs) => vs.map(render).mkString("[", ",", "]")
    case Obj(kvs) => kvs.map { case (k, x) => "\"" + quote(k) + "\":" + render(x) }
      .mkString("{", ",", "}")
  }
}
