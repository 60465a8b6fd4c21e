package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session policy every graft main and the test suites run
  * under, so a wall measured by a tool is measured under bench conditions.
  * `Smoke` builds its own plain session on purpose: it mimics a caller's
  * default session. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Get or create the `local[cpus]` session, one shuffle partition per
    * core. */
  def create(cpus: Int = defaultCpus): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // Tables.load normalizes every events.parquet timestamp flavor to a
    // session-TZ timestamp; NTZ inference would undo that at the reader
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // pinned globally so UpsertTable's set-and-restore of the same value
    // is a no-op: a concurrent action never observes static overwrite
    // semantics mid-flight
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // v2 committer: task-side renames instead of a sequential job-commit
    // rename per partition dir; the table gates write dozens of small
    // partition dirs per commit and the v1 job commit is pure
    // driver-side latency there
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.ui.enabled", "false")
    // every transformWithState operator needs the RocksDB store (the
    // default HDFS-backed store rejects them), and a query's provider is
    // fixed by its first checkpoint; RocksDB also keeps large state off
    // the heap. The FMGWS operators (`KeyedTransition.flatMapGroups`) run
    // on it too, as in the benchmark's session.
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()
}
