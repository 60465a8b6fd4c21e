package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Metrics read from the streaming queries' own progress reports (no
  * listener needed) and from their output directories. */
object StreamMetrics {

  private def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)

  /** On the streams, `core_gates_wall_s` is the time the micro-batches
    * spent in `addBatch` (reading, operators, state, sink) and
    * `table_gates_wall_s` the time in the write-ahead and commit logs
    * (`walCommit` + `commitOffsets`). */
  def phaseWalls(run: Run, qs: Seq[StreamingQuery]): Unit = {
    val ps = qs.flatMap(LoadGen.progress)
    run.metric("core_gates_wall_s", ps.map(phase(_, "addBatch")).sum / 1e3, "s")
    run.metric("table_gates_wall_s",
      ps.map(p => phase(p, "walCommit") + phase(p, "commitOffsets")).sum / 1e3, "s")
  }

  /** Per-layer metrics of the `sources`, `jobs`, `streaming` and `sinks`
    * layers, from each query's progress (`progress(q)` = that query's
    * batches in order), their file-source logs and the sink directories. */
  def layers(run: Run, progress: Seq[Seq[StreamingQueryProgress]],
      outDirs: Seq[Path], checkpoints: Seq[Path]): Unit = {
    val all = progress.flatten
    val data = all.filter(_.numInputRows > 0)
    def sum(f: StreamingQueryProgress => Double) = all.map(f).sum
    run.layer("sources.input_rows", sum(_.numInputRows.toDouble), "rows")
    run.layer("sources.latest_offset_ms", sum(phase(_, "latestOffset")), "ms")
    run.layer("sources.get_batch_ms", sum(phase(_, "getBatch")), "ms")
    run.layer("jobs.batches", all.size.toDouble, "count")
    run.layer("jobs.no_data_batches", (all.size - data.size).toDouble, "count")
    val batchMs = all.map(phase(_, "triggerExecution"))
    run.layer("jobs.batch_ms_p50", Stats.quantile(batchMs, 0.5), "ms")
    run.layer("jobs.batch_ms_p95", Stats.quantile(batchMs, 0.95), "ms")
    run.layer("jobs.planning_ms", sum(phase(_, "queryPlanning")), "ms")
    run.layer("jobs.add_batch_ms", sum(phase(_, "addBatch")), "ms")
    run.layer("jobs.wal_commit_ms", sum(phase(_, "walCommit")), "ms")
    run.layer("jobs.commit_offsets_ms", sum(phase(_, "commitOffsets")), "ms")
    def custom(p: StreamingQueryProgress, k: String) =
      p.stateOperators.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val last = progress.flatMap(_.lastOption)
    run.layer("streaming.state_rows_end", last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble, "rows")
    run.layer("streaming.state_bytes_end", last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble, "bytes")
    run.layer("streaming.state_rows_updated", sum(_.stateOperators.map(_.numRowsUpdated).sum.toDouble), "rows")
    run.layer("streaming.state_rows_removed", sum(_.stateOperators.map(_.numRowsRemoved).sum.toDouble), "rows")
    run.layer("streaming.state_commit_ms", sum(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    run.layer("streaming.rocksdb_flush_ms", sum(custom(_, "rocksdbCommitFlushLatency")), "ms")
    run.layer("streaming.rocksdb_checkpoint_ms", sum(custom(_, "rocksdbCommitCheckpointLatency")), "ms")
    run.layer("streaming.rocksdb_sst_bytes", last.map(custom(_, "rocksdbSstFileSize")).sum, "bytes")
    run.layer("sinks.output_rows", sum(p => math.max(0L, p.sink.numOutputRows).toDouble), "rows")
    val files = outDirs.filter(Files.isDirectory(_)).flatMap(d =>
      LoadGen.list(d, walk = true).filter(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")))
    run.layer("sinks.files_written", files.size.toDouble, "files")
    run.layer("sinks.output_bytes", files.map(Files.size(_).toDouble).sum, "bytes")
    val perBatch = checkpoints.flatMap(c =>
      LoadGen.fileBatches(c).groupBy(_._2).values.map(_.size.toDouble))
    run.layer("sources.files_per_batch_p50", Stats.median(perBatch), "files")
  }
}
