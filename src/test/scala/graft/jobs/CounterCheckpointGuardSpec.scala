package graft.jobs

import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.SparkSpec
import graft.jobs.StreamingJobsSpec.copyTree
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `StreamingJobs.counterQueryFamilies` on a checkpoint of the earlier
  * `SlidingCounterTws` layout (counts in a `buckets` map state plus a
  * `lastEmit` long). The fixture under
  * `checkpoints/counter-query-families-bucket-map` is that query's
  * checkpoint as the earlier layout wrote it: one shuffle partition, two
  * committed batches, day-1 and day-2 counts still buffered. Spark itself
  * restarts on it without an error and drops the old counts, so the job
  * must refuse it before the query starts. */
class CounterCheckpointGuardSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  test("counterQueryFamilies refuses a checkpoint of the bucket-map layout") {
    val fixture = Paths.get(getClass.getResource(
      "/checkpoints/counter-query-families-bucket-map").toURI)
    val dir = Files.createTempDirectory("graft_cc_old")
    copyTree(fixture, dir)
    val mem = MemoryStream[(Long, String, Long, Long)]
    val started = Try(StreamingJobs.counterQueryFamilies(
      mem.toDF().toDF("platformId", "queryHash", "metric", "tsMs"),
      StateClient, dir.toString))
    started.foreach(_.stop())
    assert(started.isFailure, "the restart on the earlier layout was accepted")
    val msg = started.failed.get.getMessage
    assert(msg.contains(s"$dir/query_families"), msg)
    assert(msg.contains("buckets, lastEmit") && msg.contains("new checkpoint"), msg)
  }
}
