package graft.jobs

import java.nio.file.{Files, Paths}

import scala.jdk.StreamConverters._
import scala.util.Try

import graft.SparkSpec
import graft.jobs.StreamingJobsSpec.copyTree
import graft.sources.FakeLogGenerator

/** `StreamingJobs.flagshipOutput` on a checkpoint written before the join
  * state's LHS entries held their scopes ((ts, contentIds), now (ts,
  * contentIds, scopes)): `checkpoints/flagship-output-unscoped-pairs`, as
  * the earlier form wrote it at `/tmp/flagship_ckpt` (one shuffle
  * partition, one committed batch of two generator users, every stage
  * still buffering). The restart must
  * fail loudly; Spark's state-schema check does so, so the job needs no
  * guard of its own. */
class FlagshipCheckpointGuardSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  test("flagshipOutput refuses a checkpoint of the unscoped join state") {
    val fixture = Paths.get(getClass.getResource(
      "/checkpoints/flagship-output-unscoped-pairs").toURI)
    val dir = Files.createTempDirectory("graft_fo_old")
    copyTree(fixture, dir.resolve("ckpt"))
    // re-root the schema paths the operator metadata holds (and drop the
    // checksums the edit invalidates)
    Files.walk(dir).toScala(List)
      .filter(p => p.getParent.getFileName.toString == "v2").foreach { p =>
        if (p.getFileName.toString.endsWith(".crc")) Files.delete(p)
        else Files.writeString(p, Files.readString(p)
          .replace("file:/tmp/flagship_ckpt/", s"file:$dir/ckpt/"))
      }
    val env = FakeLogGenerator.generate(FakeLogGenerator.Options(users = 2,
      startMs = 1700000000000L + 86400000L)).toDS().toDF()
    env.write.parquet(s"$dir/in")
    val restarted = Try {
      val Seq(insertionMeta, impDetails, actDetails) = FlatOutputJob.detailFrames(env)
      val q = StreamingJobs.flagshipOutput(
        StreamingJobs.envelopeStream(spark, s"$dir/in", env.schema),
        insertionMeta, impDetails, actDetails, s"$dir/out", s"$dir/ckpt",
        maxTimeMs = 60000L, gapMs = 60000L)
      try q.processAllAvailable() finally q.stop()
    }
    assert(restarted.isFailure, "the restart on the unscoped join state was accepted")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // Spark's own state-schema check refuses it, naming both value schemas
    val all = msgs(restarted.failed.get).mkString("\n")
    assert(all.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), all.take(2000))
    assert(all.contains("StructField(_3,ArrayType(StringType,true),true)"),
      all.take(2000))
  }
}
