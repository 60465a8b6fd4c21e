package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("streamCommands keeps the latest-EVENT value per (key, field)") {
    // (key, field, value, tsMs): the later event carries the SMALLER value
    // — largest-value-wins would pick 9, latest-event-wins must pick 3
    val mem = MemoryStream[(String, String, String, Long)]
    val cmds = mem.toDS().toDF("key", "field", "value", "tsMs")
      .withColumn("cmd", lit("HSET")).withColumn("ttlSec", lit(-1L))
    SinksSpec.captured.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val q = Sinks.streamCommands(cmds, SinksSpec.CapturingClient, s"$dir/cp").start()
    mem.addData(("k1", "f1", "9", 100L), ("k1", "f1", "3", 200L),
      ("k2", "f1", "5", 50L))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(SinksSpec.captured.asScala.toSet ==
      Set(("k1", "f1", "3"), ("k2", "f1", "5")))
  }

  test("streamCommands compares values numerically, not lexicographically") {
    // no tsMs column: a monotone counter crossing a digit-length boundary
    // — the lexicographic max is "9", the numeric max is "10"
    val mem = MemoryStream[(String, String, String)]
    val cmds = mem.toDS().toDF("key", "field", "value")
      .withColumn("cmd", lit("HSET")).withColumn("ttlSec", lit(-1L))
    SinksSpec.captured.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_num").toString
    val q = Sinks.streamCommands(cmds, SinksSpec.CapturingClient, s"$dir/cp").start()
    mem.addData(("k1", "f1", "9"), ("k1", "f1", "10"))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(SinksSpec.captured.asScala.toSet == Set(("k1", "f1", "10")))
  }

  test("paced delivery spreads writes across seconds (A12 backfill cap)") {
    SinksSpec.captured.clear()
    val cmds = (1 to 30).map(i => ("HSET", s"k$i", "f", "1", -1L))
      .toDF("cmd", "key", "field", "value", "ttlSec").coalesce(1)
    val t0 = System.nanoTime()
    Sinks.deliverCommands(cmds, SinksSpec.CapturingClient,
      maxPerSecondPerPartition = 20L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(SinksSpec.captured.size == 30)
    assert(secs >= 1.0, s"30 cmds at 20/s should take >= 1s, took $secs")
  }

  test("CSV sink round-trips a frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    Sinks.writeCsv(df, s"$dir/out")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
      .select(col("k"), col("v").cast("long").as("v"))
      .as[(String, Long)].collect().toSet
    assert(back == Set(("a", 1L), ("b", 2L)))
  }
}

object SinksSpec {
  // static so the executor-side deserialized client writes where the
  // driver-side assertion reads (local-mode single JVM)
  val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
  object CapturingClient extends Sinks.CommandClient {
    def execute(cmd: String, key: String, field: String, value: String,
        ttlSec: Long): Unit = captured.add((key, field, value))
  }
}
