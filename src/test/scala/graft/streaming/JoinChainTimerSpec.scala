package graft.streaming

import graft.SparkSpec
import graft.schema.ScopedEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The join chain's `transformWithState` stages keep one event-time timer
  * per key: when a step moves the key's fire time, the old timer goes.
  * Read back through Spark's `statestore` source after three batches that
  * each pull the fire time earlier. */
class JoinChainTimerSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  test("InferredJoinTws keeps one timer per key as its fire time moves") {
    val ckpt = java.nio.file.Files.createTempDirectory("join_timer").toString
    try {
      val mem = MemoryStream[ScopedEvent]
      val q = InferredJoinTws.joinScopedStream(mem.toDS(), "5 seconds",
          maxTimeMs = 5000L, outOfOrderMs = 1000L, rightOuter = false)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        // each LHS row lowers the key's fire time (ts + window + slack):
        // 15 s, then 14 s, then 13 s; the watermark stays at 4 s
        Seq(9000L, 8000L, 7000L).foreach { ts =>
          mem.addData(ScopedEvent(1L, "u", 0, s"l$ts", "", ts, Seq("u"), Nil))
          q.processAllAvailable()
        }
      } finally q.stop()
      val timers = spark.read.format("statestore").option("path", ckpt)
        .option("readRegisteredTimers", "true").load()
        .selectExpr("expiration_timestamp_ms").as[Long].collect().toSeq
      assert(timers == Seq(13000L))
    } finally deleteRecursively(new java.io.File(ckpt))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
