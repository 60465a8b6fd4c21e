package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Pins the on-disk state layout of the watermark-ordered
  * `transformWithState` operators, read back through Spark's
  * `statestore` source: the reorder buffer is the `pending` list state
  * (one row per buffered event, the operator's row encoder), the timer
  * bookkeeping is the `timerAt` long, and exactly one event-time timer
  * per key sits at watermark + 1 while anything is buffered. A
  * checkpoint written by one version must restart on the next, so these
  * names and encoders are part of the contract. */
class TwsStateLayoutSpec extends SparkSpec {

  test("CusumTws checkpoint: buffered row in pending, one timer at watermark + 1") {
    // a child session carries the RocksDB provider so nothing leaks into
    // the shared session
    val rs = spark.newSession()
    rs.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rs.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("tws_layout").toString
    try {
      val mem = MemoryStream[CusumTws.Event](rs)
      val q = CusumTws.monitor(mem.toDS(), "2 seconds", 0L, 0L, 1L)(rs)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        // the 5s row arrives first; the watermark ends at 5s − 2s = 3s,
        // which releases the 1s row and leaves the 5s row buffered
        mem.addData(CusumTws.Event("k", 5000L, 7L), CusumTws.Event("k", 1000L, 3L))
        q.processAllAvailable()
      } finally q.stop()
      val wmMs = 3000L

      def read(opts: (String, String)*) = rs.read.format("statestore")
        .option("path", ckpt).options(opts.toMap).load()

      val pending = read("stateVarName" -> "pending")
        .selectExpr("key.value AS k", "list_element.key AS key",
          "list_element.tsMs AS tsMs", "list_element.vE6 AS vE6")
        .as[(String, String, Long, Long)].collect().toSeq
      assert(pending == Seq(("k", "k", 5000L, 7L)))

      val timerAt = read("stateVarName" -> "timerAt")
        .selectExpr("key.value", "value.value").as[(String, Long)]
        .collect().toSeq
      assert(timerAt == Seq(("k", wmMs + 1)))

      val timers = read("readRegisteredTimers" -> "true")
        .selectExpr("key.value", "expiration_timestamp_ms")
        .as[(String, Long)].collect().toSeq
      assert(timers == Seq(("k", wmMs + 1)))
    } finally deleteRecursively(new java.io.File(ckpt))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
