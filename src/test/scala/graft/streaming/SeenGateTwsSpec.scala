package graft.streaming

import graft.SparkSpec
import graft.streaming.SeenGate._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The transformWithState gate composes with further stateful operators
  * in one query; its parity with the batch form is pinned in
  * SeenGateSpec. */
class SeenGateTwsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  test("tws gate CHAINS with a windowed aggregation in one query") {
    // the payoff over FMGWS: two stateful operators in a single streaming
    // query — gate upstream, tumbling-window count downstream
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[Event]
    // chain on EMISSION time via the eventTimeColumnName overload: the
    // gate's output watermark rides `emittedAt` (non-decreasing), so the
    // downstream stateful stage composes without a second watermark node
    // (a fresh withWatermark would idle at zero and deadlock the gate)
    val gated = SeenGateTws.gateStreamChained(mem.toDS(), "1 second")
    val counted = gated
      .groupBy(window(col("emittedAt"), "10 minutes"), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("key"), unix_millis(col("window.start")).as("ws"), col("n"))
    val q = counted.writeStream.format("memory").queryName("tws_chain")
      .outputMode("append").start()
    mem.addData(Event("a", 1, "", 500L), Event("a", 0, "a1", 1000L),
      Event("a", 0, "a2", 2000L), Event("b", 0, "b1", 1000L))
    q.processAllAvailable()
    mem.addData(Event("zz", 1, "", 600000L)) // release the gate
    q.processAllAvailable()
    mem.addData(Event("zy", 1, "", 3600000L)) // close downstream windows
    q.processAllAvailable()
    mem.addData(Event("zx", 1, "", 7200000L))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("tws_chain")
      .select("key", "ws", "n").as[(String, Long, Long)].collect().toSeq
    val got = all.map(r => r._1 -> r._3).toMap
    assert(got.get("a") == Some(2L), s"rows=$all") // a1+a2 passed, b1 dropped
    assert(!got.contains("b"), s"rows=$all")
  }
}
