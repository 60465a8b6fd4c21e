package graft.streaming

import graft.SparkSpec
import graft.streaming.SeenGate._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** RightSeenOutput gate semantics (RightSeenOutput.java:22-107). */
class SeenGateSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private def left(k: String, id: String, ts: Long, now: Boolean = false) =
    Event(k, 0, id, ts, now)
  private def right(k: String, ts: Long) = Event(k, 1, "", ts)

  test("left emits only once its key is seen on the right") {
    val (out, _) = advance("k", Seq(left("k", "l1", 100L), right("k", 150L),
      left("k", "l2", 200L)), emptyState, wmMs = 300L)
    assert(out.map(_.id) == Seq("l1", "l2"))
    val (none, _) = advance("k", Seq(left("k", "l1", 100L)), emptyState, 300L)
    assert(none.isEmpty) // never seen → dropped at watermark
  }

  test("immediate lefts bypass the gate") {
    val (out, _) = advance("k", Seq(left("k", "l1", 100L, now = true)),
      emptyState, wmMs = 0L)
    assert(out.map(_.id) == Seq("l1"))
  }

  test("not-yet-due lefts stay buffered, then release when seen") {
    val (out1, st1) = advance("k", Seq(left("k", "l1", 500L)), emptyState, 100L)
    assert(out1.isEmpty && st1.delayed.nonEmpty)
    val (out2, _) = advance("k", Seq(right("k", 200L)), st1, 600L)
    assert(out2.map(_.id) == Seq("l1"))
  }

  test("streaming matches batch left-semi + bypass") {
    val events = Seq(
      left("a", "a1", 1000L), right("a", 1500L), left("a", "a2", 2000L),
      left("b", "b1", 1000L), // no right for b → drops
      left("c", "c1", 1000L, now = true)) // bypass, no right needed
    val batch = gateBatch(events.toDS()).collect().map(_.id).toSet
    assert(batch == Set("a1", "a2", "c1"))

    val mem = MemoryStream[Event]
    val q = SeenGateTws.gateStream(mem.toDS(), "1 second")
      .writeStream.format("memory").queryName("seen_gate_stream")
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    mem.addData(right("zz", 600000L)) // advance watermark past all lefts
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("seen_gate_stream")
      .select("id").as[String].collect().toSet
    assert(streamed == batch)
  }
}
