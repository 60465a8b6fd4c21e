package graft.jobs

import graft.SparkSpec
import graft.sinks.Sinks
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming counter job's QUERY-family path END-TO-END in one query
  * (StreamingJobs.counterQueryFamilies): family SlidingCounterTws +
  * top-query SlidingCounterTws + threshold + mid-chain SeenGateTws +
  * command encoding — the reference's emit-top-queries → RightSeenOutput →
  * RedisSink wiring (CounterJob.java:441-499).
  *
  * Parity target: the final feature-store state must equal the q29-style
  * BATCH derivation — daily counts per query, command-encoded, restricted
  * to queries from their first threshold-crossing day onward (the gate's
  * watermark semantics: a count released before its query was marked top
  * drops). The fixture paces the watermark day by day so that ordering is
  * real, and includes a query that becomes top only on day 2 — its day-1
  * count must drop in BOTH derivations. */
class CounterChainSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s = spark

  private val Day = 86400000L
  private val S = "\u001f"
  // featureId(Query=5, metric=1, Day=2)
  private val Fid = ((5L << 24) | (1L << 8) | 2L).toString

  // (platformId, queryHash, metric, tsMs)
  private type Ev = (Long, String, Long, Long)
  private def ev(q: String, ts: Long): Ev = (0L, q, 1L, ts)

  // day 1: qA hot (4 ≥ threshold 3), qB cold (1), qC cold-for-now (1)
  private val day1 = Seq(ev("qA", 1000L), ev("qA", 2000L), ev("qA", 3000L),
    ev("qA", 4000L), ev("qB", 5000L), ev("qC", 6000L))
  // day 2: qA cools (2), qC crosses (3)
  private val day2 = Seq(ev("qA", Day + 1000L), ev("qA", Day + 2000L),
    ev("qC", Day + 3000L), ev("qC", Day + 4000L), ev("qC", Day + 5000L))

  /** q29-style batch derivation over the same events: daily counts,
    * command-encoded, gated to day ≥ the query's first crossing day. */
  private def batchExpected: Map[(String, String), String] = {
    val e = (day1 ++ day2).toDF("platformId", "queryHash", "metric", "tsMs")
    val day = (col("tsMs") / Day).cast("long") * Day
    val daily = e.groupBy(col("queryHash"), day.as("day_ms"))
      .agg(count(lit(1)).as("n"))
    val firstTop = daily.where(col("n") >= 3)
      .groupBy("queryHash").agg(min("day_ms").as("first_top"))
    daily.join(firstTop, "queryHash")
      .where(col("day_ms") >= col("first_top"))
      .select(
        concat_ws(S, lit("qu"), lit("0"), col("queryHash"),
          col("day_ms")).as("key"),
        lit(Fid).as("field"), col("n").cast("string").as("value"))
      .as[(String, String, String)].collect()
      .map { case (k, f, v) => (k, f) -> v }.toMap
  }

  /** Advance the shared watermark in several steps: drain tick T at the
    * counters, then keep nudging so the releases cascade through the gate
    * (each chained stage's timers park at wm+1 — one extra watermark move
    * per stage). */
  private def advancePast(mem: MemoryStream[Ev],
      q: org.apache.spark.sql.streaming.StreamingQuery, t: Long): Unit =
    for (step <- Seq(t + 61000L, t + 200000L, t + 400000L, t + 600000L)) {
      mem.addData(ev("zz", step))
      q.processAllAvailable()
    }

  private def stateOf(client: StateClient.type,
      dropZero: Boolean): Map[(String, String), String] = {
    import scala.jdk.CollectionConverters._
    client.state.asScala.toMap.filter { case ((k, _), v) =>
      !k.contains("zz") && (!dropZero || v != "0")
    }
  }

  test("one-query counter chain matches the q29-style batch derivation, " +
      "including the gate's crossing-day cut") {
    StateClient.state.clear()
    val mem = MemoryStream[Ev]
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc").toString
    val q = StreamingJobs.counterQueryFamilies(
      mem.toDF().toDF("platformId", "queryHash", "metric", "tsMs"),
      StateClient, tmp)
    // all events in flight up front; the PACING is in the watermark —
    // it passes tick 1 (qC's day-1 count times out unseen → drops),
    // then tick 2 (qC's marker lands), then drains the trailing ticks.
    // Feeding day 2 only after the tick-1 advance would make its rows
    // LATE (wm already past their event times) and silently dropped.
    mem.addData(day1 ++ day2: _*)
    q.processAllAvailable()
    advancePast(mem, q, Day)
    advancePast(mem, q, 2 * Day)
    advancePast(mem, q, 5 * Day) // trailing ticks + final gate releases
    advancePast(mem, q, 7 * Day)
    q.stop()
    assert(stateOf(StateClient, dropZero = true) == batchExpected)
    // the sliding decrement is visible: the tick after each query's last
    // activity wrote an explicit zero under its own window key
    val zeros = stateOf(StateClient, dropZero = false)
      .filter(_._2 == "0").keySet.map(_._1)
    assert(zeros == Set(
      s"qu${S}0${S}qA$S${2 * Day}", s"qu${S}0${S}qC$S${2 * Day}"))
    // and the never-top query left nothing
    assert(!stateOf(StateClient, dropZero = false).keySet
      .exists(_._1.contains("qB")))
  }

  test("counter chain restarts from checkpoint mid-stream") {
    StateClient.state.clear()
    val mem = MemoryStream[Ev]
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc2").toString
    def start() = StreamingJobs.counterQueryFamilies(
      mem.toDF().toDF("platformId", "queryHash", "metric", "tsMs"),
      StateClient, tmp)
    // phase A: all events in, watermark past tick 1, kill — day-2
    // counter buckets, gate seen-flags and delayed lefts all live in
    // the checkpoint
    val q1 = start()
    mem.addData(day1 ++ day2: _*)
    q1.processAllAvailable()
    advancePast(mem, q1, Day)
    q1.stop()
    // phase B: restart, drain the rest
    val q2 = start()
    advancePast(mem, q2, 2 * Day)
    advancePast(mem, q2, 5 * Day)
    advancePast(mem, q2, 7 * Day)
    q2.stop()
    assert(stateOf(StateClient, dropZero = true) == batchExpected)
  }
}

/** Feature-store fake: last write per (key, field) wins, like Redis HSET. */
object StateClient extends Sinks.CommandClient {
  val state = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  override def execute(cmd: String, key: String, field: String,
      value: String, ttlSec: Long): Unit =
    state.put((key, field), value)
}
