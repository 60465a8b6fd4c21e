package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
  ValueState}

/** Streaming directly-follows conformance monitor — the continuous form
  * of [[graft.operators.ProcessMining.dfgConformanceE6]] (van der Aalst
  * 2016 §8): production case streams checked live against the DECLARED
  * process model, emitting the off-model traffic share after every
  * transition instead of waiting for the batch audit.
  *
  * Two chained `transformWithState` stages (the [[FlatChainTws]] rule —
  * the inter-stage event time is stage 1's `emittedAt` release time):
  *
  *  1. keyed by CASE: directly-follows is an ORDER notion, so events
  *     wait in the [[WatermarkOrderedFold]] reorder buffer until the
  *     watermark passes them, then fold in (tsMs, tieBreak) order;
  *     the case's last drained activity persists across drains, so each
  *     consecutive pair emits exactly one [[Transition]] — streaming
  *     transitions ≡ the batch per-case lead() census on the same data.
  *  2. keyed by the constant census: transitions drain in
  *     (atMs, caseId, from, to) order — deterministic across triggers —
  *     and fold into the (from → to) edge census plus the running
  *     off-model totals; every transition emits a [[ConformancePoint]]
  *     with its edge's running count, its model legality, and the
  *     off-model share (truncating e6), so the final per-edge maxima
  *     reproduce the batch census exactly (ConformanceTwsSpec pins it).
  *
  * State bounds: stage 1 holds one activity string + the in-flight
  * reorder buffer per OPEN case (bounded by the watermark delay); stage
  * 2 holds the (activity × activity) OBSERVED-edge census — domain
  * scale, not stream scale — plus two scalars. Nothing grows with event
  * volume. The model is a declared constant (the batch operator's
  * contract) and rides the processor closure — no join, no shuffle. */
object ConformanceTws {

  case class CaseEvent(caseId: String, tsMs: Long, tieBreak: Long,
      activity: String)
  case class Transition(caseId: String, fromAct: String, toAct: String,
      atMs: Long, emittedAt: java.sql.Timestamp)
  case class ConformancePoint(fromAct: String, toAct: String, edgeN: Long,
      allowed: Boolean, nTransitions: Long, nOffModel: Long,
      offModelShareE6: Long, emittedAt: java.sql.Timestamp)

  /** Stage 1: per-case watermark-ordered fold to transitions. */
  class CaseProcessor extends WatermarkOrderedFold[CaseEvent, Transition] {
    @transient private var lastAct: ValueState[String] = _

    override protected def initState(): Unit =
      lastAct = getHandle.getValueState[String]("lastAct", Encoders.STRING,
        TTLConfig.NONE)

    override protected def rowEncoder = Encoders.product[CaseEvent]
    override protected def eventTimeMs(e: CaseEvent): Long = e.tsMs

    override protected def fold(key: String, due: Seq[CaseEvent],
        emittedAt: java.sql.Timestamp): Seq[Transition] = {
      var prev = Option(if (lastAct.exists()) lastAct.get() else null)
      val out = due.sortBy(e => (e.tsMs, e.tieBreak)).flatMap { e =>
        val t = prev.map(p =>
          Transition(key, p, e.activity, e.tsMs, emittedAt))
        prev = Some(e.activity)
        t
      }
      prev.foreach(lastAct.update)
      out
    }
  }

  /** Stage 2: global fold of transitions into the running census. */
  class CensusProcessor(model: Set[(String, String)])
      extends WatermarkOrderedFold[Transition, ConformancePoint] {
    @transient private var edges: MapState[String, Long] = _
    @transient private var nTrans: ValueState[Long] = _
    @transient private var nOff: ValueState[Long] = _

    override protected def initState(): Unit = {
      edges = getHandle.getMapState[String, Long]("edges",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      nTrans = getHandle.getValueState[Long]("nTrans", Encoders.scalaLong,
        TTLConfig.NONE)
      nOff = getHandle.getValueState[Long]("nOff", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[Transition]
    override protected def eventTimeMs(t: Transition): Long =
      t.emittedAt.getTime

    override protected def fold(key: String, due: Seq[Transition],
        emittedAt: java.sql.Timestamp): Seq[ConformancePoint] = {
      var n = if (nTrans.exists()) nTrans.get() else 0L
      var off = if (nOff.exists()) nOff.get() else 0L
      val out = due
        .sortBy(t => (t.atMs, t.caseId, t.fromAct, t.toAct))
        .map { t =>
          val k = t.fromAct + "\u0000" + t.toAct
          val en = Option(edges.getValue(k)).getOrElse(0L) + 1L
          edges.updateValue(k, en)
          val ok = model.contains((t.fromAct, t.toAct))
          n += 1
          if (!ok) off += 1
          ConformancePoint(t.fromAct, t.toAct, en, ok, n, off,
            off * 1000000L / n, emittedAt)
        }
      nTrans.update(n)
      nOff.update(off)
      out
    }
  }

  /** Monitor a case-event stream against a declared model: one
    * conformance point per directly-follows transition. */
  def monitor(events: Dataset[CaseEvent], model: Seq[(String, String)],
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[ConformancePoint] = {
    import spark.implicits._
    require(model.nonEmpty, "ConformanceTws: empty model")
    val transitions = events
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[CaseEvent]
      .groupByKey(_.caseId)
      .transformWithState(new CaseProcessor,
        "emittedAt", OutputMode.Append())
    transitions
      .groupByKey(_ => "census")
      .transformWithState(new CensusProcessor(model.toSet),
        "emittedAt", OutputMode.Append())
  }
}
