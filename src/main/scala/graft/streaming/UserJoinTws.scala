package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig}

/** [[UserJoin]] on `transformWithState` — the chainable J10 port, and the
  * last stage of the reference's flagship output path (joinUserAndOutput,
  * FlatOutputJob.java:708: joined impressions/actions enrich with the
  * merged user record before they are written and cogrouped). Mid-chain
  * position: the detail-merged JoinedEvent stream unions with the raw
  * user-update stream (under its own watermark) and each event leaves
  * with the user attributes effective AT ITS EVENT TIME.
  *
  * The transition is [[UserJoin.advance]] VERBATIM — same two-tier fast
  * path, same merge semantics, same TTL — on the [[TransitionProcessor]]
  * timer harness, so the batch parity specs keep pinning the logic. What
  * this port adds is row transport: a tws stage's output type is fixed,
  * so the event's full row rides through as an opaque `payload` string
  * (to_json at the boundary, from_json after — the same envelope
  * discipline as the Kafka seam), held in a MapState sidecar keyed by
  * event id rather than widening the shared state class.
  *
  * Runs on the RocksDB state store that `GraftSession` sets for every
  * `transformWithState` operator. */
object UserJoinTws {
  import UserJoin.{Enriched, In, JoinState, emptyJoinState}

  /** Union-input row: [[UserJoin.In]] + the row payload (side 1 only) +
    * the chain's time column. */
  case class InAt(key: String, side: Int, id: String, tsMs: Long,
      attrs: Map[String, String], payload: String,
      emittedAt: java.sql.Timestamp)

  /** Enriched event: attributes effective at `tsMs`, the original row
    * payload, the tier that released it, and a release stamp ≥ wm+1. */
  case class EnrichedAt(key: String, id: String, tsMs: Long,
      attrs: Map[String, String], path: String, payload: String,
      emittedAt: java.sql.Timestamp)

  class Processor(fastOooMs: Long, maxOooMs: Long, ttlMs: Long)
      extends TransitionProcessor[String, InAt, JoinState, Enriched,
        EnrichedAt] {
    @transient private var payloads: MapState[String, String] = _

    override protected def stateName = "joinState"
    override protected def stateEncoder = Encoders.product[JoinState]
    override protected def emptyState = emptyJoinState

    override protected def initState(): Unit = {
      super.initState()
      payloads = getHandle.getMapState[String, String]("payloads",
        Encoders.STRING, Encoders.STRING, TTLConfig.NONE)
    }

    override protected def isEmpty(s: JoinState): Boolean =
      s.updates.isEmpty && s.fastPending.isEmpty && s.slowPending.isEmpty

    override protected def fireAt(key: String, s: JoinState): Option[Long] =
      (s.fastPending.map(_._1 + fastOooMs) ++
        s.slowPending.map(_._1 + maxOooMs) ++
        s.updates.lastOption.map(_._1 + ttlMs)).minOption

    override protected def advance(key: String, rows: Seq[InAt],
        s: JoinState, wmMs: Long): (Seq[Enriched], JoinState) = {
      rows.foreach(e => if (e.side == 1) payloads.updateValue(e.id, e.payload))
      UserJoin.advance(key,
        rows.map(e => In(e.key, e.side, e.id, e.tsMs, e.attrs)), s, wmMs,
        fastOooMs, maxOooMs, ttlMs)
    }

    /** Re-attach the event's payload (and drop it from the sidecar). */
    override protected def stamp(e: Enriched, wmMs: Long): EnrichedAt = {
      val p = if (payloads.containsKey(e.id)) payloads.getValue(e.id) else ""
      payloads.removeKey(e.id)
      EnrichedAt(e.key, e.id, e.tsMs, e.attrs, e.path, p,
        new java.sql.Timestamp(math.max(e.tsMs, wmMs + 1)))
    }
  }

  /** Chained-stage form: `events` must already carry an `emittedAt` time
    * column (the upstream stages' release stamps on the event branch, a
    * watermark node on the raw user-update branch — applied BEFORE the
    * union, as in [[FlatChainTws.nextStage]]). Sizing mid-chain: the
    * event branch's release lateness is bounded by the upstream stage's
    * reorder slack, so size `fastOooMs` ≥ that slack for the fast tier to
    * genuinely engage (a smaller value only forfeits the early window,
    * never correctness — events always leave fast, slow or unenriched). */
  def joinChained(events: Dataset[InAt], fastOooMs: Long, maxOooMs: Long,
      ttlMs: Long)(implicit spark: SparkSession): Dataset[EnrichedAt] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .transformWithState(new Processor(fastOooMs, maxOooMs, ttlMs),
        "emittedAt", OutputMode.Append())
  }
}
