package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.schema.{JoinedPair, ScopedEvent}

/** [[InferredJoin]] on Spark 4's `transformWithState` — the one streaming
  * form of the J1 core (`InferredJoin.joinStream` projects it back to
  * [[JoinedPair]]). It emits a RELEASE-time column (`emittedAt`,
  * non-decreasing relative to the watermark) and re-assigns the output
  * watermark to it via the `eventTimeColumnName` overload, so TWO OR MORE
  * inferred-join stages compose in a SINGLE streaming query — the
  * reference's flagship view→insertion→impression→action chain as one
  * program (FlatOutputJob.java:368-641) rather than one checkpointed query
  * per stage. [[FlatChainTws]] wires that chain; FlatChainTwsSpec pins
  * two-stage output parity against the batch form that q35 gates.
  *
  * Same pure per-key transition as batch ([[InferredJoin.advanceScoped]])
  * on the [[TransitionProcessor]] timer harness. Runs on the RocksDB state
  * store that `GraftSession` sets for every `transformWithState` operator. */
object InferredJoinTws {
  import InferredJoin.{ScopedState, emptyScopedState}

  /** Chained-query output: [[JoinedPair]] plus the release time the next
    * stateful stage anchors its watermark on (see SeenGateTws.GatedAt for
    * why original event times cannot re-emerge as the time column). */
  case class JoinedPairAt(platformId: Long, logUserId: String,
      leftId: String, rightId: String, leftTs: Long, rightTs: Long,
      matchType: String, leftScopes: Seq[String],
      emittedAt: java.sql.Timestamp)

  class Processor(maxTimeMs: Long, outOfOrderMs: Long, rightOuter: Boolean)
      extends TransitionProcessor[(Long, String), ScopedEvent, ScopedState,
        JoinedPair, JoinedPairAt] {
    override protected def stateName = "joinState"
    override protected def stateEncoder = Encoders.product[ScopedState]
    override protected def emptyState = emptyScopedState
    override protected def isEmpty(s: ScopedState): Boolean =
      s.lefts.isEmpty && s.pendingFk.isEmpty && s.pendingInfer.isEmpty
    // a pending RHS resolves once its out-of-order bound passes; an LHS
    // expires when no RHS in its window can still match it
    override protected def fireAt(key: (Long, String),
        s: ScopedState): Option[Long] =
      ((s.pendingFk ++ s.pendingInfer).map(_.tsMs + outOfOrderMs) ++
        s.lefts.values.map(_._1 + maxTimeMs + outOfOrderMs)).minOption
    override protected def advance(key: (Long, String),
        rows: Seq[ScopedEvent], s: ScopedState,
        wmMs: Long): (Seq[JoinedPair], ScopedState) =
      InferredJoin.advanceScoped(key, rows, s, wmMs, maxTimeMs, outOfOrderMs,
        rightOuter)
    override protected def stamp(p: JoinedPair, wmMs: Long): JoinedPairAt =
      JoinedPairAt(p.platformId, p.logUserId, p.leftId, p.rightId, p.leftTs,
        p.rightTs, p.matchType, p.leftScopes, new java.sql.Timestamp(
          math.max(math.max(p.leftTs, p.rightTs), wmMs + 1)))
  }

  /** First-stage form: watermark on the events' own time. Output carries
    * `emittedAt` as its event-time column — feed it (optionally unioned
    * with a watermarked RHS stream) into [[joinScopedChained]] again, or
    * into any other stateful stage. */
  def joinScopedStream(events: Dataset[ScopedEvent], watermarkDelay: String,
      maxTimeMs: Long, outOfOrderMs: Long, rightOuter: Boolean)(
      implicit spark: SparkSession): Dataset[JoinedPairAt] = {
    import spark.implicits._
    joinScopedChained(
      events.withColumn("eventTime", timestamp_millis(col("tsMs")))
        .withWatermark("eventTime", watermarkDelay)
        .as[ScopedEvent],
      maxTimeMs, outOfOrderMs, rightOuter)
  }

  /** Chained-stage form: `events` must already carry an event-time column
    * (a prior stage's `emittedAt` and/or a watermark node on a raw
    * stream). */
  def joinScopedChained(events: Dataset[ScopedEvent], maxTimeMs: Long,
      outOfOrderMs: Long, rightOuter: Boolean)(
      implicit spark: SparkSession): Dataset[JoinedPairAt] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.platformId, e.logUserId))
      .transformWithState(new Processor(maxTimeMs, outOfOrderMs, rightOuter),
        "emittedAt", OutputMode.Append())
  }
}
