package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Streaming annotator-agreement monitor — Fleiss' κ (Fleiss 1971) over a
  * growing rating stream, the continuous form of
  * [[graft.operators.Preference.fleissKappaE6]]: a labeling campaign
  * watches chance-corrected agreement move as items finish, instead of
  * waiting for the batch audit.
  *
  * Two chained `transformWithState` stages (the [[FlatChainTws]] rule —
  * the inter-stage event time is stage 1's `emittedAt` release time):
  *
  *  1. keyed by ITEM: votes fold commutatively into a rater→category map
  *     (duplicate (item, rater) ratings keep the MIN category — the batch
  *     operator's tie rule, and order-insensitive, so no reorder buffer
  *     is needed); a session timer closes the item once the watermark
  *     passes `last rating + sessionGapMs`. A closed item emits its
  *     sorted category multiset, flagged complete iff exactly `m`
  *     distinct raters voted (Fleiss requires a complete design; the
  *     batch form likewise drops nr ≠ m). Ratings for an already-closed
  *     item are ignored (the close IS the audit boundary; a monitor
  *     must not retract emitted points).
  *  2. keyed by the constant census: closed items drain in
  *     (closedAtMs, item) order — deterministic across triggers — and
  *     fold into the running sufficient statistics (n, Σᵢ(Σ_c cc² − m),
  *     per-category marginals); after EVERY close it emits the current
  *     κ via the exact batch formula in BigInt (truncation toward zero,
  *     matching Spark's `div`), so the emitted curve ends at precisely
  *     the batch value on the same data (FleissKappaTwsSpec pins it).
  *
  * State bounds: stage 1 holds one ≤ m-entry map per OPEN item plus one
  * closed flag per seen item (the campaign's item census — domain, not
  * stream, scale); stage 2 holds the category-marginal census plus three
  * scalars. Nothing grows with rating volume. */
object FleissKappaTws {

  case class Rating(item: String, rater: String, category: String,
      tsMs: Long)
  case class ItemClosed(item: String, complete: Boolean,
      cats: Seq[String], closedAtMs: Long,
      emittedAt: java.sql.Timestamp)
  case class KappaPoint(item: String, completed: Boolean, nItems: Long,
      nDropped: Long, pbarE6: Long, peE6: Long, kappaE6: Option[Long],
      emittedAt: java.sql.Timestamp)

  /** Stage 1: session-close items, emit their category multisets. */
  class ItemProcessor(m: Int, sessionGapMs: Long)
      extends StatefulProcessor[String, Rating, ItemClosed] {
    @transient private var votes: MapState[String, String] = _
    @transient private var lastTs: ValueState[Long] = _
    @transient private var closed: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      votes = getHandle.getMapState[String, String]("votes",
        Encoders.STRING, Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      lastTs = getHandle.getValueState[Long]("lastTs", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      closed = getHandle.getValueState[Boolean]("closed",
        Encoders.scalaBoolean, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Rating],
        timerValues: TimerValues): Iterator[ItemClosed] = {
      if (closed.exists() && closed.get()) return Iterator.empty
      var maxTs = if (lastTs.exists()) lastTs.get() else Long.MinValue
      val prevDeadline = if (maxTs == Long.MinValue) -1L
                         else maxTs + sessionGapMs
      rows.foreach { r =>
        val cur = Option(votes.getValue(r.rater))
        if (cur.forall(r.category < _)) votes.updateValue(r.rater, r.category)
        if (r.tsMs > maxTs) maxTs = r.tsMs
      }
      lastTs.update(maxTs)
      val deadline = maxTs + sessionGapMs
      if (deadline != prevDeadline) {
        if (prevDeadline >= 0) getHandle.deleteTimer(prevDeadline)
        getHandle.registerTimer(deadline)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ItemClosed] = {
      if (closed.exists() && closed.get()) return Iterator.empty
      val wm = timerValues.getCurrentWatermarkInMs()
      val deadline = lastTs.get() + sessionGapMs
      if (wm < deadline) return Iterator.empty // re-armed later; stale fire
      val cats = votes.values().toSeq.sorted
      votes.clear()
      closed.update(true)
      Iterator.single(ItemClosed(key, cats.size == m, cats, deadline,
        new java.sql.Timestamp(wm)))
    }
  }

  /** Stage 2: global fold of closed items into the running κ. */
  class KappaProcessor(m: Int)
      extends WatermarkOrderedFold[ItemClosed, KappaPoint] {
    @transient private var nItems: ValueState[Long] = _
    @transient private var nDropped: ValueState[Long] = _
    @transient private var pbarNum: ValueState[Long] = _
    @transient private var marginals: MapState[String, Long] = _

    override protected def initState(): Unit = {
      nItems = getHandle.getValueState[Long]("nItems", Encoders.scalaLong,
        TTLConfig.NONE)
      nDropped = getHandle.getValueState[Long]("nDropped",
        Encoders.scalaLong, TTLConfig.NONE)
      pbarNum = getHandle.getValueState[Long]("pbarNum", Encoders.scalaLong,
        TTLConfig.NONE)
      marginals = getHandle.getMapState[String, Long]("marginals",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override protected def rowEncoder = Encoders.product[ItemClosed]
    override protected def eventTimeMs(c: ItemClosed): Long =
      c.emittedAt.getTime

    override protected def fold(key: String, due: Seq[ItemClosed],
        emittedAt: java.sql.Timestamp): Seq[KappaPoint] = {
      var n = if (nItems.exists()) nItems.get() else 0L
      var nd = if (nDropped.exists()) nDropped.get() else 0L
      var pb = if (pbarNum.exists()) pbarNum.get() else 0L
      val out = due.sortBy(c => (c.closedAtMs, c.item)).map { c =>
        if (!c.complete) nd += 1
        else {
          n += 1
          val cc = c.cats.groupBy(identity).view.mapValues(_.size.toLong)
          pb += cc.valuesIterator.map(v => v * v).sum - m
          cc.foreach { case (cat, v) =>
            val prev = Option(marginals.getValue(cat)).getOrElse(0L)
            marginals.updateValue(cat, prev + v)
          }
        }
        // exact batch formula (Preference.fleissKappaE6) in BigInt;
        // BigInt / truncates toward zero, matching Spark's div
        val pe = marginals.values().map(v => BigInt(v) * v).sum
        val s1 = BigInt(n) * m * (m - 1)
        val s2 = BigInt(n) * m * n * m
        val pbarE6 = if (s1 > 0) (BigInt(pb) * 1000000 / s1).toLong else 0L
        val peE6 = if (s2 > 0) (pe * 1000000 / s2).toLong else 0L
        val kappaE6 =
          if (s2 - pe > 0)
            Some(((BigInt(pb) * s2 - pe * s1) * 1000000 /
              (s1 * (s2 - pe))).toLong)
          else None
        KappaPoint(c.item, c.complete, n, nd, pbarE6, peE6, kappaE6,
          emittedAt)
      }
      nItems.update(n); nDropped.update(nd); pbarNum.update(pb)
      out
    }
  }

  /** Monitor a rating stream: κ re-emitted after every item close.
    * `m` = the campaign's rater count per item (complete design). */
  def monitor(ratings: Dataset[Rating], m: Int, sessionGapMs: Long,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[KappaPoint] = {
    import spark.implicits._
    require(m >= 2 && m <= 1000, s"FleissKappaTws: 2 ≤ m ≤ 1000, got $m")
    require(sessionGapMs > 0L)
    val closedItems = ratings
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Rating]
      .groupByKey(_.item)
      .transformWithState(new ItemProcessor(m, sessionGapMs),
        "emittedAt", OutputMode.Append())
    closedItems
      .groupByKey(_ => "census")
      .transformWithState(new KappaProcessor(m),
        "emittedAt", OutputMode.Append())
  }
}
