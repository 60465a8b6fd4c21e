package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.agg.{CounterFeatures => CF, Windows}
import graft.functions.GraftFunctions

/** Counter Job, batch form (reference P:job/counter/CounterJob.java,
  * SURVEY §3.2): consume joined events, count along the reference's ten key
  * families, and encode the counts as Redis HSET command frames for the
  * online feature store. [[run]] is the one batch path; q36 pins its output
  * against the oracle.
  *
  * Input contract: [[run]] reads exactly these columns, and all of them must
  * be present — platformId, logUserId, userId, contentId, actionType
  * (0 = impression), tsMs, queryHash (BIGINT, NULL for an event without a
  * search query; see [[queryHashCol]]), osFamily and agentFamily (the
  * parsed [[graft.functions.UserAgents]] families), and quantity (BIGINT
  * cart quantity, NULL counts as 1; CounterUtil.getCount — callers
  * pre-explode carts into per-item rows).
  *
  * The ten key families mirror P:job/counter/CounterKeys.java:40-365:
  * global-device, content-device, user, logUser (windowed counts over
  * HOUR/DAY/DAY_7/DAY_30), query, content×query (same windows, gated by the
  * top-query threshold), and the four last-seen families
  * (user/logUser × content/query), each emitting a timestamp field and a
  * 90-day-count field (P:common/counter/FeatureId.java:36-57). Batch rows
  * stay distinct across emit windows by appending the window start to the
  * Redis key (the streaming form overwrites in place instead).
  *
  * Scale: the input is projected once and persisted; five fine aggregates
  * over that projection feed the ten families, the coarser family of each
  * pair rolling up from the finer one's partials; the top-query gate is a
  * broadcast left-semi join (the thresholded hash set is tiny by
  * construction). Commands are idempotent HSETs, so at-least-once delivery
  * via foreachBatch is safe (reference relies on the same property,
  * SURVEY K3).
  */
object CounterJob {

  private val HourMs = 3600 * 1000L
  private val DayMs = 24 * HourMs
  private val LastSeenTtlSec = 90 * 86400L

  /** One emit window: bucket size, packed window tag, command TTL. */
  final case class Win(sizeMs: Long, tag: Long, ttlSec: Long)

  /** The reference's standard window set (FeatureId.getStandardFeatureIds:
    * HOUR, DAY, DAY_7, DAY_30). */
  val StandardWindows: Seq[Win] = Seq(
    Win(HourMs, CF.CountWindow.Hour, 4 * 3600),
    Win(DayMs, CF.CountWindow.Day, 2 * 86400),
    Win(7 * DayMs, CF.CountWindow.Day7, 14 * 86400),
    Win(30 * DayMs, CF.CountWindow.Day30, 60 * 86400))

  private def metricOf(actionType: Int): Long = actionType match {
    case 0 => CF.AggMetric.CountImpression
    case 2 => CF.AggMetric.CountNavigate
    case 3 => CF.AggMetric.CountPurchase
    case 4 => CF.AggMetric.CountAddToCart
    case 8 => CF.AggMetric.CountCheckout
    case _ => CF.AggMetric.CountNavigate
  }

  private val metricCol = {
    val m = Seq(0, 2, 3, 4, 8).map(t => (t, metricOf(t)))
    m.foldLeft(lit(CF.AggMetric.CountNavigate)) { case (acc, (t, f)) =>
      when(col("actionType") === t, lit(f)).otherwise(acc)
    }
  }

  /** Normalized search-query hash: lower → blank/over-length → NULL →
    * seed-0 xxhash64 (reference CounterJob.java:399-408 lower + length
    * filter + FlatUtil.getQueryHash). Requires
    * `GraftFunctions.register(spark)` first. */
  def queryHashCol(query: Column, maxLen: Int = 100): Column =
    when(length(lower(query)).between(1, maxLen),
      GraftFunctions.xxhash64Seed0(lower(query)))

  /** ALL four emit windows in ONE aggregation: each projected row explodes
    * into its 4 (windowStart, window-tag, ttl) cells before the shuffle,
    * grouped once — 1 exchange per family instead of 4. The shuffled byte
    * volume is the same (4 cells per row either way); what's saved is 3
    * scans of the input and 3 stage round-trips per family. */
  private def windowedAll(cells: DataFrame, dims: Seq[(String, Column)]): DataFrame = {
    val wins = StandardWindows.map(w =>
      struct(Windows.bucket(col("tsMs"), w.sizeMs).as("ws"),
        lit(w.tag).as("wtag"), lit(w.ttlSec).as("wttl")))
    cells
      .select((col("metric") +: col("nq") +: explode(array(wins: _*)).as("__w") +:
        dims.map { case (n, c) => c.as(n) }): _*)
      .groupBy((col("__w.ws").as("windowStart") +: col("__w.wtag").as("wtag") +:
        col("__w.wttl").as("wttl") +: col("metric") +: dims.map(d => col(d._1))): _*)
      .agg(sum(col("nq")).as("n"))
  }

  private val wsCol = col("windowStart").cast("string")

  /** Encode a (pid, u, windowStart, wtag, wttl, metric, n) grouped frame
    * as user-keyed HSET commands (CounterKeys USER_EVENT_KEY /
    * LOG_USER_EVENT_KEY: key=(pid, ␝u, user), field=fid). */
  private def userEncode(g: DataFrame, countType: Long): DataFrame =
    CF.hsetCommandC(
      CF.redisKey(col("pid"), lit(CF.UserType), col("u"), wsCol),
      CF.featureIdCol(lit(countType), col("metric"), col("wtag")),
      col("n"), col("wttl"))(g)

  /** Encode a device-grouped frame (pid[, cid], os, agent, windowStart,
    * wtag, wttl, metric, n) as device-keyed HSET commands (CounterKeys
    * GLOBAL_EVENT_DEVICE_KEY / CONTENT_EVENT_DEVICE_KEY: the os/agent
    * families ride in the hash *field*, not the key; the global family
    * intentionally never expires). */
  private def deviceEncode(g: DataFrame, withContent: Boolean): DataFrame = {
    val keyParts =
      if (withContent) Seq(col("pid"), col("cid"), wsCol) else Seq(col("pid"), wsCol)
    val fid = CF.featureIdCol(lit(CF.CountType.ItemDevice), col("metric"), col("wtag"))
    CF.hsetCommandC(
      CF.redisKey(keyParts: _*),
      concat_ws(CF.Sep, col("os"), col("agent"), fid.cast("string")),
      col("n"), if (withContent) col("wttl") else lit(-1L))(g)
  }

  /** Encode a query-grouped frame (pid, qh[, cid], windowStart, wtag,
    * wttl, metric, n) as query-keyed HSET commands (CounterKeys
    * QUERY_EVENT_KEY / CONTENT_QUERY_EVENT_KEY; the key carries the
    * hex-encoded hash). */
  private def queryEncode(g: DataFrame, withContent: Boolean): DataFrame = {
    val hexQ = CF.hexLong(col("qh"))
    val keyParts =
      if (withContent)
        Seq(col("pid"), col("cid"), lit(CF.QueryType), hexQ, wsCol)
      else Seq(col("pid"), lit(CF.QueryType), hexQ, wsCol)
    val countType = if (withContent) CF.CountType.ContentQuery else CF.CountType.Query
    CF.hsetCommandC(
      CF.redisKey(keyParts: _*),
      CF.featureIdCol(lit(countType), col("metric"), col("wtag")),
      col("n"), col("wttl"))(g)
  }

  /** The one projection pass over the input: the metric mapping, the
    * per-event weight `nq` and its 90-day share `nq90` (the 90-day
    * membership test is decided per row, since `nowMs` is fixed). */
  private def rowCells(events: DataFrame, nowMs: Long): DataFrame = {
    val nq = coalesce(col("quantity"), lit(1L))
    events.select(
      metricCol.as("metric"), col("platformId"), col("logUserId"),
      col("userId"), col("contentId"), col("queryHash"),
      col("osFamily"), col("agentFamily"), col("tsMs"), nq.as("nq"),
      when(col("tsMs") > nowMs - 90 * DayMs, nq).otherwise(0L).as("nq90"))
  }

  /** The ten-family command stream, wired like the reference's defineJob
    * (CounterJob.java:389-500): the four windowed-count families
    * unconditionally, the query-gated families through the top-query
    * threshold (a query hash with at least `minQueryCount` events), the
    * last-seen families emitting ts + 90d-count pairs counted back from
    * `nowMs`.
    *
    * The input is scanned ONCE: the projected frame is persisted and every
    * family partial-aggregates from it. Each family PAIR on a grouping
    * hierarchy aggregates the projection once at its finer grain, and the
    * coarser family rolls up from those grouped partials (guide §2.6,
    * share the grouping work); the two query-gated families share one
    * gated frame. Every rollup is an exact integer sum/max over a
    * partition of the same rows, so ten full-input aggregations become
    * five plus five small rollups (the shared fine exchanges dedup via
    * ReuseExchange inside the one union plan). */
  def run(events: DataFrame, minQueryCount: Long, nowMs: Long): DataFrame = {
    val cells = rowCells(events, nowMs).persist(StorageLevel.MEMORY_AND_DISK)
    val top = topQueryGate(cells, minQueryCount)
    val gated = cells.where(col("queryHash").isNotNull)
      .join(broadcast(top), Seq("queryHash"), "left_semi")
    val wKeys = Seq(col("windowStart"), col("wtag"), col("wttl"), col("metric"))
    val devFine = windowedAll(cells, Seq("pid" -> col("platformId"),
      "cid" -> col("contentId"), "os" -> col("osFamily"),
      "agent" -> col("agentFamily")))
    val devCoarse = devFine
      .groupBy(wKeys ++ Seq(col("pid"), col("os"), col("agent")): _*)
      .agg(sum(col("n")).as("n"))
    val userFine = windowedAll(cells, Seq("pid" -> col("platformId"),
      "lu" -> col("logUserId"), "uu" -> col("userId")))
    def userRoll(u: Column) = userFine
      .groupBy(wKeys ++ Seq(col("pid"), u.as("u")): _*)
      .agg(sum(col("n")).as("n"))
    val qFine = windowedAll(gated, Seq("pid" -> col("platformId"),
      "qh" -> col("queryHash"), "cid" -> col("contentId")))
    val qCoarse = qFine
      .groupBy(wKeys ++ Seq(col("pid"), col("qh")): _*)
      .agg(sum(col("n")).as("n"))
    def lastFine(src: DataFrame, dimCol: Column) = src
      .groupBy(col("platformId").as("pid"), col("logUserId").as("lu"),
        col("userId").as("uu"), dimCol.as("dim"), col("metric"))
      .agg(max(col("tsMs")).as("last_ts_ms"), sum(col("nq90")).as("n90"))
    def lastRoll(fine: DataFrame, u: Column) = fine
      .groupBy(col("pid"), u.as("u"), col("dim"), col("metric"))
      .agg(max(col("last_ts_ms")).as("last_ts_ms"), sum(col("n90")).as("n90"))
    val lcFine = lastFine(cells, col("contentId"))
    val lqFine = lastFine(gated, col("queryHash"))
    val qDimKey = (d: Column) => Seq(lit(CF.QueryType), CF.hexLong(d))
    Seq(
      deviceEncode(devCoarse, withContent = false),
      deviceEncode(devFine, withContent = true),
      userEncode(userRoll(col("lu")), CF.CountType.LogUser),
      userEncode(userRoll(col("uu")), CF.CountType.User),
      queryEncode(qCoarse, withContent = false),
      queryEncode(qFine, withContent = true),
      lastSeenEncode(lastRoll(lcFine, col("lu")), d => Seq(d),
        CF.CountType.LogUserItemHoursAgo, CF.CountType.LogUserItemCount),
      lastSeenEncode(lastRoll(lcFine, col("uu")), d => Seq(d),
        CF.CountType.UserItemHoursAgo, CF.CountType.UserItemCount),
      lastSeenEncode(lastRoll(lqFine, col("lu")), qDimKey,
        CF.CountType.LogUserQueryHoursAgo, CF.CountType.LogUserQueryCount),
      lastSeenEncode(lastRoll(lqFine, col("uu")), qDimKey,
        CF.CountType.UserQueryHoursAgo, CF.CountType.UserQueryCount),
    ).reduce(_ unionByName _)
  }

  /** Query hashes with at least `minCount` events. */
  private def topQueryGate(cells: DataFrame, minCount: Long): DataFrame =
    cells.where(col("queryHash").isNotNull)
      .groupBy(col("queryHash")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select("queryHash")

  /** Encode a (pid, u, dim, metric, last_ts_ms, n90) grouped frame as the
    * two last-seen cells (timestamp + 90d count) per group: both fields
    * come off ONE aggregation — each group row explodes into its two
    * (featureId, value) cells after the agg, instead of running it twice. */
  private def lastSeenEncode(g0: DataFrame, dimKeyParts: Column => Seq[Column],
      tsType: Long, countType: Long): DataFrame = {
    val g = g0
      .select(col("pid"), col("u"), col("dim"), explode(array(
        struct(CF.featureIdCol(lit(tsType), col("metric"),
          lit(CF.CountWindow.None)).as("fid"), col("last_ts_ms").as("v")),
        struct(CF.featureIdCol(lit(countType), col("metric"),
          lit(CF.CountWindow.Day90)).as("fid"), col("n90").as("v")))).as("__fv"))
    val key = CF.redisKey(
      (col("pid") +: lit(CF.UserType) +: col("u") +: dimKeyParts(col("dim"))): _*)
    CF.hsetCommand(key, col("__fv.fid"), col("__fv.v"), LastSeenTtlSec)(g)
  }
}
