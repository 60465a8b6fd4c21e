package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.schema.JoinSideEvent
import graft.sinks.Sinks
import graft.sources.{LogRequestSplit, Validation}
import graft.streaming.{InferredJoin, LastSeen, LatestImpressions,
  SlidingCounter, StreamOps, WatermarkDelays}

/** Streaming entry points for the four pipelines — the `readStream` →
  * transform → `writeStream` forms of the batch jobs, sharing the same
  * stage functions (the batch/streaming equivalence is pinned by
  * StreamingFlatSpec). Sources are file streams here; a Kafka deployment
  * swaps in `sources/KafkaSeam.reader` + `KafkaSeam.decode` (the wire
  * contract and codec are pinned broker-free by KafkaSeamSpec) without
  * touching the stages.
  *
  * Checkpointing: one checkpoint dir per query, stable query names —
  * never reorder stateful stages within a query (SURVEY §2.10 state-
  * stability note).
  */
object StreamingJobs {

  /** Envelope file stream with the given schema (from a batch sample).
    * The schema is NTZ-sanitized: a batch sample inferred from an
    * NTZ-written upstream table must not poison the stream with
    * TIMESTAMP_NTZ columns (see [[StreamOps.ntzFree]]). */
  def envelopeStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(StreamOps.ntzFree(schema)).parquet(path)

  /** Raw job: split → validate → watermark dedupe → dt/hour parquet.
    * Returns the started queries (one per output type). */
  def rawOutput(envelopes: DataFrame, outDir: String, checkpointDir: String)(
      implicit spark: SparkSession): Seq[StreamingQuery] = {
    // materialize an epoch-ms column for dt/hour partition bucketing
    def withMs(df: DataFrame): DataFrame =
      df.withColumn("eventApiTs", col("timing.eventApiTimestamp"))
    def one(name: String, df: DataFrame, keys: Seq[String]): StreamingQuery = {
      val withTs = df.withColumn("eventTime", timestamp_millis(col("eventApiTs")))
      val deduped = StreamOps.keepFirstRows(withTs, keys, "eventTime", "1 minute")
      Sinks.streamPartitioned(
          Validation.clearUserId(deduped).drop("eventTime"),
          "eventApiTs", s"$outDir/$name", s"$checkpointDir/$name")
        .queryName(s"raw_$name").start()
    }
    Seq(
      one("view", withMs(LogRequestSplit.views(envelopes).toDF()), Seq("viewId")),
      one("impression", withMs(LogRequestSplit.impressions(envelopes).toDF()),
        Seq("impressionId")),
      one("action", withMs(LogRequestSplit.actions(envelopes).toDF()),
        Seq("actionId")))
  }

  /** Flat job slice: insertion→impression inferred join as a stream
    * ([[InferredJoin.joinStream]], the `transformWithState` join), joined
    * and dropped pairs (`matchType`) to one dt/hour parquet table.
    *
    * A checkpoint written by the earlier FMGWS form of
    * this join cannot restart the `transformWithState` operator: a
    * deployment that ran that form starts on a new checkpoint directory. */
  def flatOutput(envelopes: DataFrame, outDir: String, checkpointDir: String)(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    val delays = WatermarkDelays.referenceChain()
    val ins = LogRequestSplit.deliveryLogs(envelopes).toDF()
      .select(col("platformId"), col("userInfo.logUserId").as("logUserId"),
        col("timing.eventApiTimestamp").as("tsMs"),
        explode(col("insertions")).as("i"))
      .select(col("platformId"), col("logUserId"), lit(0).as("side"),
        col("i.insertionId").as("id"), lit("").as("parentId"), col("tsMs"))
    val imp = LogRequestSplit.impressions(envelopes).toDF()
      .select(col("platformId"), col("userInfo.logUserId").as("logUserId"),
        lit(1).as("side"), col("impressionId").as("id"),
        col("insertionId").as("parentId"),
        col("timing.eventApiTimestamp").as("tsMs"))
    val joined = InferredJoin.joinStream(
      ins.unionByName(imp).as[JoinSideEvent],
      s"${delays("insertionImpressionJoin")} milliseconds",
      maxTimeMs = 30 * 60 * 1000L, outOfOrderMs = 1000L)
    Sinks.streamPartitioned(
        joined.toDF().withColumn("eventApiTs", col("rightTs")),
        "eventApiTs", s"$outDir/joined", s"$checkpointDir/joined")
      .queryName("flat_joined").start()
  }

  /** Flat job tail: actions get their latest-impressions list attached
    * (the reference wires AddLatestImpressions after the join chain,
    * FlatOutputJob.java:980-989). Impressions and actions ride one tagged
    * FMGWS keyed by (platformId, logUserId). */
  def latestImpressions(envelopes: DataFrame, outDir: String,
      checkpointDir: String, k: Int = 25, maxState: Int = 30)(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    def side(df: DataFrame, s: Int, id: String): DataFrame =
      df.select(col("platformId"), col("userInfo.logUserId").as("logUserId"),
        lit(s).as("side"), col(id).as("id"), col("contentId"),
        col("timing.eventApiTimestamp").as("tsMs"))
    val tagged = side(LogRequestSplit.impressions(envelopes).toDF(), 0, "impressionId")
      .unionByName(side(LogRequestSplit.actions(envelopes).toDF(), 1, "actionId"))
      .as[LatestImpressions.Event]
    val attached = LatestImpressions.attachStream(tagged, "1 minute", k,
      maxState, sessionMs = 6L * 3600000L, oooMs = 1000L)
    Sinks.streamPartitioned(
        attached.toDF().withColumn("eventApiTs", col("tsMs")),
        "eventApiTs", s"$outDir/latest_impressions",
        s"$checkpointDir/latest_impressions")
      .queryName("latest_impressions").start()
  }

  /** Counter job windowed-count families in STREAMING form: every event
    * explodes into its family cells (global-device, content-device,
    * logUser, user — the ungated families; the query families compose the
    * A5 top-query window + SeenGate upstream), all cells ride ONE
    * exact-emit-cadence SlidingCounter keyed by the packed family key —
    * one state store instead of the reference's per-family operators,
    * same emission profile (counts slide: decrement after expiry).
    * Commands carry the packed feature id in the key tail.
    *
    * Input contract: platformId, logUserId, userId, contentId, osFamily,
    * agentFamily, metric (packed AggMetric long), tsMs.
    *
    * Stays on the FMGWS SlidingCounter (`KeyedTransition.flatMapGroups`)
    * by measurement:
    * moved onto `SlidingCounterTws`, it about doubled the `features_live`
    * benchmark's feature lag on a 4-core box (p50 2.6–3.2 s → 5.5 s,
    * p95 3.5–4.4 s → 7.9 s). */
  def counterFamilies(events: DataFrame, client: Sinks.CommandClient,
      checkpointDir: String, emitMs: Long = 15 * 60 * 1000L,
      windowsMs: Seq[Long] = Seq(3600000L, 86400000L))(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    import graft.agg.{CounterFeatures => CF}
    val fid = (ct: Long) =>
      CF.featureIdCol(lit(ct), col("metric"), lit(0L)).cast("string")
    val cells = array(
      concat_ws(CF.Sep, lit("gd"), col("platformId"), col("osFamily"),
        col("agentFamily"), fid(CF.CountType.ItemDevice)),
      concat_ws(CF.Sep, lit("cd"), col("platformId"), col("contentId"),
        col("osFamily"), col("agentFamily"), fid(CF.CountType.ItemDevice)),
      concat_ws(CF.Sep, lit("lu"), col("platformId"), col("logUserId"),
        fid(CF.CountType.LogUser)),
      concat_ws(CF.Sep, lit("uu"), col("platformId"), col("userId"),
        fid(CF.CountType.User)))
    val keyed = events
      .select(explode(cells).as("key"), col("tsMs"), lit(1L).as("n"))
      .as[SlidingCounter.Event]
    val counts = SlidingCounter.countStream(keyed, "1 minute", emitMs, windowsMs)
    val commands = counts.toDF().select(
      lit("HSET").as("cmd"), col("key"),
      concat_ws(":", col("windowStartMs"), col("windowSizeMs")).as("field"),
      col("count").cast("string").as("value"),
      (col("windowSizeMs") / 1000L * 2L).cast("long").as("ttlSec"),
      // emission tick (window end): sliding counts DECREMENT after expiry,
      // so the sink must order by emission time, not by value
      (col("windowStartMs") + col("windowSizeMs")).as("tsMs"))
    Sinks.streamCommands(commands, client, s"$checkpointDir/counter_families")
      .queryName("counter_families").start()
  }

  /** The COMPLETE streaming flagship as a deployable job — envelopes in,
    * `FlatResponseInsertion` rows out of ONE query with FIVE chained
    * stateful stages (the reference's whole FlatOutputJob program,
    * FlatOutputJob.java:368-641 joins + :712-754 merge + :998-1044
    * cogroup):
    *
    *   views ∪ insertions → inferred join 1 (view→insertion, right-outer)
    *     → enrich via `insertionMeta` → ∪ impressions → inferred join 2
    *     → self-pair fusion → ∪ actions → inferred join 3 + D3 redundant
    *     reduce (FlatChainTws.joinAndReduce) → stateless JoinedEvent
    *     detail merge → J7 session cogroup → dt/hour parquet.
    *
    * `insertionMeta` / `impressionDetails` / `actionDetails` are STATIC
    * dimension frames (in production: read-optimized views of the
    * compacted raw tables — the reference reads its Hudi tables the same
    * way); stream-static joins keep the chain's watermark intact. For the
    * JoinedEvent stream as a SEPARATE deliverable, run the two-query
    * production split spec'd in StreamingFlagshipSpec instead.
    *
    * State sizing derives from `maxTimeMs`/`oooMs` per the documented
    * chain rules (reduce ooo ≥ W + 2·ooo; cleanup ≥ 2W + ooo; session ooo
    * ≥ reduce ooo — see RedundantReduceTws.advance / SessionCogroupTws). */
  def flagshipOutput(envelopes: DataFrame, insertionMeta: DataFrame,
      impressionDetails: DataFrame, actionDetails: DataFrame,
      outDir: String, checkpointDir: String,
      maxTimeMs: Long = 30L * 60 * 1000, oooMs: Long = 1000L,
      gapMs: Long = 86400000L, watermarkDelay: String = "1 minute")(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    import graft.streaming.{FlatChainTws, InferredJoinTws, SessionCogroupTws}
    val redOoo = maxTimeMs + 2 * oooMs + 3000L
    val redCleanup = 2 * maxTimeMs + oooMs + 9000L
    val sessOoo = redOoo + 3000L
    val noIds = array().cast("array<string>")
    val views = LogRequestSplit.views(envelopes).toDF().select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      lit(0).as("side"), col("viewId").as("id"), lit("").as("parentId"),
      col("timing.eventApiTimestamp").as("tsMs"),
      array(col("userInfo.logUserId")).as("scopes"), noIds.as("contentIds"))
    val ins = LogRequestSplit.deliveryLogs(envelopes).toDF().select(
        col("platformId"), col("userInfo.logUserId").as("logUserId"),
        col("timing.eventApiTimestamp").as("tsMs"),
        col("request.viewId").as("fkView"), explode(col("insertions")).as("i"))
      .select(col("platformId"), col("logUserId"), lit(1).as("side"),
        col("i.insertionId").as("id"), col("fkView").as("parentId"),
        col("tsMs"), array(col("logUserId")).as("scopes"), noIds.as("contentIds"))
    val stage1 = InferredJoinTws.joinScopedStream(
      views.unionByName(ins).as[graft.schema.ScopedEvent],
      watermarkDelay, maxTimeMs, oooMs, rightOuter = true)
    // stage-2 LHS enrichment: the matched insertion's request/content ids
    // from the static meta frame (scopes = requestId, viewId, contentId)
    val meta = insertionMeta.select(col("insertionId").as("rightId"),
      col("requestId"), col("contentId"), col("tsMs").as("insTs"))
    def toStage2Left(pairs: DataFrame): DataFrame =
      pairs.join(meta, Seq("rightId"))
        .select(col("platformId"), col("logUserId"), lit(0).as("side"),
          col("rightId").as("id"), lit("").as("parentId"),
          col("insTs").as("tsMs"),
          array(col("requestId"), col("leftId"), col("contentId")).as("scopes"),
          array(col("contentId")).as("contentIds"), col("emittedAt"))
    val imps = LogRequestSplit.impressions(envelopes).toDF().select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      lit(1).as("side"), col("impressionId").as("id"),
      col("insertionId").as("parentId"),
      col("timing.eventApiTimestamp").as("tsMs"),
      array(col("requestId"), col("viewId")).as("scopes"),
      array(col("contentId")).as("contentIds"))
    val p2 = FlatChainTws.nextStage(stage1, toStage2Left,
      imps.as[graft.schema.ScopedEvent], watermarkDelay, maxTimeMs, oooMs,
      rightOuter = false)
    def toStage3Left(pairs: DataFrame): DataFrame =
      pairs.select(col("platformId"), col("logUserId"), lit(0).as("side"),
        col("rightId").as("id"), lit("").as("parentId"),
        col("rightTs").as("tsMs"), array(col("leftId")).as("scopes"),
        noIds.as("contentIds"), col("emittedAt"),
        col("leftId").as("selfRef"))
    val acts = LogRequestSplit.actions(envelopes).toDF().select(
      col("platformId"), col("userInfo.logUserId").as("logUserId"),
      lit(1).as("side"), col("actionId").as("id"),
      col("impressionId").as("parentId"),
      col("timing.eventApiTimestamp").as("tsMs"),
      array(col("insertionId")).as("scopes"),
      array(col("contentId")).as("contentIds"))
    // the cart-item pk separator: no plain action id contains \u0001, so
    // unpacked actions pass through; a cart explode upstream would pack
    // actionId\u0001contentId ids exactly as q35 does
    val reduced = FlatChainTws.joinAndReduce(p2, toStage3Left,
      acts.as[graft.schema.ScopedEvent], watermarkDelay, maxTimeMs, oooMs,
      sep = "\u0001", redOoo, replaceTtlMs = Long.MaxValue / 4, redCleanup)
    val sessions = FlatChainTws.flagshipSessions(reduced,
      insertionMeta.select(col("insertionId"), col("requestId"),
        col("contentId").as("ins_content")),
      impressionDetails, actionDetails, gapMs, sessOoo)
    Sinks.streamPartitioned(
        sessions.toDF().withColumn("eventApiTs", col("sessionStartMs")),
        "eventApiTs", s"$outDir/flat_response_insertion",
        s"$checkpointDir/flagship")
      .queryName("flagship_flat_response_insertion").start()
  }

  /** Counter job QUERY families END-TO-END in ONE query — the reference's
    * top-query wiring (CounterJob.java:441-499): an "emit-top-queries"
    * frequency window marks query hashes whose count reaches
    * `minCountThreshold`; family counts keyed by query hash GATE on that
    * marker stream (RightSeenOutput, the J11 seen-gate); survivors encode
    * HSET commands. THREE chained stateful operators in one query:
    *
    *   family SlidingCounterTws ─┐
    *                             ├─ union → SeenGateTws (mid-chain) → sink
    *   query-freq SlidingCounterTws → threshold (stateless) ─┘
    *
    * Both counter stages share the emit cadence, so a query crossing the
    * threshold at tick T marks the gate in the same micro-batch that the
    * tick-T family counts are released — family emissions from the
    * crossing tick onward pass (the reference has the same
    * arrival-order contract between its window fire and RightSeenOutput).
    *
    * Command encoding mirrors q29's oracled shape: key = "qu" ␟ platform ␟
    * queryHash ␟ windowStart (the count's own window, so last-write-wins
    * delivery leaves exactly the per-window totals), field = packed
    * feature id, value = count, with the emission tick as the `tsMs`
    * ordering column ([[Sinks.streamCommands]] contract for non-monotone
    * sliding counts).
    *
    * Input contract: platformId, queryHash (string), metric (packed
    * AggMetric long), tsMs.
    *
    * A checkpoint written before `SlidingCounterTws` kept its state in one
    * `counterState` value holds the counts in a `buckets` map state and a
    * `lastEmit` long, which this version no longer reads. Spark restarts
    * on such a checkpoint without an error and the old counts are lost,
    * so a deployment that ran the earlier layout must start on a new
    * checkpoint directory. */
  def counterQueryFamilies(events: DataFrame, client: Sinks.CommandClient,
      checkpointDir: String, watermarkDelay: String = "1 minute",
      emitMs: Long = 86400000L, windowMs: Long = 86400000L,
      minCountThreshold: Long = 3L)(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    import graft.agg.{CounterFeatures => CF}
    import graft.streaming.{SeenGateTws, SlidingCounter, SlidingCounterTws}
    val windowCode =
      if (windowMs >= 86400000L) CF.CountWindow.Day else CF.CountWindow.Hour
    // stage 1a: per-(platform, queryHash, metric) family counts
    val famCounts = SlidingCounterTws.countStreamChained(
      events.select(
        concat_ws(CF.Sep, lit("qu"), col("platformId"), col("queryHash"),
          CF.featureIdCol(lit(CF.CountType.Query), col("metric"),
            lit(windowCode)).cast("string")).as("key"),
        col("tsMs"), lit(1L).as("n")).as[SlidingCounter.Event],
      watermarkDelay, emitMs, Seq(windowMs))
    // stage 1b: raw query frequency, thresholded into top-query markers
    val topMarkers = SlidingCounterTws.countStreamChained(
      events.select(col("queryHash").as("key"), col("tsMs"), lit(1L).as("n"))
        .as[SlidingCounter.Event],
      watermarkDelay, emitMs, Seq(windowMs))
      .where(col("count") >= minCountThreshold)
    // stage 2: the seen-gate — lefts are family emissions (gate key = the
    // queryHash segment of the packed family key; id carries the command
    // payload through the gate), rights are the markers
    val sep = CF.Sep
    // the packed key/command payload is separator-delimited: a query hash
    // carrying the separator would silently shift every field (reference
    // keys are hex strings, which cannot) — fail loudly instead. One
    // string scan per EMISSION, not per event.
    val guarded = famCounts.toDF().withColumn("key",
      when(size(split(col("key"), sep)) =!= 4,
        raise_error(concat(lit("packed counter key has a stray separator: "),
          col("key")))).otherwise(col("key")))
    val lefts = guarded.select(
      split(col("key"), sep).getItem(2).as("key"), lit(0).as("side"),
      concat_ws(sep, col("key"), col("windowStartMs"), col("windowSizeMs"),
        col("count")).as("id"),
      (col("windowStartMs") + col("windowSizeMs")).as("tsMs"),
      lit(false).as("immediate"), col("emittedAt"))
    val rights = topMarkers.toDF().select(
      col("key"), lit(1).as("side"), lit("").as("id"),
      (col("windowStartMs") + col("windowSizeMs")).as("tsMs"),
      lit(false).as("immediate"), col("emittedAt"))
    val gated = SeenGateTws.gateChained(
      lefts.unionByName(rights).as[SeenGateTws.EventAt])
    // stage 3 (stateless): unpack the command payload → HSET frame
    val cmd = split(col("id"), sep)
    val commands = gated.toDF().select(
      lit("HSET").as("cmd"),
      concat_ws(sep, cmd.getItem(0), cmd.getItem(1), cmd.getItem(2),
        cmd.getItem(4)).as("key"),
      cmd.getItem(3).as("field"), cmd.getItem(6).as("value"),
      lit(2L * windowMs / 1000L).as("ttlSec"), col("tsMs"))
    Sinks.streamCommands(commands, client, s"$checkpointDir/query_families")
      .queryName("counter_query_families").start()
  }

  /** Counter job last-seen families: per (user, content) last timestamp +
    * rolling 90d count as HSET commands, with TTL-decrement re-emission
    * (the reference's LastTimeAndCount wiring,
    * CounterJob.java:799-885).
    *
    * Stays on FMGWS with [[counterFamilies]]: with
    * both counter jobs on `transformWithState` the `features_live` lag
    * was 5.7 s p50 / 7.9–8.3 s p95, about 2× the FMGWS pair. */
  def counterLastSeen(events: DataFrame, client: Sinks.CommandClient,
      checkpointDir: String, ttlDays: Int = 90)(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    val keyed = events.select(
      concat_ws("\u001f", col("platformId"), col("logUserId"),
        col("contentId")).as("key"),
      col("tsMs")).as[LastSeen.Event]
    val results = LastSeen.countStream(keyed, "1 minute", ttlDays)
    val commands = results.toDF().select(
      lit("HSET").as("cmd"), col("key"),
      lit("last_ts_and_n90").as("field"),
      concat_ws(":", col("lastTsMs"), col("count")).as("value"),
      col("ttlSec"),
      // per-key emission sequence: the value is non-monotone (TTL
      // decrements shrink the count at an unchanged lastTs), so the sink
      // orders on this, letting the decay emission win its micro-batch
      col("seq").as("tsMs"))
    Sinks.streamCommands(commands, client, s"$checkpointDir/last_seen")
      .queryName("counter_last_seen").start()
  }

  /** Content metrics: unified metric stream → hourly windowed rollup. */
  def contentMetrics(envelopes: DataFrame, outDir: String,
      checkpointDir: String)(implicit spark: SparkSession): StreamingQuery = {
    val unified = ContentMetricsJob.unifiedEvents(envelopes)
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", "1 minute")
    val hourly = unified
      .groupBy(window(col("eventTime"), "1 hour"),
        col("platformId"), col("contentId"))
      .agg(sum("view_count").as("view_count"),
        sum("impression_count").as("impression_count"),
        sum("purchase_count").as("purchase_count"),
        sum("gmv_usd_micros").as("gmv_usd_micros"))
      .select(unix_millis(col("window.start")).as("eventApiTs"),
        col("platformId"), col("contentId"), col("view_count"),
        col("impression_count"), col("purchase_count"), col("gmv_usd_micros"))
    Sinks.streamPartitioned(hourly, "eventApiTs", s"$outDir/hourly",
        s"$checkpointDir/hourly")
      .outputMode("append").queryName("content_metrics_hourly").start()
  }
}
