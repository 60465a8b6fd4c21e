package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.schema.ScopedEvent
import graft.sinks.Sinks
import graft.sources.{LogRequestSplit, Validation}
import graft.streaming.{FlatChainTws, InferredJoinTws, LastSeen,
  LatestImpressions, RedundantReduceTws, SlidingCounter, StreamOps}

/** Streaming entry points for the four pipelines — the `readStream` →
  * transform → `writeStream` forms of the batch jobs. [[flagshipOutput]]
  * composes the batch Flat Output Job's own stage table
  * ([[FlatOutputJob]]), and FlatJobParitySpec pins that both forms emit
  * the same pairs and sessions; StreamingFlatSpec pins the inferred join
  * itself, stream against batch. Sources are file streams here; a Kafka
  * deployment swaps in `sources/KafkaSeam.reader` + `KafkaSeam.decode`
  * (the wire contract and codec are pinned broker-free by KafkaSeamSpec)
  * without touching the stages.
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
    * cogroup). It composes the batch job's stage table with the
    * `transformWithState` stages:
    *
    *   [[FlatOutputJob.gate]] → views ∪ insertions → inferred join 1
    *     (right-outer) → ∪ impressions → inferred join 2 → self-pair
    *     fusion → ∪ cart-split actions → inferred join 3 + D3 redundant
    *     reduce (FlatChainTws.joinAndReduce) → stateless JoinedEvent detail
    *     merge → J7 session cogroup → dt/hour parquet.
    *
    * So its sessions equal `FlatOutputJob.run(...).flatResponseInsertions`
    * with every window set to `maxTimeMs` (FlatJobParitySpec); no
    * other-content snapshot is applied. `insertionMeta` /
    * `impressionDetails` / `actionDetails` are STATIC detail frames for the
    * merge, in `FlatOutputJob.detailFrames`' shapes (in production:
    * read-optimized views of the compacted raw tables, as the reference
    * reads its Hudi tables); stream-static joins keep the chain's
    * watermark intact. For the JoinedEvent stream as a SEPARATE
    * deliverable, run the two-query production split spec'd in
    * StreamingFlagshipSpec instead.
    *
    * State sizing derives from `maxTimeMs`/`oooMs` per the documented
    * chain rules (reduce ooo ≥ W + 2·ooo; cleanup ≥ 2W + ooo; session ooo
    * ≥ reduce ooo — see RedundantReduceTws.advance / SessionCogroupTws).
    * A checkpoint written before the join state held each LHS's scopes is
    * refused by Spark's state-schema check (FlagshipCheckpointGuardSpec):
    * a deployment of the earlier form starts on a new directory. */
  def flagshipOutput(envelopes: DataFrame, insertionMeta: DataFrame,
      impressionDetails: DataFrame, actionDetails: DataFrame,
      outDir: String, checkpointDir: String,
      maxTimeMs: Long = 30L * 60 * 1000, oooMs: Long = 1000L,
      gapMs: Long = FlatOutputJob.SessionGapMs,
      watermarkDelay: String = "1 minute")(
      implicit spark: SparkSession): StreamingQuery = {
    val sessions = FlatChainTws.flagshipSessions(
      flagshipChain(envelopes, maxTimeMs, oooMs, watermarkDelay),
      insertionMeta.select(col("insertionId"), col("requestId"),
        col("contentId").as("ins_content")),
      impressionDetails, actionDetails, gapMs,
      reduceOooMs(maxTimeMs, oooMs) + 3000L)
    Sinks.streamPartitioned(
        sessions.toDF().withColumn("eventApiTs", col("sessionStartMs")),
        "eventApiTs", s"$outDir/flat_response_insertion",
        s"$checkpointDir/flagship")
      .queryName("flagship_flat_response_insertion").start()
  }

  /** The D3 reduce's reorder bound behind a join stage of window
    * `maxTimeMs` (see RedundantReduceTws.advance). */
  private def reduceOooMs(maxTimeMs: Long, oooMs: Long): Long =
    maxTimeMs + 2 * oooMs + 3000L

  /** [[flagshipOutput]]'s first four stateful stages: the stage table's
    * three inferred joins and the D3 redundant reduce, whose rows carry
    * every matched impression pair (kinds `impression` and `redundant`)
    * and every matched action pair (`action`, re-pointed to the root). */
  def flagshipChain(envelopes: DataFrame, maxTimeMs: Long, oooMs: Long,
      watermarkDelay: String)(
      implicit spark: SparkSession): Dataset[RedundantReduceTws.Reduced] = {
    import spark.implicits._
    import FlatOutputJob._
    val g = gate(envelopes)
    val p1 = InferredJoinTws.joinScopedStream(
      viewSide(g.views).unionByName(insertionSide(g.deliveryLogs)).as[ScopedEvent],
      watermarkDelay, maxTimeMs, oooMs, rightOuter = true)
    val p2 = FlatChainTws.nextStage(p1, insertionLeft,
      impressionSide(g.impressions).as[ScopedEvent], watermarkDelay,
      maxTimeMs, oooMs, rightOuter = false)
    FlatChainTws.joinAndReduce(p2,
      pairs => impressionLeft(pairs.withColumn("selfRef", col("leftId")), None),
      actionSide(g.actions, None).as[ScopedEvent], watermarkDelay, maxTimeMs,
      oooMs, PkSep, reduceOooMs(maxTimeMs, oooMs), ReplaceTtlMs,
      cleanupMs = 2 * maxTimeMs + oooMs + 9000L)
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
    * `lastEmit` long, which this version no longer reads. Spark would
    * restart on such a checkpoint without an error and lose the old
    * counts, so this method refuses it before the query starts
    * ([[refuseRetiredCounterState]]); a deployment that ran the earlier
    * layout must start on a new checkpoint directory. */
  def counterQueryFamilies(events: DataFrame, client: Sinks.CommandClient,
      checkpointDir: String, watermarkDelay: String = "1 minute",
      emitMs: Long = 86400000L, windowMs: Long = 86400000L,
      minCountThreshold: Long = 3L)(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    import graft.agg.{CounterFeatures => CF}
    import graft.streaming.{SeenGateTws, SlidingCounter, SlidingCounterTws}
    val queryCheckpoint = s"$checkpointDir/query_families"
    refuseRetiredCounterState(queryCheckpoint)
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
    Sinks.streamCommands(commands, client, queryCheckpoint)
      .queryName("counter_query_families").start()
  }

  /** Fail when a `transformWithState` operator in the checkpoint at
    * `checkpoint` declares a state variable of the earlier
    * `SlidingCounterTws` layout (`buckets`, `lastEmit`). Reads the
    * operators' declared state variables through Spark's `state-metadata`
    * source; a checkpoint with no state yet passes. */
  private def refuseRetiredCounterState(checkpoint: String)(
      implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val stateDir = new org.apache.hadoop.fs.Path(checkpoint, "state")
    if (stateDir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(stateDir)) {
      val vars = spark.read.format("state-metadata").load(checkpoint)
        .select(explode(from_json(col("operatorProperties"),
          StructType.fromDDL("stateVariables ARRAY<STRUCT<stateName: STRING>>"))
          .getField("stateVariables")).as("v"))
        .select(col("v.stateName")).as[String].collect().toSet
      val retired = vars.intersect(Set("buckets", "lastEmit"))
      if (retired.nonEmpty)
        throw new IllegalStateException(s"checkpoint $checkpoint holds the " +
          "earlier SlidingCounterTws state layout " +
          s"(${retired.toSeq.sorted.mkString(", ")}), which this version " +
          "cannot read; start the query on a new checkpoint directory")
    }
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

  /** Content metrics: the batch job's unified metric stream and rollup
    * ([[ContentMetricsJob]]) over a 1-hour event-time window, all seven
    * metric columns, the window start written as `eventApiTs`.
    * ContentMetricsParitySpec pins its rows against
    * `ContentMetricsJob.hourly`.
    *
    * The streams before this one summed four of the seven metrics. A
    * checkpoint they wrote is refused on restart by Spark 4.1.2's
    * state-schema check (the aggregation state value gains three sums):
    * the query fails with `STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE`, as
    * ContentMetricsParitySpec pins, so no guard of its own is needed. */
  def contentMetrics(envelopes: DataFrame, outDir: String,
      checkpointDir: String)(implicit spark: SparkSession): StreamingQuery = {
    import ContentMetricsJob.{Keys, MetricCols}
    val unified = ContentMetricsJob.unifiedEvents(envelopes)
      .withColumn("eventTime", timestamp_millis(col("tsMs")))
      .withWatermark("eventTime", "1 minute")
    val hourly = ContentMetricsJob.rollup(unified,
        window(col("eventTime"), "1 hour"), Keys)
      .select(unix_millis(col("window.start")).as("eventApiTs") +:
        (Keys ++ MetricCols).map(col): _*)
    Sinks.streamPartitioned(hourly, "eventApiTs", s"$outDir/hourly",
        s"$checkpointDir/hourly")
      .outputMode("append").queryName("content_metrics_hourly").start()
  }
}
