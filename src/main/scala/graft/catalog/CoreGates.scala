package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{ContentMetrics, Windows}
import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators._
import graft.schema.{DeliveryLogLite, JoinSideEvent, ScopedEvent}
import graft.streaming.{CombineDeliveryLog, InferredJoin}
import GateSupport._
import CatalogDefs._

/** Reference-port pipeline analogues: joins, counters, sessions, dedupe-in-stream, validation, flat chains.
  *
  * 52 gates; split from SparkEntry.scala in round 14 (pure
  * refactor — every entry verbatim, hashes pinned by the sf0.01 sweep). */
object CoreGates extends GateFamily {

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // A1/A7+P9: grouped fixed-point aggregation (TPC-H Q1 shape)
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long")).as("sum_disc_e4"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")) * 1000000).cast("long")).as("sum_charge_e6"),
          count(lit(1)).as("count_order"))
    }),

    // S3+A6: fact-to-dimension star join, dims broadcast (no fact shuffle)
    "q02_region_revenue" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    }),

    // A8: top-N per group
    "q03_top_orders" -> ((s, dir) =>
      TopN.topN(t(s, dir, "orders"), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
          cents(col("o_totalprice")).as("total_cents"))),

    // A9+A11: sparse metric-column union + hourly tumble
    "q04_hourly_metrics" -> ((s, dir) =>
      ContentMetrics.hourly(t(s, dir, "events"))),

    // A2: sliding 1h/15m counts
    "q05_sliding_counts" -> ((s, dir) =>
      Windows.slidingCount(ev(s, dir), Seq("event_type"), "ts_ms",
        3600000L, 900000L)),

    // A3: sliding 7d/1d counts
    "q06_weekly_counts" -> ((s, dir) =>
      Windows.slidingCount(ev(s, dir), Seq("event_type"), "ts_ms",
        7L * 86400000L, 86400000L)),

    // A10: CUMULATE — hourly-stepped day-to-date totals
    "q07_cumulate" -> ((s, dir) =>
      Windows.cumulativeCount(ev(s, dir), Seq("event_type"), "ts_ms",
        86400000L, 3600000L)),

    // J7: event-time session windows (4h gap)
    "q08_sessionize" -> ((s, dir) =>
      Sessionize.sessionBounds(
        ev(s, dir).select(col("user_id"), col("ts_ms"), col("event_id")),
        Seq("user_id"), "ts_ms", 4L * 3600000L, "event_id")),

    // J9/J10: as-of (temporal) join, 1-day tolerance
    "q09_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val fact = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms"))
      val dim = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_ms").as("click_ts_ms"))
      AsOfJoin.leftAsOf(fact, dim, Seq("user_id"), "ts_ms", "click_ts_ms",
        Seq("click_id"), "click_id", 86400000L)
    }),

    // J1-J4 exact-key fast path: equi-key interval join ([-30m, 0])
    "q10_interval_join" -> ((s, dir) => {
      val e = ev(s, dir)
      IntervalJoin.countInRange(
        e.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_ms")),
        e.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_ms")),
        Seq("user_id"), "ts_ms", "ts_ms", -1800000L, 0L,
        "event_id", "n_clicks")
    }),

    // J11: seen-gate (left-semi join against a thresholded key set)
    "q11_semi_gate" -> ((s, dir) => {
      val e = ev(s, dir)
      val hot = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 20).select("user_id")
      e.join(hot, Seq("user_id"), "left_semi")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
    }),

    // A4: last-seen + count per key
    "q14_last_seen" -> ((s, dir) =>
      Windows.lastTimeAndCount(ev(s, dir), Seq("user_id", "event_type"), "ts_ms")),

    // A5-shape: thresholded key frequency over JSON-extracted props
    "q15_hot_keys" -> ((s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 10)),

    // §2.9: seed-0 xxhash64 feature keys. Oracled: the expected seed-0
    // hashes for the (fixed, 5-value) event-type vocabulary are inlined
    // into the oracle SQL as literals; XxHash64Spec holds the public
    // test vectors that pin the hash itself.
    "q24_query_hash" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "events")
        .select(lower(col("event_type")).as("q"))
        .where(length(col("q")) <= 100)
        .select(GraftFunctions.xxhash64Seed0(col("q")).as("query_hash"))
        .groupBy(col("query_hash")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 100)
    }),

    // J1 core: inferred-reference join (nearest-in-time fallback) run in
    // batch mode — purchases attributed to the closest view per user within
    // [-30m, +1s]; unmatched emit as the dropped side channel
    "q25_inferred_join" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
      val pid = lpad(col("event_id").cast("string"), 12, "0")
      val mk = (side: Int) => Seq(lit(0L).as("platformId"),
        col("user_id").cast("string").as("logUserId"), lit(side).as("side"),
        pid.as("id"), lit("").as("parentId"), col("ts_ms").as("tsMs"))
      val lefts = e.where(col("event_type") === "view").select(mk(0): _*)
      val rights = e.where(col("event_type") === "purchase").select(mk(1): _*)
      InferredJoin.joinBatch(lefts.unionByName(rights).as[JoinSideEvent],
          maxTimeMs = 1800000L, outOfOrderMs = 1000L)(s)
        .select(col("logUserId").as("log_user_id"), col("leftId").as("left_id"),
          col("rightId").as("right_id"), col("leftTs").as("left_ts_ms"),
          col("rightTs").as("right_ts_ms"), col("matchType").as("match_type"))
    }),

    // J5: CombineDeliveryLog batch merge — view=API / click=SDK logs
    // sharing a synthetic clientRequestId (user × 10m bucket) collapse to
    // the highest-priority producer
    "q26_combine_dlog" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).where(col("event_type").isin("view", "click"))
        .select(lit(0L).as("platformId"),
          col("user_id").cast("string").as("logUserId"),
          concat_ws(":", col("user_id"),
            (col("ts_ms") - pmod(col("ts_ms"), lit(600000L)))).as("clientRequestId"),
          lpad(col("event_id").cast("string"), 12, "0").as("requestId"),
          when(col("event_type") === "view", "API").otherwise("SDK").as("executionServer"),
          col("ts_ms").as("tsMs"))
      CombineDeliveryLog.combineBatch(e.as[DeliveryLogLite])(s)
        .select(col("clientRequestId").as("client_request_id"),
          col("requestId").as("request_id"),
          col("executionServer").as("execution_server"), col("tsMs").as("ts_ms"))
    }),

    // A6+K3 shape: counter key families with packed feature ids as an
    // HSET-frame stream over the events table
    "q29_counter_family" -> ((s, dir) => {
      val metric = when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", 2L)
        .when(col("event_type") === "purchase", 3L)
        .when(col("event_type") === "signup", 4L)
        .otherwise(8L)
      ev(s, dir)
        .groupBy(col("user_id"),
          graft.agg.Windows.bucket(col("ts_ms"), 86400000L).as("day_ms"),
          metric.as("metric"))
        .agg(count(lit(1)).as("n"))
        .select(
          concat_ws("\u001f", lit("3"), col("user_id").cast("string"),
            col("day_ms").cast("string")).as("key"),
          graft.agg.CounterFeatures.featureIdCol(lit(3L), col("metric"), lit(2L))
            .cast("string").as("field"),
          col("n").cast("string").as("value"))
    }),

    // J7: full-outer session cogroup — purchases × clicks per user in 4h
    // sessions (FlatResponseInsertion shape: N left + M right per window)
    "q31_session_cogroup" -> ((s, dir) => {
      val e = ev(s, dir)
      Cogroup.sessionCogroup(
        e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id")),
        e.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_ms"), col("event_id")),
        Seq("user_id"), "ts_ms", 4L * 3600000L, "event_id", "event_id")
    }),

    // J8 full parity: attach the ≤3 most recent prior views to each
    // purchase (6h lookback) with the reference's exclusion semantics —
    // views whose content the user already actioned (incl. the purchase's
    // own content) drop, duplicate content keeps only the newest view
    // (AddLatestImpressions.java:355-374); content = props.k mod 20
    "q32_latest_impressions" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("content_id",
        concat(lit("C"), pmod(get_json_object(col("props"), "$.k").cast("long"),
          lit(20)).cast("string")))
      Cogroup.attachLatestExcluding(
        e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts_ms"), col("content_id")),
        e.where(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts_ms").as("view_ts_ms"), col("content_id")),
        Seq("user_id"), "ts_ms", "view_ts_ms", "purchase_id", "view_id",
        "content_id", 3, 6L * 3600000L)
    }),

    // D3: redundant-event canonicalization — every view re-points to the
    // first view of its (user, props.k) group
    "q33_redundant_repoint" -> ((s, dir) =>
      Cogroup.redundantRepoint(
        ev(s, dir).where(col("event_type") === "view")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            col("event_id"), col("ts_ms")),
        Seq("user_id", "k"), "event_id", "ts_ms")),

    // J1+J2+J3+J4: the full flagship join chain — view ×(right-outer)
    // insertion × impression × action — with the reference's ancestor-scope
    // cascade, ContentId filter, and cart-item pk split
    // (BaseInferred.java:524-547, ViewResponseInsertionProcessFunction,
    // ImpressionActionProcessFunction.java:18-35). Fixture derives exact-FK
    // and scope ids from the events table via as-of lookups; match paths
    // split by event_id % 4: 0→exact FK, 1→first scope, 2→second scope,
    // 3→invalid scopes then view-scope fallback (multi-level cascade).
    "q35_flat_chain" -> ((s, dir) => q35FlatChain(s, dir)),

    // J6 complete: MergeDetails with drop tracking — purchases resolve
    // insertion (nearest prior click) and impression (nearest prior
    // signup) references, then merge the full detail rows back on; details
    // tables are punched (clicks ≡0 mod 5, signups ≡0 mod 3 withheld) so
    // the dropped channel (DroppedMergeDetailsEvent analogue) is genuinely
    // exercised; `missing` carries the MissingEvent labels
    "q39_merge_details" -> ((s, dir) => {
      val e = ev(s, dir)
      val acts = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("action_id"), col("ts_ms"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("ins_id"),
          col("ts_ms").as("ins_ts"))
      val signups = e.where(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("imp_id"),
          col("ts_ms").as("imp_ts"))
      val withIns = AsOfJoin.leftAsOf(acts, clicks, Seq("user_id"),
        "ts_ms", "ins_ts", Seq("ins_id"), "ins_id", 86400000L)
      val tiny = AsOfJoin.leftAsOf(withIns, signups, Seq("user_id"),
          "ts_ms", "imp_ts", Seq("imp_id"), "imp_id", 86400000L)
        .select(col("user_id"), col("action_id"), col("ts_ms"),
          col("ins_id"), col("imp_id"))
      val insDetails = clicks.where(col("ins_id") % 5 =!= 0)
        .select(col("ins_id"), col("ins_ts").as("ins_detail_ts_ms"))
      val impDetails = signups.where(col("imp_id") % 3 =!= 0)
        .select(col("imp_id"), col("imp_ts").as("imp_detail_ts_ms"))
      MergeDetails.mergeWithDropTracking(tiny, Seq(
          MergeDetails.DetailSource(insDetails, "ins_id", "DELIVERY_LOG"),
          MergeDetails.DetailSource(impDetails, "imp_id", "IMPRESSION")))
        .select(col("user_id"), col("action_id"), col("ts_ms"),
          coalesce(col("ins_id"), lit(-1L)).as("ins_id"),
          coalesce(col("imp_id"), lit(-1L)).as("imp_id"),
          coalesce(col("ins_detail_ts_ms"), lit(-1L)).as("ins_detail_ts_ms"),
          coalesce(col("imp_detail_ts_ms"), lit(-1L)).as("imp_detail_ts_ms"),
          col("missing"), col("status"))
    }),

    // J7 complete: the session cogroup with COLLECTED payload lists —
    // purchases + clicks per user in 4h sessions, each session emitting
    // its sorted member-id lists (the FlatResponseInsertion record shape:
    // insertion + repeated impressions + repeated actions,
    // FlatOutputJob.java:1016-1025), serialized for the oracle compare
    "q38_session_payload" -> ((s, dir) => {
      val e = ev(s, dir)
      Cogroup.sessionPayloadCogroup(
        e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id")),
        e.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_ms"), col("event_id")),
        Seq("user_id"), "ts_ms", 4L * 3600000L, "event_id", "event_id")
    }),

    // D3 complete: actions re-pointed through the redundant-impression
    // canonical map (ReduceRedundantTinyImpressions.java:120-180) — each
    // purchase resolves its impression (nearest prior view within 1d, the
    // as-of convention) and rewrites it to the canonical first view of
    // that view's (user, props.k) group
    "q37_redundant_actions" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("event_id"), col("ts_ms"))
      val canon = Cogroup.redundantRepoint(views, Seq("user_id", "k"),
        "event_id", "ts_ms")
      val acts = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("action_id"), col("ts_ms"))
      val withImp = AsOfJoin.leftAsOf(acts,
        views.select(col("user_id"), col("event_id").as("imp_id"),
          col("ts_ms").as("imp_ts_ms")),
        Seq("user_id"), "ts_ms", "imp_ts_ms", Seq("imp_id"), "imp_id",
        86400000L)
        .where(col("imp_id").isNotNull)
      Cogroup.repointReferences(withImp,
          canon.select(col("event_id"), col("canonical_id")),
          "event_id", "imp_id")
        .select(col("user_id"), col("action_id"), col("ts_ms"),
          col("imp_id"), col("imp_ts_ms"),
          col("canonical_imp_id"))
    }),

    // A6 complete: the ten counter key families (CounterKeys.java:40-365)
    // over a synthesized joined-event frame — query hash from props.k
    // (50-word vocabulary, thresholded top-query gate), device families
    // from a fixed UA vocabulary through the UserAgents parser, metric
    // from event_type, last-seen families emitting ts + 90d-count pairs.
    "q36_counter_all" -> ((s, dir) => q36CounterAll(s, dir)),

    // Hot-key stress as a MEASURED gate (the reference's one published ops
    // failure: an interval join degrading superlinearly on duplicate ids,
    // pipeline/README.md:291-304). One synthetic key owns a quarter of
    // both sides in a tight time span (~128k candidate pairs through it);
    // the bucketed join must stay exact — SkewSpec pins the lever, this
    // entry tracks its COST per round in BENCH. Fixture is constant-size
    // across SFs, so the number is round-over-round comparable.
    "q55_skew_interval" -> ((s, dir) => {
      def side(ts: String, id: String) = s.range(20000).select(
        when(col("id") % 4 === 0, lit("hot"))
          .otherwise(concat(lit("k"), col("id"))).as("key"),
        (col("id") * 100 + (if (ts == "rts") 50 else 0)).as(ts),
        col("id").as(id))
      operators.IntervalJoin.bucketedRangeJoin(
          side("lts", "lid"), side("rts", "rid"),
          Seq("key"), "lts", "rts", lowMs = 0L, highMs = 10000L)
        .select("lid", "rid")
    }),

    // Analytics: ordered funnel (view → click → purchase within 7 days of
    // the first view, each stage strictly after the previous) — the
    // conversion query of the reference's attribution domain, one shuffle
    // on the user key, no self-joins or window sorts.
    "q64_funnel" -> ((s, dir) =>
      operators.Funnel.funnelTimes(ev(s, dir), "user_id", "event_type",
        "ts_ms", Seq("view", "click", "purchase"), 7L * 86400000L)),

    // Analytics: cohort retention triangle — each user's first-seen day
    // buckets the cohort; cells count distinct users active at each
    // offset. One user-key shuffle + one bounded-cell distinct agg.
    "q65_retention" -> ((s, dir) =>
      operators.Retention.cohortRetention(ev(s, dir), "user_id", "ts_ms",
        86400000L)),

    // Time series: gap fill + forward fill — densify each user's hourly
    // buckets across their span and carry the last value forward; gaps
    // generate from per-key sequence explodes (no calendar cross join),
    // one window pass carries values, runaway spans raise.
    "q67_gap_fill" -> ((s, dir) =>
      operators.GapFill.forwardFill(
        ev(s, dir).where(col("user_id") < 50), "user_id", "ts_ms", "value",
        bucketMs = 3600000L)),

    // Path analysis: first-order Markov transitions over per-user event
    // streams — every observed hop with exact integer-millionth row
    // probabilities (truncating div, so the matrix hash-gates).
    "q82_transitions" -> ((s, dir) =>
      operators.Funnel.transitions(ev(s, dir),
        "user_id", "ts_ms", "event_type", "event_id")),

    // ROLLUP hierarchy (§2.6 grouping-set analogue): per-(event_type, day)
    // metrics plus per-type and grand totals in ONE pass — Catalyst's
    // Expand feeds a single hash aggregate, vs three scans done naively.
    "q103_rollup_metrics" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          (col("ts_ms") - col("ts_ms") % 86400000L).as("day_ms"),
          cents(col("value")).as("cents"))
        .rollup(col("event_type"), col("day_ms"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day_ms"), lit(-1L)).as("day_ms"),
          col("n"), col("sum_cents"))),

    // Length-3 behavior paths (q82 one hop deeper): gap-bounded
    // event-type trigrams per user — one window sort, census-sized
    // output.
    "q151_session_paths" -> ((s, dir) =>
      Funnel.pathTrigrams(ev(s, dir), "user_id", "ts_ms", "event_type",
        "event_id", maxGapMs = 4L * 3600000L)),

    // Inter-event gap histogram: the arrival-cadence profile that tunes
    // session gaps / watermark slack / state TTLs — minute buckets with
    // a one-hour tail cap, exact min/max per bucket.
    "q152_gap_histogram" -> ((s, dir) =>
      Profile.gapHistogram(ev(s, dir), "user_id", "ts_ms", "event_id",
        "event_type", bucketMs = 60000L, maxBucket = 60L)),

    // Identity stitching: users link through shared device keys (≥3
    // co-occurrences), bipartite nodes long-encoded (user → 2i, device
    // → 2k+1), connected components, canonical = min user per cluster.
    "q169_identity_stitch" -> ((s, dir) => {
      val links = ev(s, dir).select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k").isNotNull)
        .groupBy(col("user_id"), col("k")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
      val edges = links.select((col("user_id") * 2).as("a"),
        (col("k") * 2 + 1).as("b"))
      val users = Dedup.connectedComponents(edges, "a", "b")
        .where(col("node") % 2 === 0)
        .select((col("node") / 2).cast("long").as("user_id"),
          col("component"))
      val canon = users.groupBy(col("component"))
        .agg(min(col("user_id")).as("canonical_user"),
          count(lit(1)).as("cluster_users"))
      users.join(canon, "component")
        .select(col("user_id"), col("canonical_user"), col("cluster_users"))
    }),

    // Span-level cleaning (the RefinedWeb line-filter shape): re-line
    // each doc into 3-word chunks (the q53 derivation), score every
    // chunk with the quality kernel INSIDE one array lambda — no
    // explode, no shuffle — and keep spans ≥ 35; emits the rebuilt text
    // plus kept/total counts and the exact ppm keep rate.
    "q170_span_filter" -> ((s, dir) => {
      val tokd = t(s, dir, "documents").select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("__tk"))
      val tk = col("__tk")
      val lined = tokd.select(col("doc_id"),
        transform(sequence(lit(0), ((size(tk) - 1) / 3).cast("int")),
          i => array_join(slice(tk, i * 3 + 1, lit(3)), " ")).as("chunks"))
      lined.select(col("doc_id"),
          size(col("chunks")).cast("long").as("total_chunks"),
          filter(col("chunks"),
            c => TextFunctions.qualityScore(c) >= 35).as("__kept"))
        .select(col("doc_id"), col("total_chunks"),
          size(col("__kept")).cast("long").as("kept_chunks"),
          array_join(col("__kept"), "\n").as("text"))
        .withColumn("keep_ppm",
          expr("kept_chunks * 1000000 div total_chunks"))
    }),

    // Directional as-of (pandas merge_asof parity): each purchase
    // attaches its NEAREST click within ±1 day — both direction probes
    // ride RANGE frames over one (user, ts) sort.
    "q172_asof_nearest" -> ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_ms").as("click_ts"))
      AsOfJoin.directionalAsOf(purchases, clicks, Seq("user_id"),
        "ts_ms", "click_ts", Seq("click_id"), "click_id",
        direction = "nearest", toleranceMs = 86400000L, dimPrefix = "m_")
    }),

    // Session-duration percentiles (p50/p90/p99): q08's sessionization
    // feeding the histogram-and-cumulative-rank discrete-quantile rule —
    // the duration frame collapses to |distinct durations| rows before
    // the (bounded) rank window.
    "q130_session_percentiles" -> ((s, dir) => {
      val sess = Sessionize.sessionBounds(
        ev(s, dir).select(col("user_id"), col("ts_ms"), col("event_id")),
        Seq("user_id"), "ts_ms", 4L * 3600000L, "event_id")
      operators.ExactQuantiles.histogramPercentiles(sess,
          col("session_end_ms") - col("session_start_ms"), Seq(50, 90, 99))
        .withColumnRenamed("quantile", "quantile_ms")
    }),

    // Funnel latency report: time-to-convert (t3 − t1) percentiles for
    // completed view→click→purchase funnels — q64's stage times feeding
    // the histogram discrete-quantile rule.
    "q131_funnel_latency" -> ((s, dir) => {
      val f = operators.Funnel.funnelTimes(ev(s, dir), "user_id",
        "event_type", "ts_ms", Seq("view", "click", "purchase"),
        7L * 86400000L)
      operators.ExactQuantiles.histogramPercentiles(
          f.where(col("t3").isNotNull), col("t3") - col("t1"),
          Seq(50, 90, 99))
        .withColumnRenamed("quantile", "quantile_ms")
    }),

    // EXACT sliding-window percentiles (the latency-SLO report): per-
    // slice value histograms merge slice→range per 6h window, cumulative
    // rank selects smallest value with cum ≥ ceil(n·p/100) — histogram
    // rows through the exchanges, never raw events.
    "q126_sliding_percentiles" -> ((s, dir) =>
      agg.Windows.slidingPercentiles(ev(s, dir),
        cents(col("value")), col("ts_ms"),
        sliceMs = 3600000L, slicesPerWindow = 6, percents = Seq(50, 95, 99))),

    // Sliding-window frequency sketches by Count-Min slice→range ADD: the
    // q108 pattern with + instead of max — hourly counter sketches scan
    // the stream once, every 6h window sums its six covering slices
    // cell-wise (CountMinMergeAgg). Point queries against the merged
    // window sketch never underestimate true in-window frequency.
    "q109_sliding_freq" -> ((s, dir) => {
      agg.CountMinSketch.register(s)
      val hourly = ev(s, dir)
        .withColumn("hour_ms", col("ts_ms") - col("ts_ms") % 3600000L)
        .groupBy(col("hour_ms"))
        .agg(agg.CountMinSketch.countMin(col("user_id"),
          depth = 4, width = 1024).as("cm"))
      hourly
        .select(col("hour_ms"), col("cm"),
          explode(sequence(lit(0L), lit(5L))).as("k"))
        .select((col("hour_ms") - col("k") * lit(3600000L))
          .as("window_start_ms"), col("cm"))
        .groupBy(col("window_start_ms"))
        .agg(agg.CountMinSketch.countMinMerge(col("cm"),
          depth = 4, width = 1024).as("cm"))
    }),

    // Sliding-window distinct users by HLL slice→range merge: hourly
    // sketches aggregate the corpus ONCE, then every 6h window merges its
    // six covering slices by register max (HllMergeAgg) — m bytes per
    // slice through the window exchange instead of re-scanning events per
    // window. Slice-merged registers are byte-identical to direct
    // aggregation (pinned in HllSketchSpec), and the oracle rebuilds every
    // window's registers from the raw rows.
    "q108_sliding_distinct" -> ((s, dir) => {
      agg.HllSketch.register(s)
      val hourly = ev(s, dir)
        .withColumn("hour_ms", col("ts_ms") - col("ts_ms") % 3600000L)
        .groupBy(col("hour_ms"))
        .agg(agg.HllSketch.hllRegisters(col("user_id"), p = 12).as("hll"))
      hourly
        .select(col("hour_ms"), col("hll"),
          explode(sequence(lit(0L), lit(5L))).as("k"))
        .select((col("hour_ms") - col("k") * lit(3600000L))
          .as("window_start_ms"), col("hll"))
        .groupBy(col("window_start_ms"))
        .agg(agg.HllSketch.hllMerge(col("hll"), p = 12).as("hll"))
    }),

    // Interval-union coverage: each event opens a 30-minute activity
    // window; merged per-user islands + exact covered milliseconds
    // (gaps-and-islands, two window passes, one shuffle).
    "q182_interval_coverage" -> ((s, dir) =>
      operators.IntervalJoin.unionCoverage(
        ev(s, dir).select(col("user_id"), col("ts_ms").as("start_ms"),
          (col("ts_ms") + lit(1800000L)).as("end_ms")),
        Seq("user_id"), "start_ms", "end_ms")),

    // Event-time dimension join against SCD2 history: each purchase
    // picks the user-state version whose validity interval contains its
    // timestamp (state = last NON-purchase activity type) — the lakehouse
    // "join facts to the dimension as of event time" pattern; equi-join
    // on the user key, interval containment as post-filter, versions
    // partition time so each fact matches ≤ 1 row.
    "q192_temporal_dim_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val hist = TableDiff.scd2History(
        e.where(col("event_type") =!= "purchase")
          .select(col("user_id"), col("event_type"), col("ts_ms"),
            col("event_id")),
        "user_id", "event_type", "ts_ms", "event_id").as("h")
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ms")).as("p")
      p.join(hist, col("h.user_id") === col("p.user_id") &&
          col("h.valid_from") <= col("p.ts_ms") &&
          (col("h.valid_to") === -1L || col("p.ts_ms") < col("h.valid_to")),
          "left")
        .select(col("p.user_id"), col("p.event_id"), col("p.ts_ms"),
          coalesce(col("h.value"), lit("none")).as("state"),
          coalesce(col("h.version"), lit(0L)).as("version"))
    }),

    // CEP-style pattern WITH NEGATION (the MATCH_RECOGNIZE shape the
    // funnel family doesn't cover): purchases preceded by ≥2 views in
    // the last 7 days with NO error between the first such view and the
    // purchase — one equi-join on the user key with the range as
    // post-filter, the negation counted in a second keyed phase (no
    // anti-join, no extra scan shape).
    "q210_pattern_negation" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("ts_ms"), col("event_id"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_ms").as("p_ts"))
      val ctx = e.where(col("event_type").isin("view", "error"))
        .select(col("user_id"), col("event_type").as("ct"),
          col("ts_ms").as("c_ts"))
      p.join(ctx.where(col("ct") === "view"), Seq("user_id"), "left")
        .where(col("c_ts").isNull ||
          (col("c_ts") >= col("p_ts") - 604800000L && col("c_ts") < col("p_ts")))
        .groupBy(col("user_id"), col("purchase_id"), col("p_ts"))
        .agg(count(col("c_ts")).as("n_views"),
          min(col("c_ts")).as("first_view_ts"))
        // negation phase: errors strictly inside (first_view, purchase) —
        // the interval sits inside the week window by construction
        .join(ctx.where(col("ct") === "error")
            .select(col("user_id"), col("c_ts").as("e_ts")),
          Seq("user_id"), "left")
        .groupBy(col("user_id"), col("purchase_id"), col("p_ts"),
          col("n_views"), col("first_view_ts"))
        .agg(coalesce(sum(when(col("e_ts") > col("first_view_ts") &&
            col("e_ts") < col("p_ts"), 1L)), lit(0L)).as("n_errors_between"))
        .where(col("n_views") >= 2 && col("n_errors_between") === 0)
        .select(col("user_id"), col("purchase_id"), col("p_ts"),
          col("n_views"), col("first_view_ts"))
    }),

    // FIFO 1:1 pairing (allocation-join shape: trade matching, credit
    // assignment): the k-th click of a user pairs the k-th purchase —
    // two rank windows + one equi join on (user, rank), gap allowed to
    // be negative (index order, not causality; q110 owns the causal
    // attribution semantics).
    "q195_fifo_match" -> ((s, dir) => {
      val e = ev(s, dir)
      def ranked(tpe: String, pre: String) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col(s"${pre}_ts"), col(s"${pre}_id"))
        e.where(col("event_type") === tpe)
          .select(col("user_id"), col("event_id").as(s"${pre}_id"),
            col("ts_ms").as(s"${pre}_ts"))
          .withColumn("rn", row_number().over(w).cast("long"))
      }
      ranked("click", "click")
        .join(ranked("purchase", "purchase"), Seq("user_id", "rn"))
        .select(col("user_id"), col("rn"), col("click_id"),
          col("purchase_id"),
          (col("purchase_ts") - col("click_ts")).as("gap_ms"))
    }),

    // Sequential-pattern support (the pairwise core of sequence mining):
    // users exhibiting ante→cons within a 1-day gap, per ordered type
    // pair — an equi-join on the user key with the range as post-filter
    // (per-user density bounds the blowup, the q143 hub caveat applies),
    // distinct-per-user before counting so support is user-level.
    "q188_seq_pairs" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("ts_ms"))
      val a = e.as("a"); val b = e.as("b")
      val pairs = a.join(b, col("a.user_id") === col("b.user_id") &&
          col("b.ts_ms") > col("a.ts_ms") &&
          col("b.ts_ms") <= col("a.ts_ms") + lit(86400000L))
        .select(col("a.user_id").as("u"), col("a.event_type").as("ante"),
          col("b.event_type").as("cons"))
        .distinct()
      val totals = e.agg(countDistinct(col("user_id")).as("n_total"))
      pairs.groupBy(col("ante"), col("cons"))
        .agg(countDistinct(col("u")).as("n_users"))
        .crossJoin(broadcast(totals))
        .withColumn("support_ppm", expr("n_users * 1000000 div n_total"))
    }),

    // Watermark lateness audit: event-time high-water-mark over the
    // ARRIVAL order via the distributed prefix scan (no single-reducer
    // window), lateness histogram in power-of-two bands — the exact
    // evidence a streaming job needs to size withWatermark at
    // 100 TB/day. Arrival order modeled as hour-batched file ingest
    // shuffled within each hour (md5 permutation) — the file-drop
    // pattern that actually produces late data.
    "q269_lateness_audit" -> ((s, dir) => {
      val e = ev(s, dir).where(col("ts").isNotNull)
        .select(col("event_id"), col("ts_ms"))
      operators.PrefixScan.runningMax(e,
          Seq(expr("ts_ms div 3600000"),
            md5(col("event_id").cast("string"))),
          col("ts_ms"), "hwm")
        .withColumn("late_ms", col("hwm") - col("ts_ms"))
        .withColumn("bucket", when(col("late_ms") === 0L, 0L)
          .otherwise(length(bin(col("late_ms"))).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), max(col("late_ms")).as("max_late_ms"))
    }),

    // Interval concurrency sweep: each event holds a resource for 1h;
    // ±1 boundary deltas → the distributed running sum IS the
    // concurrency step function (unbounded boundary domain — the
    // single-reducer cumsum window this operator exists to avoid),
    // censused into power-of-two bands. Capacity planning: "how many
    // concurrent sessions must the serving tier hold".
    "q270_concurrency" -> ((s, dir) => {
      val e = ev(s, dir).where(col("ts").isNotNull)
      val deltas = e.select(col("ts_ms").as("b"), lit(1L).as("d"))
        .unionAll(e.select((col("ts_ms") + 3600000L).as("b"),
          lit(-1L).as("d")))
        .groupBy("b").agg(sum(col("d")).as("delta"))
      operators.PrefixScan.runningSum(deltas, Seq(col("b")),
          col("delta"), "conc")
        .withColumn("bucket", when(col("conc") === 0L, 0L)
          .otherwise(length(bin(col("conc"))).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_boundaries"),
          max(col("conc")).as("max_conc"))
    }),

    // Weighted interval scheduling per supplier (top-10 candidates,
    // 7-day half-open ship windows): group-local DP via typed
    // mapGroups — sequential within a key, parallel across keys; the
    // oracle proves OPTIMALITY by brute-forcing all 2^K subsets with a
    // pairwise-overlap invalidation join.
    "q271_interval_sched" -> ((s, dir) => {
      val start = unix_millis(col("l_shipdate").cast("timestamp"))
      operators.Scheduling.bestNonOverlapping(
          t(s, dir, "lineitem").where(col("l_suppkey") < 100),
        groupCol = col("l_suppkey"), startCol = start,
        endCol = start + lit(604800000L),
        weightCol = round(col("l_extendedprice") * 100).cast("long"),
        idCol = col("l_orderkey") * 8 + col("l_linenumber"), topK = 10)
        .withColumnRenamed("g", "suppkey")
        .withColumnRenamed("best", "best_cents")
    }),

    // The interval-tree operator in its HOME regime: 20 000 overlapping
    // ranges, where BroadcastNestedLoopJoin multiplies the fact scan by
    // m — the IntervalAb probe measured 0.5 s (tree) vs 11.9 s (BNLJ)
    // warm at sf0.1, ~20× (`git show d6f4c32:src/main/scala/graft/tools/IntervalAb.scala`); q307/q318 showed tiny-m constants favoring BNLJ,
    // this is the other side of that crossover. Probe cost is
    // O(log 20000 + ~2 matches) per fact; output re-aggregates per
    // range.
    "q324_interval_large" -> ((s, dir) => {
      val facts = ev(s, dir)
        .select(col("event_id"), round(col("value") * 100).cast("long")
          .as("cents"))
        .where(col("cents").isNotNull)
      val tiers = s.range(20000).selectExpr("id AS tier",
        "(id * 2399) % 48800 AS lo", "(id * 2399) % 48800 + 5 AS hi")
      operators.IntervalLookup.join(facts, tiers, "cents", "lo", "hi")
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(col("event_id") % 1000003L).as("id_check"))
    }),

    // Alert DEBOUNCE on q305's Page–Hinkley alarms: raw daily alarms
    // collapse into episodes of CONSECUTIVE firing days (the day−rn
    // islands trick per type) and only episodes ≥ 2 days page a human —
    // flap suppression, the ops layer every detector needs before a
    // pager sees it. Output: one row per surviving episode.
    "q322_alert_debounce" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = ev(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      val order = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val run = order.rowsBetween(Window.unboundedPreceding, 0)
      val all = Window.partitionBy(col("event_type"))
      val alarms = daily
        .withColumn("i", row_number().over(order).cast("long"))
        .withColumn("cumx", sum(col("x")).over(run))
        .withColumn("dev",
          col("x") * lit(1000000L) - expr("cumx * 1000000L div i"))
        .withColumn("u", sum(col("dev")).over(run))
        .withColumn("ph", col("u") - min(col("u")).over(run))
        .withColumn("tot", sum(col("x")).over(all))
        .withColumn("n", count(lit(1)).over(all))
        // tighter λ than q305 (1×mean) so episodes genuinely occur
        .where(col("ph") > expr("tot * 1000000L div n"))
      val epi = alarms
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day")))
          .cast("long"))
        .withColumn("grp", col("day") - col("rn"))
        .groupBy(col("event_type"), col("grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_alarm_days"))
      epi.where(col("n_alarm_days") >= 2)
        .select(col("event_type"), col("start_day"), col("end_day"),
          col("n_alarm_days"))
    }),

    // The BNLJ reference for q307: the IDENTICAL tier enrichment
    // through Spark's own plan (BroadcastNestedLoopJoin — no equi-key),
    // kept as a first-class gate so (a) the oracle proves the custom
    // operator and the engine's own join agree end-to-end, and (b) the
    // bench carries a direct q307-vs-q318 wall-clock A/B of the
    // interval-tree probe against the O(n·m) nested loop.
    "q318_interval_bnlj_ref" -> ((s, dir) => {
      val facts = ev(s, dir)
        .select(col("event_id"), round(col("value") * 100).cast("long")
          .as("cents"))
        .where(col("cents").isNotNull)
      val tiers = s.range(70).selectExpr("id AS tier",
        "id * 700 AS lo", "id * 700 + 1200 AS hi")
      facts.join(broadcast(tiers),
          col("lo") <= col("cents") && col("cents") < col("hi"),
          "left")
        .groupBy(coalesce(col("tier"), lit(-1L)).as("tier"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(col("event_id") % 1000003L).as("id_check"))
    }),
  )

  def oracleSql: Seq[(String, String)] = Seq(
    "q24_query_hash" -> q24OracleSql,
    "q35_flat_chain" -> q35OracleSql,
    "q36_counter_all" -> q36OracleSql,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_region_revenue" ->
      """SELECT r_name, n_name,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q03_top_orders" ->
      """SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank, o_orderkey,
        | total_cents FROM (
        | SELECT o_orderpriority,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rank,
        |  o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS total_cents
        | FROM orders) WHERE rank <= 3""".stripMargin,

    "q04_hourly_metrics" ->
      """SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS window_start_ms,
        | CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        | CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
        | CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_count,
        | CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
        | CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
        | CAST(sum(CASE WHEN event_type='purchase' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS gmv_cents
        |FROM events GROUP BY 1""".stripMargin,

    "q05_sliding_counts" ->
      """SELECT (epoch_ms(ts) - epoch_ms(ts) % 900000) - k*900000 AS window_start_ms,
        | event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) ks
        |GROUP BY 1, 2""".stripMargin,

    "q06_weekly_counts" ->
      """SELECT (epoch_ms(ts) - epoch_ms(ts) % 86400000) - k*86400000 AS window_start_ms,
        | event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS k) ks
        |GROUP BY 1, 2""".stripMargin,

    "q07_cumulate" ->
      """WITH s AS (
        | SELECT event_type,
        |  epoch_ms(ts) - epoch_ms(ts) % 86400000 AS span_start_ms,
        |  epoch_ms(ts) - epoch_ms(ts) % 3600000 AS step_ms,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2, 3)
        |SELECT span_start_ms, step_ms, event_type,
        | CAST(sum(n) OVER (PARTITION BY event_type, span_start_ms
        |                   ORDER BY step_ms ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
        |FROM s""".stripMargin,

    "q08_sessionize" ->
      """WITH o AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |        OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 14400000
        |       THEN 1 ELSE 0 END AS brk
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ms) AS session_start_ms, max(ms) AS session_end_ms,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q09_asof_join" ->
      """WITH f AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT f.*,
        |   (SELECT d.event_id FROM events d
        |    WHERE d.event_type = 'click' AND d.user_id = f.user_id
        |      AND epoch_ms(d.ts) <= f.ts_ms
        |      AND epoch_ms(d.ts) >= f.ts_ms - 86400000
        |    ORDER BY epoch_ms(d.ts) DESC, d.event_id DESC LIMIT 1) AS click_id
        |  FROM f)
        |SELECT m.event_id, m.user_id, m.ts_ms, m.click_id,
        |       epoch_ms(d2.ts) AS click_ts_ms
        |FROM m LEFT JOIN events d2 ON d2.event_id = m.click_id""".stripMargin,

    "q10_interval_join" ->
      """SELECT f.event_id, f.user_id, epoch_ms(f.ts) AS ts_ms,
        |       count(d.event_id) AS n_clicks
        |FROM events f
        |LEFT JOIN events d ON d.event_type = 'click' AND d.user_id = f.user_id
        |  AND epoch_ms(d.ts) >= epoch_ms(f.ts) - 1800000
        |  AND epoch_ms(d.ts) <= epoch_ms(f.ts)
        |WHERE f.event_type = 'purchase'
        |GROUP BY 1, 2, 3""".stripMargin,

    "q11_semi_gate" ->
      """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        |WHERE user_id IN (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1 HAVING count(*) >= 20)""".stripMargin,

    "q14_last_seen" ->
      """SELECT user_id, event_type, max(epoch_ms(ts)) AS last_ts_ms,
        | count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q15_hot_keys" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | count(*) AS n
        |FROM events GROUP BY 1 HAVING count(*) >= 10""".stripMargin,

    "q25_inferred_join" ->
      """WITH v AS (
        | SELECT user_id, lpad(CAST(event_id AS VARCHAR), 12, '0') AS vid,
        |        epoch_ms(ts) AS vts
        | FROM events WHERE event_type = 'view'),
        |p AS (
        | SELECT user_id, lpad(CAST(event_id AS VARCHAR), 12, '0') AS pid,
        |        epoch_ms(ts) AS pts
        | FROM events WHERE event_type = 'purchase'),
        |m AS (
        | SELECT p.user_id, p.pid, p.pts,
        |  (SELECT struct_pack(vid := v.vid, vts := v.vts) FROM v
        |   WHERE v.user_id = p.user_id
        |     AND v.vts >= p.pts - 1800000 AND v.vts <= p.pts + 1000
        |   ORDER BY abs(v.vts - p.pts), v.vts DESC, v.vid LIMIT 1) AS mv
        | FROM p)
        |SELECT CAST(user_id AS VARCHAR) AS log_user_id,
        | COALESCE(mv.vid, '') AS left_id, pid AS right_id,
        | COALESCE(mv.vts, -1) AS left_ts_ms, pts AS right_ts_ms,
        | CASE WHEN mv IS NULL THEN 'dropped' ELSE 'inferred' END AS match_type
        |FROM m""".stripMargin,

    "q26_combine_dlog" ->
      """SELECT client_request_id, request_id, execution_server, ts_ms FROM (
        | SELECT concat(user_id, ':', epoch_ms(ts) - epoch_ms(ts) % 600000)
        |          AS client_request_id,
        |  lpad(CAST(event_id AS VARCHAR), 12, '0') AS request_id,
        |  CASE WHEN event_type = 'view' THEN 'API' ELSE 'SDK' END
        |          AS execution_server,
        |  epoch_ms(ts) AS ts_ms,
        |  row_number() OVER (
        |    PARTITION BY user_id, epoch_ms(ts) - epoch_ms(ts) % 600000
        |    ORDER BY CASE WHEN event_type = 'view' THEN 2 ELSE 1 END DESC,
        |             epoch_ms(ts), lpad(CAST(event_id AS VARCHAR), 12, '0')) AS rn
        | FROM events WHERE event_type IN ('view', 'click')) WHERE rn = 1""".stripMargin,

    "q29_counter_family" ->
      """SELECT concat('3', chr(31), CAST(user_id AS VARCHAR), chr(31),
        |              CAST(day_ms AS VARCHAR)) AS key,
        | CAST(3*16777216 + metric*256 + 2 AS VARCHAR) AS field,
        | CAST(n AS VARCHAR) AS value
        |FROM (
        | SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms,
        |  CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |   WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 8 END AS metric,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2, 3)""".stripMargin,

    "q31_session_cogroup" ->
      """WITH u AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isleft
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |o AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
        |        OR ms - lag(ms) OVER w > 14400000 THEN 1 ELSE 0 END AS brk
        |      FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ms) AS session_start_ms,
        | CAST(sum(isleft) AS BIGINT) AS n_left,
        | CAST(count(*) - sum(isleft) AS BIGINT) AS n_right
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q39_merge_details" ->
      """WITH a AS (SELECT user_id, event_id AS action_id, epoch_ms(ts) AS ts_ms
        |           FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT user_id, event_id AS ins_id, epoch_ms(ts) AS ms
        |      FROM events WHERE event_type = 'click'),
        |m AS (SELECT user_id, event_id AS imp_id, epoch_ms(ts) AS ms
        |      FROM events WHERE event_type = 'signup'),
        |r AS (
        | SELECT a.*,
        |  (SELECT x.ins_id FROM i x WHERE x.user_id = a.user_id
        |    AND x.ms <= a.ts_ms AND x.ms >= a.ts_ms - 86400000
        |   ORDER BY x.ms DESC, x.ins_id DESC LIMIT 1) AS ins_id,
        |  (SELECT x.imp_id FROM m x WHERE x.user_id = a.user_id
        |    AND x.ms <= a.ts_ms AND x.ms >= a.ts_ms - 86400000
        |   ORDER BY x.ms DESC, x.imp_id DESC LIMIT 1) AS imp_id
        | FROM a),
        |d AS (
        | SELECT r.*, di.ms AS ins_detail_ts, dm.ms AS imp_detail_ts
        | FROM r
        | LEFT JOIN i di ON di.ins_id = r.ins_id AND di.ins_id % 5 <> 0
        | LEFT JOIN m dm ON dm.imp_id = r.imp_id AND dm.imp_id % 3 <> 0)
        |SELECT user_id, action_id, ts_ms,
        | coalesce(ins_id, -1) AS ins_id, coalesce(imp_id, -1) AS imp_id,
        | coalesce(ins_detail_ts, -1) AS ins_detail_ts_ms,
        | coalesce(imp_detail_ts, -1) AS imp_detail_ts_ms,
        | concat_ws(',',
        |   CASE WHEN ins_detail_ts IS NULL THEN 'DELIVERY_LOG' END,
        |   CASE WHEN imp_detail_ts IS NULL THEN 'IMPRESSION' END) AS missing,
        | CASE WHEN ins_detail_ts IS NULL OR imp_detail_ts IS NULL
        |      THEN 'dropped' ELSE 'ok' END AS status
        |FROM d""".stripMargin,

    "q38_session_payload" ->
      """WITH u AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isleft
        | FROM events WHERE event_type IN ('purchase', 'click')),
        |o AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
        |        OR ms - lag(ms) OVER w > 14400000 THEN 1 ELSE 0 END AS brk
        |      FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ms) AS session_start_ms,
        | CAST(sum(isleft) AS BIGINT) AS n_left,
        | CAST(count(*) - sum(isleft) AS BIGINT) AS n_right,
        | coalesce(string_agg(CASE WHEN isleft = 1
        |   THEN CAST(event_id AS VARCHAR) END, ',' ORDER BY ms, event_id), '')
        |   AS left_ids,
        | coalesce(string_agg(CASE WHEN isleft = 0
        |   THEN CAST(event_id AS VARCHAR) END, ',' ORDER BY ms, event_id), '')
        |   AS right_ids
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q32_latest_impressions" ->
      """WITH c AS (
        | SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type,
        |  'C' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 20
        |              AS VARCHAR) AS content_id
        | FROM events WHERE event_type IN ('purchase', 'view')),
        |p AS (SELECT user_id, event_id AS purchase_id, ms AS ts_ms, content_id
        |      FROM c WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, ms AS view_ts_ms, content_id
        |      FROM c WHERE event_type = 'view'),
        |cand AS (
        | SELECT p.user_id, p.purchase_id, p.ts_ms, v.content_id, v.view_id,
        |  v.view_ts_ms,
        |  row_number() OVER (PARTITION BY p.purchase_id, v.content_id
        |    ORDER BY v.view_ts_ms DESC, v.view_id DESC) AS rnc
        | FROM p JOIN v ON v.user_id = p.user_id
        |   AND v.view_ts_ms <= p.ts_ms AND v.view_ts_ms >= p.ts_ms - 21600000),
        |kept AS (
        | SELECT * FROM cand k WHERE rnc = 1 AND NOT EXISTS (
        |   SELECT 1 FROM p a WHERE a.user_id = k.user_id
        |     AND a.content_id = k.content_id AND a.ts_ms <= k.ts_ms))
        |SELECT user_id, purchase_id, ts_ms, content_id, view_id, view_ts_ms,
        |       CAST(rank AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY purchase_id
        |        ORDER BY view_ts_ms DESC, view_id DESC) AS rank
        |      FROM kept) WHERE rank <= 3""".stripMargin,

    "q37_redundant_actions" ->
      """WITH v AS (
        | SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  event_id, epoch_ms(ts) AS ms
        | FROM events WHERE event_type = 'view'),
        |c AS (
        | SELECT *, first_value(event_id) OVER (PARTITION BY user_id, k
        |   ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS canonical_id
        | FROM v),
        |a AS (SELECT user_id, event_id AS action_id, epoch_ms(ts) AS ts_ms
        |      FROM events WHERE event_type = 'purchase'),
        |w AS (
        | SELECT a.*,
        |  (SELECT struct_pack(id := x.event_id, ms := x.ms) FROM v x
        |   WHERE x.user_id = a.user_id AND x.ms <= a.ts_ms
        |     AND x.ms >= a.ts_ms - 86400000
        |   ORDER BY x.ms DESC, x.event_id DESC LIMIT 1) AS imp
        | FROM a)
        |SELECT w.user_id, w.action_id, w.ts_ms, w.imp.id AS imp_id,
        | w.imp.ms AS imp_ts_ms, c.canonical_id AS canonical_imp_id
        |FROM w JOIN c ON c.event_id = w.imp.id""".stripMargin,

    "q33_redundant_repoint" ->
      """SELECT user_id, k, event_id, ts_ms, canonical_id FROM (
        | SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  event_id, epoch_ms(ts) AS ts_ms,
        |  first_value(event_id) OVER (
        |    PARTITION BY user_id, CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    ORDER BY epoch_ms(ts), event_id ROWS UNBOUNDED PRECEDING) AS canonical_id
        | FROM events WHERE event_type = 'view')""".stripMargin,

    "q55_skew_interval" ->
      """WITH l AS (
        | SELECT CASE WHEN i % 4 = 0 THEN 'hot' ELSE 'k' || i END AS key,
        |        i*100 AS lts, i AS lid
        | FROM range(20000) t(i)),
        |r AS (
        | SELECT CASE WHEN i % 4 = 0 THEN 'hot' ELSE 'k' || i END AS key,
        |        i*100 + 50 AS rts, i AS rid
        | FROM range(20000) t(i))
        |SELECT l.lid, r.rid
        |FROM l JOIN r ON l.key = r.key
        | AND r.rts >= l.lts AND r.rts <= l.lts + 10000""".stripMargin,

    // greedy-earliest funnel: stage i = first event strictly after stage
    // i-1 within the window of t1 — one conditional-min pass per stage
    "q65_retention" ->
      """WITH e AS (
        | SELECT DISTINCT user_id AS u,
        |  epoch_ms(ts) - epoch_ms(ts) % 86400000 AS b
        | FROM events),
        |c AS (SELECT u, min(b) AS cohort_ms FROM e GROUP BY u)
        |SELECT cohort_ms, (b - cohort_ms) // 86400000 AS offset,
        | CAST(count(DISTINCT u) AS BIGINT) AS users
        |FROM e JOIN c USING (u) GROUP BY 1, 2""".stripMargin,

    "q67_gap_fill" ->
      """WITH o AS (
        | SELECT user_id AS k, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS b,
        |  max(value) AS v
        | FROM events WHERE user_id < 50 GROUP BY 1, 2),
        |s AS (SELECT k, min(b) AS lo, max(b) AS hi FROM o GROUP BY k),
        |g AS (SELECT k, unnest(generate_series(lo, hi, 3600000)) AS b FROM s),
        |j AS (SELECT g.k, g.b, o.v FROM g LEFT JOIN o ON o.k = g.k AND o.b = g.b)
        |SELECT k AS user_id, b AS bucket_ms,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY b
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        | (v IS NOT NULL) AS observed
        |FROM j""".stripMargin,

    "q103_rollup_metrics" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  CAST(coalesce(day_ms, -1) AS BIGINT) AS day_ms,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM (SELECT event_type,
        |    epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |GROUP BY ROLLUP(event_type, day_ms)""".stripMargin,

    // q151: the same double-lead window with both hops gap-bounded.
    "q151_session_paths" ->
      """WITH o AS (SELECT user_id AS u, epoch_ms(ts) AS ts, event_id AS id,
        |  event_type AS t1 FROM events),
        |l AS (SELECT u, ts, t1,
        |  lead(t1, 1) OVER w AS t2, lead(t1, 2) OVER w AS t3,
        |  lead(ts, 1) OVER w AS ts2, lead(ts, 2) OVER w AS ts3
        | FROM o WINDOW w AS (PARTITION BY u ORDER BY ts, id))
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS cnt
        |FROM l WHERE t3 IS NOT NULL
        | AND ts2 - ts <= 14400000 AND ts3 - ts2 <= 14400000
        |GROUP BY 1, 2, 3""".stripMargin,

    // q152: per-user lag gaps in (ts, id) order, minute buckets capped
    // at 60.
    "q152_gap_histogram" ->
      """WITH g AS (SELECT event_type,
        |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS gap
        | FROM events)
        |SELECT event_type, CAST(least(gap // 60000, 60) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(gap) AS BIGINT) AS min_gap_ms,
        |  CAST(max(gap) AS BIGINT) AS max_gap_ms
        |FROM g WHERE gap IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // q169: the q41 recursive-reachability technique on the long-encoded
    // bipartite identity graph.
    "q169_identity_stitch" ->
      """WITH RECURSIVE l AS (SELECT user_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n FROM events
        | WHERE json_extract_string(props, '$.k') IS NOT NULL
        | GROUP BY 1, 2),
        |le AS (SELECT user_id * 2 AS a, k * 2 + 1 AS b FROM l WHERE n >= 3),
        |e AS (SELECT a, b FROM le UNION SELECT b, a FROM le),
        |reach(src, dst) AS (
        | SELECT a, a FROM e
        | UNION
        | SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst),
        |comp AS (SELECT src AS node, min(dst) AS component
        |         FROM reach GROUP BY 1),
        |users AS (SELECT node // 2 AS user_id, component FROM comp
        |          WHERE node % 2 = 0),
        |canon AS (SELECT component, min(user_id) AS canonical_user,
        |  count(*) AS cluster_users FROM users GROUP BY 1)
        |SELECT CAST(u.user_id AS BIGINT) AS user_id,
        |  CAST(canonical_user AS BIGINT) AS canonical_user,
        |  CAST(cluster_users AS BIGINT) AS cluster_users
        |FROM users u JOIN canon USING (component)""".stripMargin,

    // q170: q53's chunk derivation, per-chunk quality replay, ≥35 keep.
    "q170_span_filter" ->
      s"""WITH t AS (
         | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         | FROM documents),
         |lined AS (
         | SELECT doc_id, i AS pos,
         |  array_to_string(tk[i*3+1 : i*3+3], ' ') AS text
         | FROM t, LATERAL (SELECT unnest(generate_series(0, (len(tk)-1)//3))
         |   AS i) ix),
         |scored AS (SELECT doc_id, pos, text, $qualityExprSql AS q
         |           FROM lined),
         |agg AS (SELECT doc_id, count(*) AS total_chunks,
         |  count(*) FILTER (q >= 35) AS kept_chunks,
         |  string_agg(text, chr(10) ORDER BY pos) FILTER (q >= 35) AS text
         | FROM scored GROUP BY 1)
         |SELECT doc_id, CAST(total_chunks AS BIGINT) AS total_chunks,
         |  CAST(kept_chunks AS BIGINT) AS kept_chunks,
         |  coalesce(text, '') AS text,
         |  CAST(kept_chunks * 1000000 // total_chunks AS BIGINT) AS keep_ppm
         |FROM agg""".stripMargin,

    // q172: per-(user, ts) click dedupe (max id), IGNORE NULLS range
    // frames both directions, nearest with ties to backward.
    "q172_asof_nearest" ->
      """WITH p AS (SELECT user_id, event_id, epoch_ms(ts) AS ts
        | FROM events WHERE event_type = 'purchase'),
        |c0 AS (SELECT user_id, epoch_ms(ts) AS cts, max(event_id) AS cid
        | FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (SELECT user_id, ts, 1 AS side, event_id,
        |   CAST(NULL AS BIGINT) AS cid, CAST(NULL AS BIGINT) AS cts FROM p
        | UNION ALL
        | SELECT user_id, cts, 0, NULL, cid, cts FROM c0),
        |w AS (SELECT *,
        |  last_value(cid IGNORE NULLS) OVER bk AS prev_id,
        |  last_value(cts IGNORE NULLS) OVER bk AS prev_ts,
        |  first_value(cid IGNORE NULLS) OVER fw AS next_id,
        |  first_value(cts IGNORE NULLS) OVER fw AS next_ts
        | FROM u WINDOW
        |  bk AS (PARTITION BY user_id ORDER BY ts
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  fw AS (PARTITION BY user_id ORDER BY ts
        |         RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |f AS (SELECT user_id, event_id, ts,
        |  (prev_ts IS NOT NULL AND ts - prev_ts <= 86400000) AS pok,
        |  (next_ts IS NOT NULL AND next_ts - ts <= 86400000) AS nok,
        |  prev_id, prev_ts, next_id, next_ts
        | FROM w WHERE side = 1)
        |SELECT user_id, event_id, ts AS ts_ms,
        |  CASE WHEN pok AND nok THEN
        |    CASE WHEN next_ts - ts < ts - prev_ts THEN next_id ELSE prev_id END
        |   WHEN pok THEN prev_id WHEN nok THEN next_id END AS m_click_id,
        |  CASE WHEN pok AND nok THEN
        |    CASE WHEN next_ts - ts < ts - prev_ts THEN next_ts ELSE prev_ts END
        |   WHEN pok THEN prev_ts WHEN nok THEN next_ts END AS m_click_ts
        |FROM f""".stripMargin,

    // q131: q64's funnel replay + the duration histogram rank rule.
    "q131_funnel_latency" ->
      """WITH e AS (
        | SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS ts
        | FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (
        | SELECT u, min(CASE WHEN et = 'view' THEN ts END) AS t1
        | FROM e GROUP BY u),
        |s1f AS (SELECT u, t1 FROM s1 WHERE t1 IS NOT NULL),
        |s2 AS (
        | SELECT e.u, t1, min(CASE WHEN et = 'click' AND ts > t1
        |    AND ts <= t1 + 604800000 THEN ts END) AS t2
        | FROM e JOIN s1f USING (u) GROUP BY e.u, t1),
        |s3 AS (
        | SELECT e.u, t1, t2, min(CASE WHEN et = 'purchase' AND t2 IS NOT NULL
        |    AND ts > t2 AND ts <= t1 + 604800000 THEN ts END) AS t3
        | FROM e JOIN s2 USING (u) GROUP BY e.u, t1, t2),
        |d AS (SELECT t3 - t1 AS dur FROM s3 WHERE t3 IS NOT NULL),
        |g AS (SELECT dur, count(*) AS c FROM d GROUP BY 1),
        |cum AS (SELECT dur, sum(c) OVER (ORDER BY dur) AS cum,
        |  sum(c) OVER () AS n FROM g),
        |p AS (SELECT * FROM cum, (SELECT unnest([50, 90, 99]) AS percent) pp)
        |SELECT CAST(percent AS BIGINT) AS percent, min(dur) AS quantile_ms
        |FROM p WHERE cum * 100 >= n * percent GROUP BY 1""".stripMargin,

    // q130: the q08 session replay + duration histogram + the discrete-
    // quantile rank rule.
    "q130_session_percentiles" ->
      """WITH o AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |        OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 14400000
        |       THEN 1 ELSE 0 END AS brk
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS sid FROM o),
        |d AS (SELECT max(ms) - min(ms) AS dur FROM s GROUP BY user_id, sid),
        |g AS (SELECT dur, count(*) AS c FROM d GROUP BY 1),
        |cum AS (SELECT dur, sum(c) OVER (ORDER BY dur) AS cum,
        |  sum(c) OVER () AS n FROM g),
        |p AS (SELECT * FROM cum, (SELECT unnest([50, 90, 99]) AS percent) pp)
        |SELECT CAST(percent AS BIGINT) AS percent, min(dur) AS quantile_ms
        |FROM p WHERE cum * 100 >= n * percent GROUP BY 1""".stripMargin,

    // q126: the same slice→window histogram and the discrete-quantile
    // rank rule (cum·100 ≥ n·p ⟺ cum ≥ ceil(n·p/100) for integers).
    "q126_sliding_percentiles" ->
      """WITH e AS (SELECT CAST(round(value*100) AS BIGINT) AS v,
        |  epoch_ms(ts) - epoch_ms(ts) % 3600000 AS slice FROM events),
        |x AS (SELECT v, slice - k.k * 3600000 AS w
        |      FROM e, (SELECT unnest(range(0, 6)) AS k) k(k)),
        |g AS (SELECT w, v, count(*) AS c FROM x GROUP BY 1, 2),
        |cum AS (SELECT w, v,
        |  sum(c) OVER (PARTITION BY w ORDER BY v) AS cum,
        |  sum(c) OVER (PARTITION BY w) AS n FROM g),
        |p AS (SELECT * FROM cum,
        |  (SELECT unnest([50, 95, 99]) AS percent) pp)
        |SELECT w AS window_start_ms, CAST(percent AS BIGINT) AS percent,
        |  min(v) AS quantile
        |FROM p WHERE cum * 100 >= n * percent GROUP BY 1, 2""".stripMargin,

    "q109_sliding_freq" -> q109OracleSql,

    "q108_sliding_distinct" -> q108OracleSql,

    "q82_transitions" ->
      """WITH p AS (
        | SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS to_type
        | FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS cnt FROM p
        | WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS row_total
        | FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt,
        | CAST((c.cnt * 1000000) // t.row_total AS BIGINT) AS prob_e6
        |FROM c JOIN t USING (from_type)""".stripMargin,

    "q64_funnel" ->
      """WITH e AS (
        | SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS ts
        | FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (
        | SELECT u, min(CASE WHEN et = 'view' THEN ts END) AS t1
        | FROM e GROUP BY u),
        |s1f AS (SELECT u, t1 FROM s1 WHERE t1 IS NOT NULL),
        |s2 AS (
        | SELECT e.u, t1, min(CASE WHEN et = 'click' AND ts > t1
        |    AND ts <= t1 + 604800000 THEN ts END) AS t2
        | FROM e JOIN s1f USING (u) GROUP BY e.u, t1),
        |s3 AS (
        | SELECT e.u, t1, t2, min(CASE WHEN et = 'purchase' AND t2 IS NOT NULL
        |    AND ts > t2 AND ts <= t1 + 604800000 THEN ts END) AS t3
        | FROM e JOIN s2 USING (u) GROUP BY e.u, t1, t2)
        |SELECT u AS user_id, t1, t2, t3,
        | CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS stages_reached
        |FROM s3""".stripMargin,

    // q182: gaps-and-islands with the same (start, end) window order and
    // strict `start > running_max_end` island rule.
    "q182_interval_coverage" ->
      """WITH iv AS (SELECT user_id, epoch_ms(ts) AS s,
        |   epoch_ms(ts) + 1800000 AS e FROM events),
        |m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id
        |   ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS pm FROM iv),
        |i AS (SELECT user_id, s, e,
        |   CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw FROM m),
        |j AS (SELECT user_id, s, e, sum(nw) OVER (PARTITION BY user_id
        |   ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS island FROM i),
        |g AS (SELECT user_id, island, count(*) AS n, max(e) - min(s) AS len
        | FROM j GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        | CAST(count(*) AS BIGINT) AS n_islands,
        | CAST(sum(len) AS BIGINT) AS covered_ms
        |FROM g GROUP BY 1""".stripMargin,

    // q192: the q157 history machinery over non-purchase changes, then
    // interval-containment pick per purchase (left join, 'none'/0 when
    // the user had no prior non-purchase activity).
    "q192_temporal_dim_join" ->
      """WITH c AS (SELECT user_id AS k, event_type AS value,
        |  epoch_ms(ts) AS ts, event_id AS tie FROM events
        | WHERE event_type <> 'purchase'),
        |f AS (SELECT *, lag(value) OVER (PARTITION BY k ORDER BY ts, tie)
        |  AS prev FROM c),
        |v AS (SELECT k, value, ts, tie FROM f
        |      WHERE prev IS DISTINCT FROM value),
        |o AS (SELECT k, value, ts AS valid_from,
        |  coalesce(lead(ts) OVER w2, -1) AS valid_to,
        |  row_number() OVER w2 AS version
        | FROM v WINDOW w2 AS (PARTITION BY k ORDER BY ts, tie)),
        |p AS (SELECT user_id AS k, event_id, epoch_ms(ts) AS ts
        | FROM events WHERE event_type = 'purchase')
        |SELECT p.k AS user_id, p.event_id, p.ts AS ts_ms,
        | coalesce(o.value, 'none') AS state,
        | CAST(coalesce(o.version, 0) AS BIGINT) AS version
        |FROM p LEFT JOIN o ON o.k = p.k AND o.valid_from <= p.ts
        | AND (o.valid_to = -1 OR p.ts < o.valid_to)""".stripMargin,

    // q210: same two phases — windowed view census, then the negated
    // error-interval count.
    "q210_pattern_negation" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts,
        |  event_id FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        | FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT p.user_id, p.purchase_id, p.p_ts,
        |  count(c.ts) AS n_views, min(c.ts) AS first_view_ts
        | FROM p LEFT JOIN e c ON c.user_id = p.user_id
        |  AND c.event_type = 'view'
        |  AND c.ts >= p.p_ts - 604800000 AND c.ts < p.p_ts
        | GROUP BY 1, 2, 3),
        |n AS (SELECT v.user_id, v.purchase_id, v.p_ts, v.n_views,
        |  v.first_view_ts,
        |  coalesce(sum(CASE WHEN er.ts > v.first_view_ts
        |    AND er.ts < v.p_ts THEN 1 END), 0) AS n_err
        | FROM v LEFT JOIN e er ON er.user_id = v.user_id
        |  AND er.event_type = 'error'
        | GROUP BY 1, 2, 3, 4, 5)
        |SELECT user_id, purchase_id, p_ts, CAST(n_views AS BIGINT)
        |  AS n_views, first_view_ts
        |FROM n WHERE n_views >= 2 AND n_err = 0""".stripMargin,

    // q195: same rank windows, (user, rn) equi join.
    "q195_fifo_match" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |  epoch_ms(ts) AS click_ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS rn
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |  epoch_ms(ts) AS purchase_ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS rn
        | FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, CAST(c.rn AS BIGINT) AS rn, c.click_id,
        | p.purchase_id, p.purchase_ts - c.click_ts AS gap_ms
        |FROM c JOIN p ON p.user_id = c.user_id AND p.rn = c.rn""".stripMargin,

    // q188: distinct (user, ante, cons) within-gap pairs, user-level
    // support over the distinct-user total.
    "q188_seq_pairs" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_ms(ts) AS ts
        | FROM events),
        |p AS (SELECT DISTINCT a.u, a.t AS ante, b.t AS cons
        | FROM e a JOIN e b ON b.u = a.u AND b.ts > a.ts
        |  AND b.ts <= a.ts + 86400000),
        |tot AS (SELECT count(DISTINCT u) AS n_total FROM e)
        |SELECT ante, cons, CAST(count(*) AS BIGINT) AS n_users,
        | CAST(tot.n_total AS BIGINT) AS n_total,
        | CAST(count(*) * 1000000 // tot.n_total AS BIGINT) AS support_ppm
        |FROM p CROSS JOIN tot GROUP BY ante, cons, tot.n_total""".stripMargin,

    // q269: the running max the operator avoids, as a plain window.
    "q269_lateness_audit" ->
      """WITH b AS (SELECT event_id, epoch_ms(ts) AS ts_ms FROM events
        |  WHERE ts IS NOT NULL),
        |r AS (SELECT ts_ms, max(ts_ms) OVER (ORDER BY ts_ms // 3600000,
        |   md5(CAST(event_id AS VARCHAR))) AS hwm
        | FROM b),
        |l AS (SELECT hwm - ts_ms AS late_ms FROM r)
        |SELECT CASE WHEN late_ms = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(length(format('{:b}', late_ms)) AS BIGINT) END
        |    AS bucket,
        | count(*) AS n, CAST(max(late_ms) AS BIGINT) AS max_late_ms
        |FROM l GROUP BY 1""".stripMargin,

    // q270: the cumsum window the operator avoids, over net deltas.
    "q270_concurrency" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ts_ms FROM events
        |  WHERE ts IS NOT NULL),
        |d AS (SELECT b, CAST(sum(x) AS BIGINT) AS delta FROM (
        |  SELECT ts_ms AS b, 1 AS x FROM e
        |  UNION ALL SELECT ts_ms + 3600000, -1 FROM e)
        | GROUP BY 1),
        |r AS (SELECT CAST(sum(delta) OVER (ORDER BY b) AS BIGINT)
        |  AS conc FROM d)
        |SELECT CASE WHEN conc = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(length(format('{:b}', conc)) AS BIGINT) END AS bucket,
        | count(*) AS n_boundaries, CAST(max(conc) AS BIGINT) AS max_conc
        |FROM r GROUP BY 1""".stripMargin,

    // q271: optimality by exhaustion — every mask < 2^n_jobs, masks
    // containing any overlapping pair invalidated, max valid sum.
    "q271_interval_sched" ->
      """WITH j0 AS (SELECT l_suppkey AS g, epoch_ms(l_shipdate) AS s,
        |  epoch_ms(l_shipdate) + 604800000 AS e,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS w,
        |  l_orderkey*8 + l_linenumber AS id
        | FROM lineitem WHERE l_suppkey < 100),
        |r AS (SELECT *, row_number() OVER (PARTITION BY g
        |  ORDER BY w DESC, id) AS rk FROM j0),
        |j AS (SELECT g, s, e, w,
        |  row_number() OVER (PARTITION BY g ORDER BY id) - 1 AS bit
        | FROM r WHERE rk <= 10),
        |n AS (SELECT g, count(*) AS n_jobs FROM j GROUP BY 1),
        |m AS (SELECT n.g, t.range AS mask FROM n
        | JOIN range(0, 1024) t ON t.range < (1 << n.n_jobs)),
        |sel AS (SELECT m.g, m.mask, j.s, j.e, j.w, j.bit
        | FROM m JOIN j ON j.g = m.g AND ((m.mask >> j.bit) & 1) = 1),
        |inv AS (SELECT DISTINCT s1.g, s1.mask FROM sel s1
        | JOIN sel s2 ON s1.g = s2.g AND s1.mask = s2.mask
        |  AND s1.bit < s2.bit AND s1.s < s2.e AND s2.s < s1.e),
        |sums AS (SELECT g, mask, sum(w) AS tot FROM sel GROUP BY 1, 2),
        |valid AS (SELECT sums.g, sums.mask, sums.tot
        |  FROM sums LEFT JOIN inv
        |    ON inv.g = sums.g AND inv.mask = sums.mask
        |  WHERE inv.mask IS NULL
        | UNION ALL SELECT g, 0, 0 FROM n)
        |SELECT n.g AS suppkey, CAST(n.n_jobs AS BIGINT) AS n_jobs,
        |  CAST(max(valid.tot) AS BIGINT) AS best_cents
        |FROM n JOIN valid ON valid.g = n.g
        |GROUP BY 1, 2""".stripMargin,

    // q324: DuckDB's IEJoin handles the 20k-range inequality join.
    "q324_interval_large" ->
      """WITH f AS (SELECT event_id,
        |  CAST(round(value*100) AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |t AS (SELECT i AS tier, (i * 2399) % 48800 AS lo,
        |  (i * 2399) % 48800 + 5 AS hi
        | FROM (SELECT unnest(generate_series(0, 19999)) AS i)),
        |j AS (SELECT f.event_id, f.cents, t.tier FROM f
        | JOIN t ON t.lo <= f.cents AND f.cents < t.hi)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(cents) AS BIGINT) AS cents,
        | CAST(sum(event_id % 1000003) AS BIGINT) AS id_check
        |FROM j GROUP BY 1""".stripMargin,

    // q322: the q305 pipeline at λ = 1×mean, then day−rn islands.
    "q322_alert_debounce" ->
      """WITH daily AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS x
        | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (
        | SELECT event_type, day, x,
        |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |  sum(x) OVER (PARTITION BY event_type ORDER BY day) AS cumx,
        |  sum(x) OVER (PARTITION BY event_type) AS tot,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM daily),
        |d AS (SELECT *, x*1000000 - (cumx*1000000 // i) AS dev FROM w),
        |u AS (SELECT *, sum(dev) OVER (PARTITION BY event_type
        |  ORDER BY day) AS uu FROM d),
        |p AS (SELECT *, uu - min(uu) OVER (PARTITION BY event_type
        |  ORDER BY day) AS ph FROM u),
        |a AS (SELECT event_type, day FROM p
        | WHERE ph > tot*1000000 // n),
        |g AS (SELECT event_type, day,
        |  day - row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) AS grp FROM a),
        |e AS (SELECT event_type, grp,
        |  CAST(min(day) AS BIGINT) AS start_day,
        |  CAST(max(day) AS BIGINT) AS end_day,
        |  CAST(count(*) AS BIGINT) AS n_alarm_days
        | FROM g GROUP BY 1, 2)
        |SELECT event_type, start_day, end_day, n_alarm_days
        |FROM e WHERE n_alarm_days >= 2""".stripMargin,

    // q318: same oracle text as q307 — both engines' plans must agree.
    "q318_interval_bnlj_ref" ->
      """WITH f AS (SELECT event_id,
        |  CAST(round(value*100) AS BIGINT) AS cents
        | FROM events WHERE value IS NOT NULL),
        |t AS (SELECT i AS tier, i*700 AS lo, i*700 + 1200 AS hi
        | FROM (SELECT unnest(generate_series(0, 69)) AS i)),
        |j AS (SELECT f.event_id, f.cents, t.tier FROM f
        | LEFT JOIN t ON t.lo <= f.cents AND f.cents < t.hi)
        |SELECT coalesce(tier, -1) AS tier,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(cents) AS BIGINT) AS cents,
        | CAST(sum(event_id % 1000003) AS BIGINT) AS id_check
        |FROM j GROUP BY 1""".stripMargin,
  )
}
