package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time window aggregation helpers (epoch-millis convention).
  *
  * Batch analogues of the reference's sliding counters
  * (P:common/functions/SlidingCounter.java:38-292, SlidingHourlyCounter,
  * SlidingDailyCounter) and the CUMULATE content-metrics window
  * (P:job/contentmetrics/resources/10_create_view_cumulated_content_metrics
  * .sql). Streaming forms use the same column shapes with
  * `window($"ts", size, slide)` + watermark.
  *
  * Scale: sliding windows explode each row into size/slide window
  * assignments *before* the shuffle, so partial (map-side) aggregation
  * applies and shuffled bytes are (rows · windowsPerRow) pre-combined per
  * partition — the same trade the reference makes with sub-bucketed
  * MapState.
  */
object Windows {

  /** Floor `tsMs` to a `sizeMs` bucket — exact integer arithmetic. */
  def bucket(tsMs: Column, sizeMs: Long): Column =
    (tsMs - pmod(tsMs, lit(sizeMs))).cast("long")

  /** Epoch-aligned sliding windows: emits one row per (keys, window_start).
    * windowsPerRow = sizeMs/slideMs must divide evenly. */
  def slidingCount(df: DataFrame, keys: Seq[String], tsMs: String,
      sizeMs: Long, slideMs: Long): DataFrame = {
    require(sizeMs % slideMs == 0, "slide must divide size")
    val k = (sizeMs / slideMs).toInt
    val base = bucket(col(tsMs), slideMs)
    val starts = sequence(lit(0), lit(k - 1)).cast("array<long>")
    df.withColumn("window_start_ms", explode(transform(starts, i => base - i * slideMs)))
      .groupBy((col("window_start_ms") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** CUMULATE analogue: per (keys, span) running totals stepped by `stepMs`.
    * Output rows: one per (keys, span_start, step_end) with the cumulative
    * count from span start through that step. */
  def cumulativeCount(df: DataFrame, keys: Seq[String], tsMs: String,
      spanMs: Long, stepMs: Long): DataFrame = {
    val stepped = df
      .withColumn("span_start_ms", bucket(col(tsMs), spanMs))
      .withColumn("step_ms", bucket(col(tsMs), stepMs))
      .groupBy((Seq("span_start_ms", "step_ms").map(col) ++ keys.map(col)): _*)
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy((col("span_start_ms") +: keys.map(col)): _*)
      .orderBy(col("step_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped.withColumn("cum_n", sum(col("__n")).over(w)).drop("__n")
  }

  /** Last-seen + count per key (reference LastTimeAndCount,
    * P:common/functions/LastTimeAndCount.java:36-299). */
  def lastTimeAndCount(df: DataFrame, keys: Seq[String], tsMs: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max(col(tsMs)).as("last_ts_ms"), count(lit(1)).as("n"))

  /** EXACT sliding-window percentiles — the latency-SLO report (p50/p95/
    * p99 per window) done histogram-first: per-slice (value → count)
    * partial aggregation collapses duplicates map-side, each slice
    * histogram feeds its covering windows (add-merge, the q108
    * slice→range shape with + on counts), and a per-window cumulative
    * rank window selects the smallest value whose cumulative count
    * reaches ceil(n_w·p/100) — the repo's standard discrete-quantile
    * semantics, exact and oracle-replayable.
    *
    * Scale: the exchanges carry (windows × distinct values) histogram
    * rows, never raw events — for quantized metrics (integer millis,
    * cents) distinct values are bounded and this is exact at any row
    * count. For unbounded-cardinality doubles use [[QuantileSketch]]
    * (one-pass ε-approx) instead; both are one scan.
    * Output: (window_start_ms, percent, quantile). */
  def slidingPercentiles(df: DataFrame, value: Column, tsMs: Column,
      sliceMs: Long, slicesPerWindow: Int, percents: Seq[Int]): DataFrame = {
    require(sliceMs > 0 && slicesPerWindow >= 1)
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100))
    val sliceCounts = df
      .select(value.cast("long").as("v"), (tsMs - tsMs % sliceMs).as("slice"))
      .where(col("v").isNotNull)
      .groupBy(col("slice"), col("v")).agg(count(lit(1)).as("c"))
    val winCounts = sliceCounts
      .select(col("slice"), col("v"), col("c"),
        explode(sequence(lit(0), lit(slicesPerWindow - 1))).as("j"))
      .select((col("slice") - col("j") * sliceMs).as("window_start_ms"),
        col("v"), col("c"))
      .groupBy(col("window_start_ms"), col("v")).agg(sum(col("c")).as("c"))
    val byWin = Window.partitionBy(col("window_start_ms")).orderBy(col("v"))
    val cum = winCounts
      .withColumn("cum", sum(col("c")).over(byWin))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("window_start_ms"))))
    cum
      .select(col("window_start_ms"), col("v"), col("cum"), col("n"),
        explode(array(percents.map(p => lit(p.toLong)): _*)).as("percent"))
      .where(col("cum") * lit(100L) >= col("n") * col("percent"))
      .groupBy(col("window_start_ms"), col("percent"))
      .agg(min(col("v")).as("quantile"))
  }

  /** Exponentially time-decayed score per key — the recency-weighted
    * engagement feature (each event contributes 2^(−age/halfLife),
    * so a week-old action counts half as much at a 1-week half-life):
    * the standard freshness-aware counter where a plain window count
    * forgets nothing and a tumbling window forgets everything.
    *
    * Determinism: the per-EVENT contribution rounds to integer
    * micro-units BEFORE the sum (the no-raw-double-SUM rule — double
    * addition doesn't associate across partitionings; integer addition
    * does), and `asOfMs` is an explicit pinned instant, never now().
    * One scan, map-side combine. Output: keys..., n, score_e6. */
  def decayedScore(df: DataFrame, keys: Seq[String], tsMs: String,
      halfLifeMs: Long, asOfMs: Long): DataFrame = {
    require(halfLifeMs > 0)
    val age = (lit(asOfMs) - col(tsMs)).cast("double")
    val term = round(
      pow(lit(2.0), -(age / lit(halfLifeMs.toDouble))) * lit(1000000.0))
      .cast("long")
    df.where(col(tsMs) <= asOfMs)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(term).as("score_e6"))
  }

  /** "Trending" risers per sliding window: the top-`topK` keys by count
    * DELTA versus the window one slide earlier — the momentum signal
    * (rising queries/items), which a plain per-window top-k can't give
    * because perennials dominate raw counts.
    *
    * Shape: per-slice (key → count) partial aggregation feeds covering
    * windows (explode + sum — the q05 shape); the previous-window count
    * arrives by a self-join of the SAME window frame shifted one slide
    * (equi-join on (key, window−slide), no second scan). Keys absent
    * from the current window never rank (a riser must be present now);
    * keys absent from the previous window get delta = count. The
    * rk ≤ topK predicate rides WindowGroupLimit. Output:
    * (window_start_ms, key, n, delta, rk) — (delta desc, key) total
    * order. */
  def trendingTopK(df: DataFrame, key: Column, tsMs: Column, sliceMs: Long,
      slicesPerWindow: Int, topK: Int): DataFrame = {
    require(sliceMs > 0 && slicesPerWindow >= 1 && topK >= 1)
    val sliceCounts = df
      .select(key.cast("string").as("key"),
        (tsMs - tsMs % sliceMs).as("slice"))
      .where(col("key").isNotNull)
      .groupBy(col("slice"), col("key")).agg(count(lit(1)).as("c"))
    val winCounts = sliceCounts
      .select(col("slice"), col("key"), col("c"),
        explode(sequence(lit(0), lit(slicesPerWindow - 1))).as("j"))
      .select((col("slice") - col("j") * sliceMs).as("w"), col("key"), col("c"))
      .groupBy(col("w"), col("key")).agg(sum(col("c")).as("n"))
    val prev = winCounts.select((col("w") + sliceMs).as("w"), col("key"),
      col("n").as("prev_n"))
    val joined = winCounts.join(prev, Seq("w", "key"), "left")
      .withColumn("delta", col("n") - coalesce(col("prev_n"), lit(0L)))
    val rankW = Window.partitionBy(col("w"))
      .orderBy(col("delta").desc, col("key"))
    joined.withColumn("rk", row_number().over(rankW).cast("long"))
      .where(col("rk") <= topK)
      .select(col("w").as("window_start_ms"), col("key"), col("n"),
        col("delta"), col("rk"))
  }
}
