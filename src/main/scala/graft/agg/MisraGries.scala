package graft.agg

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items summary (Misra & Gries 1982; mergeable form
  * per Agarwal, Cormode, Huang, Phillips, Wei, Yi 2012, "Mergeable
  * summaries" — public results) as a `TypedImperativeAggregate`, plus the
  * exact two-pass heavy-hitters operator built on it.
  *
  * The sketch keeps at most `k` (value, counter) pairs. Inserts go into a
  * working map that is PRUNED whenever it exceeds 2k entries: subtract the
  * (k+1)-th largest counter from every entry and drop the non-positive
  * ones (at most k survive — amortized O(1) per row). `merge` sums
  * counters pairwise and prunes the same way, which is exactly the
  * paper's mergeable-MG step, so map-side partials combine freely. The
  * cumulative undercount of any value is < n/(k+1), and a value whose
  * true count exceeds n/(k+1) can never be evicted — the completeness
  * guarantee [[MisraGries.heavyHitters]] builds on.
  *
  * Unlike the repo's other sketches (HLL/Count-Min/KMV/Bloom, which are
  * order- and partition-invariant), MG counter CONTENT depends on the
  * merge tree — two runs may render different summaries. That is why the
  * sketch is a CANDIDATE GENERATOR here, never a gate output: only the
  * guarantee (candidates ⊇ all φ-heavy values) is schedule-independent,
  * and the exact verify pass restores full determinism. `eval` renders
  * `value:count` pairs sorted by value (deterministic given the content).
  */
case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchAggregate(MisraGries.Algebra(k), mergesRenders = false) {
  override def prettyName: String = "misra_gries"
  override def withNewMutableAggBufferOffset(off: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
}

/** Merge of STORED MG summaries (the `value<US>count` renders produced by
  * [[MisraGriesAgg]]) into a single MG(k) summary — the slice→range
  * re-aggregation primitive (same pattern as [[HllMergeAgg]] /
  * [[CountMinMergeAgg]]): aggregate each time slice ONCE, then any
  * covering window folds its slices' summaries without touching raw rows.
  * Counter addition + the mergeable-MG prune keep the ACHPW 2012 bound:
  * undercount of the merged summary < n_window/(k+1), so φ-heavy values
  * of the WINDOW can never be evicted when k ≥ phiDen — the candidate
  * completeness [[MisraGries.slidingHeavyHitters]] builds on. */
case class MisraGriesMergeAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchAggregate(MisraGries.Algebra(k), mergesRenders = true) {
  override def prettyName: String = "misra_gries_merge"
  override def withNewMutableAggBufferOffset(off: Int): MisraGriesMergeAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): MisraGriesMergeAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
}

object MisraGries {
  /** MG(k) algebra over a value → counter map. Its content depends on
    * where it prunes, so each prune point is part of the output: `insert`
    * and `addRender` prune above 2k entries (amortized O(1) per value),
    * `merge` above k, `result` to k before it renders, and `render`
    * never. The render is `value<US>count` pairs sorted by value, joined
    * by `<RS>` (0x1f / 0x1e). */
  case class Algebra(k: Int) extends SketchAlgebra[mutable.HashMap[String, Long]] {
    require(k >= 1 && k <= 65536, s"k=$k out of range")
    private type Buf = mutable.HashMap[String, Long]

    def empty(): Buf = mutable.HashMap.empty

    def insert(buf: Buf, value: UTF8String): Buf = {
      add(buf, value.toString, 1L)
      if (buf.size > 2 * k) prune(buf, k)
      buf
    }

    def merge(a: Buf, b: Buf): Buf = {
      b.foreach { case (s, c) => add(a, s, c) }
      prune(a, k)
      a
    }

    def render(buf: Buf): String = {
      val sb = new java.lang.StringBuilder
      buf.toSeq.sortBy(_._1).foreach { case (s, c) =>
        if (sb.length > 0) sb.append('\u001e')
        sb.append(escape(s)).append('\u001f').append(c)
      }
      sb.toString
    }

    def addRender(buf: Buf, render: String): Buf = {
      parse(render).foreach { case (s, c) => add(buf, s, c) }
      if (buf.size > 2 * k) prune(buf, k)
      buf
    }

    override def result(buf: Buf): String = { prune(buf, k); render(buf) }

    private def add(buf: Buf, s: String, c: Long): Unit =
      buf.update(s, buf.getOrElse(s, 0L) + c)

    def toBytes(buf: Buf): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.foreach { case (s, c) =>
        val b = s.getBytes("UTF-8")
        out.writeInt(b.length); out.write(b); out.writeLong(c)
      }
      out.flush(); bos.toByteArray
    }

    def fromBytes(bytes: Array[Byte]): Buf = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val m = empty()
      var i = 0
      while (i < n) {
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        m.update(new String(b, "UTF-8"), in.readLong())
        i += 1
      }
      m
    }
  }

  /** Mergeable-MG prune to ≤ k entries: subtract the (k+1)-th largest
    * counter from all, drop the non-positive. No-op at ≤ k entries. */
  private[graft] def prune(m: mutable.HashMap[String, Long], k: Int): Unit = {
    if (m.size <= k) return
    val counts = m.values.toArray
    java.util.Arrays.sort(counts)
    val t = counts(counts.length - (k + 1))
    val dead = m.iterator.filter(_._2 <= t).map(_._1).toArray
    dead.foreach(m.remove)
    m.mapValuesInPlace((_, c) => c - t)
  }

  private[graft] val builders: graft.functions.GraftRegistry.Builders = Seq(
    "graft_misra_gries" -> (exprs => MisraGriesAgg(exprs.head,
      exprs(1).eval(null).toString.toInt).toAggregateExpression()),
    "graft_misra_gries_merge" -> (exprs => MisraGriesMergeAgg(exprs.head,
      exprs(1).eval(null).toString.toInt).toAggregateExpression()))

  def register(spark: SparkSession): Unit =
    graft.functions.GraftRegistry.registerTemp(spark, builders)

  /** Aggregate column: MG summary of the (stringified) input, rendered as
    * `value<US>count` pairs joined by `<RS>` (0x1f / 0x1e). Requires `register`. */
  def misraGries(c: Column, k: Int): Column =
    call_function("graft_misra_gries", c.cast("string"), lit(k))

  /** Aggregate column: merge of STORED MG summaries (the [[misraGries]]
    * render) into one MG(k) summary — the slice→range re-aggregation
    * primitive, mirroring `graft_hll_merge` / `graft_count_min_merge`.
    * Requires `register`. */
  def misraGriesMerge(c: Column, k: Int): Column =
    call_function("graft_misra_gries_merge", c, lit(k))

  /** Escapes a value for the render: raw 0x1e/0x1f appear ONLY as
    * separators afterwards, so arbitrary input (including the separator
    * bytes themselves) round-trips through parse. */
  private[graft] def escape(s: String): String = {
    val sb = new java.lang.StringBuilder
    s.foreach {
      case '\\'     => sb.append("\\\\")
      case '\u001e' => sb.append("\\R")
      case '\u001f' => sb.append("\\U")
      case c        => sb.append(c)
    }
    sb.toString
  }

  private def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'R' => sb.append('\u001e')
          case 'U' => sb.append('\u001f')
          case e   => sb.append(e)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parses an `eval` render back into (value, counter) pairs. */
  def parse(s: String): Seq[(String, Long)] =
    if (s.isEmpty) Nil
    else s.split('\u001e').toSeq.map { e =>
      val i = e.lastIndexOf('\u001f')
      (unescape(e.substring(0, i)), e.substring(i + 1).toLong)
    }

  /** EXACT φ-heavy hitters at scale: every value of `value` appearing in
    * at least a 1/`phiDen` fraction of the non-null rows — i.e. count ≥
    * ceil(n/phiDen) — with its exact count. Two passes over `df`:
    *
    *  1. one scan aggregates the MG(k) summary and n (map-side partials,
    *     a single ≤k-entry row to the driver — a bounded action);
    *  2. one scan counts ONLY rows matching the ≤k broadcast candidates —
    *     the map-side semi-filter drops everything else BEFORE the
    *     shuffle, so the exchange carries at most k groups per partition
    *     regardless of the column's true cardinality.
    *
    * `k ≥ phiDen` makes pass 1 lossless for the answer: a φ-heavy value
    * has true count ≥ n/phiDen > n/(k+1) ≥ the maximum possible MG
    * undercount, so it cannot have been evicted. The sketch's
    * order-dependence never reaches the output — candidate SET
    * completeness is guaranteed, spurious candidates die in the exact
    * count, so the result is bit-deterministic (plain GROUP BY/HAVING
    * semantics) while shuffling O(k) instead of O(distinct) — the whole
    * point on a high-cardinality column at 100 TB. The price is the
    * second scan; a plain groupBy is better when |distinct| is small.
    * Output: (value, cnt), exact. */
  def heavyHitters(df: DataFrame, value: Column, phiDen: Int, k: Int): DataFrame = {
    require(phiDen >= 2, s"phiDen=$phiDen must be >= 2")
    require(k >= phiDen,
      s"k=$k < phiDen=$phiDen: MG completeness guarantee needs k >= phiDen")
    val spark = df.sparkSession
    register(spark)
    val v = df.select(value.cast("string").as("value"))
      .where(col("value").isNotNull)
    val head = v.agg(misraGries(col("value"), k).as("mg"),
      count(lit(1)).as("n")).head()
    val n = head.getLong(1)
    val minCount = (n + phiDen - 1) / phiDen // ceil(n/phiDen)
    val cands = parse(head.getString(0)).map(_._1)
    import spark.implicits._
    v.join(broadcast(cands.toDF("value")), "value")
      .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** EXACT φ-heavy hitters per SLIDING window, with O(k)-per-slice sketch
    * state: for every window of `slicesPerWindow` consecutive
    * `sliceMs`-aligned slices, the values whose in-window count is ≥
    * ceil(window_n/phiDen), with their exact counts.
    *
    * The slice→range shape (the q108/q109 HLL/Count-Min pattern, now for
    * frequent items): one scan aggregates a per-slice MG(k) summary + the
    * slice row count; each slice then feeds the `slicesPerWindow` windows
    * covering it, and [[MisraGriesMergeAgg]] folds the covering slices
    * into a per-window MG(k) — summaries through the window exchange, not
    * raw rows. k ≥ phiDen keeps the merged sketch lossless for the answer
    * (ACHPW mergeability: undercount < window_n/(k+1) < any φ-heavy
    * count), so per-window candidate sets are complete; the exact verify
    * join (events exploded to their covering windows, semi-filtered by
    * the ≤ windows·k broadcast candidate frame BEFORE the shuffle) kills
    * spurious candidates and restores bit-deterministic GROUP BY/HAVING
    * semantics. The exchange carries at most windows·k groups no matter
    * the value cardinality; at extreme window counts drop the broadcast
    * and let AQE pick a shuffle join — the plan is otherwise unchanged.
    *
    * Output: (window_start_ms, value, cnt), exact; windows are every
    * `slice − j·sliceMs` grid point covered by at least one event slice
    * (leading/trailing partial windows included, same grid the oracle
    * unrolls). */
  def slidingHeavyHitters(df: DataFrame, value: Column, tsMs: Column,
      sliceMs: Long, slicesPerWindow: Int, phiDen: Int, k: Int): DataFrame = {
    require(sliceMs > 0 && slicesPerWindow >= 1)
    require(phiDen >= 2, s"phiDen=$phiDen must be >= 2")
    require(k >= phiDen,
      s"k=$k < phiDen=$phiDen: MG completeness guarantee needs k >= phiDen")
    val spark = df.sparkSession
    register(spark)
    val v = df.select(value.cast("string").as("value"),
        (tsMs - tsMs % sliceMs).as("slice_ms"))
      .where(col("value").isNotNull)
    val slices = v.groupBy(col("slice_ms"))
      .agg(misraGries(col("value"), k).as("mg"), count(lit(1)).as("n"))
    val windows = slices
      .select(col("slice_ms"), col("mg"), col("n"),
        explode(sequence(lit(0), lit(slicesPerWindow - 1))).as("j"))
      .select((col("slice_ms") - col("j") * sliceMs).as("window_start_ms"),
        col("mg"), col("n"))
      .groupBy(col("window_start_ms"))
      .agg(misraGriesMerge(col("mg"), k).as("mg"), sum(col("n")).as("win_n"))
    import spark.implicits._
    val cands = windows.select(col("window_start_ms"), col("win_n"), col("mg"))
      .as[(Long, Long, String)]
      .flatMap { case (w, n, mg) => parse(mg).map { case (s, _) => (w, s, n) } }
      .toDF("window_start_ms", "value", "win_n")
    val exploded = v
      .select(col("value"), col("slice_ms"),
        explode(sequence(lit(0), lit(slicesPerWindow - 1))).as("j"))
      .select(col("value"),
        (col("slice_ms") - col("j") * sliceMs).as("window_start_ms"))
    exploded.join(broadcast(cands), Seq("window_start_ms", "value"))
      .groupBy(col("window_start_ms"), col("value"), col("win_n"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= expr(s"(win_n + ${phiDen - 1}) div $phiDen"))
      .select(col("window_start_ms"), col("value"), col("cnt"))
  }
}
