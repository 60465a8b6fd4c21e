package graft.agg

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.RollingHash

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007) as a custom
  * `TypedImperativeAggregate` — the mergeable-state shape that makes
  * approximate distinct counts work at 100 TB: per-partition register
  * arrays combine map-side (Spark's partial aggregation), so the exchange
  * carries m bytes per group instead of the distinct values themselves,
  * and sketches for different days/partitions union by register-max
  * (count-distinct over any ad-hoc slice without rescanning).
  *
  * Spark ships `approx_count_distinct` (HLL++); this sketch exists for the
  * properties that one can't give this engine:
  *  - the REGISTER STATE is the output — storable, unionable, and exactly
  *    reproducible (the gate hash-matches it cross-engine), not just a
  *    final scalar;
  *  - hashing is [[RollingHash.polyHash64]] (Karp–Rabin + splitMix64), so
  *    a SQL oracle replays every register bit-exactly — q62 gates the
  *    whole sketch, which no opaque-murmur implementation allows.
  *
  * Register layout: p index bits (m = 2^p registers), rank = leading-zero
  * count of the remaining 64−p bits + 1 (zero remainder saturates at
  * 64−p+1). `eval` renders the registers as a 2m-char lowercase hex string
  * (bucket-ordered) — deterministic, comparable, and compact enough to
  * store next to the group key.
  */
case class HllRegistersAgg(child: Expression, p: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchAggregate(HllSketch.Algebra(p), mergesRenders = false) {
  override def prettyName: String = "hll_registers"
  override def withNewMutableAggBufferOffset(off: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
}

/** Re-aggregation of STORED sketches: unions hex-rendered register
  * strings (the [[HllRegistersAgg]] output) by register max. This is the
  * production slice→range pattern — aggregate each hour/partition ONCE,
  * store the sketch next to the key, and answer any ad-hoc window by
  * merging the covering slices (m bytes each) instead of rescanning the
  * events. Same algebra, so slice-merged output is byte-identical to
  * direct aggregation over the union of rows. */
case class HllMergeAgg(child: Expression, p: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchAggregate(HllSketch.Algebra(p), mergesRenders = true) {
  override def prettyName: String = "hll_merge"
  override def withNewMutableAggBufferOffset(off: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): HllMergeAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
}

object HllSketch {
  private[graft] val builders: graft.functions.GraftRegistry.Builders = Seq(
    "graft_hll_registers" -> (exprs => HllRegistersAgg(exprs.head,
      exprs(1).eval(null).toString.toInt).toAggregateExpression()),
    "graft_hll_merge" -> (exprs => HllMergeAgg(exprs.head,
      exprs(1).eval(null).toString.toInt).toAggregateExpression()))

  def register(spark: SparkSession): Unit =
    graft.functions.GraftRegistry.registerTemp(spark, builders)

  /** Aggregate column: hex-rendered HLL registers of the (stringified)
    * input. Requires `register(spark)`. */
  def hllRegisters(c: Column, p: Int): Column =
    call_function("graft_hll_registers", c.cast("string"),
      org.apache.spark.sql.functions.lit(p))

  /** Aggregate column: register-max union of stored sketch strings.
    * Requires `register(spark)`. */
  def hllMerge(c: Column, p: Int): Column =
    call_function("graft_hll_merge", c,
      org.apache.spark.sql.functions.lit(p))

  /** HLL algebra with 2^p one-byte registers: a value's register is its
    * top p hash bits, its rank the leading-zero count of the other 64−p
    * bits + 1 (64−p+1 when they are all zero); buffers merge by register
    * max; the render is 2m lowercase hex chars in register order. */
  case class Algebra(p: Int) extends SketchAlgebra[Array[Byte]] {
    require(p >= 4 && p <= 16, s"p=$p out of range")
    private val m = 1 << p
    private val maxRank = 64 - p + 1

    def empty(): Array[Byte] = new Array[Byte](m)

    def insert(buf: Array[Byte], value: UTF8String): Array[Byte] = {
      val h = RollingHash.polyHash64Utf8(value)
      val w = h & ((1L << (64 - p)) - 1)
      val rank =
        if (w == 0L) maxRank else java.lang.Long.numberOfLeadingZeros(w) - p + 1
      val bucket = (h >>> (64 - p)).toInt
      if (rank > buf(bucket)) buf(bucket) = rank.toByte
      buf
    }

    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }

    def render(buf: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(2 * m)
      buf.foreach { r =>
        sb.append(Character.forDigit(r >> 4, 16)).append(Character.forDigit(r & 15, 16))
      }
      sb.toString
    }

    def addRender(buf: Array[Byte], render: String): Array[Byte] = {
      def bad(why: String) =
        throw new IllegalArgumentException(
          s"malformed HLL render ${SketchAlgebra.quote(render)} for p=$p: $why")
      if (render.length != 2 * m) bad(s"length ${render.length} != ${2 * m}")
      var i = 0
      while (i < m) {
        val hi = hexDigit(render.charAt(2 * i))
        val lo = hexDigit(render.charAt(2 * i + 1))
        val r = hi << 4 | lo
        if (hi < 0 || lo < 0 || r > maxRank)
          bad(s"register $i is '${render.substring(2 * i, 2 * i + 2)}', " +
            s"not a hex rank in 0..$maxRank")
        if (r > buf(i)) buf(i) = r.toByte
        i += 1
      }
      buf
    }

    private def hexDigit(c: Char): Int = if (c < 128) Character.digit(c, 16) else -1

    def toBytes(buf: Array[Byte]): Array[Byte] = buf
    def fromBytes(bytes: Array[Byte]): Array[Byte] = bytes
  }

  /** The algebra of a sketch with `m` registers. */
  private def algebra(m: Int) = Algebra(Integer.numberOfTrailingZeros(m))

  /** Parses an `hllRegisters` hex string back to registers. */
  def parseRegisters(hexStr: String): Array[Int] = {
    val hll = algebra(hexStr.length / 2)
    hll.addRender(hll.empty(), hexStr).map(_.toInt)
  }

  /** Register-max union of sketches (same p). */
  def union(a: Array[Int], b: Array[Int]): Array[Int] =
    algebra(a.length).merge(a.map(_.toByte), b.map(_.toByte)).map(_.toInt)

  /** Standard HLL estimate with the small-range linear-counting branch
    * (Flajolet et al. 2007 §4; no empirical bias table). Approximate BY
    * DESIGN — the gate hashes the registers, this derives the count. */
  def estimate(regs: Array[Int]): Double = {
    val m = regs.length.toDouble
    val alpha =
      if (regs.length == 16) 0.673
      else if (regs.length == 32) 0.697
      else if (regs.length == 64) 0.709
      else 0.7213 / (1 + 1.079 / m)
    val denom = regs.map(r => math.pow(2.0, -r)).sum
    val raw = alpha * m * m / denom
    val zeros = regs.count(_ == 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
  }
}
