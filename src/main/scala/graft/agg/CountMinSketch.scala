package graft.agg

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.RollingHash

/** Count-Min sketch (Cormode, Muthukrishnan 2005) as a custom
  * `TypedImperativeAggregate` — approximate per-item frequencies in
  * sublinear space. The properties that matter at 100 TB:
  *
  *  - counters are SUMS, so the sketch is ORDER- and PARTITION-INVARIANT
  *    (unlike Misra–Gries summaries): map-side partials add elementwise,
  *    stored sketches for different slices add elementwise, and the result
  *    is bit-identical however Spark schedules the scan — which is what
  *    lets the q63 gate hash-match the full counter state cross-engine;
  *  - point queries read d cells and take the min — always an
  *    OVERestimate, biased by collisions only.
  *
  * Row hashes derive from [[RollingHash.polyHash64]] over `"r:" + value`
  * (row index as a domain separator), bucket = low log2(w) bits — every
  * step SQL-replayable. `eval` renders nonzero cells as
  * `"idx:count"` pairs (idx = row·w + bucket, ascending, comma-joined) —
  * sparse, deterministic, storable. */
case class CountMinAgg(child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchAggregate(CountMinSketch.Algebra(depth, width),
      mergesRenders = false) {
  override def prettyName: String = "count_min"
  override def withNewMutableAggBufferOffset(off: Int): CountMinAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): CountMinAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
}

/** Re-aggregation of STORED Count-Min sketches: sums the sparse
  * "idx:count" renderings ([[CountMinAgg]] output) cell-wise — counters
  * are sums, so slice sketches ADD into range sketches exactly (the
  * [[HllMergeAgg]] pattern with + instead of max): aggregate each
  * hour/partition once, answer any window by adding its covering slices.
  * Same algebra and parameter range as [[CountMinAgg]], so any sketch it
  * renders merges here. */
case class CountMinMergeAgg(child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchAggregate(CountMinSketch.Algebra(depth, width),
      mergesRenders = true) {
  override def prettyName: String = "count_min_merge"
  override def withNewMutableAggBufferOffset(off: Int): CountMinMergeAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): CountMinMergeAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)
}

object CountMinSketch {
  private[graft] val builders: graft.functions.GraftRegistry.Builders = Seq(
    "graft_count_min" -> (exprs => CountMinAgg(exprs.head,
      exprs(1).eval(null).toString.toInt,
      exprs(2).eval(null).toString.toInt).toAggregateExpression()),
    "graft_count_min_merge" -> (exprs => CountMinMergeAgg(exprs.head,
      exprs(1).eval(null).toString.toInt,
      exprs(2).eval(null).toString.toInt).toAggregateExpression()))

  def register(spark: SparkSession): Unit =
    graft.functions.GraftRegistry.registerTemp(spark, builders)

  /** Aggregate column: sparse-rendered CM counters of the (stringified)
    * input. Requires `register(spark)`. */
  def countMin(c: Column, depth: Int, width: Int): Column =
    call_function("graft_count_min", c.cast("string"),
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))

  /** Aggregate column: cell-wise SUM of stored sketch renders.
    * Requires `register(spark)`. */
  def countMinMerge(c: Column, depth: Int, width: Int): Column =
    call_function("graft_count_min_merge", c,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))

  /** Count-Min algebra for `depth` rows of `width` counters (a power of
    * two): a value adds 1 to one cell per row, buffers add cell-wise, and
    * the render lists the nonzero cells as "idx:count". */
  case class Algebra(depth: Int, width: Int) extends SketchAlgebra[Array[Long]] {
    require(depth >= 1 && depth <= 16, s"depth=$depth out of range")
    require(width >= 2 && (width & (width - 1)) == 0, s"width=$width not a power of 2")
    private val cells = depth * width

    /** The cell of `value` in row `r`. */
    def cell(r: Int, value: String): Int =
      r * width + (RollingHash.polyHash64((r + ":" + value).getBytes("UTF-8"))
        & (width - 1)).toInt

    def empty(): Array[Long] = new Array[Long](cells)

    def insert(buf: Array[Long], value: UTF8String): Array[Long] = {
      val s = value.toString
      var r = 0
      while (r < depth) { buf(cell(r, s)) += 1L; r += 1 }
      buf
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = addInto(a, b)

    def render(buf: Array[Long]): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < buf.length) {
        if (buf(i) != 0L) {
          if (sb.length > 0) sb.append(',')
          sb.append(i).append(':').append(buf(i))
        }
        i += 1
      }
      sb.toString
    }

    def addRender(buf: Array[Long], render: String): Array[Long] = {
      if (render.nonEmpty) render.split(',').foreach { kv =>
        val c = kv.indexOf(':')
        val idx = if (c > 0) kv.take(c).toIntOption.filter(i => i >= 0 && i < cells)
          else None
        (idx, if (c > 0) kv.drop(c + 1).toLongOption else None) match {
          case (Some(i), Some(n)) => buf(i) += n
          case _ => throw new IllegalArgumentException(
            s"malformed Count-Min render ${SketchAlgebra.quote(render)} for " +
              s"$depth x $width: cell '$kv'")
        }
      }
      buf
    }

    def toBytes(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      buf.foreach(bb.putLong)
      bb.array()
    }

    def fromBytes(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(bytes.length / 8)(bb.getLong())
    }
  }

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Parses an `eval` render back into the dense counter array. */
  def parse(s: String, depth: Int, width: Int): Array[Long] = {
    val cm = Algebra(depth, width)
    cm.addRender(cm.empty(), s)
  }

  /** Elementwise sum — slice sketches combine into range sketches. */
  def add(a: Array[Long], b: Array[Long]): Array[Long] = addInto(a.clone(), b)

  /** Point frequency estimate: min over the d cells — never an
    * underestimate. */
  def query(buf: Array[Long], depth: Int, width: Int, value: String): Long = {
    val cm = Algebra(depth, width)
    (0 until depth).map(r => buf(cm.cell(r, value))).min
  }
}
