package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The algebra of one mergeable sketch over a buffer `B`: everything the
  * batch aggregates ([[SketchAggregate]]) and the streaming slice operators
  * (`SlidingHllTws`, `SlidingMgTws`) do to a sketch, written once. An
  * instance fixes the sketch's parameters and checks them on construction.
  * `insert`, `merge` and `addRender` update their first buffer in place
  * and return it.
  *
  * The render is the sketch's stored form: a slice aggregated once and
  * stored as its render folds into any covering range by `addRender`, and
  * `merge` is the one way two buffers combine — the single merge function
  * that keeps map-side partials, stored slices and streaming slices in
  * agreement. */
trait SketchAlgebra[B] extends Serializable {
  def empty(): B
  /** Add one raw value. */
  def insert(buf: B, value: UTF8String): B
  def merge(a: B, b: B): B
  def render(buf: B): String
  /** Add a stored `render`; one it cannot read is rejected. */
  def addRender(buf: B, render: String): B
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
  /** The aggregate output: the render, after any final compaction. */
  def result(buf: B): String = render(buf)
}

object SketchAlgebra {
  /** A render as an error message names it (long ones abbreviated). */
  private[agg] def quote(render: String): String =
    if (render.length <= 48) s"'$render'"
    else s"'${render.take(48)}…' (${render.length} chars)"
}

/** The Spark aggregate of a [[SketchAlgebra]]: a string-valued, non-null
  * `TypedImperativeAggregate` over one child, so partials combine
  * map-side in `ObjectHashAggregate` and in streaming state stores. With
  * `mergesRenders` the child holds stored renders (the slice→range
  * re-aggregation); otherwise raw values. A case class supplies only its
  * parameters, `prettyName` and the three copy methods. */
abstract class SketchAggregate[B](algebra: SketchAlgebra[B],
    mergesRenders: Boolean) extends TypedImperativeAggregate[B] with Serializable {
  def child: Expression

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): B = algebra.empty()

  override def update(buf: B, row: InternalRow): B = {
    val v = child.eval(row)
    if (v == null) buf
    else if (mergesRenders) algebra.addRender(buf, v.toString)
    else algebra.insert(buf, v.asInstanceOf[UTF8String])
  }

  override def merge(a: B, b: B): B = algebra.merge(a, b)
  override def eval(buf: B): Any = UTF8String.fromString(algebra.result(buf))
  override def serialize(buf: B): Array[Byte] = algebra.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = algebra.fromBytes(bytes)
}
