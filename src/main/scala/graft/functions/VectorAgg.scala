package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.Platform.{BYTE_ARRAY_OFFSET => Bytes, DOUBLE_ARRAY_OFFSET => Doubles}

/** Vector aggregates over ARRAY<DOUBLE>, the Spark form of the reference's
  * fused keyed reductions (linalg/reduce_rows_by_key.cuh:141,
  * stats/sum.cuh:35, stats/meanvar.cuh:39) and the sketch Gram of
  * sparse/solver/randomized_svds.cuh and the block Lanczos step
  * (sparse/solver/detail/lanczos.cuh). One Catalyst TypedImperativeAggregate
  * (the pattern of Spark's Collect/Percentile) with a primitive
  * Array[Double] buffer: `update` reads the ArrayData lanes directly, the
  * first row of a partition initializes the buffer, partials merge lane-wise
  * a += b in place, and a buffer crosses the shuffle as packed doubles. So
  * one exchange carries #keys × width doubles, and every op does the same
  * products in the same per-row order as a sequential fold. A group with no
  * rows yields the empty array; a row whose vector, weight or second vector
  * is null is skipped, as `sum` skips nulls.
  */
case class VectorAggExpr(op: VectorAgg.Op, children: Seq[Expression],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with ImplicitCastInputTypes {
  import VectorAgg._
  def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  def nullable: Boolean = false
  def inputTypes: Seq[DataType] = ArrayType(DoubleType) +:
    children.tail.map(_ => if (op == Outer) ArrayType(DoubleType) else DoubleType)
  override def prettyName: String = op.name
  def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray
  def update(buf: Array[Double], row: InternalRow): Array[Double] = {
    val v = children.head.eval(row).asInstanceOf[ArrayData]
    val w = if (op == Sum) 1.0 else if (square) v else children(1).eval(row)
    if (v == null || w == null) return buf
    val first = buf.isEmpty // set, not add: 0.0 + -0.0 would flip the sign
    op match {
      case Sum if first => v.toDoubleArray()
      case Sum => var i = 0; while (i < buf.length) { buf(i) += v.getDouble(i); i += 1 }; buf
      case Axpy =>
        val s = w.asInstanceOf[Double]
        val out = if (first) new Array[Double](v.numElements()) else buf
        var i = 0
        while (i < out.length) { val p = v.getDouble(i) * s; if (first) out(i) = p else out(i) += p; i += 1 }
        out
      case Outer => // row-major (i, j) += u(i)·v(j): the flattened outer product
        val x = v.toDoubleArray()
        val y = if (square) x else w.asInstanceOf[ArrayData].toDoubleArray()
        val l = y.length
        val out = if (first) new Array[Double](x.length * l) else buf
        var i = 0
        while (i < x.length) {
          var j = 0
          while (j < l) { val p = x(i) * y(j); if (first) out(i * l + j) = p else out(i * l + j) += p; j += 1 }
          i += 1
        }
        out
    }
  }
  // u = v (the Gram): one copy of the row serves both sides
  private lazy val square = op == Outer && children(0).semanticEquals(children(1))

  def merge(a: Array[Double], b: Array[Double]): Array[Double] =
    if (a.isEmpty) b else if (b.isEmpty) a
    else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
  def eval(buf: Array[Double]): Any = UnsafeArrayData.fromPrimitiveArray(buf)
  def serialize(buf: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](buf.length * 8); Platform.copyMemory(buf, Doubles, out, Bytes, out.length); out }
  def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8); Platform.copyMemory(bytes, Bytes, out, Doubles, bytes.length); out }
  def withNewMutableAggBufferOffset(o: Int): VectorAggExpr = copy(mutableAggBufferOffset = o)
  def withNewInputAggBufferOffset(o: Int): VectorAggExpr = copy(inputAggBufferOffset = o)
  protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VectorAggExpr = copy(children = c)
}

object VectorAgg {
  sealed abstract class Op(val name: String)
  case object Sum extends Op("vector_sum")
  case object Axpy extends Op("axpy_sum")
  case object Outer extends Op("outer_sum")
  private def agg(op: Op, cs: Column*): Column = ColumnBridge.column(
    VectorAggExpr(op, cs.map(ColumnBridge.expression)).toAggregateExpression())

  /** Element-wise Σ v (vector_sum), usable in groupBy().agg(...). */
  def vectorSum(v: Column): Column = agg(Sum, v)

  /** Σ w·v, without materializing the scaled array per row. */
  def axpySum(v: Column, w: Column): Column = agg(Axpy, v, w)

  /** Σ u·vᵀ as a row-major p×q array, p and q the widths of u and v. */
  def outerSum(u: Column, v: Column): Column = agg(Outer, u, v)

  /** Σ v·vᵀ as a row-major l×l array, l the width of v (the sketch Gram):
    * [[outerSum]] with u = v. */
  def gramSum(v: Column): Column = outerSum(v, v)
}
