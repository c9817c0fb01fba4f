package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd mat-vec over ARRAY<DOUBLE> columns, the [[ArrayDot]]
  * kernel applied to every row of a matrix: M·x, or y − M·x when a `from`
  * vector y is given (reference: linalg/gemv.cuh). M is row-major, r rows
  * of l = |x| lanes; r is |y|, or |m| / l without y. Row t of the result is
  * the strict left fold 0.0 + x₀·m₀ + x₁·m₁ + … of row t of M (y(t) minus
  * it), the fold of [[ArrayDot]] and `ArrayMath.dot`, so each output lane
  * is bit-identical to a dot product of x with that row. One expression
  * serves any r: a plan's size does not grow with the number of output
  * lanes. Null when an input or a lane is null, or when |m| is not r·l.
  */
case class ArrayMatVec(x: Expression, m: Expression, from: Option[Expression])
    extends Expression {

  override def children: Seq[Expression] = Seq(x, m) ++ from
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = if (from.isEmpty) "array_matvec" else "array_residual"

  override def eval(input: InternalRow): Any = {
    val xa = x.eval(input).asInstanceOf[ArrayData]
    val ma = m.eval(input).asInstanceOf[ArrayData]
    val ya = from.map(_.eval(input).asInstanceOf[ArrayData]).orNull
    if (xa == null || ma == null || (from.nonEmpty && ya == null)) return null
    val l = xa.numElements()
    val r = if (ya != null) ya.numElements() else if (l == 0) 0 else ma.numElements() / l
    if (ma.numElements() != r * l) return null
    val out = new Array[Double](r)
    var t = 0
    while (t < r) {
      var s = 0.0
      var i = 0
      while (i < l) {
        if (xa.isNullAt(i) || ma.isNullAt(t * l + i)) return null
        s += xa.getDouble(i) * ma.getDouble(t * l + i)
        i += 1
      }
      out(t) = if (ya == null) s else if (ya.isNullAt(t)) return null else ya.getDouble(t) - s
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xe = x.genCode(ctx)
    val me = m.genCode(ctx)
    val ye = from.map(_.genCode(ctx))
    val Seq(l, r, t, i, s, out, rows) =
      Seq("l", "r", "t", "i", "s", "out", "rows").map(ctx.freshName)
    val anyNull = (Seq(xe, me) ++ ye).map(_.isNull.toString).mkString(" || ")
    val rowCount = ye.fold(s"$l == 0 ? 0 : ${me.value}.numElements() / $l")(y =>
      s"${y.value}.numElements()")
    val laneCheck =
      if (FusedKernels.lanesNullable(x) || FusedKernels.lanesNullable(m))
        s"if (${xe.value}.isNullAt($i) || ${me.value}.isNullAt($t * $l + $i)) " +
          s"{ ${ev.isNull} = true; break $rows; }"
      else ""
    val store = ye.fold(s"$out[$t] = $s;") { y =>
      val yCheck = if (from.exists(FusedKernels.lanesNullable))
        s"if (${y.value}.isNullAt($t)) { ${ev.isNull} = true; break $rows; }" else ""
      s"$yCheck\n$out[$t] = ${y.value}.getDouble($t) - $s;"
    }
    ev.copy(code = code"""
      |${xe.code}
      |${me.code}
      |${ye.fold("")(_.code.toString)}
      |boolean ${ev.isNull} = $anyNull;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  int $l = ${xe.value}.numElements();
      |  int $r = $rowCount;
      |  if (${me.value}.numElements() != $r * $l) {
      |    ${ev.isNull} = true;
      |  } else {
      |    double[] $out = new double[$r];
      |    $rows: for (int $t = 0; $t < $r; $t++) {
      |      double $s = 0.0;
      |      for (int $i = 0; $i < $l; $i++) {
      |        $laneCheck
      |        $s += ${xe.value}.getDouble($i) * ${me.value}.getDouble($t * $l + $i);
      |      }
      |      $store
      |    }
      |    if (!${ev.isNull}) {
      |      ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      |        .fromPrimitiveArray($out);
      |    }
      |  }
      |}
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ArrayMatVec =
    copy(x = c(0), m = c(1), from = if (from.isEmpty) None else Some(c(2)))
}

object ArrayMatVec {
  /** M·x for a row-major M of |m| / |x| rows (ARRAY<DOUBLE> inputs). */
  def matVec(x: Column, m: Column): Column = ColumnBridge.column(
    ArrayMatVec(ColumnBridge.expression(x), ColumnBridge.expression(m), None))

  /** y − M·x for a row-major M of |y| rows (ARRAY<DOUBLE> inputs). */
  def residual(y: Column, x: Column, m: Column): Column = ColumnBridge.column(
    ArrayMatVec(ColumnBridge.expression(x), ColumnBridge.expression(m),
      Some(ColumnBridge.expression(y))))
}
