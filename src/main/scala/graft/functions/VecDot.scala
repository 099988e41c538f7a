package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot-product over two ARRAY<DOUBLE> columns.
  *
  * The vector-similarity hot path (cosine near-dup, ANN top-k) runs
  * this O(pairs * dim) — a lambda formulation
  * (`aggregate(zip_with(a, b, ...))`) stays interpreted and allocates
  * a zipped array per pair, which measured ~20x slower at sf0.1. This
  * expression participates in whole-stage codegen: the generated code
  * is a primitive double loop over the two ArrayData buffers, no
  * allocation.
  *
  * The sum is sequential (index 0..n-1), so results are bit-identical
  * to a left fold — and to the DuckDB oracle's list_dot_product.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // covariant override: AbstractDataType is private[sql]
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
