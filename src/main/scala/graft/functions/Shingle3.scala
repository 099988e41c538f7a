package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-3-gram shingles of a space-tokenized string, fused
  * into one codegen expression.
  *
  * Semantically identical to the composed form
  * `array_distinct(zip_with(slice(toks,1,n-2), zip_with(slice(toks,2,n-2),
  * slice(toks,3,n-2), concat), concat))` over `toks = split(text, ' ')`
  * (first-occurrence order, trailing empty tokens kept, empty result
  * for < 3 tokens) — the form every dedup operator shingles with and
  * the DuckDB oracles reproduce via `list_distinct(list_transform(...))`.
  *
  * The composed form runs zip_with lambdas INTERPRETED (a per-row
  * lambda-variable bind plus three slice allocations and two zipped
  * arrays); this is a single tokenize pass building the distinct set
  * directly. It is the first stage of every near-dup pipeline, so it
  * runs once per document per pipeline — the hottest string path in
  * the engine after h60.
  */
case class Shingle3(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // covariant override: AbstractDataType is private[sql]
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle3"

  override def nullSafeEval(s: Any): Any =
    Shingle3Impl.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingle3Impl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Standalone object (not a companion) so the Scala compiler emits a
  * static forwarder the generated Java can call directly. */
object Shingle3Impl {
  def compute(s: UTF8String): ArrayData = {
    // String.split with a single-char non-regex pattern takes the JDK
    // fast path (no Pattern compile); limit -1 keeps trailing empties,
    // matching Spark's split(text, ' ') and DuckDB's string_split.
    val toks = s.toString.split(" ", -1)
    val n = toks.length
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[String](n * 2)
    var i = 0
    while (i + 2 < n) {
      set.add(new java.lang.StringBuilder(toks(i))
        .append(' ').append(toks(i + 1))
        .append(' ').append(toks(i + 2)).toString)
      i += 1
    }
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}
