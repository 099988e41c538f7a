package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, MOSS)
  * fused into one codegen expression: hash every positional word-3-gram
  * of the space-tokenized input with the engine's h60, slide a window
  * of W = 4 consecutive hashes, and emit each window's MINIMUM — in
  * window order, duplicates kept (the plan-level `distinct()` after
  * `explode` owns dedup, same split as the composed form).
  *
  * Semantically identical to the composed pipeline
  * `transform(sequence(1, greatest(m - 3, 1)), s -> array_min(slice(
  * hs, s, least(4, m - s + 1))))` over `hs = transform(sequence(1,
  * greatest(size(tk) - 2, 0)), i -> h60(concat_ws(' ', ...)))` — which
  * the DuckDB oracle reproduces with list_transform — including the
  * winnowing boundary rule (a document with 1 ≤ m < 4 gram hashes gets
  * ONE window over all of them) and the empty result for < 3 tokens.
  *
  * Exists because higher-order `transform`/`slice` lambdas are
  * CODEGEN-BARRED: the composed form ran interpreted (r13 16× draw
  * jstack: a single worker pinned in StringSplit.nullSafeEval /
  * TernaryExpression.eval) and needed a doc-key repartition band-aid
  * for parallelism. This is a single tokenize + rolling-hash pass that
  * stays inside whole-stage codegen via a static helper call — the
  * same pattern as [[Shingle3]]/[[H60]].
  */
case class Winnow4(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // covariant override: AbstractDataType is private[sql]
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow4"

  override def nullSafeEval(s: Any): Any =
    Winnow4Impl.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Winnow4Impl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Standalone object (not a companion) so the Scala compiler emits a
  * static forwarder the generated Java can call directly. */
object Winnow4Impl {
  private val W = 4

  def compute(s: UTF8String): ArrayData = {
    // same tokenizer contract as Shingle3Impl: JDK fast path, trailing
    // empties kept — matches split(text, ' ') / DuckDB string_split
    val toks = s.toString.split(" ", -1)
    val n = toks.length
    val m = n - 2 // positional gram count
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) = H60Impl.compute(UTF8String.fromString(
        new java.lang.StringBuilder(toks(i))
          .append(' ').append(toks(i + 1))
          .append(' ').append(toks(i + 2)).toString))
      i += 1
    }
    // boundary rule: fewer than W hashes → ONE window over all of them
    val nWin = math.max(m - (W - 1), 1)
    val out = new Array[Any](nWin)
    var sPos = 0
    while (sPos < nWin) {
      val end = math.min(sPos + W, m)
      var mn = hs(sPos)
      var j = sPos + 1
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      out(sPos) = mn
      sPos += 1
    }
    new GenericArrayData(out)
  }
}
