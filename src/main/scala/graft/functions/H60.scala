package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's shared 60-bit content hash as ONE fused expression:
  * the first 15 hex digits of md5(s) as a non-negative LONG — the
  * exact value of `conv(substr(md5(s), 1, 15), 16, 10)::long`, which
  * the DuckDB oracles reproduce as `('0x'||substr(md5(s),1,15))::BIGINT`.
  *
  * The composed form materializes a 32-char hex UTF8String, substrings
  * it, and re-parses base-16 for EVERY row; the hot paths
  * (MinHash/SimHash run it per shingle/token — millions of rows at
  * bench scale) only need 60 bits read straight off the digest. This
  * expression stays inside whole-stage codegen via a static helper
  * call and allocates nothing beyond the digest itself.
  */
case class H60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // covariant override: AbstractDataType is private[sql]
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "h60"

  override def nullSafeEval(s: Any): Any =
    H60Impl.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.H60Impl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Standalone object (not a companion) so the Scala compiler emits a
  * static forwarder the generated Java can call directly. */
object H60Impl {
  def compute(s: UTF8String): Long = {
    // md5 of the UTF-8 bytes — identical to Spark's md5(cast(s as binary))
    val d = org.apache.commons.codec.digest.DigestUtils.md5(s.getBytes)
    // first 15 hex digits = bytes 0..6 plus the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >>> 4)
  }
}
