package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Kernel shared by interpreted eval and generated code.
  * Top-level object ⇒ the Scala compiler emits static forwarders, so the
  * codegen'd Java can call `graft.functions.SimHashImpl.compute(...)`. */
object SimHashImpl {
  private final val Seed = 0x5bd1e995L

  /** Charikar SimHash over a token array: per-bit vote of each token's
    * 64-bit hash, sign of the vote becomes the output bit. */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          t.getBaseObject, t.getBaseOffset, t.numBytes, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Native Catalyst expression: 64-bit SimHash of an array<string> token column.
  *
  * Custom-operator preference order (SURVEY.md §2.8): built-ins can't express
  * the per-bit vote without 64 array passes, so this is case (b) — a single
  * custom `Expression` with `doGenCode`, one pass over the tokens, staying
  * inside whole-stage codegen (the generated code is a static call, no
  * virtual dispatch, no row materialization).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    SimHashImpl.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object functions {
  /** Column API for [[SimHash64]]. */
  def simhash64(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))
}
