package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{DateShiftImpl, FuzzImpl, NfkcImpl, RecursiveSplitter}

/** Catalyst `Expression` nodes for the engine's custom scalar/generator
  * functions. They live under `org.apache.spark.sql` because the interfaces
  * they implement (`ExpectsInputTypes`, `ExpressionUtils`) are
  * `private[sql]`; the algorithms themselves are plain public code in
  * `graft.expr`. All scalar nodes implement `doGenCode` via static calls, so
  * they stay inside whole-stage codegen.
  */
object internal {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Catalyst's ANSI `DIVIDE_BY_ZERO` error, for kernels outside it. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}

abstract class FuzzBase extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  protected def implName: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.expr.FuzzImpl.$implName($l, $r)")
}

/** rapidfuzz-style normalized Indel similarity in [0, 100] (SURVEY J2/T3). */
case class FuzzRatio(left: Expression, right: Expression) extends FuzzBase {
  override protected def implName = "ratio"
  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzImpl.ratio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def prettyName: String = "fuzz_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** rapidfuzz-style best-window Indel similarity in [0, 100]. */
case class FuzzPartialRatio(left: Expression, right: Expression) extends FuzzBase {
  override protected def implName = "partialRatio"
  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzImpl.partialRatio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def prettyName: String = "fuzz_partial_ratio"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** NFKC normalize + ASCII fold (reference F10); see graft.expr.NfkcImpl. */
case class NfkcAscii(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfkc_ascii"
  override def nullSafeEval(s: Any): Any =
    NfkcImpl.nfkcAscii(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.NfkcImpl.nfkcAscii($s)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Month shift with day-reset semantics (reference F2); see
  * graft.expr.DateShiftImpl for the exact rules. */
case class MonthShiftReset(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DateType, IntegerType, BooleanType)
  override def dataType: DataType = DateType
  override def prettyName: String = "month_shift_reset"
  override def nullSafeEval(date: Any, months: Any, roll: Any): Any =
    DateShiftImpl.monthShiftReset(
      date.asInstanceOf[Int], months.asInstanceOf[Int], roll.asInstanceOf[Boolean])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, m, r) =>
      s"graft.expr.DateShiftImpl.monthShiftReset($d, $m, $r)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** Generator (UDTF): `chunk_split(text, size, overlap)` emits
  * `(chunk_idx INT, chunk STRING)` rows — the reference's recursive
  * character splitter (T1); see graft.expr.RecursiveSplitter. */
case class ChunkSplit(child: Expression, chunkSize: Int, overlap: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
    s"invalid chunk_split($chunkSize, $overlap)")

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else RecursiveSplitter
      .split(v.asInstanceOf[UTF8String].toString, chunkSize, overlap)
      .zipWithIndex.map { case (c, i) => InternalRow(i, UTF8String.fromString(c)) }
  }

  override def prettyName: String = "chunk_split"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
