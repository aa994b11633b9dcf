package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Iterative Fibonacci as a codegen Expression — the CPU-bound operator
  * kernel of the reference's performance tasks 9-11
  * (`performance_functions/task9.py:1-30`, fib/spin loops injected into
  * Q2-shaped jobs to simulate compute-heavy stages). Hosting the kernel
  * as a native expression keeps it inside WholeStageCodegen — no UDF
  * serialization boundary per row, which is the whole point when the
  * kernel, not I/O, is the bottleneck.
  *
  * Input is taken to its non-negative residue mod 92 (fib(92) is the
  * largest that fits a signed long), so e.g. -1 computes fib(91) — NOT
  * the absolute value.
  */
case class FibExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fib requires BIGINT input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    FibExpression.fib(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FibExpression.fib($c)")

  override protected def withNewChildInternal(newChild: Expression): FibExpression =
    copy(child = newChild)
}

object FibExpression {
  /** Called from generated code. Mod-first: math.abs(Long.MinValue)
    * overflows, so reduce before taking the absolute value. */
  def fib(nIn: Long): Long = {
    val n = (((nIn % 92) + 92) % 92).toInt
    var a = 0L
    var b = 1L
    var i = 0
    while (i < n) { val t = a + b; a = b; b = t; i += 1 }
    a
  }
}

object Fib {
  def fib(c: Column): Column = call_function("graft_fib", c)
}
