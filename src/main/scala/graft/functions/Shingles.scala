package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a string as a native codegen'd
  * Expression: one tokenize pass + one sliding window per row.
  *
  * Why not column algebra: the composable spelling
  * (`transform(sequence(...), i => concat_ws(" ", element_at(tokens, i)...))`)
  * re-evaluates the whole tokenizer subtree per element position —
  * higher-order functions are interpreted and Catalyst's projection
  * collapse inlines the token array everywhere it appears, making
  * shingling O(len²) per document. This expression is O(len), and on the
  * sf0.1 dedup bench cuts shingle-based queries ~4-10×.
  *
  * Semantics are identical to the SQL oracle spelling
  * (`list_distinct(list_transform(...))` over the lowercase-alnum token
  * split): same token rule as TextFunctions.tokens, space-joined n-grams,
  * first-occurrence-distinct.
  */
case class ShinglesExpression(child: Expression, n: Int,
    distinct: Boolean = true) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires STRING input and n >= 1, got ${child.dataType}, n=$n")

  override def nullSafeEval(input: Any): Any =
    ShinglesExpression.compute(input.asInstanceOf[UTF8String].toString, n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShinglesExpression.compute($c.toString(), $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpression =
    copy(child = newChild)
}

object ShinglesExpression {
  /** Called from generated code — static-reachable, single pass; token
    * rule is the shared TextFunctions.tokenize (Locale.ROOT). `distinct`
    * false keeps every position (with multiplicity, in order) — the form
    * the span-census queries (dup-spans, boilerplate) aggregate. */
  def compute(text: String, n: Int, distinct: Boolean): ArrayData = {
    val toks = TextFunctions.tokenize(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out: mutable.Growable[String] with Iterable[String] =
      if (distinct) mutable.LinkedHashSet.empty[String]
      else new mutable.ArrayBuffer[String](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out += sb.toString
      i += 1
    }
    new GenericArrayData(out.iterator.map(s =>
      UTF8String.fromString(s): Any).toArray)
  }
}

object Shingles {
  /** Column builder; resolves through the GraftExtensions session wiring. */
  def shingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text, org.apache.spark.sql.functions.lit(n))

  /** All positional shingles (with multiplicity) — the span-census form. */
  def shinglesAll(text: Column, n: Int): Column =
    call_function("graft_shingles_all", text, org.apache.spark.sql.functions.lit(n))
}
