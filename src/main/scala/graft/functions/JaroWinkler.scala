package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity as a codegen Expression — the string-metric
  * companion to `levenshtein` for record linkage / fuzzy matching, which
  * Spark lacks natively (the reference's workloads are string-keyed
  * throughout, e.g. the SUBSTR grouping of `hive/Query2.q:19`; linkage
  * over such keys needs a transposition-tolerant metric, not just edit
  * distance). Standard parameterization: matches within a
  * floor(max(|a|,|b|)/2)−1 window, half-transposition count, Winkler
  * prefix boost (scale 0.1, prefix capped at 4) applied only when the
  * Jaro score exceeds 0.7 — the same parameterization as DuckDB's
  * `jaro_winkler_similarity`, which serves as the independent oracle.
  */
case class JaroWinklerExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_jaro_winkler requires two STRING inputs, got $l / $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerExpression.jw(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerExpression.jw($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerExpression {
  /** Called from generated code. Two tight passes over char arrays, one
    * small boolean scratch pair per call — no allocation beyond those. */
  def jw(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val maxPrefix = math.min(4, math.min(la, lb))
      var l = 0
      while (l < maxPrefix && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }
}

object JaroWinkler {
  def jw(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)
}
