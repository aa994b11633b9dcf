package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions._

/** Session-extension wiring for every native graft Expression, so the
  * functions are available in SQL text and in every new session without
  * per-query registration. `GraftFunctions.all` is the one function
  * table; each column builder (`SimHash.simhash`, `Shingles.shingles`, …)
  * only calls its function by name. Wired by any of:
  *
  *   - `spark.sql.extensions=graft.GraftExtensions` (config / submit), or
  *   - `SparkSession.builder().withExtensions(new GraftExtensions)`, or
  *   - `GraftFunctions.registerAll(spark)` on a live session.
  *
  * Extension tiers in use: custom Catalyst Expressions (scalar/array
  * kernels — simhash, dot, shingles, shingles_all, winnow, fib,
  * jaro_winkler, zorder, ulm_segment), an optimizer Rule
  * (RewriteDotProduct kernel selection), and one planner Strategy
  * (KvLookupJoinStrategy — key-equality joins against the graft-kv store
  * plan as index point lookups instead of scans; the one place built-in
  * operators could not express the physical plan the source's own index
  * makes possible).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage), builder))
    }
    // kernel selection: declarative aggregate(zip_with(*)) dot products
    // run as the codegen DotProductExpression
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProduct)
    // whole-operator route: key-equality joins against graft-kv become
    // per-row point lookups (index nested-loop), not store scans
    ext.injectPlannerStrategy(_ => graft.plans.KvLookupJoinStrategy)
  }
}

object GraftFunctions {

  // integral literals only: NULL or a fractional/string literal gets the
  // same descriptive error as a non-literal, not an NPE/NumberFormat
  private[graft] def litInt(e: Expression, fn: String = "graft function",
      arg: String = "n"): Int =
    e match {
      case Literal(v: Number, _) if v.longValue == v.intValue => v.intValue
      case Literal(v, _) => throw new IllegalArgumentException(
        s"$fn $arg must be a non-null integer literal, got ${if (v == null) "NULL" else v}")
      case other => throw new IllegalArgumentException(
        s"$fn $arg must be a literal, got $other")
    }

  /** (name, usage, builder) for every native expression. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash", "graft_simhash(text) - 64-bit SimHash fingerprint",
      (es: Seq[Expression]) => SimHashExpression(es.head)),
    ("graft_dot", "graft_dot(a, b) - dot product of two array<double>",
      (es: Seq[Expression]) => DotProductExpression(es(0), es(1))),
    ("graft_shingles", "graft_shingles(text, n) - distinct word n-grams",
      (es: Seq[Expression]) => ShinglesExpression(es.head, litInt(es(1), "graft_shingles"))),
    ("graft_shingles_all",
      "graft_shingles_all(text, n) - every word n-gram, in order, with multiplicity",
      (es: Seq[Expression]) =>
        ShinglesExpression(es.head, litInt(es(1), "graft_shingles_all"), distinct = false)),
    ("graft_winnow", "graft_winnow(text, k, w) - winnowing fingerprints",
      (es: Seq[Expression]) =>
        WinnowExpression(es.head, litInt(es(1), "graft_winnow"), litInt(es(2), "graft_winnow"))),
    ("graft_fib", "graft_fib(n) - iterative fibonacci (CPU kernel)",
      (es: Seq[Expression]) => FibExpression(es.head)),
    ("graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]",
      (es: Seq[Expression]) => JaroWinklerExpression(es(0), es(1))),
    ("graft_zorder",
      "graft_zorder(x, y, bits) - Morton/Z-order interleave of two keys",
      (es: Seq[Expression]) =>
        ZOrderExpression(es(0), es(1), litInt(es(2), "graft_zorder"))),
    ("graft_ulm_segment",
      "graft_ulm_segment(word, vocab, maxPiece) - unigram-LM Viterbi segmentation",
      (es: Seq[Expression]) => UnigramSegmentExpression(es(0), es(1),
        litInt(es(2), "graft_ulm_segment", "maxPiece"))),
  )

  /** Imperative registration on a live session (idempotent) — equivalent
    * to what GraftExtensions does at session build time. */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
