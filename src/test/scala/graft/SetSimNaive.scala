package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Naive all-tokens spellings of the exact set-similarity joins: every pair
  * sharing a token is counted through the full inverted-index self-join.
  * The references the prefix-filter equivalence specs compare against, and
  * the shape the DuckDB oracles replay. Input: `(doc_id, token)` with
  * distinct tokens per doc; output `(doc_a, doc_b, shared, <score>)`. */
object SetSimNaive {

  private def token(sets: DataFrame): String = sets.columns.find(_ != "doc_id").get

  private def sizes(sets: DataFrame): DataFrame =
    sets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** Shared-token counts of the pairs `pair` admits, over the two sides
    * `a` and `b`. */
  private def shared(sets: DataFrame, pair: Column): DataFrame = {
    val tok = token(sets)
    sets.as("a")
      .join(sets.as("b"), col(s"a.$tok") === col(s"b.$tok") && pair)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
  }

  def jaccard(sets: DataFrame, threshold: Double): DataFrame =
    shared(sets, col("a.doc_id") < col("b.doc_id"))
      .join(sizes(sets).as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes(sets).as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") /
          (col("sa.n") + col("sb.n") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Ordered pairs: the share of doc_a's tokens found in doc_b. */
  def containment(sets: DataFrame, threshold: Double): DataFrame =
    shared(sets, col("a.doc_id") =!= col("b.doc_id"))
      .join(sizes(sets).as("sa"), col("doc_a") === col("sa.doc_id"))
      .filter(col("shared").cast("double") / col("sa.n") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") / col("sa.n"), 6)
          .as("containment_r"))

  /** Shared tokens over the smaller doc's size. */
  def overlap(sets: DataFrame, threshold: Double): DataFrame =
    shared(sets, col("a.doc_id") < col("b.doc_id"))
      .join(sizes(sets).as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes(sets).as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / least(col("sa.n"), col("sb.n"))).as("overlap"))
      .filter(col("overlap") >= threshold)
}
