package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact threshold set-similarity self-join over a `(doc_id, token)` frame
  * of distinct tokens per doc: one engine behind the Jaccard, containment
  * and overlap joins, with the measure as a parameter (the joining
  * framework of V-SMART-Join, VLDB 2012). The token column keeps its own
  * name (`sh` for shingles, `h` for winnow prints) in every plan.
  *
  * Candidates come from prefix filtering (Bayardo/Ma/Srikant, "Scaling Up
  * All Pairs Similarity Search", WWW 2007; Chaudhuri et al. SSJoin): each
  * doc's tokens are ranked rarest-first in one global canonical order
  * (ascending document frequency, then token), and a pair that reaches the
  * threshold t must share a token among the prefix side's
  * p = n − ceil(t·n) + 1 rarest. So the token join runs only from those
  * prefixes, and the measure's size rule and PPJoin's positional bound
  * prune it losslessly. [[verify]] then counts the true intersection of
  * the surviving candidates only. Each caller's result set equals its
  * naive all-tokens join (spec-asserted).
  */
private[graft] object SetSimJoin {

  /** What a measure tells the candidate generator, in terms of the two
    * sides of the token join: `a`, a token of some doc's prefix, and `b`,
    * the probed token. Both sides carry `doc_id`, the set size `n` and the
    * token's rarity rank `rk`.
    *
    * @param t            the threshold as an exact decimal: double t·n can
    *                     land one ulp above an integer product and
    *                     overshoot a ceiling, shrinking the prefix below
    *                     the provable minimum or pruning a true boundary
    *                     pair
    * @param probesPrefix whether `b` is another prefix (symmetric
    *                     measures) or the full index
    * @param pair         which (a, b) rows may pair, so that each pair is
    *                     generated from one side only
    * @param size         the size compatibility of `a` and `b`
    * @param overlap      the shared count the pair needs, which the
    *                     positional bound tests
    */
  final case class Measure(t: java.math.BigDecimal, probesPrefix: Boolean,
      pair: Column, size: Column, overlap: Column)

  private def exact(threshold: Double) = new java.math.BigDecimal(threshold.toString)
  private def a(c: String): Column = col(s"a.$c")
  private def b(c: String): Column = col(s"b.$c")

  /** t = num/10^s (exact decimal) as the integer pair (num, 10^s). */
  private def ratio(t: java.math.BigDecimal): (Long, Long) =
    (t.unscaledValue.longValueExact,
      java.math.BigDecimal.ONE.movePointRight(t.scale).longValueExact)

  /** ceil(x / den) over the non-negative SQL integer `x`, in EXACT long
    * arithmetic: doubles could round a boundary, and decimals cost a
    * decimal multiply on every candidate row. */
  private def ceilDiv(x: String, den: Long): Column = expr(s"($x + ${den - 1}) div $den")

  /** |A∩B| / |A∪B| ≥ t. Symmetric: prefix probes prefix, the smaller
    * doc_id generates the pair, and the sizes must satisfy
    * min ≥ t·max. */
  def jaccard(threshold: Double): Measure = {
    val t = exact(threshold)
    // required overlap α = ceil(t·(na+nb)/(1+t)) = ceil(num·(na+nb)/(10^s+num))
    val (num, pow) = ratio(t)
    Measure(t, probesPrefix = true,
      pair = a("doc_id") < b("doc_id"),
      size = least(a("n"), b("n")) >= lit(t) * greatest(a("n"), b("n")),
      overlap = ceilDiv(s"$num * (a.n + b.n)", pow + num))
  }

  /** |A∩B| / |A| ≥ t over ordered pairs (a = A). One-sided: only A's
    * prefix must hold a shared token, so it probes the full index, and
    * shared ≤ |B| gives the size rule nb ≥ ceil(t·na). No size-ratio rule
    * exists, since the match can sit anywhere in B: position is the only
    * lever, and without it the prefix × full-index join floods on
    * closed-vocabulary corpora (85 s at sf1). */
  def containment(threshold: Double): Measure = {
    val t = exact(threshold)
    val (num, pow) = ratio(t)
    val need = ceilDiv(s"$num * a.n", pow) // ceil(t·na)
    Measure(t, probesPrefix = false,
      pair = a("doc_id") =!= b("doc_id"), size = b("n") >= need, overlap = need)
  }

  /** |A∩B| / min(|A|, |B|) ≥ t. The smaller set's prefix must hold a
    * shared token, so the (n, doc_id)-smaller side anchors and probes the
    * full index: each unordered pair is generated from exactly one anchor,
    * which already orders the sizes. */
  def overlap(threshold: Double): Measure = {
    val t = exact(threshold)
    val (num, pow) = ratio(t)
    Measure(t, probesPrefix = false,
      pair = a("n") < b("n") || (a("n") === b("n") && a("doc_id") < b("doc_id")),
      size = lit(true), overlap = ceilDiv(s"$num * a.n", pow))
  }

  /** Verified candidates of `m` over `sets`: `(doc_a, doc_b, na, nb,
    * shared)`, `doc_a` the prefix side. */
  def apply(sets: DataFrame, m: Measure): DataFrame = verify(sets, candidates(sets, m))

  private def token(sets: DataFrame): String = {
    require(sets.columns.length == 2 && sets.columns.contains("doc_id"),
      s"expected (doc_id, token) columns, got ${sets.columns.mkString(", ")}")
    sets.columns.find(_ != "doc_id").get
  }

  /** Distinct candidate pairs `(doc_a, doc_b, na, nb)` of `m`, `doc_a` the
    * prefix side: a superset of the pairs that meet the threshold. */
  def candidates(sets: DataFrame, m: Measure): DataFrame = {
    val tok = token(sets)
    // NOTE (r17): an eager-materialization variant (checkpointing sets,
    // ranked and the verifier's arrays, which appear in several subtrees)
    // measured a clear REGRESSION at sf0.1 (Jaccard 1.6 -> 2.3 s,
    // containment 1.6 -> 3.0 s): the repeated subtrees are identical,
    // AQE's runtime exchange reuse already covers them, and the
    // checkpoints only pay extra materialization. Kept lazy.
    val sizes = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val df = sets.groupBy(col(tok)).agg(count(lit(1)).as("df"))
    // rank each doc's tokens rarest-first in the global canonical order
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col(tok))
    val ranked = sets.join(df, tok)
      .withColumn("rk", row_number().over(byRarity))
      .join(sizes, "doc_id")
      .withColumn("p", (col("n") - ceil(lit(m.t) * col("n")) + 1).cast("int"))
    val prefix = ranked.filter(col("rk") <= col("p"))
      .select(col("doc_id"), col(tok), col("n"), col("rk"))
    val probed =
      if (m.probesPrefix) prefix
      else ranked.select(col("doc_id"), col(tok), col("n"), col("rk"))
    // PPJoin's positional filter (Xiao/Wang/Lin/Yu, WWW 2008): for the
    // FIRST shared token (canonical order) at ranks (i, j), every other
    // shared token ranks after both, so overlap ≤ 1 + min(na−i, nb−j);
    // pairs whose match positions cannot reach the needed overlap are
    // pruned LOSSLESSLY before the distinct. On closed-vocabulary corpora
    // (where nothing is rare and the plain prefix join floods) this is
    // the filter that keeps the candidate stage output-bound.
    prefix.as("a")
      .join(probed.as("b"), a(tok) === b(tok) && m.pair)
      .filter(m.size)
      .filter(lit(1) + least(a("n") - a("rk"), b("n") - b("rk")) >= m.overlap)
      .select(a("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
        a("n").as("na"), b("n").as("nb"))
      .distinct()
  }

  /** `cands` (distinct pairs in `doc_a`, `doc_b`, plus any other columns)
    * with `shared`, the exact number of tokens the two docs have in
    * common.
    *
    * The count comes from per-doc sorted token ARRAYS, one O(na+nb)
    * `array_intersect` per candidate, instead of fanning back through the
    * inverted index. Closed-vocabulary corpora (like the synthetic
    * fixture) make even prefix tokens non-rare: at sf1 the index fan-out
    * was ~350M intermediate rows for 6.5M candidates, while the array
    * spelling is two doc_id hash joins of the candidate table. At 100 TB
    * the array table is just the corpus re-keyed: linear,
    * hash-partitioned, never collected. */
  def verify(sets: DataFrame, cands: DataFrame): DataFrame = {
    val tok = token(sets)
    val docSets = sets.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col(tok))).as("ss"))
    cands
      .join(docSets.select(col("doc_id").as("doc_a"), col("ss").as("sa")), Seq("doc_a"))
      .join(docSets.select(col("doc_id").as("doc_b"), col("ss").as("sb")), Seq("doc_b"))
      .select(cands.columns.toSeq.map(col) :+
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("shared"): _*)
  }
}
