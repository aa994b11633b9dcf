package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.ConnectedComponents

/** The composed training-data pipeline — the end-to-end shape every
  * individual operator exists to serve: language filter → quality gate →
  * exact dedup → near-dup clustering → canonical survivors → corpus
  * stats. Each stage is one of the already-verified building blocks;
  * this module wires them in the order a 100 TB curation run would.
  *
  * Scale shape: filters and scoring are narrow (scan-fused); exact dedup
  * shuffles 16-byte digests once; LSH + connected components touch only
  * near-dup candidate ids; the final stats are one aggregation.
  */
object PipelineQueries {

  private val QualityFloor = 0.5

  /** Stages 1-3 (deterministic, oracle-checkable): English, quality gate,
    * exact-dedup survivors (min doc_id per identical text). */
  def cleanExact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = tokens(col("text"))
    // quality gate = the SHARED TextFunctions.qualityScore — the same
    // definition q_quality_score reports, so gate and score cannot drift
    val scored = docs.select(
      col("doc_id"), col("text"), col("lang"),
      size(t).cast("bigint").as("n_tokens"),
      qualityScore(t, col("n_chars")).as("quality"))
      .filter(col("lang") === "en" && col("quality") >= QualityFloor)
    val survivors = scored.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    scored.join(survivors, Seq("doc_id"), "left_semi")
  }

  /** Stage 4 (approximate, spec-checked): near-dup clusters via
    * MinHash-LSH pairs + connected components; keep min doc per cluster. */
  def cleanNearDup(s: SparkSession, d: String): DataFrame = {
    // two consumers (LSH pair generation + the survivor join) — checkpoint
    // so the gate+dedup subplan runs once, not twice; lazy, so it
    // materializes at the CC loop's first action, and per-invocation, so
    // repeated runs stay honestly cold (no cross-run cache)
    val cleaned = cleanExact(s, d).localCheckpoint(false)
    val pairs = DedupQueries.lshPairs(
      cleaned.select(col("doc_id"), col("text")),
      numHashes = 32, bands = 8, threshold = 0.8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    ConnectedComponents.keepSurvivors(cleaned, "doc_id", pairs)
  }

  // ── Registered queries ─────────────────────────────────────────────────

  // quality_r spelling: floor(q·1e6 + 0.5)/1e6, NOT round(q, 6) — the two
  // engines' round() libraries disagree exactly at values whose double
  // product q·1e6 lands on a representable .5 (Spark rounds the decimal
  // expansion of q, DuckDB's vectorized path rounds the product;
  // doc 90682 at sf3: q = 0.56781249999999994, q·1e6 = 567812.5 exactly
  // → 0.567812 vs 0.567813). The floor spelling is plain IEEE arithmetic
  // computed identically on both sides, so it cannot diverge.
  def qPipelineExact(s: SparkSession, d: String): DataFrame =
    cleanExact(s, d).select(col("doc_id"), col("n_tokens"),
      (floor(col("quality") * 1e6 + 0.5) / 1e6).as("quality_r"))

  val qPipelineExactSql: String =
    "WITH scored AS (SELECT doc_id, text, lang, len(t) AS n_tokens, " +
      s"$sqlQuality AS quality " +
      s"FROM (SELECT doc_id, text, lang, n_chars, $sqlTokens AS t FROM documents) a), " +
      s"gated AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= $QualityFloor), " +
      "surv AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)) " +
      "SELECT doc_id, n_tokens, floor(quality * 1e6 + 0.5) / 1e6 AS quality_r FROM gated " +
      "WHERE doc_id IN (SELECT doc_id FROM surv)"

  /** Full pipeline incl. LSH clustering. */
  def qPipelineFull(s: SparkSession, d: String): DataFrame =
    cleanNearDup(s, d)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("quality")), 6).as("avg_quality"))

  /** Oracle for the full pipeline: DuckDB recomputes the near-dup stage
    * with EXACT Jaccard >= 0.8 pairs (all-pairs over the already-gated
    * survivor set — driver-scale-sized) and a recursive-CTE transitive
    * closure for clustering. The Spark side's LSH candidates are verified
    * by signature-ESTIMATED Jaccard, so this oracle additionally asserts
    * that on the fixture corpus the estimate agrees with the exact
    * threshold decision for every pair (PipelineSpec covers the recall
    * property in general); any gating / tokenizer / dedup / CC / stats
    * bug breaks the hash. */
  private val sqlShingles =
    "list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"

  val qPipelineFullSql: String =
    "WITH RECURSIVE " +
      "scored AS (SELECT doc_id, text, lang, len(t) AS n_tokens, " +
      s"$sqlQuality AS quality " +
      s"FROM (SELECT doc_id, text, lang, n_chars, $sqlTokens AS t FROM documents) a), " +
      s"gated AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= $QualityFloor), " +
      "ex AS (SELECT g.* FROM gated g WHERE doc_id IN " +
      "(SELECT min(doc_id) FROM gated GROUP BY md5(text))), " +
      s"sh AS (SELECT doc_id, unnest($sqlShingles) AS sh " +
      s"FROM (SELECT doc_id, $sqlTokens AS t FROM ex) b), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT doc_a, doc_b FROM shared " +
      "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
      "WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.8), " +
      "sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs " +
      "UNION SELECT doc_b, doc_a FROM pairs), " +
      "reach(a, b) AS (SELECT a, b FROM sym " +
      "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b), " +
      "comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a), " +
      "surv AS (SELECT e.* FROM ex e LEFT JOIN comp c ON e.doc_id = c.node " +
      "WHERE c.node IS NULL OR c.comp = e.doc_id) " +
      "SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
      "round(avg(quality), 6) AS avg_quality FROM surv"

  // ── Gate attrition funnel (the curation run report) ────────────────────
  // How many documents survive each successive gate — input → language →
  // quality → exact dedup → canonical dedup — with drops and share of
  // input per stage. This is the one-page report every curation run
  // publishes before anyone trains on its output. ONE scan: the four
  // stage counts are conditional aggregates (the dedup stages are
  // conditional COUNT DISTINCT over 16-byte digests), then the fixed
  // 5-row funnel explodes from the single aggregate row — no second
  // pass, no join, identical shape at any corpus size.
  def qGateAttrition(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = tokens(col("text"))
    val canon = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
    val pass1 = col("lang") === "en"
    val pass2 = pass1 && col("quality") >= QualityFloor
    val one = docs
      .select(col("doc_id"), col("text"), col("lang"),
        qualityScore(t, col("n_chars")).as("quality"))
      .agg(count(lit(1)).as("n0"),
        sum(when(pass1, 1L).otherwise(0L)).as("n1"),
        sum(when(pass2, 1L).otherwise(0L)).as("n2"),
        countDistinct(when(pass2, md5(col("text")))).as("n3"),
        countDistinct(when(pass2, canon)).as("n4"))
    one.selectExpr("inline(array(" +
      "named_struct('stage', '0_input', 'n_docs', n0, 'n_dropped', CAST(0 AS BIGINT)), " +
      "named_struct('stage', '1_lang', 'n_docs', n1, 'n_dropped', n0 - n1), " +
      "named_struct('stage', '2_quality', 'n_docs', n2, 'n_dropped', n1 - n2), " +
      "named_struct('stage', '3_exact_dedup', 'n_docs', n3, 'n_dropped', n2 - n3), " +
      "named_struct('stage', '4_canonical', 'n_docs', n4, 'n_dropped', n3 - n4)))",
      "n0")
      .selectExpr("stage", "n_docs", "n_dropped",
        "round(CAST(n_docs AS DOUBLE) / n0, 6) AS share_of_input")
  }

  val qGateAttritionSql: String =
    "WITH scored AS (SELECT doc_id, text, lang, " +
      s"$sqlQuality AS quality " +
      s"FROM (SELECT doc_id, text, lang, n_chars, $sqlTokens AS t FROM documents) a), " +
      "agg AS (SELECT count(*) AS n0, " +
      "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      s"CAST(sum(CASE WHEN lang = 'en' AND quality >= $QualityFloor THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
      s"CAST(count(DISTINCT CASE WHEN lang = 'en' AND quality >= $QualityFloor " +
      "THEN md5(text) END) AS BIGINT) AS n3, " +
      s"CAST(count(DISTINCT CASE WHEN lang = 'en' AND quality >= $QualityFloor " +
      "THEN md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) END) AS BIGINT) AS n4 " +
      "FROM scored) " +
      "SELECT stage, n_docs, n_dropped, " +
      "round(CAST(n_docs AS DOUBLE) / n0, 6) AS share_of_input FROM (" +
      "SELECT '0_input' AS stage, n0 AS n_docs, CAST(0 AS BIGINT) AS n_dropped, n0 FROM agg " +
      "UNION ALL SELECT '1_lang', n1, n0 - n1, n0 FROM agg " +
      "UNION ALL SELECT '2_quality', n2, n1 - n2, n0 FROM agg " +
      "UNION ALL SELECT '3_exact_dedup', n3, n2 - n3, n0 FROM agg " +
      "UNION ALL SELECT '4_canonical', n4, n3 - n4, n0 FROM agg) f"

  // ── k-anonymity audit (privacy gate before a data release) ─────────────
  // For a quasi-identifier tuple — segment, nation, coarse balance band —
  // every row must hide in a group of ≥ k lookalikes, or the release
  // re-identifies the outliers. One partial-agg shuffle builds the group
  // sizes; the report is (k_min, group count, violating groups, rows at
  // risk) — the numbers a governance gate thresholds on. Bands are exact
  // integer floors (cents // 100000), so both engines bucket identically.
  private val AnonK = 5

  def qKAnonymity(s: SparkSession, d: String): DataFrame = {
    val bal = (col("c_acctbal").cast(
      org.apache.spark.sql.types.DecimalType(18, 2)) * 100).cast("long")
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(bal / 100000L).cast("long").as("bal_band"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("g"))
      .agg(min(col("g")).as("k_min"),
        count(lit(1)).as("n_groups"),
        sum(when(col("g") < AnonK, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("g") < AnonK, col("g")).otherwise(0L)).as("rows_at_risk"))
  }

  val qKAnonymitySql: String =
    "WITH g AS (SELECT c_mktsegment, c_nationkey, " +
      "CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
      "/ 100000.0) AS BIGINT) AS bal_band, " +
      "CAST(count(*) AS BIGINT) AS g " +
      "FROM customer GROUP BY 1, 2, 3) " +
      "SELECT min(g) AS k_min, CAST(count(*) AS BIGINT) AS n_groups, " +
      s"CAST(sum(CASE WHEN g < $AnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, " +
      s"CAST(sum(CASE WHEN g < $AnonK THEN g ELSE 0 END) AS BIGINT) AS rows_at_risk " +
      "FROM g"

  // ── Differentially private release (mechanism-shape benchmark) ────────
  // The release mechanism the k-anon/l-div/t-closeness audits gate FOR:
  // per-segment counts with Laplace-shaped noise (sensitivity 1 per
  // count; two releases at ε = 0.5 compose to a reported ε = 1 budget).
  // The noise is DERANDOMIZED with the shared md5 hash60 of a PUBLIC tag
  // — u = hash60('dp:…') / 2⁶⁰, noise = −(1/ε)·sign(u−½)·ln(1 − 2|u−½|)
  // (inverse-CDF Laplace) — so the released table is bit-reproducible
  // across engines and runs. THIS IS A MECHANISM-SHAPE BENCHMARK, NOT A
  // PRIVACY GUARANTEE: because the tag is public, anyone can recompute
  // and subtract the noise exactly (MiningSpec does precisely that as a
  // parity check). A production deployment MUST replace the public tag
  // with a keyed PRF (secret release key) — a substitution that changes
  // only the hash input, not the plan shape or cost being measured here.
  // One rounded libm log per group, milli-quantized before the integer
  // add; one keyed partial-agg shuffle over bounded groups.
  private val DpEpsMilli = 500L // ε = 0.5 per release

  def qDpCounts(s: SparkSession, d: String): DataFrame = {
    def lap(tag: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val u = graft.functions.Md5Bits.hash60(tag).cast("double") /
        lit(1152921504606846976.0) // 2^60
      val v = u - lit(0.5)
      // greatest(…, 1e-18) guards the measure-zero h = 0 draw (ln 0)
      round(lit(-1000.0) * lit(1000.0 / DpEpsMilli) * signum(v) *
        log(greatest(lit(1e-18), lit(1.0) - lit(2.0) * abs(v))), 0)
        .cast("long")
    }
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("nneg"))
      .select(col("c_mktsegment"),
        (col("n") * 1000 +
          lap(concat(lit("dp:n:"), col("c_mktsegment")))).as("noisy_n_milli"),
        (col("nneg") * 1000 +
          lap(concat(lit("dp:neg:"), col("c_mktsegment"))))
          .as("noisy_neg_milli"),
        lit(2 * DpEpsMilli).as("total_eps_milli"))
  }

  val qDpCountsSql: String = {
    def lap(tag: String): String = {
      val h = graft.functions.Md5Bits.sqlHash60(tag)
      s"CAST(round(-1000.0 * ${1000.0 / DpEpsMilli} * " +
        s"sign(CAST($h AS DOUBLE) / 1152921504606846976.0 - 0.5) * " +
        s"ln(greatest(1e-18, 1.0 - 2.0 * " +
        s"abs(CAST($h AS DOUBLE) / 1152921504606846976.0 - 0.5))), 0) " +
        "AS BIGINT)"
    }
    "WITH g AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS nneg FROM customer GROUP BY 1) " +
      "SELECT c_mktsegment, " +
      s"n * 1000 + ${lap("'dp:n:' || c_mktsegment")} AS noisy_n_milli, " +
      s"nneg * 1000 + ${lap("'dp:neg:' || c_mktsegment")} AS noisy_neg_milli, " +
      s"CAST(${2 * DpEpsMilli} AS BIGINT) AS total_eps_milli FROM g"
  }

  // ── l-diversity audit (the k-anonymity companion) ──────────────────────
  // k-anonymity alone still leaks when a lookalike group is homogeneous
  // in the SENSITIVE attribute (everyone in the group shares it, so
  // membership reveals it). l-diversity requires each quasi-identifier
  // group — nation × coarse balance band here — to contain ≥ l distinct
  // sensitive values (market segment). Two stacked partial-agg shuffles
  // (distinct-per-group, then the report); same governance-gate shape as
  // qKAnonymity, and the pair of audits is what a release gate runs.
  private val DiversityL = 2

  def qLDiversity(s: SparkSession, d: String): DataFrame = {
    val bal = (col("c_acctbal").cast(
      org.apache.spark.sql.types.DecimalType(18, 2)) * 100).cast("long")
    Tables.customer(s, d)
      .select(col("c_nationkey"), floor(bal / 100000L).cast("long").as("bal_band"),
        col("c_mktsegment"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(countDistinct(col("c_mktsegment")).as("l"),
        count(lit(1)).as("g"))
      .agg(min(col("l")).as("l_min"),
        count(lit(1)).as("n_groups"),
        sum(when(col("l") < DiversityL, 1L).otherwise(0L)).as("n_homogeneous"),
        sum(when(col("l") < DiversityL, col("g")).otherwise(0L)).as("rows_exposed"))
  }

  val qLDiversitySql: String =
    "WITH g AS (SELECT c_nationkey, " +
      "CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
      "/ 100000.0) AS BIGINT) AS bal_band, " +
      "CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l, " +
      "CAST(count(*) AS BIGINT) AS g " +
      "FROM customer GROUP BY 1, 2) " +
      "SELECT min(l) AS l_min, CAST(count(*) AS BIGINT) AS n_groups, " +
      s"CAST(sum(CASE WHEN l < $DiversityL THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous, " +
      s"CAST(sum(CASE WHEN l < $DiversityL THEN g ELSE 0 END) AS BIGINT) AS rows_exposed " +
      "FROM g"

  // ── t-closeness audit (completing the anonymity-gate triad) ────────────
  // k-anonymity bounds group SIZE and l-diversity bounds distinct
  // sensitive values, but a group can satisfy both while its sensitive
  // DISTRIBUTION still leaks (e.g. 95/5 where the population is 50/50).
  // t-closeness requires every quasi-identifier group's sensitive
  // distribution to sit within t of the global one — for a categorical
  // attribute (market segment) the distance is total variation:
  // TVD(g) = ½ Σ_s |cnt_gs/n_g − cnt_s/N|. Exact integer discipline:
  // TVD = Σ_s |N·cnt_gs − n_g·cnt_s| / (2·n_g·N), so the numerator is
  // BIGINT and one rounded division ends the query. Plan: one keyed
  // count shuffle, then everything joins a 5-row segment total and a
  // single-row N — both broadcast; absent (group, segment) cells enter
  // via the broadcast grid (|p−q| = q when the group lacks a segment).
  private val TClosenessT = 0.4

  def qTCloseness(s: SparkSession, d: String): DataFrame = {
    val bal = (col("c_acctbal").cast(
      org.apache.spark.sql.types.DecimalType(18, 2)) * 100).cast("long")
    val base = Tables.customer(s, d)
      .select(col("c_nationkey"), floor(bal / 100000L).cast("long").as("bal_band"),
        col("c_mktsegment"))
    val gs = base.groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("c_gs"))
    val g = gs.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("c_gs")).as("n_g"))
    val sTot = base.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("c_s"))
    val tot = base.agg(count(lit(1)).as("n_total"))
    val tvd = g.crossJoin(broadcast(sTot)).crossJoin(broadcast(tot))
      .join(gs, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(first(col("n_g")).as("n_g"), first(col("n_total")).as("n_total"),
        sum(abs(col("n_total") * coalesce(col("c_gs"), lit(0L)) -
          col("n_g") * col("c_s"))).as("numer"))
      .select(col("n_g"),
        round(col("numer").cast("double") /
          (lit(2.0) * col("n_g") * col("n_total")), 6).as("tvd_r"))
    tvd.agg(count(lit(1)).as("n_groups"),
      max(col("tvd_r")).as("t_max_r"),
      sum(when(col("tvd_r") > TClosenessT, 1L).otherwise(0L)).as("n_violating"),
      sum(when(col("tvd_r") > TClosenessT, col("n_g")).otherwise(0L))
        .as("rows_at_risk"))
  }

  val qTClosenessSql: String =
    "WITH base AS (SELECT c_nationkey, " +
      "CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
      "/ 100000.0) AS BIGINT) AS bal_band, c_mktsegment FROM customer), " +
      "gs AS (SELECT c_nationkey, bal_band, c_mktsegment, " +
      "CAST(count(*) AS BIGINT) AS c_gs FROM base GROUP BY 1, 2, 3), " +
      "g AS (SELECT c_nationkey, bal_band, CAST(sum(c_gs) AS BIGINT) AS n_g " +
      "FROM gs GROUP BY 1, 2), " +
      "st AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS c_s FROM base GROUP BY 1), " +
      "nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base), " +
      "tvd AS (SELECT g.c_nationkey, g.bal_band, any_value(g.n_g) AS n_g, " +
      "round(CAST(sum(abs(nt.n_total * coalesce(gs.c_gs, 0) - g.n_g * st.c_s)) AS DOUBLE) " +
      "/ (2.0 * any_value(g.n_g) * any_value(nt.n_total)), 6) AS tvd_r " +
      "FROM g CROSS JOIN st CROSS JOIN nt " +
      "LEFT JOIN gs ON gs.c_nationkey = g.c_nationkey AND gs.bal_band = g.bal_band " +
      "AND gs.c_mktsegment = st.c_mktsegment " +
      "GROUP BY 1, 2) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_groups, max(tvd_r) AS t_max_r, " +
      s"CAST(sum(CASE WHEN tvd_r > $TClosenessT THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, " +
      s"CAST(sum(CASE WHEN tvd_r > $TClosenessT THEN n_g ELSE 0 END) AS BIGINT) AS rows_at_risk " +
      "FROM tvd"

  val queries: Seq[(String, Query)] = Seq(
    "q_dp_counts"      -> Query(qDpCounts, qDpCountsSql),
    "q_t_closeness"    -> Query(qTCloseness, qTClosenessSql),
    "q_k_anonymity"    -> Query(qKAnonymity, qKAnonymitySql),
    "q_l_diversity"    -> Query(qLDiversity, qLDiversitySql),
    "q_pipeline_exact" -> Query(qPipelineExact, qPipelineExactSql),
    "q_gate_attrition" -> Query(qGateAttrition, qGateAttritionSql),
    "q_pipeline_full"  -> Query(qPipelineFull, qPipelineFullSql),
  )
}
