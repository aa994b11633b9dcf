package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators for a training-data pipeline, run over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, exact fingerprinting. Generalizes the reference's only text
  * ops (regex tokenize `word_count/map.py:10`, regex extract
  * `simplified_page_rank.py:4`) into per-document signals.
  *
  * Every query is pure column algebra (no UDFs) → WholeStageCodegen end to
  * end, and embarrassingly parallel per document: at 100 TB these scale
  * linearly with input splits, no shuffle at all except where grouped.
  */
object TextQueries {

  // ── Token counting ─────────────────────────────────────────────────────
  def qTokenCount(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(t).cast("bigint").as("n_tokens"),
      size(array_distinct(t)).cast("bigint").as("n_distinct"),
      length(col("text")).cast("bigint").as("n_chars_m"))
  }

  val qTokenCountSql: String =
    "SELECT doc_id, " +
      "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)) AS n_tokens, " +
      "len(list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0))) AS n_distinct, " +
      "length(text) AS n_chars_m " +
      "FROM documents"

  // ── Quality scoring ────────────────────────────────────────────────────
  // length / lexical-diversity / stopword signals combined with fixed
  // weights. The exact formula is mirrored in the oracle SQL term-for-term
  // so both engines evaluate the identical double expression tree.
  def qQualityScore(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), t.as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("diversity"),
        (markerHits(col("t"), enMarkers).cast("double") / size(col("t"))).as("stopword_ratio"),
        (col("n_chars").cast("double") / size(col("t"))).as("chars_per_token"))
      .withColumn("quality",
        // equals TextFunctions.qualityScore term-for-term; spelled from
        // the materialized signal columns so the report and the pipeline
        // gate (which calls qualityScore directly) stay in lockstep —
        // PipelineSpec asserts the two spellings agree
        col("diversity") * 0.5 + col("stopword_ratio") * 0.3 +
          least(col("chars_per_token") / 10.0, lit(1.0)) * 0.2)
  }

  private val sqlToks = sqlTokens // single shared oracle tokenizer spelling
  private def sqlMarkerHits(toks: String, markers: Seq[String]): String =
    s"len(list_filter($toks, x -> list_contains(${markers.mkString("['", "', '", "']")}, x)))"

  val qQualityScoreSql: String =
    "SELECT doc_id, n_tokens, diversity, stopword_ratio, chars_per_token, " +
      "diversity * 0.5 + stopword_ratio * 0.3 + least(chars_per_token / 10.0, 1.0) * 0.2 AS quality " +
      "FROM (SELECT doc_id, " +
      s"len(t) AS n_tokens, " +
      "CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS diversity, " +
      s"CAST(${sqlMarkerHits("t", enMarkers)} AS DOUBLE) / len(t) AS stopword_ratio, " +
      "CAST(n_chars AS DOUBLE) / len(t) AS chars_per_token " +
      s"FROM (SELECT doc_id, n_chars, $sqlToks AS t FROM documents) a) b"

  // ── Language-ID heuristic ──────────────────────────────────────────────
  // Marker-word voting (an n-gram-free stand-in for fasttext-style ID —
  // deterministic so the oracle can recompute it). Ties resolve in the
  // fixed order en > de > fr > es via strict > comparisons.
  def qLangId(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("lang_label"),
        markerHits(t, enMarkers).as("en_hits"),
        markerHits(t, deMarkers).as("de_hits"),
        markerHits(t, frMarkers).as("fr_hits"),
        markerHits(t, esMarkers).as("es_hits"))
      .withColumn("lang_guess",
        when(col("de_hits") > col("en_hits") && col("de_hits") >= col("fr_hits") &&
          col("de_hits") >= col("es_hits"), "de")
          .when(col("fr_hits") > col("en_hits") && col("fr_hits") > col("de_hits") &&
            col("fr_hits") >= col("es_hits"), "fr")
          .when(col("es_hits") > col("en_hits") && col("es_hits") > col("de_hits") &&
            col("es_hits") > col("fr_hits"), "es")
          .otherwise("en"))
  }

  val qLangIdSql: String = {
    def hits(m: Seq[String]) = sqlMarkerHits("t", m)
    "SELECT doc_id, lang_label, en_hits, de_hits, fr_hits, es_hits, " +
      "CASE WHEN de_hits > en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de' " +
      "WHEN fr_hits > en_hits AND fr_hits > de_hits AND fr_hits >= es_hits THEN 'fr' " +
      "WHEN es_hits > en_hits AND es_hits > de_hits AND es_hits > fr_hits THEN 'es' " +
      "ELSE 'en' END AS lang_guess " +
      "FROM (SELECT doc_id, lang AS lang_label, " +
      s"${hits(enMarkers)} AS en_hits, ${hits(deMarkers)} AS de_hits, " +
      s"${hits(frMarkers)} AS fr_hits, ${hits(esMarkers)} AS es_hits " +
      s"FROM (SELECT doc_id, lang, $sqlToks AS t FROM documents) a) b"
  }

  // ── Language-gate confusion matrix (classifier evaluation) ─────────────
  // The evaluation harness every heuristic gate needs before it filters a
  // corpus: confusion counts of the n-gram-free language-ID guess against
  // the labeled `lang` column, with each cell's share of its true class
  // (the diagonal shares ARE per-class recall). Two tiny aggregations —
  // the matrix is |langs|² rows whatever the corpus size — after one
  // corpus scan; exact integer counts, one rounded division.
  def qLangConfusion(s: SparkSession, d: String): DataFrame = {
    val conf = qLangId(s, d)
      .groupBy(col("lang_label"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
    val actual = conf.groupBy(col("lang_label")).agg(sum(col("n")).as("n_actual"))
    conf.join(actual, "lang_label")
      .select(col("lang_label"), col("lang_guess"), col("n"), col("n_actual"),
        round(col("n").cast("double") / col("n_actual"), 6).as("frac_of_actual"))
  }

  val qLangConfusionSql: String =
    s"WITH p AS ($qLangIdSql), " +
      "conf AS (SELECT lang_label, lang_guess, count(*) AS n FROM p GROUP BY 1, 2), " +
      "a AS (SELECT lang_label, CAST(sum(n) AS BIGINT) AS n_actual FROM conf GROUP BY 1) " +
      "SELECT lang_label, lang_guess, n, n_actual, " +
      "round(CAST(n AS DOUBLE) / n_actual, 6) AS frac_of_actual " +
      "FROM conf JOIN a USING (lang_label)"

  // ── Gate ROC/AUC + precision-recall points (threshold-free ranking
  // metric) ──────────────────────────────────────────────────────────────
  // The missing piece of the gate-eval family: confusion matrices and
  // hit-rates score ONE threshold; AUC scores the gate's entire ranking.
  // Signal = the proven quality score; positive class = lang't'en' docs —
  // "does the quality gate rank English docs above the rest?". AUC comes
  // from the Mann–Whitney identity AUC = U/(n_pos·n_neg) with
  // U = R_pos − n_pos(n_pos+1)/2, where ranks are the exact global
  // row_numbers of (quality, doc_id) from the DistributedRank two-pass
  // kernel — NO corpus-wide window, the same plan q_rank_sum proves. The
  // doc_id tiebreak makes ranks unique and engine-identical, so U is
  // exact integer algebra (score ties split deterministically rather
  // than by the ½-correction — both engines apply the same rule).
  // PR points at 5 fixed thresholds ride ONE additional aggregation pass
  // (20 conditional counters, then unpivoted) — never a per-threshold
  // rescan. The single-row AUC broadcasts onto the 5 threshold rows.
  private val AucThresholds = Seq(0.30, 0.40, 0.50, 0.60, 0.70)

  def qGateAuc(s: SparkSession, d: String): DataFrame = {
    val scored = qQualityScore(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("quality"),
        (col("lang") === "en").cast("int").as("pos"))
    val ranked = graft.operators.DistributedRank.withRowNumber(
      scored, Seq(), Seq(col("quality").asc, col("doc_id").asc), "rk")
    val auc = ranked.agg(
        sum(col("pos").cast("long")).as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"),
        sum(when(col("pos") === 1, col("rk"))).as("r_pos"))
      .withColumn("u_stat", col("r_pos") - expr("(n_pos * (n_pos + 1)) div 2"))
      .select(col("n_pos"), col("n_neg"), col("u_stat"),
        round(col("u_stat").cast("double") /
          (col("n_pos").cast("double") * col("n_neg")), 6).as("auc_r"))
    // one pass, 4 counters per threshold; thresholds are literals so the
    // whole block stays inside the same partial aggregate
    val aggs = AucThresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(col("quality") >= t && col("pos") === 1, 1L).otherwise(0L))
          .as(s"tp_$i"),
        sum(when(col("quality") >= t && col("pos") === 0, 1L).otherwise(0L))
          .as(s"fp_$i"))
    }
    val counters = scored.agg(aggs.head, aggs.tail: _*)
    val rows = counters.select(explode(array(AucThresholds.zipWithIndex.map {
      case (t, i) =>
        struct(lit(t).as("thr"), col(s"tp_$i").as("tp"), col(s"fp_$i").as("fp"))
    }: _*)).as("r")).select(col("r.thr"), col("r.tp"), col("r.fp"))
    rows.crossJoin(broadcast(auc))
      .select(col("thr"), col("tp"), col("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        (col("n_neg") - col("fp")).as("tn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("precision_r"),
        round(col("tp").cast("double") / col("n_pos"), 6).as("recall_r"),
        col("u_stat"), col("auc_r"))
  }

  val qGateAucSql: String = {
    val thrValues = AucThresholds.map(t => s"($t)").mkString(", ")
    s"WITH q AS ($qQualityScoreSql), " +
      "sc AS (SELECT q.doc_id, q.quality, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos " +
      "FROM q JOIN documents d USING (doc_id)), " +
      "rk AS (SELECT pos, CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT) AS rk FROM sc), " +
      "auc AS (SELECT n_pos, n_neg, u_stat, " +
      "round(CAST(u_stat AS DOUBLE) / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc_r FROM (" +
      "SELECT n_pos, n_neg, r_pos - (n_pos * (n_pos + 1)) // 2 AS u_stat FROM (" +
      "SELECT CAST(sum(pos) AS BIGINT) AS n_pos, " +
      "CAST(sum(1 - pos) AS BIGINT) AS n_neg, " +
      "CAST(sum(CASE WHEN pos = 1 THEN rk END) AS BIGINT) AS r_pos FROM rk) a) b), " +
      s"thr(thr) AS (VALUES $thrValues), " +
      "pr AS (SELECT thr, " +
      "CAST(sum(CASE WHEN quality >= thr AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
      "CAST(sum(CASE WHEN quality >= thr AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp " +
      "FROM sc, thr GROUP BY 1) " +
      "SELECT thr, tp, fp, n_pos - tp AS fn, n_neg - fp AS tn, " +
      "CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision_r, " +
      "round(CAST(tp AS DOUBLE) / n_pos, 6) AS recall_r, " +
      "u_stat, auc_r FROM pr, auc"
  }

  // ── Exact content fingerprint (md5) ────────────────────────────────────
  // Deterministic per-document fingerprint; groundwork for exact dedup.
  def qFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      md5(concat_ws(" ", tokens(col("text")))).as("fp_tokens_md5"))

  val qFingerprintSql: String =
    "SELECT doc_id, md5(text) AS fp_md5, " +
      s"md5(array_to_string($sqlToks, ' ')) AS fp_tokens_md5 " +
      "FROM documents"

  // ── BPE-ish subword tokenization (GPT-2-style pretokenizer shape,
  // lookahead-free so Java regex and RE2 agree): runs of letters, runs of
  // digits, runs of punctuation — each with optional leading space.
  // The practical token-count estimator when no tokenizer model ships
  // with the engine.
  private val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def qTokenBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
        .cast("bigint").as("n_bpe_tokens"))

  val qTokenBpeSql: String =
    s"SELECT doc_id, len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) " +
      "AS n_bpe_tokens FROM documents"

  // ── Repetition signals (Gopher/C4-style repetition filters) ────────────
  // The classic "repetitious documents are low-quality" gates: repeated
  // token fraction, most-frequent-token share, repeated bigram fraction.
  // Pure per-document column algebra (nested array lambdas, no shuffle);
  // token counts are tiny per doc, so the O(T²) distinct×filter count is
  // a per-row constant, not a scale risk.
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    val bg = shingles(col("text"), 2) // the shared positional n-gram rule
    Tables.documents(s, d)
      .select(col("doc_id"), t.as("t"), bg.as("bg"))
      .select(
        col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        when(size(col("t")) > 0,
          round(lit(1.0) - size(array_distinct(col("t"))).cast("double") /
            size(col("t")), 6)).as("dup_token_frac"),
        when(size(col("t")) > 0,
          round(array_max(transform(array_distinct(col("t")),
            w => size(filter(col("t"), x => x === w)))).cast("double") /
            size(col("t")), 6)).as("top_token_share"),
        when(size(col("bg")) > 0,
          round(lit(1.0) - size(array_distinct(col("bg"))).cast("double") /
            size(col("bg")), 6)).as("dup_bigram_frac"))
  }

  val qRepetitionSql: String =
    "SELECT doc_id, len(t) AS n_tokens, " +
      "CASE WHEN len(t) > 0 THEN round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) END AS dup_token_frac, " +
      "CASE WHEN len(t) > 0 THEN round(CAST(list_max(list_transform(list_distinct(t), " +
      "w -> len(list_filter(t, x -> x = w)))) AS DOUBLE) / len(t), 6) END AS top_token_share, " +
      "CASE WHEN len(bg) > 0 THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6) END AS dup_bigram_frac " +
      s"FROM (SELECT doc_id, t, " +
      "list_transform(generate_series(1, greatest(len(t) - 1, 0)), i -> t[i] || ' ' || t[i+1]) AS bg " +
      s"FROM (SELECT doc_id, $sqlToks AS t FROM documents) a) b"

  // ── Deterministic hash sampling ────────────────────────────────────────
  // The reproducible sampling primitive for a 100 TB corpus: membership is
  // a pure function of the row key (md5-derived hash60 mod 10 == 0 → a
  // fixed ~10% slice), so the sample is identical across engines, runs,
  // retries, and cluster sizes — unlike rand()-based sampling. Filter is
  // scan-fused (no shuffle until the final rollup).
  def qSampleHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(graft.functions.Md5Bits.hash60(col("doc_id")) % 10 === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  val qSampleHashSql: String =
    "SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "min(doc_id) AS min_id, max(doc_id) AS max_id FROM documents " +
      s"WHERE ${graft.functions.Md5Bits.sqlHash60("CAST(doc_id AS VARCHAR)")} % 10 = 0 " +
      "GROUP BY 1"

  // ── Stratified quota sampling ──────────────────────────────────────────
  // Per-stratum quotas (here: N docs per language) with md5-rank
  // membership — the balanced-mixture primitive for training-data
  // curation, reproducible like qSampleHash: the rank is a pure function
  // of the row key, so the sample is identical across engines and runs.
  // One shuffle on the stratum key; doc_id tie-break is unreachable
  // (hash60 collisions aside, doc_id is unique) but keeps the ordering
  // total so both engines agree by construction.
  private val StratumQuota = 20

  def qSampleStratified(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(graft.functions.Md5Bits.hash60(col("doc_id")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratumQuota)
  }

  val qSampleStratifiedSql: String =
    "SELECT lang, doc_id, n_chars, rk FROM (" +
      "SELECT lang, doc_id, n_chars, row_number() OVER (PARTITION BY lang " +
      s"ORDER BY ${graft.functions.Md5Bits.sqlHash60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk " +
      s"FROM documents) r WHERE rk <= $StratumQuota"

  // ── TF-IDF top terms per document ──────────────────────────────────────
  // Classic salient-term extraction, with a RATIONAL idf — tf·(N+1)/(df+1)
  // instead of tf·ln(N/df). Monotone in the same direction per term
  // (decreasing in df), but free of transcendental functions, so the
  // score is one IEEE division of exact integers and both engines
  // compute it bit-identically (ln() is correctly-rounded in neither).
  // Plan: token explode → (doc,term) counts → df by term → broadcast-join
  // the (small) per-term df + the 1-row corpus count → per-doc top-5
  // window. The (doc,term) groupBy is the one data-sized shuffle.
  private val TfIdfTopK = 5

  def qTfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // df from the (doc, term) aggregate — tf already holds exactly one
    // row per pair, so this replaces a countDistinct over the full
    // exploded token stream with a count over the far smaller tf table
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (col("n_docs") + lit(1.0)) / (col("df_docs") + lit(1)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfIdfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
        // Canon.qround, NOT round(x, 6): integer-ratio scores are often
        // dyadic (df+1 a power of two), so x·1e6 can land EXACTLY on .5
        // where the engines' round() legally disagree (r16 audit)
        Canon.qround(col("score"), 6).as("score_r"), col("rnk"))
  }

  val qTfIdfSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, df_docs, floor(score * 1e6 + 0.5) / 1e6 AS score_r, rnk
        FROM (SELECT doc_id, term, tf, df_docs,
                     tf * (n_docs + 1.0) / (df_docs + 1) AS score,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY tf * (n_docs + 1.0) / (df_docs + 1) DESC, term) AS rnk
              FROM tf JOIN df USING (term) CROSS JOIN n) s
        WHERE rnk <= $TfIdfTopK"""

  // ── Sequence packing (context-window binning) ──────────────────────────
  // The training-prep step after curation: pack documents into
  // fixed-token-budget bins (per language, in deterministic md5-rank
  // order) so every training sequence is near-full. bin = how many whole
  // budgets precede the doc in its stratum's running token count — a
  // windowed prefix sum, the canonical distributed spelling (one shuffle
  // on the stratum key; integer arithmetic end to end, so both engines
  // bin identically). Reported per bin: doc count + token fill.
  private val PackBudget = 2048L

  def qPackBins(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(graft.functions.Md5Bits.hash60(col("doc_id")), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), tokenCount(col("text")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("lang"),
        floor((col("cum") - col("n_tok")) / PackBudget).as("bin"),
        col("n_tok"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
  }

  val qPackBinsSql: String =
    "SELECT lang, CAST(floor((cum - n_tok) / " + PackBudget + ") AS BIGINT) AS bin, " +
      "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens " +
      "FROM (SELECT lang, n_tok, sum(n_tok) OVER (PARTITION BY lang " +
      s"ORDER BY ${graft.functions.Md5Bits.sqlHash60("CAST(doc_id AS VARCHAR)")}, doc_id " +
      "ROWS UNBOUNDED PRECEDING) AS cum " +
      s"FROM (SELECT lang, doc_id, len($sqlToks) AS n_tok FROM documents) a) b " +
      "GROUP BY 1, 2"

  // ── Mixture sampling (training-data source mixing) ─────────────────────
  // Hit a TARGET token-share per source (here: language) — the data-
  // mixing step every training run performs before packing. Exact
  // integer algebra end to end: per-source token totals (one aggregate,
  // broadcast back), the corpus-wide budget T = min_j(toks_j·100 div
  // pct_j) — the binding source caps the mixture — per-source token
  // quotas keep_j = pct_j·T div 100, and a deterministic doc-level
  // Bernoulli via the shared md5 hash60: keep a doc iff
  // h·toks_j < keep_j·2^60, cross-multiplied in DECIMAL(38,0) so no
  // division ever rounds (DuckDB replays it in HUGEINT — different
  // spelling, identical exact comparison). Scale shape: one stats scan
  // + one filter scan, rates broadcast, nothing but the per-source
  // report ever shuffles. The achieved counts land within one doc of
  // the quota in expectation — the report puts target and achieved side
  // by side, which IS the operator's product.
  private val MixTargets =
    Seq(("en", 40L), ("zh", 15L), ("es", 15L), ("de", 15L), ("fr", 15L))
  private val Pow60 = "1152921504606846976" // 2^60, hash60's range

  def qMixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("lang"), col("doc_id"), tokenCount(col("text")).as("n_tok"),
      graft.functions.Md5Bits.hash60(col("doc_id")).as("h"))
    val tot = docs.groupBy(col("lang")).agg(sum(col("n_tok")).as("toks"))
    import s.implicits._
    val tgt = MixTargets.toDF("lang", "pct")
    val b = tot.join(broadcast(tgt), Seq("lang"))
    val budget = b.agg(min(expr("toks * 100 div pct")).as("t"))
    val rates = b.crossJoin(broadcast(budget))
      .select(col("lang"), col("pct"), col("toks"),
        expr("(pct * t) div 100").as("keep_toks"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(expr("CAST(h AS DECIMAL(38,0)) * CAST(toks AS DECIMAL(38,0)) < " +
        s"CAST(keep_toks AS DECIMAL(38,0)) * CAST($Pow60 AS DECIMAL(38,0))"))
      .groupBy(col("lang"), col("pct"), col("toks"), col("keep_toks"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("toks_kept"))
      .select(col("lang"), col("pct").as("target_pct"),
        expr("(keep_toks * 1000000) div toks").as("rate_ppm"),
        col("n_kept"), col("toks_kept"))
  }

  val qMixtureSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60("CAST(doc_id AS VARCHAR)")
    val values = MixTargets
      .map { case (l, p) => s"('$l', CAST($p AS BIGINT))" }.mkString(", ")
    s"WITH docs AS (SELECT lang, doc_id, len($sqlToks) AS n_tok, $h AS h " +
      "FROM documents), " +
      s"tgt(lang, pct) AS (VALUES $values), " +
      "tot AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS toks FROM docs GROUP BY 1), " +
      "b AS (SELECT t.lang, pct, toks FROM tot t JOIN tgt USING (lang)), " +
      "budget AS (SELECT min(toks * 100 // pct) AS t FROM b), " +
      "rates AS (SELECT lang, pct, toks, (pct * t) // 100 AS keep_toks FROM b, budget), " +
      "kept AS (SELECT d.lang, d.n_tok, r.pct, r.toks, r.keep_toks " +
      "FROM docs d JOIN rates r USING (lang) " +
      s"WHERE CAST(d.h AS HUGEINT) * r.toks < CAST(r.keep_toks AS HUGEINT) * $Pow60) " +
      "SELECT lang, pct AS target_pct, " +
      "CAST((keep_toks * 1000000) // toks AS BIGINT) AS rate_ppm, " +
      "CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS toks_kept " +
      "FROM kept GROUP BY 1, 2, 3"
  }

  // ── Fixed-size per-group sample (eval-set carving) ─────────────────────
  // "Exactly k documents per language, reproducible forever" — the eval/
  // holdout carving step, complementing q_mixture's rate-based sampling
  // with an exact per-group COUNT. Deterministic order = (md5 hash60 of
  // doc_id, doc_id): a uniform pseudo-random draw both engines replay.
  // Scale shape: row_number ≤ k over a low-cardinality partition would
  // normally funnel the corpus through ~|langs| tasks, but the rank is
  // CAPPED — Spark plans it as WindowGroupLimit (per-partition top-k
  // heap BEFORE the exchange), so the shuffle carries ≤ k·|langs|·
  // partitions rows, never the corpus. PlanSpec pins the Partial group
  // limit; this is the one rank shape where a window IS the scale-safe
  // plan.
  private val SampleK = 30

  def qSampleGroup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(graft.functions.Md5Bits.hash60(col("doc_id")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), tokenCount(col("text")).as("n_tok"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SampleK)
  }

  val qSampleGroupSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60("CAST(doc_id AS VARCHAR)")
    s"SELECT lang, doc_id, n_tok, rk FROM (SELECT lang, doc_id, n_tok, " +
      s"CAST(row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS BIGINT) AS rk " +
      s"FROM (SELECT lang, doc_id, len($sqlToks) AS n_tok FROM documents) a) b " +
      s"WHERE rk <= $SampleK"
  }

  // ── Pattern redaction (the PII-masking shape) ──────────────────────────
  // Global regexp masking + hit counting + masked-content fingerprint —
  // the exact machinery of a PII scrubber (emails/phones/SSNs), pure
  // per-document column algebra, zero shuffle. The synthetic corpus
  // contains no PII-shaped strings, so the registered pattern masks
  // stopword tokens instead — same operator, nonzero matches; swap the
  // pattern constant for the real PII alternation in production. The
  // pattern avoids lookarounds so Java regex and RE2 (DuckDB) agree.
  private val RedactPattern = "\\b(?:the|a)\\b"
  private val RedactMask = "[MASK]"

  def qRedact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(RedactPattern), lit(0)))
        .cast("bigint").as("n_hits"),
      length(regexp_replace(col("text"), RedactPattern, RedactMask))
        .cast("bigint").as("n_chars_clean"),
      md5(regexp_replace(col("text"), RedactPattern, RedactMask)).as("clean_md5"))

  val qRedactSql: String =
    s"SELECT doc_id, len(regexp_extract_all(text, '$RedactPattern')) AS n_hits, " +
      s"length(regexp_replace(text, '$RedactPattern', '$RedactMask', 'g')) AS n_chars_clean, " +
      s"md5(regexp_replace(text, '$RedactPattern', '$RedactMask', 'g')) AS clean_md5 " +
      "FROM documents"

  // ── Inverted index with capped postings ────────────────────────────────
  // The retrieval-side complement of q_tfidf: postings are keyed by TERM
  // (tf-idf windows by document), giving each term its document frequency
  // and the top-`PostingsCap` posting rows ranked by (tf desc, doc_id).
  // Both window functions share one hash partitioning on term — a single
  // shuffle builds the whole index. The CAP is the scale story: a
  // stopword's postings list is bounded at PostingsCap rows no matter how
  // many billions of documents contain it (full-df retrieval engines keep
  // skip lists instead; a curation pipeline wants exactly this truncated
  // form for term statistics + exemplar lookup).
  private val PostingsCap = 5

  def qInvertedIndex(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy(col("term"))
    tf.withColumn("rnk",
        row_number().over(byTerm.orderBy(col("tf").desc, col("doc_id").asc)))
      .withColumn("df_docs", count(lit(1)).over(byTerm))
      .filter(col("rnk") <= PostingsCap)
      .select(col("term"), col("df_docs"), col("rnk"), col("doc_id"), col("tf"))
  }

  val qInvertedIndexSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
        r AS (SELECT term, doc_id, tf,
                row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rnk,
                count(*) OVER (PARTITION BY term) AS df_docs FROM tf)
        SELECT term, df_docs, rnk, doc_id, tf FROM r WHERE rnk <= $PostingsCap"""

  // ── Document chunking (overlapping fixed-size windows) ─────────────────
  // The RAG/pretraining prep step: split each document into
  // ChunkSize-char windows every ChunkStride chars (100-char overlap so
  // no boundary sentence is lost). Pure per-document column algebra —
  // sequence + explode + substring, zero shuffle, embarrassingly parallel
  // at 100 TB. Chunks are identified by (doc_id, chunk_no) with a
  // content md5 so a downstream exact-dedup pass (q_dedup_exact) can
  // collapse identical chunks across documents. greatest(0, …) keeps the
  // chunk enumerator total on empty docs — and dodges Spark's
  // sequence(0, -1) counting DOWN instead of returning empty.
  private val ChunkSize = 400
  private val ChunkStride = 300

  def qChunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          greatest(lit(0L),
            floor((length(col("text")) - 1) / ChunkStride).cast("long")))).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        (col("chunk_no") * ChunkStride + 1).as("start_pos"),
        expr(s"substring(text, CAST(chunk_no * $ChunkStride + 1 AS INT), $ChunkSize)").as("c"))
      .select(col("doc_id"), col("chunk_no"), col("start_pos"),
        length(col("c")).cast("bigint").as("chunk_len"), md5(col("c")).as("chunk_md5"))

  // list-form generate_series + unnest: DuckDB's lateral table function
  // rejects per-row (column) bounds, the list form accepts them
  val qChunkSql: String =
    s"SELECT doc_id, chunk_no, chunk_no * $ChunkStride + 1 AS start_pos, " +
      "length(c) AS chunk_len, md5(c) AS chunk_md5 " +
      s"FROM (SELECT doc_id, q AS chunk_no, " +
      s"substring(text, CAST(q * $ChunkStride + 1 AS INT), $ChunkSize) AS c " +
      "FROM (SELECT doc_id, text, unnest(generate_series(0, greatest(0, " +
      s"CAST(floor((length(text) - 1) / $ChunkStride) AS BIGINT)))) AS q " +
      "FROM documents) u) a"

  // ── Weighted Bernoulli sampling (rate-proportional curation) ───────────
  // The zero-shuffle sibling of q_sample_stratified: instead of exact
  // per-stratum quotas (which need a per-stratum ranking shuffle), each
  // doc keeps or drops INDEPENDENTLY with a language-dependent rate —
  // keep iff md5-hash(salt+id) mod 10⁴ < bps(lang). A pure filter:
  // no shuffle, no sort, no state, embarrassingly parallel at any scale,
  // and deterministic — the same doc survives on every engine, run, and
  // cluster size (the property "sample twice, get the same corpus"
  // training reproducibility depends on). The query reports per-language
  // achieved rates against the configured bps.
  private val SampleBps: Map[String, Int] =
    Map("en" -> 8000, "de" -> 5000, "fr" -> 5000) // others 2000
  private val DefaultBps = 2000

  def qSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val bps = SampleBps.foldLeft(lit(DefaultBps)) { case (acc, (l, b)) =>
      when(col("lang") === l, lit(b)).otherwise(acc)
    }
    val kept = (graft.functions.Md5Bits.hash60(
      concat(lit("ws:"), col("doc_id"))) % 10000 < bps)
    Tables.documents(s, d)
      .select(col("lang"), when(kept, 1L).otherwise(0L).as("k"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("k")).cast("long").as("n_kept"))
      .withColumn("rate", round(col("n_kept").cast("double") / col("n_docs"), 6))
  }

  val qSampleWeightedSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60("'ws:' || CAST(doc_id AS VARCHAR)")
    val bps = "CASE " + SampleBps.toSeq.sortBy(_._1).map { case (l, b) =>
      s"WHEN lang = '$l' THEN $b" }.mkString(" ") + s" ELSE $DefaultBps END"
    s"SELECT lang, count(*) AS n_docs, " +
      s"CAST(sum(CASE WHEN $h % 10000 < $bps THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      s"round(CAST(sum(CASE WHEN $h % 10000 < $bps THEN 1 ELSE 0 END) AS BIGINT) " +
      "/ CAST(count(*) AS DOUBLE), 6) AS rate " +
      "FROM documents GROUP BY 1"
  }

  // ── Bigram LM scoring (model-based quality signal) ─────────────────────
  // KenLM-style corpus filtering in miniature: fit a bigram model on the
  // corpus itself (P(w2|w1) = c(w1 w2) / prefix-count(w1)), then score
  // each document by its mean log-probability — low scorers are the
  // incoherent docs every LM-based quality gate drops. The per-bigram
  // log-prob is quantized to integer micro-nats BEFORE summing (one
  // rounded libm call per distinct bigram, like q_pmi's), so the per-doc
  // sum is exact integer arithmetic in any partition order and only the
  // final mean divides in doubles. Model and scoring share one bigram
  // shuffle key; prefix counts fold out of the bigram counts themselves
  // (no second corpus scan).
  def qLmScore(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val sh = toks.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(t) - 1), " +
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("bg"))
    val c2 = sh.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = c2
      .groupBy(element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("c2")).cast("long").as("c1"))
    // both quantizations via Canon (floor(x·10ⁿ + 0.5)), NOT round():
    // micro-nat ratios land exactly on .5 boundaries where the engines'
    // round() implementations legally disagree (r16 float-canon audit)
    val model = c2
      .join(c1, element_at(split(col("bg"), " "), 1) === col("w1"))
      .select(col("bg"),
        Canon.qlong(log(col("c2").cast("double") / col("c1").cast("double")),
          1000000.0).as("sm"))
    sh.join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("sm")).cast("long").as("ssum"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("ssum").cast("double") / col("n_bigrams") + 0.5) / 1e6)
          .as("lm_score"))
  }

  val qLmScoreSql: String =
    s"WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents), " +
      "sh AS (SELECT doc_id, unnest(list_transform(" +
      "generate_series(1, greatest(len(t) - 1, 0)), i -> t[i] || ' ' || t[i+1])) AS bg " +
      "FROM toks), " +
      "c2 AS (SELECT bg, count(*) AS c2 FROM sh GROUP BY 1), " +
      "c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1 " +
      "FROM c2 GROUP BY 1), " +
      "model AS (SELECT bg, CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) " +
      "* 1000000.0 + 0.5) AS BIGINT) AS sm FROM c2 JOIN c1 ON string_split(bg, ' ')[1] = w1), " +
      "agg AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(sm) AS BIGINT) AS ssum " +
      "FROM sh JOIN model USING (bg) GROUP BY 1) " +
      "SELECT doc_id, n_bigrams, " +
      "floor(CAST(ssum AS DOUBLE) / n_bigrams + 0.5) / 1e6 AS lm_score FROM agg"

  // ── PMI word association (embedding-prep co-occurrence scores) ─────────
  // Pointwise mutual information over document-level co-occurrence — the
  // statistic word-vector pipelines (GloVe/SGNS shifted-PMI) start from.
  // Presence-based: c12 = docs containing both words, c1/c2 = doc
  // frequency, pmi = ln(N·c12 / (c1·c2)). Pairs are generated from each
  // doc's SORTED DISTINCT token array (the same basket-explode shape as
  // the co-purchase graph — one shuffle on the pair key, never a
  // doc×doc join); doc frequencies are vocabulary-sized and broadcast.
  // All counts stay integers; the single ln runs on one exactly-computed
  // double and is rounded to 6 decimals (the HLL precedent for lone libm
  // calls under the hash gate). Top-30 by support via TakeOrdered.
  private val PmiMinDf = 5
  private val PmiTopK = 30

  def qPmi(s: SparkSession, d: String): DataFrame = {
    // docWords feeds the df pass AND the pair expansion; dfreq feeds the
    // support filter and both final broadcasts — materialized once each,
    // or the corpus is re-tokenized per consumer (~5 scan+tokenize passes
    // in the old plan; guide §1.2 step 1 / §5)
    val docWords = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("word"))
      .transform(graft.operators.IterCheckpoint(_))
    val dfreq = docWords.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .transform(graft.operators.IterCheckpoint(_))
    // LOSSLESS support prefilter (the a-priori property, like q_itemsets):
    // c12 ≤ min(c1, c2), so a pair can only survive the c12 ≥ PmiMinDf
    // floor if BOTH words have document frequency ≥ PmiMinDf — prune
    // rare words BEFORE the quadratic per-doc pair explode. On an
    // open-vocabulary corpus most of the vocabulary is rare (Zipf tail),
    // so this removes most pair rows: measured 119 → ~14 s at sf1. One
    // extra keyed shuffle of (doc, word) pairs buys it.
    val freq = dfreq.filter(col("c") >= PmiMinDf).select(col("word"))
    val pairs = docWords.join(freq, Seq("word"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("word"))).as("ws"))
      .select(explode(expr(
        "flatten(transform(ws, (x, i) -> " +
          "transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= PmiMinDf)
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
    pairs
      .join(broadcast(dfreq.select(col("word").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(dfreq.select(col("word").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(nDocs))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("nd") * col("c12")).cast("double") /
          (col("c1") * col("c2")).cast("double")), 6).as("pmi"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val qPmiSql: String =
    s"WITH dw AS (SELECT DISTINCT doc_id, word FROM " +
      s"(SELECT doc_id, unnest($sqlToks) AS word FROM documents) t), " +
      "dfreq AS (SELECT word, count(*) AS c FROM dw GROUP BY 1), " +
      // the same lossless df >= PmiMinDf prefilter as the engine plan
      s"dwf AS (SELECT dw.doc_id, dw.word FROM dw " +
      s"JOIN dfreq USING (word) WHERE dfreq.c >= $PmiMinDf), " +
      "pairs AS (SELECT a.word AS w1, b.word AS w2, count(*) AS c12 FROM dwf a " +
      "JOIN dwf b ON a.doc_id = b.doc_id AND a.word < b.word " +
      s"GROUP BY 1, 2 HAVING count(*) >= $PmiMinDf), " +
      "n AS (SELECT count(*) AS nd FROM documents) " +
      "SELECT w1, w2, c12, " +
      "round(ln(CAST(nd * c12 AS DOUBLE) / CAST(a.c * b.c AS DOUBLE)), 6) AS pmi " +
      "FROM pairs, n " +
      "JOIN dfreq a ON w1 = a.word JOIN dfreq b ON w2 = b.word " +
      s"ORDER BY c12 DESC, w1, w2 LIMIT $PmiTopK"

  // ── Vocabulary coverage curve (tokenizer budget planning) ──────────────
  // For a vocab budget of k, what fraction of all token occurrences do
  // the top-k words cover? The question every tokenizer/vocab build asks
  // first. Plan: full word count (partial-aggregated), top-100 via
  // TakeOrdered (no global sort of the vocabulary), corpus total as a
  // one-row broadcast, then the cumulative share on the 100 surviving
  // rows — the only unpartitioned window in the plan runs on exactly 100
  // rows whatever the corpus size.
  def qVocab(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("long").as("tot"))
    val byCount = Window.orderBy(col("cnt").desc, col("word").asc)
    counts.orderBy(col("cnt").desc, col("word").asc).limit(100)
      .withColumn("rank", row_number().over(byCount).cast("long"))
      .withColumn("cum",
        sum(col("cnt")).over(byCount.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("word"), col("cnt"),
        round(col("cum").cast("double") / col("tot"), 6).as("cum_share"))
  }

  val qVocabSql: String =
    "WITH wc AS (SELECT word, count(*) AS cnt FROM " +
      "(SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word " +
      "FROM documents) t WHERE length(word) > 0 GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM wc), " +
      "top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 100) " +
      "SELECT row_number() OVER o AS rank, word, cnt, " +
      "round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot, 6) AS cum_share " +
      "FROM top, tot WINDOW o AS (ORDER BY cnt DESC, word)"

  // ── Per-source boilerplate detection ───────────────────────────────────
  // The domain-level companion of the per-document q_dup_spans signal: for
  // every source, the most-repeated 5-token span and its share of the
  // source's span positions — the report a curation run reads to decide
  // which domains need template stripping before dedup (headers, footers,
  // cookie banners dominate exactly this statistic on real crawls). Two
  // shuffles — (source, span) counts, then an argmax-struct rollup per
  // source (partial-aggregating max, NO window) — so no stage is wider
  // than the span-count table and nothing funnels through one task.
  private val BoilerW = 5

  def qBoilerplate(s: SparkSession, d: String): DataFrame = {
    // codegen positional shingles — the column-algebra spelling costs
    // O(len²) interpreted work per doc (measured 17× on this query)
    val spans = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Shingles.shinglesAll(col("text"), BoilerW)).as("sh"))
    val counts = spans.groupBy(col("source"), col("sh"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("source"))
      .agg(max(struct(col("cnt"), col("sh"))).as("top"),
        sum(col("cnt")).as("n_spans"))
      .select(col("source"), col("top.sh").as("top_span"),
        col("top.cnt").as("n_top"), col("n_spans"),
        round(col("top.cnt").cast("double") / col("n_spans"), 6).as("top_share"))
  }

  val qBoilerplateSql: String = {
    val cat = (0 until BoilerW)
      .map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"WITH toks AS (SELECT source, $sqlTokens AS t FROM documents), " +
      "sp AS (SELECT source, unnest(list_transform(" +
      s"generate_series(1, greatest(len(t) - ${BoilerW - 1}, 0)), " +
      s"i -> $cat)) AS sh FROM toks), " +
      "c AS (SELECT source, sh, count(*) AS cnt FROM sp GROUP BY 1, 2), " +
      "r AS (SELECT source, sh, cnt, " +
      // (cnt DESC, sh DESC): the same total order max(struct(cnt, sh))
      // induces on the engine side — ties on count go to the larger span
      "row_number() OVER (PARTITION BY source ORDER BY cnt DESC, sh DESC) AS rn, " +
      "CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_spans FROM c) " +
      "SELECT source, sh AS top_span, cnt AS n_top, n_spans, " +
      "round(CAST(cnt AS DOUBLE) / n_spans, 6) AS top_share FROM r WHERE rn = 1"
  }

  // ── BPE first-merge statistics (tokenizer training round) ──────────────
  // The counting kernel of byte-pair-encoding training (Sennrich et al.
  // 2016): weight every adjacent character pair inside each distinct
  // word by the word's corpus frequency and rank the pairs — the top
  // entry is the first merge a BPE tokenizer trained on this corpus
  // would learn. Distributed exactly as a tokenizer trainer must be at
  // 100 TB: one shuffle to the frequency-weighted vocabulary (its size,
  // not the corpus's), pairs explode from the VOCABULARY, one shuffle on
  // pair text, and a TakeOrdered top-20 — the corpus itself is read
  // once, and no stage is corpus-sized after the first aggregate.
  private val BpeTopPairs = 20

  def qBpeMerges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wf = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val pairs = wf.filter(length(col("w")) >= 2)
      .select(col("f"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("n"))
    val byCount = Window.orderBy(col("n").desc, col("p").asc)
    pairs.orderBy(col("n").desc, col("p").asc).limit(BpeTopPairs)
      .withColumn("rnk", row_number().over(byCount).cast("long"))
      .select(col("rnk"), col("p"), col("n"))
  }

  val qBpeMergesSql: String =
    s"WITH words AS (SELECT unnest($sqlTokens) AS w FROM documents), " +
      "wf AS (SELECT w, count(*) AS f FROM words GROUP BY 1), " +
      "pr AS (SELECT substr(w, CAST(i AS INT), 2) AS p, f FROM (" +
      "SELECT w, f, unnest(generate_series(1, length(w) - 1)) AS i " +
      "FROM wf WHERE length(w) >= 2)), " +
      "pc AS (SELECT p, CAST(sum(f) AS BIGINT) AS n FROM pr GROUP BY 1) " +
      "SELECT row_number() OVER (ORDER BY n DESC, p) AS rnk, p, n " +
      s"FROM pc ORDER BY n DESC, p LIMIT $BpeTopPairs"

  // ── BPE training loop (iterative merges, applied) ──────────────────────
  // The full tokenizer-training iteration q_bpe_merges only samples the
  // first round of: K times, count frequency-weighted adjacent symbol
  // pairs over the VOCABULARY, pick the argmax (count desc, pair asc —
  // total order, so the learned merge table is reproducible anywhere),
  // APPLY the merge to every word's symbol sequence, recount. State is
  // one row per distinct word (vocab-sized — the corpus is read once,
  // then never again), refreshed per round through the same eager
  // localCheckpoint discipline as PageRank/KMeans.
  //
  // Merge application must be leftmost-non-overlapping (BPE's rule:
  // "a a a" + merge(a,a) → "aa a", not "aa aa"). Symbol sequences are
  // kept as TWO-SPACE-joined strings with single-space ends, because
  // then one `replace(r, ' a  b ', ' ab ')` IS that rule on both
  // engines: each match consumes one space from each flanking
  // two-space run, so consecutive matches chain ("a b a b" merges
  // twice) while overlapping ones cannot ("a a a" merges once), and
  // the replacement restores the invariant. The oracle replays the
  // identical K rounds as unrolled CTEs.
  private val BpeTrainRounds = 3

  /** The K learned merges, one single-row (eagerly materialized)
    * DataFrame per step in training order — shared by the train report
    * and the tokenizer-apply query. */
  private[queries] def bpeTrainMerges(s: SparkSession, d: String): Seq[DataFrame] = {
    val wf = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("r", expr("concat(' ', array_join(transform(" +
        "sequence(1, length(w)), i -> substr(w, i, 1)), '  '), ' ')"))
      .select(col("f"), col("r"))
      .localCheckpoint(true)
    def pairCounts(state: DataFrame): DataFrame = state
      .select(col("f"), expr("split(trim(r), '  ')").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("f"), explode(expr("transform(sequence(1, size(t) - 1), " +
        "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("f")).as("n"))
    var state = wf
    (1 to BpeTrainRounds).map { step =>
      val best = pairCounts(state)
        .orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
        .select(lit(step).as("step"), col("a"), col("b"), col("n"))
        .localCheckpoint(true) // single row; drives both output and state
      state = state
        .crossJoin(broadcast(best.select(col("a").as("ma"), col("b").as("mb"))))
        .withColumn("r", expr("replace(r, " +
          "concat(' ', ma, '  ', mb, ' '), concat(' ', ma, mb, ' '))"))
        .select(col("f"), col("r"))
        .localCheckpoint(true)
      best
    }
  }

  def qBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainMerges(s, d).reduce(_ unionAll _)

  val qBpeTrainSql: String = {
    def round(i: Int): String = {
      val prev = s"s${i - 1}"
      s"p$i AS (SELECT t[i] AS a, t[i+1] AS b, CAST(sum(f) AS BIGINT) AS n " +
        "FROM (SELECT f, t, unnest(generate_series(1, len(t) - 1)) AS i " +
        s"FROM (SELECT f, str_split(trim(r), '  ') AS t FROM $prev) z " +
        "WHERE len(t) >= 2) y GROUP BY 1, 2), " +
        s"b$i AS MATERIALIZED (SELECT $i AS step, a, b, n FROM p$i " +
        "ORDER BY n DESC, a, b LIMIT 1), " +
        s"s$i AS MATERIALIZED (SELECT f, replace(r, " +
        s"' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ', " +
        s"' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS r FROM $prev)"
    }
    s"WITH words AS (SELECT unnest($sqlTokens) AS w FROM documents), " +
      "wf AS (SELECT w, count(*) AS f FROM words GROUP BY 1), " +
      "s0 AS MATERIALIZED (SELECT f, ' ' || array_to_string(list_transform(" +
      "generate_series(1, length(w)), i -> w[i]), '  ') || ' ' AS r FROM wf), " +
      (1 to BpeTrainRounds).map(round).mkString(", ") + " " +
      "SELECT CAST(step AS INT) AS step, a, b, n FROM (" +
      (1 to BpeTrainRounds).map(i => s"SELECT * FROM b$i")
        .mkString(" UNION ALL ") + ") m"
  }

  // ── Tokenizer apply (encode the corpus with the learned merges) ────────
  // The other half of the q_bpe_train loop: encode every document with
  // the learned merge table, in training order, and report the
  // compression it buys per source — symbols per character before/after,
  // the number a tokenizer-budget decision reads. The merge table (K
  // single rows) broadcast-joins onto the token stream, application is
  // the same leftmost-non-overlapping replace chain, and the rollup is
  // one partial-agg shuffle on source — the corpus is scanned once, the
  // merge table never grows with data.
  //
  // (r18 tried the guide-§8 respell — encode once per DISTINCT word from
  // the trainer's final state, corpus pass reduced to a (source, word)
  // count: with the pair table checkpointed it measured +15%
  // drift-adjusted at sf1, without +79% — the added (source, word)
  // shuffle/materialization costs more than the per-token string work it
  // saves. This spelling is already scale-clean: map-only codegen over
  // one scan feeding a map-side-combined source-sized aggregate, no
  // data-sized exchange anywhere, and it scales 4.9× from 8→32 cores.)
  def qBpeApply(s: SparkSession, d: String): DataFrame = {
    val merges = bpeTrainMerges(s, d)
    val mtab = merges.map(m => broadcast(m.select(
      concat(lit(" "), col("a"), lit("  "), col("b"), lit(" ")).as(s"pat"),
      concat(lit(" "), col("a"), col("b"), lit(" ")).as(s"rep"))))
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .withColumn("r", expr("concat(' ', array_join(transform(" +
        "sequence(1, length(w)), i -> substr(w, i, 1)), '  '), ' ')"))
    val applied = mtab.zipWithIndex.foldLeft(toks) { case (df, (m, i)) =>
      df.crossJoin(m.select(col("pat").as(s"p$i"), col("rep").as(s"q$i")))
        .withColumn("r", expr(s"replace(r, p$i, q$i)"))
        .drop(s"p$i", s"q$i")
    }
    applied
      .select(col("source"), length(col("w")).cast("long").as("chars"),
        size(expr("split(trim(r), '  ')")).cast("long").as("symbols"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("chars")).as("sum_chars"),
        sum(col("symbols")).as("sum_symbols"))
      .select(col("source"), col("n_tokens"), col("sum_chars"),
        col("sum_symbols"),
        round(col("sum_symbols").cast("double") / col("sum_chars"), 6)
          .as("symbols_per_char"))
  }

  val qBpeApplySql: String = {
    // the same K training rounds as qBpeTrainSql, then the encode pass
    def round(i: Int): String = {
      val prev = s"s${i - 1}"
      s"p$i AS (SELECT t[i] AS a, t[i+1] AS b, CAST(sum(f) AS BIGINT) AS n " +
        "FROM (SELECT f, t, unnest(generate_series(1, len(t) - 1)) AS i " +
        s"FROM (SELECT f, str_split(trim(r), '  ') AS t FROM $prev) z " +
        "WHERE len(t) >= 2) y GROUP BY 1, 2), " +
        s"b$i AS MATERIALIZED (SELECT $i AS step, a, b, n FROM p$i " +
        "ORDER BY n DESC, a, b LIMIT 1), " +
        s"s$i AS MATERIALIZED (SELECT f, replace(r, " +
        s"' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ', " +
        s"' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS r FROM $prev)"
    }
    val applyChain = (1 to BpeTrainRounds).foldLeft("r0") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ', " +
        s"' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ')"
    }
    s"WITH words AS (SELECT unnest($sqlTokens) AS w FROM documents), " +
      "wf AS (SELECT w, count(*) AS f FROM words GROUP BY 1), " +
      "s0 AS MATERIALIZED (SELECT f, ' ' || array_to_string(list_transform(" +
      "generate_series(1, length(w)), i -> w[i]), '  ') || ' ' AS r FROM wf), " +
      (1 to BpeTrainRounds).map(round).mkString(", ") + ", " +
      s"docs AS (SELECT source, unnest($sqlTokens) AS w FROM documents), " +
      "enc0 AS (SELECT source, w, ' ' || array_to_string(list_transform(" +
      "generate_series(1, length(w)), i -> w[i]), '  ') || ' ' AS r0 FROM docs), " +
      s"enc AS (SELECT source, w, $applyChain AS r FROM enc0) " +
      "SELECT source, count(*) AS n_tokens, " +
      "CAST(sum(length(w)) AS BIGINT) AS sum_chars, " +
      "CAST(sum(len(str_split(trim(r), '  '))) AS BIGINT) AS sum_symbols, " +
      "round(CAST(sum(len(str_split(trim(r), '  '))) AS DOUBLE) / " +
      "sum(length(w)), 6) AS symbols_per_char FROM enc GROUP BY 1"
  }

  // ── Unigram-LM (SentencePiece-style) tokenizer training ────────────────
  // The other tokenizer-training family next to BPE (q_bpe_train): Kudo
  // 2018's unigram language model, in its deterministic hard-EM (Viterbi)
  // form so a SQL oracle replays it bit-for-bit. Seed vocabulary = every
  // observed character plus the top-`UlmMulti` substrings (≤ UlmMaxPiece
  // chars) by corpus weight; then `UlmEmRounds` rounds of: E-step —
  // Viterbi-segment every word under integer micro-nat piece costs (the
  // q_lm_score quantization discipline: one rounded libm ln per piece
  // per round, all comparisons exact BIGINT), M-step — re-score pieces
  // from their usage counts (unused pieces get a floor cost, keeping the
  // vocab fixed and coverage guaranteed since every char stays present).
  // The per-word DP is the native UnigramSegment expression (imperative
  // Viterbi, microseconds per word) — corpus-keyed, zero shuffle beyond
  // the word-frequency and count aggregations, vocab-sized state
  // broadcast as a foldable map literal (the KMeans bounded-collect
  // precedent).
  // Viterbi ties break deterministically: min cost, then smallest start
  // s (= LONGER piece wins). The oracle's backtrace encodes that same
  // argmin as one BIGINT key = cost*16 + s — identical because s < 16
  // for every replayed word (UlmMaxWLen=12); the native expression uses
  // the explicit two-key comparison, safe for any word length. At 100 TB the
  // plan is one token-count shuffle + per-round (projection + vocab-
  // sized aggregation) — model state never grows with the corpus.
  private val UlmMaxWLen = 12
  private val UlmMaxPiece = 4
  private val UlmMulti = 64
  private val UlmEmRounds = 2
  private val UlmFloor = 30000000L
  private val UlmInf = 1000000000000000L
  private val UlmTop = 40

  private def ulmWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) <= UlmMaxWLen)
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))

  /** One Viterbi E-step: segment every word under `vocab` (piece →
    * integer micro-nat cost) and return (piece, cnt) usage counts.
    * Segmentation is the native [[graft.functions.UnigramSegment]]
    * expression (imperative DP, microseconds per word); the original
    * nested aggregate/transform column-algebra spelling was interpreted
    * AND got cloned into a pushed-down filter by InferFiltersFromGenerate,
    * landing >20 minutes of single-task work at sf1 — see the
    * expression's scaladoc. The oracle SQL below still replays the
    * identical DP (same costs, same ·16+s tie-break). */
  private def ulmEStep(words: DataFrame, vocab: Map[String, Long]): DataFrame = {
    words
      .select(col("wfreq"), explode(
        graft.functions.UnigramSegment.segment(col("word"), vocab, UlmMaxPiece))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("wfreq")).cast("long").as("cnt"))
  }

  /** Quantized score table from counts: cost = round(−ln(cnt/tot)·1e6)
    * computed IN SPARK (bounded vocab-sized result, then collected). */
  private def ulmScore(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("tot"))))
      .select(col("piece"),
        round(-log(col("cnt").cast("double") / col("tot").cast("double")) *
          lit(1000000.0)).cast("long").as("cost"))

  private def collectVocab(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def qUnigramLm(s: SparkSession, d: String): DataFrame = {
    // The word table is tiny on disk but every E-step row carries DP work,
    // so don't let AQE's size-based coalescing funnel the segmentation into
    // 1-2 tasks: an explicit repartition to full parallelism keeps the
    // compute (not the bytes) balanced. (AQE honors an explicit-count
    // repartition — it never coalesces REPARTITION_BY_NUM shuffles.)
    val words = ulmWords(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed: all substrings ≤ UlmMaxPiece chars weighted by word freq
    val seed = words
      .select(col("word"), col("wfreq"), explode(expr(
        s"""flatten(transform(sequence(0, length(word) - 1), s ->
           transform(sequence(s + 1, least(s + $UlmMaxPiece, length(word))),
             e -> named_struct('s', s, 'e', e))))""")).as("pe"))
      .select(expr("substring(word, pe.s + 1, pe.e - pe.s)").as("piece"),
        col("wfreq"))
      .groupBy(col("piece")).agg(sum(col("wfreq")).cast("long").as("cnt"))
    val singles = seed.filter(length(col("piece")) === 1)
    val multis = seed.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(UlmMulti)
    val vsel = singles.unionAll(multis)
    var vocab = collectVocab(ulmScore(vsel))
    var counts: DataFrame = null
    for (_ <- 1 to UlmEmRounds) {
      val prev = counts
      // persist: each round's counts are vocab-sized (hundreds of rows),
      // and the M-step collect below materializes the cache — so the
      // returned plan reads the FINAL round's cached counts instead of
      // replaying the whole corpus segmentation twice more (the agg
      // broadcast side and the main side each re-derive `counts`)
      counts = ulmEStep(words, vocab)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // M-step: rescore used pieces, floor the unused (vocab stays fixed)
      val rescored = vsel.select(col("piece"))
        .join(ulmScore(counts).withColumnRenamed("cost", "c2"), Seq("piece"), "left")
        .select(col("piece"), coalesce(col("c2"), lit(UlmFloor)).as("cost"))
      vocab = collectVocab(rescored)
      if (prev != null) prev.unpersist(false)
    }
    val out = counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("tot"))))
      .select(col("piece"), col("cnt").as("n_uses"),
        round(-log(col("cnt").cast("double") / col("tot").cast("double")) *
          lit(1000000.0)).cast("long").as("lp_micro"))
      .orderBy(col("n_uses").desc, col("piece").asc).limit(UlmTop)
    // safe: the final round's counts cache is already materialized (the
    // M-step collect forced it), so `out` never re-reads words. The final
    // counts cache itself is vocab-sized (hundreds of rows) and must stay
    // live for the caller's consumption of `out`.
    words.unpersist(false)
    out
  }

  val qUnigramLmSql: String = {
    // one E-step as recursive-CTE DP + backtrace; `vocab$r(piece, cost)`
    // must exist; defines cnt$r(piece, cnt)
    def eStep(r: Int): String = {
      val (wm, dp, dpf, bt, cnt) = (s"wm$r", s"dp$r", s"dpf$r", s"bt$r", s"cnt$r")
      s"$wm AS (SELECT c.word, any_value(c.wfreq) AS wfreq, " +
        "CAST(any_value(length(c.word)) AS INT) AS len, " +
        "list(struct_pack(s := c.s, e := c.e, cost := v.cost) ORDER BY c.e, c.s) AS ms " +
        s"FROM cand c JOIN vocab$r v USING (piece) GROUP BY c.word), " +
      s"$dp AS (SELECT word, wfreq, len, ms, 0 AS p, [CAST(0 AS BIGINT)] AS best FROM $wm " +
        "UNION ALL SELECT word, wfreq, len, ms, p + 1, " +
        "list_append(best, coalesce(list_min(list_transform(" +
        "list_filter(ms, m -> m.e = p + 1), m -> best[m.s + 1] + m.cost)), " +
        s"CAST($UlmInf AS BIGINT))) FROM $dp WHERE p < len), " +
      s"$dpf AS (SELECT word, wfreq, len, ms, best FROM $dp WHERE p = len), " +
      s"$bt AS (SELECT word, wfreq, ms, best, len AS pos, CAST(NULL AS VARCHAR) AS piece FROM $dpf " +
        "UNION ALL SELECT word, wfreq, ms, best, CAST(k % 16 AS INT) AS pos, " +
        "substr(word, CAST(k % 16 AS INT) + 1, oldpos - CAST(k % 16 AS INT)) AS piece " +
        "FROM (SELECT word, wfreq, ms, best, pos AS oldpos, " +
        "list_min(list_transform(list_filter(ms, m -> m.e = pos), " +
        s"m -> (best[m.s + 1] + m.cost) * 16 + m.s)) AS k FROM $bt WHERE pos > 0) z), " +
      s"$cnt AS MATERIALIZED (SELECT piece, CAST(sum(wfreq) AS BIGINT) AS cnt " +
        s"FROM $bt WHERE piece IS NOT NULL GROUP BY 1)"
    }
    def mStep(r: Int): String =
      s"t$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM cnt$r), " +
      s"vocab${r + 1} AS MATERIALIZED (SELECT v.piece, " +
        s"CASE WHEN c.cnt IS NULL THEN CAST($UlmFloor AS BIGINT) " +
        "ELSE CAST(round(-ln(CAST(c.cnt AS DOUBLE) / t.tot) * 1000000.0) AS BIGINT) END AS cost " +
        s"FROM vocab1 v LEFT JOIN cnt$r c USING (piece), t$r t)"
    "WITH RECURSIVE words AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wfreq " +
      s"FROM (SELECT unnest($sqlToks) AS word FROM documents) " +
      s"WHERE length(word) <= $UlmMaxWLen GROUP BY 1), " +
      "c1 AS (SELECT word, wfreq, " +
      "unnest(generate_series(0, CAST(length(word) AS INT) - 1)) AS s FROM words), " +
      "c2 AS (SELECT word, wfreq, s, " +
      s"unnest(generate_series(s + 1, least(s + $UlmMaxPiece, CAST(length(word) AS INT)))) AS e FROM c1), " +
      "cand AS MATERIALIZED (SELECT word, wfreq, s, e, substr(word, s + 1, e - s) AS piece FROM c2), " +
      "seed AS (SELECT piece, CAST(sum(wfreq) AS BIGINT) AS cnt FROM cand GROUP BY 1), " +
      "vsel AS MATERIALIZED (SELECT piece, cnt FROM seed WHERE length(piece) = 1 " +
      "UNION ALL SELECT piece, cnt FROM (SELECT piece, cnt FROM seed " +
      s"WHERE length(piece) >= 2 ORDER BY cnt DESC, piece ASC LIMIT $UlmMulti) m), " +
      "vt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vsel), " +
      "vocab1 AS MATERIALIZED (SELECT piece, " +
      "CAST(round(-ln(CAST(cnt AS DOUBLE) / t.tot) * 1000000.0) AS BIGINT) AS cost " +
      "FROM vsel, vt t), " +
      (1 to UlmEmRounds).map(r =>
        if (r < UlmEmRounds) eStep(r) + ", " + mStep(r)
        else eStep(r)).mkString(", ") + ", " +
      s"tf AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM cnt$UlmEmRounds) " +
      s"SELECT piece, cnt AS n_uses, " +
      "CAST(round(-ln(CAST(cnt AS DOUBLE) / t.tot) * 1000000.0) AS BIGINT) AS lp_micro " +
      s"FROM cnt$UlmEmRounds, tf t " +
      s"ORDER BY n_uses DESC, piece ASC LIMIT $UlmTop"
  }

  // ── Source vocabulary overlap (corpus comparison matrix) ───────────────
  // Pairwise vocabulary Jaccard between sources — the corpus-drift /
  // provenance-comparison report ("are these two crawls the same
  // distribution?"). The q_user_overlap discipline on text: the corpus
  // reduces to DISTINCT (source, token) rows, each token emits the
  // sorted pairs of its source list (≤ |sources| per token — never an
  // all-pairs stage over tokens), and |A∪B| = |A|+|B|−|A∩B| from the
  // broadcast per-source vocabulary sizes. Output is |sources|²/2 rows
  // at any corpus size.
  def qSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sv = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sv.groupBy(col("tok"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr("flatten(transform(ss, (x, i) -> " +
        "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("a"), col("n").as("na"))), Seq("a"))
      .join(broadcast(sizes.select(col("source").as("b"), col("n").as("nb"))), Seq("b"))
      .select(col("a"), col("b"), col("n_shared"),
        (col("na") + col("nb") - col("n_shared")).as("n_union"),
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")), 6).as("jaccard_r"))
  }

  val qSourceOverlapSql: String =
    s"WITH sv AS (SELECT DISTINCT source, tok FROM " +
      s"(SELECT source, unnest($sqlTokens) AS tok FROM documents)), " +
      "sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sv GROUP BY 1), " +
      "inter AS (SELECT x.source AS a, y.source AS b, " +
      "CAST(count(*) AS BIGINT) AS n_shared FROM sv x " +
      "JOIN sv y ON x.tok = y.tok AND x.source < y.source GROUP BY 1, 2) " +
      "SELECT a, b, n_shared, sa.n + sb.n - n_shared AS n_union, " +
      "round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard_r " +
      "FROM inter JOIN sizes sa ON sa.source = a JOIN sizes sb ON sb.source = b"

  // ── Zipf's-law fit over word frequencies ───────────────────────────────
  // Does the vocabulary follow the power law every natural corpus does?
  // OLS slope of ln(count) on ln(rank) over the top-200 words — the
  // q_degree_dist discipline applied to text: ranks via TakeOrdered
  // (deterministic (cnt desc, word) tiebreak, no global vocabulary
  // sort), each ln scaled to integer MICRO-NATS immediately so the
  // moment sums are exact BIGINT on both engines, doubles only in the
  // final slope/intercept. A healthy corpus fits near slope −1;
  // template-heavy or deduplication-starved corpora bend away.
  private val ZipfTop = 200

  def qZipf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val counts = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(ZipfTop)
    val ranked = counts
      .withColumn("rank",
        row_number().over(W.orderBy(col("cnt").desc, col("word").asc)).cast("long"))
      .withColumn("x", round(log(col("rank").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("y", round(log(col("cnt").cast("double")) * 1e6, 0).cast("long"))
    val m = ranked.agg(
      count(lit(1)).as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
    val fit = m.select(round(slope, 6).as("slope_r"))
    ranked.select(col("rank"), col("word"), col("cnt")).crossJoin(broadcast(fit))
  }

  val qZipfSql: String =
    "WITH counts AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (" +
      "SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM documents" +
      s") t WHERE length(word) > 0 GROUP BY word ORDER BY cnt DESC, word ASC LIMIT $ZipfTop), " +
      "ranked AS (SELECT word, cnt, " +
      "CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS rank FROM counts), " +
      "ln AS (SELECT rank, word, cnt, " +
      "CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x, " +
      "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y FROM ranked), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx FROM ln), " +
      "fit AS (SELECT round(CAST(k * sxy - sx * sy AS DOUBLE) / " +
      "CAST(k * sxx - sx * sx AS DOUBLE), 6) AS slope_r FROM m) " +
      "SELECT rank, word, cnt, slope_r FROM ranked, fit"

  // ── Okapi BM25 retrieval scoring ───────────────────────────────────────
  // Rank the corpus against a fixed keyword query — the lexical half of
  // every retrieval pipeline. Kept EXACT with the q_tfidf discipline
  // extended to BM25's shape: both factors are ratios of integers, so no
  // transcendental ever enters.
  //  - idf: the exponentiated Robertson idf, (N − df + ½)/(df + ½) =
  //    (2N − 2df + 1)/(2df + 1) — same per-term monotone ordering as the
  //    usual ln of it, as one exact integer ratio.
  //  - tf-norm: with k1 = 6/5 and b = 3/4, multiply through by 10·S
  //    (S = corpus token count): tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) =
  //    22·S·tf / (10·S·tf + 3·S + 9·dl·N). All BIGINT (≈1e16 at 100 TB,
  //    inside the 9.2e18 ceiling).
  // Per-term scores are quantized to integer micro-units BEFORE the
  // cross-term sum, so addition order can't diverge. Plan: ONE groupBy
  // doc_id computes dl and the per-query-term tfs together (the query
  // term list is a fixed literal — no (doc,term) shuffle at all); corpus
  // stats reduce to a 1-row broadcast. Top-k is a TakeOrdered.
  private val Bm25Terms = Seq("join", "scan", "window")
  private val Bm25TopK = 10

  def qBm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        Bm25Terms.map(t =>
          sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    val stats = perDoc.agg(
      sum(col("dl")).as("s_tok"),
      count(lit(1)).as("n_docs") +:
        Bm25Terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    val termMicro = Bm25Terms.map { t =>
      val tf = col(s"tf_$t"); val df = col(s"df_$t")
      val idf = (lit(2L) * col("n_docs") - lit(2L) * df + lit(1L)).cast("double") /
        (lit(2L) * df + lit(1L))
      val tfn = (lit(22L) * col("s_tok") * tf).cast("double") /
        (lit(10L) * col("s_tok") * tf + lit(3L) * col("s_tok") +
          lit(9L) * col("dl") * col("n_docs"))
      when(tf > 0, round(idf * tfn * lit(1e6), 0).cast("long")).otherwise(lit(0L))
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored
      .withColumn("score_micro", termMicro.reduce(_ + _))
      .withColumn("n_terms_hit",
        Bm25Terms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L)).reduce(_ + _))
      .filter(col("score_micro") > 0)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(Bm25TopK)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("n_terms_hit"), col("score_micro"), col("rnk"))
  }

  val qBm25Sql: String = {
    val tfCols = Bm25Terms.map(t =>
      s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$t").mkString(", ")
    val dfCols = Bm25Terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(", ")
    val micro = Bm25Terms.map { t =>
      s"CASE WHEN tf_$t > 0 THEN CAST(round(" +
        s"(CAST(2 * n_docs - 2 * df_$t + 1 AS DOUBLE) / (2 * df_$t + 1)) * " +
        s"(CAST(22 * s_tok * tf_$t AS DOUBLE) / " +
        s"(10 * s_tok * tf_$t + 3 * s_tok + 9 * dl * n_docs)) * 1e6, 0) AS BIGINT) " +
        "ELSE 0 END"
    }.mkString(" + ")
    val hits = Bm25Terms.map(t => s"CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
        perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl, $tfCols
                   FROM t GROUP BY 1),
        stats AS (SELECT CAST(sum(dl) AS BIGINT) AS s_tok,
                         CAST(count(*) AS BIGINT) AS n_docs, $dfCols
                  FROM perdoc),
        scored AS (SELECT doc_id, CAST($hits AS BIGINT) AS n_terms_hit,
                          CAST($micro AS BIGINT) AS score_micro
                   FROM perdoc, stats)
        SELECT doc_id, n_terms_hit, score_micro,
               CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rnk
        FROM scored WHERE score_micro > 0
        ORDER BY score_micro DESC, doc_id ASC LIMIT $Bm25TopK"""
  }

  // ── Deterministic train/val/test split manifest ────────────────────────
  // The assignment every training pipeline makes exactly once: salted
  // md5 of the document id → 10 buckets → 80/10/10 split. Hash-based (not
  // random) so the split is reproducible across runs, engines, and
  // repartitioning, and any doc's membership is recomputable from its id
  // alone. The manifest reports per-(lang, split) counts and the share
  // within each language — the balance check that catches a skewed split
  // before training does. Zero-shuffle assignment; one grouped rollup.
  def qSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val bucket = graft.functions.Md5Bits.hash60(
      concat(lit("split:"), col("doc_id").cast("string"))) % 10
    val assigned = Tables.documents(s, d)
      .select(col("lang"),
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test")
          .as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
    assigned
      .withColumn("lang_total", sum(col("n_docs")).over(W.partitionBy(col("lang"))))
      .select(col("lang"), col("split"), col("n_docs"),
        round(col("n_docs").cast("double") / col("lang_total"), 6).as("share_r"))
  }

  val qSplitSql: String = {
    val b = graft.functions.Md5Bits.sqlHash60("'split:' || CAST(doc_id AS VARCHAR)") + " % 10"
    s"WITH a AS (SELECT lang, CASE WHEN $b <= 7 THEN 'train' " +
      s"WHEN $b = 8 THEN 'val' ELSE 'test' END AS split FROM documents), " +
      "g AS (SELECT lang, split, count(*) AS n_docs FROM a GROUP BY 1, 2) " +
      "SELECT lang, split, n_docs, " +
      "round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang), 6) AS share_r " +
      "FROM g"
  }

  // ── Temperature-scaled mixture weights (α-sampling) ────────────────────
  // The GPT-3/multilingual-BERT sampling recipe: source i is drawn with
  // probability ∝ nᵢ^α (α = 0.7 here), which up-weights low-resource
  // sources relative to proportional sampling without flattening to
  // uniform. One shuffle to per-lang token totals; the ≤|langs|-row
  // frame computes weights/expected draws; the exponential is one pow()
  // per source on identical exact integer totals — both engines produce
  // the same doubles (q_entropy's ln discipline, with pow for ln). The
  // report pairs the natural share with the α-share so the up-weighting
  // is visible per source.
  private val MixAlpha = 0.7
  private val MixBudget = 100000L

  def qMixTemperature(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val totals = Tables.documents(s, d)
      .select(col("lang"), tokenCount(col("text")).as("n_tok"))
      .groupBy(col("lang")).agg(sum(col("n_tok")).as("toks"))
    val wsum = totals
      .agg(sum(col("toks")).as("all_toks"),
        sum(pow(col("toks").cast("double"), MixAlpha)).as("wsum"))
    totals.crossJoin(broadcast(wsum))
      .select(col("lang"), col("toks"),
        round(col("toks").cast("double") / col("all_toks"), 6)
          .as("natural_share"),
        round(pow(col("toks").cast("double"), MixAlpha) / col("wsum"), 6)
          .as("alpha_share"),
        round(lit(MixBudget) * pow(col("toks").cast("double"), MixAlpha) /
          col("wsum"), 2).as("expected_draws"))
  }

  val qMixTemperatureSql: String =
    s"WITH totals AS (SELECT lang, CAST(sum(len($sqlToks)) AS BIGINT) " +
      "AS toks FROM documents GROUP BY 1), " +
      "w AS (SELECT CAST(sum(toks) AS BIGINT) AS all_toks, " +
      s"sum(pow(CAST(toks AS DOUBLE), $MixAlpha)) AS wsum FROM totals) " +
      "SELECT lang, toks, " +
      "round(CAST(toks AS DOUBLE) / all_toks, 6) AS natural_share, " +
      s"round(pow(CAST(toks AS DOUBLE), $MixAlpha) / wsum, 6) AS alpha_share, " +
      s"round($MixBudget * pow(CAST(toks AS DOUBLE), $MixAlpha) / wsum, 2) " +
      "AS expected_draws " +
      "FROM totals CROSS JOIN w"

  // ── c-TF-IDF topic terms (BERTopic-style cluster labeling) ─────────────
  // The topic-extraction step of the modern embedding-clustering pipeline
  // (BERTopic, Grootendorst 2022): given a cluster assignment over the
  // corpus — here the embeddings' label column via the shared doc_id =
  // vec_id id space; any clustering output (KMeans cells, DBSCAN, Leiden
  // communities) plugs in identically — score every term per cluster by
  // class-based TF-IDF: ctfidf(t,c) = tf(t,c)/w_c · ln(1 + A/f_t), where
  // all docs of a cluster count as ONE class document, w_c is the class
  // token mass, f_t the corpus frequency, A the average class mass. The
  // top-5 terms per cluster are its human-readable topic signature.
  // Parity discipline: tf/w_c/f_t/A are exact integer counts off one
  // tokenized scan; the idf takes ONE rounded libm log per distinct term
  // (micro-nats, the qLmScore/qPmi rule); the final score is the integer
  // tf·idf_micro div w_c, so ranking and output are exact. Plan: one
  // (cluster, term) keyed count shuffle; f_t folds out of the class
  // counts (no second scan); A rides a one-row broadcast; the only
  // window partitions by cluster over vocab-bounded rows.
  private val TopicTopK = 5

  def qTopicTerms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("label").cast("long").as("c"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("c"), col("term")).agg(count(lit(1)).as("tf"))
    val wc = tf.groupBy(col("c")).agg(sum(col("tf")).cast("long").as("wc"))
    val ft = tf.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("ft"))
    val a = wc.agg((sum(col("wc")) / count(lit(1))).cast("double").as("am"))
    val idf = ft.crossJoin(broadcast(a))
      .select(col("term"),
        round(log(lit(1.0) + col("am") / col("ft").cast("double")) *
          lit(1000000.0)).cast("long").as("idf_micro"))
    val scored = tf.join(idf, Seq("term")).join(broadcast(wc), Seq("c"))
      .select(col("c").as("cluster"), col("term"),
        expr("(tf * idf_micro) div wc").as("ctfidf_micro"))
    scored
      .withColumn("rnk", row_number().over(W.partitionBy(col("cluster"))
        .orderBy(col("ctfidf_micro").desc, col("term").asc)).cast("long"))
      .filter(col("rnk") <= TopicTopK)
  }

  val qTopicTermsSql: String =
    "WITH tf AS MATERIALIZED (SELECT e.label AS c, t.term, " +
      "CAST(count(*) AS BIGINT) AS tf FROM " +
      s"(SELECT doc_id, unnest($sqlToks) AS term FROM documents) t " +
      "JOIN embeddings e ON e.vec_id = t.doc_id GROUP BY 1, 2), " +
      "wc AS MATERIALIZED (SELECT c, CAST(sum(tf) AS BIGINT) AS wc " +
      "FROM tf GROUP BY 1), " +
      "ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1), " +
      "a AS (SELECT CAST(sum(wc) AS DOUBLE) / count(*) AS am FROM wc), " +
      "idf AS MATERIALIZED (SELECT term, " +
      "CAST(round(ln(1 + am / CAST(ft AS DOUBLE)) * 1000000, 0) AS BIGINT) " +
      "AS idf_micro FROM ft CROSS JOIN a), " +
      "scored AS (SELECT CAST(tf.c AS BIGINT) AS cluster, tf.term, " +
      "(tf.tf * i.idf_micro) // w.wc AS ctfidf_micro " +
      "FROM tf JOIN idf i ON i.term = tf.term JOIN wc w ON w.c = tf.c) " +
      "SELECT cluster, term, CAST(ctfidf_micro AS BIGINT) AS ctfidf_micro, " +
      "rnk FROM (SELECT *, CAST(row_number() OVER (PARTITION BY cluster " +
      "ORDER BY ctfidf_micro DESC, term ASC) AS BIGINT) AS rnk " +
      s"FROM scored) x WHERE rnk <= $TopicTopK"

  // ── TextRank keyword extraction ────────────────────────────────────────
  // The graph-based keyword extractor (Mihalcea & Tarau, EMNLP'04) next
  // to qTopicTerms' frequency-based one: words are nodes, adjacent
  // tokens co-occur (window 2, both directions, multiplicity = weight),
  // and keyword salience is weighted PageRank over that graph — a term
  // matters because it neighbors other mattering terms, not because it
  // is frequent. Exact fixed-point discipline: scores in ppm integers,
  // each round PR'(v) = 150 000 + Σ_u (w(u,v)·850·PR(u)) div (1000·W(u))
  // — the damped-walk update with ONE truncating division PER EDGE TERM,
  // so the per-v sum is an order-independent integer and round T is
  // bit-identical in Spark and the oracle's unrolled CTEs. Each round is
  // one keyed O(|E|) join+sum shuffle over the vocab-bounded graph
  // (never a corpus rescan — the graph builds once). Top-20 keywords via
  // TakeOrdered. The per-edge product w·850·PR is computed in
  // DECIMAL(38,0) (matching the oracle's HUGEINT) so the chain cannot
  // wrap silently in Long past the vocab·weight ≈ 10¹⁰ point.
  private val TrIters = 8
  private val TrTopK = 20

  def qTextrank(s: SparkSession, d: String): DataFrame = {
    val adj = Tables.documents(s, d)
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"))
        .as("p"))
      .filter(col("p.a") =!= col("p.b"))
    val e = adj.select(col("p.a").as("u"), col("p.b").as("v"))
      .unionAll(adj.select(col("p.b").as("u"), col("p.a").as("v")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wdeg = e.groupBy(col("u")).agg(sum(col("w")).cast("long").as("wd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // plain persist, deliberately NOT keyedForReuse: the co-occurrence
    // graph is VOCABULARY-bounded (not corpus-bound), so the per-round
    // joins move a bounded frame at any corpus size — and the keyed
    // spelling measured q_textrank 3.8 s → 8.5 s at sf0.1 (the eager
    // materialization pass costs more than the saved re-shuffles on a
    // bounded graph)
    val ew = e.join(wdeg, Seq("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pr0 = wdeg.select(col("u").as("word"), lit(1000000L).as("pr"))
    val pr = graft.operators.Fixpoint.run(pr0, TrIters, 1) { (pr, _) =>
      // per-edge product in DECIMAL(38,0): the oracle runs this chain in
      // HUGEINT, so a LongType w·850·pr that wraps past 2⁶³ would diverge
      // silently instead of erroring; decimal `div` truncates identically
      // for these all-positive terms and returns BIGINT
      val contrib = ew.join(pr.withColumnRenamed("word", "u"), Seq("u"))
        .select(col("v"), expr(
          "(CAST(w AS DECIMAL(38,0)) * 850 * CAST(pr AS DECIMAL(38,0)))" +
            " div (1000 * wd)").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("sc"))
      wdeg.select(col("u").as("word"))
        .join(contrib.withColumnRenamed("v", "word"), Seq("word"), "left")
        .select(col("word"),
          (lit(150000L) + coalesce(col("sc"), lit(0L))).as("pr"))
    }.state
    val out = pr.orderBy(col("pr").desc, col("word").asc).limit(TrTopK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pr").desc, col("word").asc)).cast("long"))
      .select(col("word"), col("pr").as("pr_ppm"), col("rnk"))
    e.unpersist(); wdeg.unpersist(); ew.unpersist()
    out
  }

  lazy val qTextrankSql: String = {
    def round(t: Int): String = {
      val p = if (t == 1) "r0" else s"r${t - 1}"
      s"r$t AS MATERIALIZED (SELECT n.u AS word, " +
        "150000 + COALESCE(x.sc, 0) AS pr FROM wdeg n LEFT JOIN (" +
        "SELECT e.v, SUM((e.w * 850 * p.pr) // (1000 * e.wd)) AS sc " +
        s"FROM ew e JOIN $p p ON p.word = e.u GROUP BY e.v) x ON x.v = n.u)"
    }
    s"WITH toks AS (SELECT $sqlToks AS t FROM documents), " +
      "pairs AS MATERIALIZED (SELECT t[i] AS a, t[i + 1] AS b " +
      "FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i) " +
      "WHERE len(t) >= 2 AND t[i] <> t[i + 1]), " +
      "e AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS w " +
      "FROM (SELECT a AS u, b AS v FROM pairs " +
      "UNION ALL SELECT b, a FROM pairs) z GROUP BY 1, 2), " +
      "wdeg AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS wd " +
      "FROM e GROUP BY 1), " +
      "ew AS MATERIALIZED (SELECT e.u, e.v, e.w, d.wd FROM e " +
      "JOIN wdeg d ON d.u = e.u), " +
      "r0 AS (SELECT u AS word, CAST(1000000 AS HUGEINT) AS pr FROM wdeg), " +
      (1 to TrIters).map(round).mkString(", ") + " " +
      "SELECT word, CAST(pr AS BIGINT) AS pr_ppm, " +
      "CAST(row_number() OVER (ORDER BY pr DESC, word ASC) AS BIGINT) AS rnk " +
      s"FROM (SELECT * FROM r$TrIters ORDER BY pr DESC, word ASC " +
      s"LIMIT $TrTopK) f"
  }

  // ── Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES) ────
  // The missing member of the sampling family: q_sample_weighted keeps
  // each doc independently (Bernoulli — sample size varies), while A-ES
  // (Efraimidis & Spirakis 2006) draws a FIXED k with inclusion
  // probability proportional to weight and no replacement: key_i =
  // ln(u_i)/w_i, keep the k largest keys. Weights here are n_chars
  // (longer docs proportionally likelier). Derandomized u from the
  // shared md5 hash60 (+1 so u ∈ (2⁻⁶⁰, 1]); the key is the identical
  // double expression on both engines, so the order — and therefore the
  // exact sample — reproduces bit-for-bit. Plan: a pure scan +
  // TakeOrdered(k); zero shuffle, and on a cluster the per-partition
  // heaps merge on the driver — the distributed one-pass weighted
  // sampler (this is how reservoir-style weighted sampling is done at
  // 100 TB).
  private val EsK = 50

  def qSampleEs(s: SparkSession, d: String): DataFrame = {
    val u = (graft.functions.Md5Bits.hash60(
      concat(lit("es:"), col("doc_id"))).cast("double") + lit(1.0)) /
      lit(1152921504606846976.0)
    val key = log(u) / col("n_chars").cast("double")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), key.as("k"))
      .orderBy(col("k").desc, col("doc_id").asc).limit(EsK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("k").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("n_chars"),
        round(col("k") * 1e9, 3).as("key_nano"), col("rnk"))
  }

  val qSampleEsSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60("'es:' || CAST(doc_id AS VARCHAR)")
    s"WITH keyed AS (SELECT doc_id, n_chars, " +
      s"ln((CAST($h AS DOUBLE) + 1.0) / 1152921504606846976.0) " +
      "/ CAST(n_chars AS DOUBLE) AS k FROM documents) " +
      "SELECT doc_id, n_chars, round(k * 1e9, 3) AS key_nano, " +
      "CAST(row_number() OVER (ORDER BY k DESC, doc_id ASC) AS BIGINT) AS rnk " +
      s"FROM (SELECT * FROM keyed ORDER BY k DESC, doc_id ASC LIMIT $EsK) x"
  }

  val queries: Seq[(String, Query)] = Seq(
    "q_sample_es"         -> Query(qSampleEs, qSampleEsSql),
    "q_topic_terms"       -> Query(qTopicTerms, qTopicTermsSql),
    "q_textrank"          -> Query(qTextrank, qTextrankSql),
    "q_mix_temperature"   -> Query(qMixTemperature, qMixTemperatureSql),
    "q_split"             -> Query(qSplit, qSplitSql),
    "q_bm25"              -> Query(qBm25, qBm25Sql),
    "q_zipf"              -> Query(qZipf, qZipfSql),
    "q_vocab"             -> Query(qVocab, qVocabSql),
    "q_pmi"               -> Query(qPmi, qPmiSql),
    "q_lm_score"          -> Query(qLmScore, qLmScoreSql),
    "q_sample_weighted"   -> Query(qSampleWeighted, qSampleWeightedSql),
    "q_chunk"             -> Query(qChunk, qChunkSql),
    "q_inverted_index"    -> Query(qInvertedIndex, qInvertedIndexSql),
    "q_sample_hash"       -> Query(qSampleHash, qSampleHashSql),
    "q_sample_stratified" -> Query(qSampleStratified, qSampleStratifiedSql),
    "q_tfidf"             -> Query(qTfIdf, qTfIdfSql),
    "q_redact"            -> Query(qRedact, qRedactSql),
    "q_pack_bins"         -> Query(qPackBins, qPackBinsSql),
    "q_mixture"           -> Query(qMixture, qMixtureSql),
    "q_sample_group"      -> Query(qSampleGroup, qSampleGroupSql),
    "q_token_bpe"         -> Query(qTokenBpe, qTokenBpeSql),
    "q_bpe_merges"        -> Query(qBpeMerges, qBpeMergesSql),
    "q_bpe_train"         -> Query(qBpeTrain, qBpeTrainSql),
    "q_unigram_lm"        -> Query(qUnigramLm, qUnigramLmSql),
    "q_bpe_apply"         -> Query(qBpeApply, qBpeApplySql),
    "q_source_overlap"    -> Query(qSourceOverlap, qSourceOverlapSql),
    "q_boilerplate"       -> Query(qBoilerplate, qBoilerplateSql),
    "q_lang_confusion"    -> Query(qLangConfusion, qLangConfusionSql),
    "q_gate_auc"          -> Query(qGateAuc, qGateAucSql),
    "q_token_count"       -> Query(qTokenCount, qTokenCountSql),
    "q_quality_score"     -> Query(qQualityScore, qQualityScoreSql),
    "q_lang_id"           -> Query(qLangId, qLangIdSql),
    "q_fingerprint"       -> Query(qFingerprint, qFingerprintSql),
    "q_repetition"        -> Query(qRepetition, qRepetitionSql),
  )
}
