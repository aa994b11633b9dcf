package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Md5Bits
import graft.functions.TextFunctions.{tokens, sqlTokens}

/** Probabilistic-sketch operators a 100 TB curation pipeline leans on:
  * count-min-sketch heavy hitters and Bloom-filter join pruning. The
  * sketch family extends the reference's only aggregation machinery
  * (exact grouped counts, `word_count/reduce.py`) with the fixed-memory
  * versions that survive unbounded key cardinality.
  *
  * Like the MinHash/SimHash family (DedupQueries), every hash bit is
  * md5-derived ([[Md5Bits]]) so DuckDB can recompute the *identical*
  * sketch — the heavy-hitter query is oracle-checked hash-exact, not
  * rows-only.
  */
object SketchQueries {

  // ── Count-min sketch heavy hitters ─────────────────────────────────────
  // CMS(d×w): counter[i][h_i(key) mod w] += 1; estimate = min_i of the
  // key's d cells — never an underestimate (Cormode & Muthukrishnan '05).
  // At 100 TB the payoff is the sketch's size: d×w integers TOTAL (here
  // 4×256), mergeable by cell-wise sum, vs an exact per-key count whose
  // state grows with vocabulary. The scan aggregates straight into the
  // d×w cells (one groupBy over a 1 KB key space); the candidate side
  // then probes the broadcast-sized sketch.
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val HeavyThreshold = 400L // ≈2% of the sf0.01 token stream

  /** (key, count, h1, h2) per DISTINCT token — the shared upstream of
    * both sketch queries. The probe side always needed the full
    * vocabulary shuffle (`distinct`/`groupBy tok`), so folding the
    * sketch from the pre-aggregated counts instead of the raw stream
    * changes NOTHING asymptotically and produces bit-identical cell
    * counters (cell count = Σ of its keys' counts, by commutativity) —
    * but moves the two md5s from per-OCCURRENCE to per-distinct-key
    * (~100× fewer at sf1) and drops the token-stream checkpoint for a
    * vocab-sized one. Measured: q_heavy_hitters 19.7 → 2.5 s,
    * q_cms_error 21.2 → 2.5 s at sf1. */
  private def vocabHashed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tc"))
      .select(col("tok"), col("tc"),
        Md5Bits.hash60(concat(lit("cms1:"), col("tok"))).as("h1"),
        Md5Bits.hash60(concat(lit("cms2:"), col("tok"))).as("h2"))
      .localCheckpoint(true) // vocab-sized; reused by fold + probe

  /** The d (row, bucket) cells from the precomputed hash pair — pure
    * arithmetic, no md5. The d row-hashes come from TWO md5s via
    * Kirsch–Mitzenmacher double hashing, h_i = (h1 + i·h2) mod w — same
    * guarantees as d independent hashes (Kirsch & Mitzenmacher ESA'06).
    * h1,h2 < 2^60 and i ≤ 3, so h1 + i·h2 < 2^62: no int64 overflow on
    * either engine. */
  private def cellsOf = posexplode(array((0 until CmsDepth).map(i =>
    (col("h1") + lit(i.toLong) * col("h2")) % CmsWidth): _*))
    .as(Seq("i", "bucket"))

  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val hashed = vocabHashed(s, d)
    // the sketch: fold the vocabulary's exact counts into d×w counters
    // (identical to folding the raw stream, see vocabHashed)
    val cells = hashed.select(col("tc"), cellsOf)
      .groupBy(col("i"), col("bucket")).agg(sum(col("tc")).as("cnt"))
    // probe: each candidate key reads its d cells from the broadcast
    // sketch; estimate = min. Candidates here are the corpus vocabulary
    // (distinct tokens); in production the candidate set is whatever
    // keys you need estimates for — the sketch answers any of them.
    val est = hashed.select(col("tok"), cellsOf)
      .join(broadcast(cells), Seq("i", "bucket"))
      .groupBy(col("tok")).agg(min(col("cnt")).as("est"))
    est.filter(col("est") >= HeavyThreshold)
  }

  val qHeavyHittersSql: String = {
    val h1 = Md5Bits.sqlHash60("'cms1:' || tok")
    val h2 = Md5Bits.sqlHash60("'cms2:' || tok")
    s"""WITH toks AS (SELECT unnest($sqlTokens) AS tok FROM documents),
        depth AS (SELECT unnest([0, 1, 2, 3]) AS i),
        hashed AS (SELECT tok, $h1 AS h1, $h2 AS h2 FROM toks),
        cells AS (SELECT i, (h1 + i * h2) % $CmsWidth AS bucket, count(*) AS cnt
                  FROM hashed CROSS JOIN depth GROUP BY 1, 2)
        SELECT tok, min(cnt) AS est
        FROM (SELECT DISTINCT tok, h1, h2 FROM hashed) v
        CROSS JOIN depth
        JOIN cells ON cells.i = depth.i
                  AND cells.bucket = (v.h1 + depth.i * v.h2) % $CmsWidth
        GROUP BY tok HAVING min(cnt) >= $HeavyThreshold"""
  }

  // ── CMS point-estimate accuracy audit ──────────────────────────────────
  // The companion to q_heavy_hitters that answers "is a 4×256 sketch
  // enough for this vocabulary?": every distinct token's CMS estimate
  // against its TRUE count. CMS is one-sided (never under), so the audit
  // is pure integer arithmetic end to end — overestimate = est − true ≥ 0
  // — and the report (exact-hit share, mean/max overestimate, tokens
  // over the heavy threshold falsely) decides width before anyone trusts
  // the sketch at scale. Same one-pass fold; true counts ride the same
  // token shuffle the estimate probe uses.
  def qCmsError(s: SparkSession, d: String): DataFrame = {
    val hashed = vocabHashed(s, d) // the audit needs truth counts anyway
    val cells = hashed.select(col("tc"), cellsOf)
      .groupBy(col("i"), col("bucket")).agg(sum(col("tc")).as("cnt"))
    val est = hashed
      .select(col("tok"), col("tc"), cellsOf)
      .join(broadcast(cells), Seq("i", "bucket"))
      .groupBy(col("tok"), col("tc")).agg(min(col("cnt")).as("est"))
    est.select(col("tc"), col("est"), (col("est") - col("tc")).as("over"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("over") === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum(col("over")).as("sum_over"), max(col("over")).as("max_over"),
        sum(when(col("est") >= HeavyThreshold && col("tc") < HeavyThreshold,
          1L).otherwise(0L)).as("n_false_heavy"))
      .select(col("n_tokens"), col("n_exact"), col("max_over"),
        col("n_false_heavy"),
        round(col("sum_over").cast("double") / col("n_tokens"), 6)
          .as("mean_over"))
  }

  val qCmsErrorSql: String = {
    val h1 = Md5Bits.sqlHash60("'cms1:' || tok")
    val h2 = Md5Bits.sqlHash60("'cms2:' || tok")
    s"""WITH toks AS (SELECT unnest($sqlTokens) AS tok FROM documents),
        depth AS (SELECT unnest([0, 1, 2, 3]) AS i),
        hashed AS (SELECT tok, $h1 AS h1, $h2 AS h2 FROM toks),
        cells AS (SELECT i, (h1 + i * h2) % $CmsWidth AS bucket, count(*) AS cnt
                  FROM hashed CROSS JOIN depth GROUP BY 1, 2),
        truth AS (SELECT tok, h1, h2, CAST(count(*) AS BIGINT) AS tc
                  FROM hashed GROUP BY 1, 2, 3),
        est AS (SELECT tok, tc, CAST(min(cnt) AS BIGINT) AS est
                FROM truth CROSS JOIN depth
                JOIN cells ON cells.i = depth.i
                          AND cells.bucket = (truth.h1 + depth.i * truth.h2) % $CmsWidth
                GROUP BY 1, 2)
        SELECT count(*) AS n_tokens,
        CAST(sum(CASE WHEN est = tc THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        CAST(max(est - tc) AS BIGINT) AS max_over,
        CAST(sum(CASE WHEN est >= $HeavyThreshold AND tc < $HeavyThreshold
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_heavy,
        round(CAST(sum(est - tc) AS DOUBLE) / count(*), 6) AS mean_over
        FROM est"""
  }

  // ── CMS inner product: join-size estimation without joining ────────────
  // |A ⋈ B| on a key = Σ_k a_k·b_k — and the inner product of two
  // count-min sketches estimates it (min over depth rows of the row dot
  // product, one-sided like every CMS bound: never under). The optimizer
  // question "how big would this join be?" answered from two
  // broadcast-sized summaries, no shuffle of either side. Estimated here:
  // the returned-lots ⋈ accepted-lots self-match on part key, a genuinely
  // many-to-many join; the exact size rides along (driver-tiny key-count
  // join) so the one-sided bound is hash-checked, not asserted. Width is
  // 4096 here (vs the heavy-hitter 256): inner-product error is
  // ~N_a·N_b/w, so the width buys the estimate its precision — still a
  // 16K-counter broadcast, nothing at scale.
  private val JoinEstWidth = 4096

  def qJoinSizeEst(s: SparkSession, d: String): DataFrame = {
    def buckets(tok: org.apache.spark.sql.Column) = {
      val h1 = Md5Bits.hash60(concat(lit("cms1:"), tok))
      val h2 = Md5Bits.hash60(concat(lit("cms2:"), tok))
      (0 until CmsDepth).map(i =>
        ((h1 + lit(i.toLong) * h2) % JoinEstWidth).as(s"b$i"))
    }
    // NOTE (r17): a one-scan-per-side variant (grouping by flag, one
    // checkpointed cell/key frame feeding both join sides) measured a
    // clear REGRESSION at sf0.1 (2.7 -> 3.8 s): the four pushed-filter
    // parquet scans are cheap and run in parallel stages, while the
    // checkpoint serializes them behind eager jobs. Kept as-is.
    def cells(flag: String, tag: String) = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === flag)
      .select(col("l_partkey").cast("string").as("tok"))
      .select(posexplode(array(buckets(col("tok")): _*)).as(Seq("i", "bucket")))
      .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as(s"cnt_$tag"))
    val dot = cells("R", "a").join(cells("A", "b"), Seq("i", "bucket"))
      .groupBy(col("i"))
      .agg(sum(col("cnt_a") * col("cnt_b")).cast("long").as("rowdot"))
      .agg(min(col("rowdot")).as("est_join_size"))
    val exactA = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("na"))
    val exactB = Tables.lineitem(s, d).filter(col("l_returnflag") === "A")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("nb"))
    val exact = exactA.join(exactB, Seq("l_partkey"))
      .agg(sum(col("na") * col("nb")).cast("long").as("exact_join_size"))
    dot.crossJoin(exact)
      .select(col("est_join_size"), col("exact_join_size"),
        round(col("est_join_size").cast("double") / col("exact_join_size"), 6)
          .as("over_ratio"))
  }

  val qJoinSizeEstSql: String = {
    val h1 = Md5Bits.sqlHash60("'cms1:' || tok")
    val h2 = Md5Bits.sqlHash60("'cms2:' || tok")
    def cellsSql(flag: String) =
      s"(SELECT i, (h1 + i * h2) % $JoinEstWidth AS bucket, count(*) AS cnt " +
        s"FROM (SELECT CAST(l_partkey AS VARCHAR) AS tok, $h1 AS h1, $h2 AS h2 " +
        s"FROM lineitem WHERE l_returnflag = '$flag') t " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) d GROUP BY 1, 2)"
    "WITH est AS (SELECT min(rowdot) AS est_join_size FROM (" +
      "SELECT a.i, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS rowdot " +
      s"FROM ${cellsSql("R")} a JOIN ${cellsSql("A")} b " +
      "ON a.i = b.i AND a.bucket = b.bucket GROUP BY 1) rd), " +
      "ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact_join_size FROM " +
      "(SELECT l_partkey, count(*) AS na FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1) a " +
      "JOIN (SELECT l_partkey, count(*) AS nb FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1) b " +
      "USING (l_partkey)) " +
      "SELECT est_join_size, exact_join_size, " +
      "round(CAST(est_join_size AS DOUBLE) / exact_join_size, 6) AS over_ratio " +
      "FROM est, ex"
  }

  // ── Bloom-filter join pruning ──────────────────────────────────────────
  // The 100 TB semi-join play: build a Bloom filter over the (small)
  // filtered dim-key set with Spark's native distributed sketch
  // (`df.stat.bloomFilter` — one aggregation, driver gets ~1 MB of bits),
  // prune the fact scan BEFORE its shuffle, then exact-semi-join the
  // survivors so false positives never reach the result. The registered
  // result is therefore bit-identical to the plain semi-join — which IS
  // the oracle: a results-level proof that pruning can only drop rows the
  // join would drop anyway. The membership probe is the suite's one
  // deliberate UDF (Spark exposes no public might_contain Column fn);
  // it sits scan-side, before any exchange, where a non-codegen filter
  // costs least.
  def qBloomPrune(s: SparkSession, d: String): DataFrame = {
    val dimKeys = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = dimKeys.stat.bloomFilter("o_orderkey", 100000, 0.01)
    val might = udf((k: Long) => bloom.mightContainLong(k))
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_linestatus"))
      .filter(might(col("l_orderkey"))) // scan-side prune, pre-shuffle
    fact.join(dimKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), Relational.dsum(col("l_quantity")).as("total_qty"))
  }

  val qBloomPruneSql: String =
    "SELECT l_linestatus, count(*) AS n_items, " +
      s"${Relational.sqlDsum("l_quantity")} AS total_qty FROM lineitem " +
      "WHERE l_orderkey IN (SELECT o_orderkey FROM orders " +
      "WHERE o_orderpriority = '1-URGENT') GROUP BY 1"

  // ── Histogram-sketch quantiles ─────────────────────────────────────────
  // Approximate p50/p90/p99 from an equi-width histogram — the mergeable
  // fixed-memory alternative to the exact global-sort percentile
  // (q_percentiles): per-partition histograms merge by cell-wise sum, so
  // the sketch state is `HistBins` integers at any corpus size, while
  // quantile_cont must materialize a full sort. Entirely INTEGER-EXACT:
  // values become cents, the bin width and in-bin interpolation use
  // integer division, so both engines assemble identical estimates —
  // float binning would risk boundary divergence. Two passes (a scalar
  // min/max/count, then the histogram); a production pipeline amortizes
  // pass one with fixed domain bounds. The cumulative window runs over
  // HistBins rows — a driver-sized frame, not a data-sized one.
  private val HistBins = 64
  private val QuantilePcts = Seq(50, 90, 99)

  def qQuantileSketch(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val ev = Tables.events(s, d).select(cents.as("c"))
    val bounds = ev.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"),
      count(lit(1)).as("n"))
    val hist = ev.crossJoin(broadcast(bounds))
      .select(expr(s"(c - minc) div ((maxc - minc) div $HistBins + 1)").as("bin"),
        col("minc"), col("maxc"), col("n"))
      .groupBy(col("bin"), col("minc"), col("maxc"), col("n"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    cum.select(col("*"), explode(array(QuantilePcts.map(lit): _*)).as("p"))
      .withColumn("r", expr("(p * n + 99) div 100"))
      .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .select(col("p"),
        // CAST to double BEFORE the division: bigint/100.0 is DECIMAL in
        // Spark but DOUBLE in DuckDB; double/100.0 is DOUBLE in both
        expr(s"CAST(minc + bin * ((maxc - minc) div $HistBins + 1) + " +
          s"((r - (cum - cnt)) * ((maxc - minc) div $HistBins + 1)) div cnt " +
          "AS DOUBLE) / 100.0").as("est_value"))
  }

  val qQuantileSketchSql: String = {
    val width = s"(maxc - minc) // $HistBins + 1"
    "WITH ev AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events), " +
      "b AS (SELECT min(c) AS minc, max(c) AS maxc, count(*) AS n FROM ev), " +
      s"h AS (SELECT (c - minc) // ($width) AS bin, minc, maxc, n, count(*) AS cnt " +
      "FROM ev CROSS JOIN b GROUP BY 1, 2, 3, 4), " +
      "cdf AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h) " +
      "SELECT p, (minc + bin * (" + width + ") + " +
      "((r - (cum - cnt)) * (" + width + ")) // cnt) / 100.0 AS est_value " +
      "FROM (SELECT *, (p * n + 99) // 100 AS r FROM cdf " +
      s"CROSS JOIN (SELECT unnest([${QuantilePcts.mkString(", ")}]) AS p) q) x " +
      "WHERE cum >= r AND cum - cnt < r"
  }

  // ── Histogram-quantile accuracy audit ──────────────────────────────────
  // Sixth member of the sketch-audit family (MinHash, CMS, HLL, SRP,
  // IVF-recall): the 64-bin histogram sketch's interpolated quantiles
  // against the EXACT value at the identical rank r = ceil(p·n/100),
  // computed by the DistributedRank kernel — no value buffering, no
  // Window node. Everything stays integer cents until the report, so the
  // audit row (per-percentile signed error, bin width) is hash-exact
  // through both engines; it answers "is 64 bins enough for this value
  // distribution?" with a measurement instead of the one-bin bound the
  // spec asserts.
  def qQsketchError(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"),
      col("event_id"))
    val bounds = ev.groupBy()
      .agg(min(col("c")).as("minc"), max(col("c")).as("maxc"),
        count(lit(1)).as("n"))
    val hist = ev.crossJoin(broadcast(bounds))
      .select(expr(s"(c - minc) div ((maxc - minc) div $HistBins + 1)").as("bin"),
        col("minc"), col("maxc"), col("n"))
      .groupBy(col("bin"), col("minc"), col("maxc"), col("n"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val est = hist.withColumn("cum", sum(col("cnt")).over(w))
      .select(col("*"), explode(array(QuantilePcts.map(lit): _*)).as("p"))
      .withColumn("r", expr("(p * n + 99) div 100"))
      .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .select(col("p"),
        expr(s"minc + bin * ((maxc - minc) div $HistBins + 1) + " +
          s"((r - (cum - cnt)) * ((maxc - minc) div $HistBins + 1)) div cnt")
          .as("est_cents"),
        expr(s"(maxc - minc) div $HistBins + 1").as("bin_width"))
    val ranked = graft.operators.DistributedRank.withRowNumber(
      ev.withColumn("gk", lit(0)), Seq("gk"),
      Seq(col("c").asc, col("event_id").asc), "rk", nGroupCol = Some("n_g"))
    val exact = ranked
      .select(col("c"), col("rk"), col("n_g"),
        explode(array(QuantilePcts.map(lit): _*)).as("p2"))
      .filter(col("rk") === expr("(p2 * n_g + 99) div 100"))
      .select(col("p2"), col("c").as("exact_cents"))
    est.join(exact, col("p") === col("p2"))
      .select(col("p"), col("est_cents"), col("exact_cents"),
        (col("est_cents") - col("exact_cents")).as("err_cents"),
        col("bin_width"))
  }

  val qQsketchErrorSql: String = {
    val width = s"(maxc - minc) // $HistBins + 1"
    "WITH ev AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c, " +
      "event_id FROM events), " +
      "b AS (SELECT min(c) AS minc, max(c) AS maxc, count(*) AS n FROM ev), " +
      s"h AS (SELECT (c - minc) // ($width) AS bin, minc, maxc, n, count(*) AS cnt " +
      "FROM ev CROSS JOIN b GROUP BY 1, 2, 3, 4), " +
      "cdf AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h), " +
      "est AS (SELECT p, CAST(minc + bin * (" + width + ") + " +
      "((r - (cum - cnt)) * (" + width + ")) // cnt AS BIGINT) AS est_cents, " +
      "CAST(" + width + " AS BIGINT) AS bin_width " +
      "FROM (SELECT *, (p * n + 99) // 100 AS r FROM cdf " +
      s"CROSS JOIN (SELECT unnest([${QuantilePcts.mkString(", ")}]) AS p) q) x " +
      "WHERE cum >= r AND cum - cnt < r), " +
      "rkd AS (SELECT c, CAST(row_number() OVER (ORDER BY c, event_id) AS BIGINT) AS rk, " +
      "CAST(count(*) OVER () AS BIGINT) AS n_g FROM ev), " +
      "ex AS (SELECT p, c AS exact_cents FROM rkd " +
      s"CROSS JOIN (SELECT unnest([${QuantilePcts.mkString(", ")}]) AS p) q " +
      "WHERE rk = (p * n_g + 99) // 100) " +
      "SELECT p, est_cents, exact_cents, est_cents - exact_cents AS err_cents, " +
      "bin_width FROM est JOIN ex USING (p)"
  }

  // ── Rolling distinct via HLL day-state merging ─────────────────────────
  // The sketch answer to q_rolling_distinct's exact 7-day WAU: one
  // 128-cell HLL state per DAY (what a 100 TB pipeline persists), and
  // every rolling window is a register-max MERGE of the stored day
  // states — a window over |days|×128 tiny rows — so no window ever
  // revisits event rows and the same day states serve any window length.
  // The day×cell grid is densified first (a cell present on day x−3 but
  // absent on day x must still reach day x's merge); max-over-window
  // ignores the null cells, and only window-present cells count toward
  // n_present — exactly the per-group finish rule q_hll_groups proves.
  // md5-derived registers throughout, so DuckDB replays every bit.
  // Day index x is anchored at 2024-01-01 and may go negative for
  // earlier events — safe here: x is only ever a grouping/range key
  // (never fed through %/pmod, whose sign semantics differ by engine).
  def qHllRolling(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Sketches
    import org.apache.spark.sql.expressions.{Window => W}
    val reg = Tables.events(s, d)
      .select(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("long").as("x"),
        Sketches.hllRegister(col("user_id").cast("string")),
        Sketches.hllRank(col("user_id").cast("string")))
    val daySketch = reg.groupBy(col("x"), col("hll_idx"))
      .agg(max(col("hll_rho")).as("mx"))
    val grid = daySketch.select(col("x")).distinct()
      .crossJoin(broadcast(s.range(Sketches.M).select(col("id").as("hll_idx"))))
      .join(daySketch, Seq("x", "hll_idx"), "left")
    val w = W.partitionBy(col("hll_idx")).orderBy(col("x")).rangeBetween(-6, 0)
    val agg = grid.withColumn("rmx", max(col("mx")).over(w))
      .filter(col("rmx").isNotNull)
      .groupBy(col("x"))
      .agg(sum(call_function("shiftleft", lit(1L),
        lit(Sketches.RestBits + 1) - col("rmx"))).as("s_present"),
        count(lit(1)).as("n_present"))
    agg.select(col("x") +:
        Sketches.hllFinish(col("s_present"), col("n_present")): _*)
      .select(col("x"), col("s_scaled"), col("zero_registers"),
        Sketches.hllEstimate(col("s_scaled"), col("zero_registers"))
          .as("est_rolling_users"))
  }

  val qHllRollingSql: String = {
    import graft.functions.{Md5Bits, Sketches => Sk}
    val h = Md5Bits.sqlHash60("CAST(user_id AS VARCHAR)")
    val rest = (1L << Sk.RestBits) - 1
    s"WITH hv AS (SELECT CAST(date_diff('day', DATE '2024-01-01', " +
      s"CAST(ts AS DATE)) AS BIGINT) AS x, $h AS h FROM events), " +
      s"reg AS (SELECT x, h >> ${Sk.RestBits} AS idx, " +
      s"CASE WHEN (h & $rest) = 0 THEN ${Sk.RestBits + 1} " +
      s"ELSE ${Sk.RestBits + 1} - length(bin(h & $rest)) END AS rho FROM hv), " +
      "dmx AS (SELECT x, idx, max(rho) AS mx FROM reg GROUP BY 1, 2), " +
      "grid AS (SELECT x, idx FROM (SELECT DISTINCT x FROM dmx) " +
      s"CROSS JOIN (SELECT unnest(generate_series(0, ${Sk.M - 1})) AS idx)), " +
      "g2 AS (SELECT grid.x, grid.idx, dmx.mx FROM grid " +
      "LEFT JOIN dmx ON grid.x = dmx.x AND grid.idx = dmx.idx), " +
      "rolled AS (SELECT x, idx, max(mx) OVER (PARTITION BY idx ORDER BY x " +
      "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rmx FROM g2), " +
      "agg AS (SELECT x, " +
      s"CAST(sum(CAST(1 AS BIGINT) << (${Sk.RestBits + 1} - rmx)) AS BIGINT) AS s_present, " +
      "count(*) AS n_present FROM rolled WHERE rmx IS NOT NULL GROUP BY 1), " +
      s"fin AS (SELECT x, s_present + (${Sk.M} - n_present) * ${Sk.Scale} AS s_scaled, " +
      s"${Sk.M} - n_present AS zero_registers FROM agg) " +
      "SELECT x, s_scaled, zero_registers, " +
      s"round(CASE WHEN CAST(${Sk.Alpha} AS DOUBLE) * ${Sk.M} * ${Sk.M} * " +
      s"CAST(${Sk.Scale} AS DOUBLE) / s_scaled <= ${2.5 * Sk.M} " +
      "AND zero_registers > 0 " +
      s"THEN CAST(${Sk.M} AS DOUBLE) * ln(CAST(${Sk.M} AS DOUBLE) / zero_registers) " +
      s"ELSE CAST(${Sk.Alpha} AS DOUBLE) * ${Sk.M} * ${Sk.M} * " +
      s"CAST(${Sk.Scale} AS DOUBLE) / s_scaled END, 4) AS est_rolling_users FROM fin"
  }

  // ── Per-group HLL + sketch merge ───────────────────────────────────────
  // Distinct-user cardinality per event type AND the global estimate
  // obtained by MERGING the per-group sketches (cell-wise register max) —
  // the property that makes HLL the scale answer for cardinality: group
  // sketches union losslessly, so a 1000-executor rollup merges 128-cell
  // states instead of re-scanning, and any group-by rollup (hour → day →
  // all-time) reuses the same states. The merged '*' row is BY
  // CONSTRUCTION identical to sketching the global stream directly
  // (max of maxes == global max — spec-asserted); every bit is
  // md5-derived (functions/Sketches) so DuckDB replays the whole
  // pipeline, merge included.
  def qHllGroups(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Sketches
    val reg = Tables.events(s, d)
      .select(col("event_type"),
        Sketches.hllRegister(col("user_id").cast("string")),
        Sketches.hllRank(col("user_id").cast("string")))
    val mx = reg.groupBy(col("event_type"), col("hll_idx"))
      .agg(max(col("hll_rho")).as("mx"))
    val merged = mx.groupBy(col("hll_idx")).agg(max(col("mx")).as("mx"))
      .select(lit("*").as("event_type"), col("hll_idx"), col("mx"))
    val agg = mx.select(col("event_type"), col("hll_idx"), col("mx"))
      .unionByName(merged)
      .groupBy(col("event_type"))
      .agg(sum(call_function("shiftleft", lit(1L),
        lit(Sketches.RestBits + 1) - col("mx"))).as("s_present"),
        count(lit(1)).as("n_present"))
    agg.select(col("event_type") +:
        Sketches.hllFinish(col("s_present"), col("n_present")): _*)
      .select(col("event_type"), col("s_scaled"), col("zero_registers"),
        Sketches.hllEstimate(col("s_scaled"), col("zero_registers"))
          .as("est_distinct"))
  }

  val qHllGroupsSql: String = {
    import graft.functions.{Md5Bits, Sketches => Sk}
    val h = Md5Bits.sqlHash60("CAST(user_id AS VARCHAR)")
    val rest = (1L << Sk.RestBits) - 1
    s"WITH hv AS (SELECT event_type, $h AS h FROM events), " +
      s"reg AS (SELECT event_type, h >> ${Sk.RestBits} AS idx, " +
      s"CASE WHEN (h & $rest) = 0 THEN ${Sk.RestBits + 1} " +
      s"ELSE ${Sk.RestBits + 1} - length(bin(h & $rest)) END AS rho FROM hv), " +
      "mx AS (SELECT event_type, idx, max(rho) AS mx FROM reg GROUP BY 1, 2), " +
      "allmx AS (SELECT event_type, idx, mx FROM mx " +
      "UNION ALL SELECT '*', idx, max(mx) FROM mx GROUP BY 2), " +
      "agg AS (SELECT event_type, " +
      s"CAST(sum(CAST(1 AS BIGINT) << (${Sk.RestBits + 1} - mx)) AS BIGINT) AS s_present, " +
      "count(*) AS n_present FROM allmx GROUP BY 1), " +
      s"fin AS (SELECT event_type, s_present + (${Sk.M} - n_present) * ${Sk.Scale} AS s_scaled, " +
      s"${Sk.M} - n_present AS zero_registers FROM agg) " +
      "SELECT event_type, s_scaled, zero_registers, " +
      s"round(CASE WHEN CAST(${Sk.Alpha} AS DOUBLE) * ${Sk.M} * ${Sk.M} * " +
      s"CAST(${Sk.Scale} AS DOUBLE) / s_scaled <= ${2.5 * Sk.M} " +
      "AND zero_registers > 0 " +
      s"THEN CAST(${Sk.M} AS DOUBLE) * ln(CAST(${Sk.M} AS DOUBLE) / zero_registers) " +
      s"ELSE CAST(${Sk.Alpha} AS DOUBLE) * ${Sk.M} * ${Sk.M} * " +
      s"CAST(${Sk.Scale} AS DOUBLE) / s_scaled END, 4) AS est_distinct FROM fin"
  }

  // ── HLL set algebra: union + inclusion–exclusion intersection ──────────
  // Distinct-count set operations WITHOUT the sets: the parts that ship
  // in tiny lots (quantity ≤ 2) and the parts that ship in bulk
  // (quantity > 48) are sketched separately — partially overlapping
  // populations — the union sketch is the cell-wise register max (the
  // same mergeability q_hll_groups proves), and |A∩B| falls out of
  // inclusion–exclusion over the three ALREADY-ROUNDED estimates — the
  // textbook way to intersect HLLs (they don't intersect natively).
  // Everything after the two fact-scan register reductions is
  // driver-sized; the md5 register path reproduces bit-for-bit in DuckDB.
  // Intersection error compounds both sketches' ±1.04/√m, which the spec
  // quantifies against exact counts.
  def qHllIntersect(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Sketches
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") <= 2.0 || col("l_quantity") > 48.0)
      .select(when(col("l_quantity") <= 2.0, "a").otherwise("b").as("tag"),
        Sketches.hllRegister(col("l_partkey").cast("string")),
        Sketches.hllRank(col("l_partkey").cast("string")))
    val mx = li.groupBy(col("tag"), col("hll_idx"))
      .agg(max(col("hll_rho")).as("mx"))
    val union = mx.groupBy(col("hll_idx")).agg(max(col("mx")).as("mx"))
      .select(lit("u").as("tag"), col("hll_idx"), col("mx"))
    val est = mx.select(col("tag"), col("hll_idx"), col("mx"))
      .unionByName(union)
      .groupBy(col("tag"))
      .agg(sum(call_function("shiftleft", lit(1L),
        lit(Sketches.RestBits + 1) - col("mx"))).as("s_present"),
        count(lit(1)).as("n_present"))
    val fin = est.select(col("tag") +:
        Sketches.hllFinish(col("s_present"), col("n_present")): _*)
      .select(col("tag"),
        Sketches.hllEstimate(col("s_scaled"), col("zero_registers")).as("est"))
    fin.groupBy()
      .agg(max(when(col("tag") === "a", col("est"))).as("est_a"),
        max(when(col("tag") === "b", col("est"))).as("est_b"),
        max(when(col("tag") === "u", col("est"))).as("est_union"))
      .withColumn("est_intersect",
        round(col("est_a") + col("est_b") - col("est_union"), 4))
  }

  val qHllIntersectSql: String = {
    import graft.functions.{Md5Bits, Sketches => Sk}
    val h = Md5Bits.sqlHash60("CAST(l_partkey AS VARCHAR)")
    val rest = (1L << Sk.RestBits) - 1
    val estExpr =
      s"round(CASE WHEN CAST(${Sk.Alpha} AS DOUBLE) * ${Sk.M} * ${Sk.M} * " +
        s"CAST(${Sk.Scale} AS DOUBLE) / s_scaled <= ${2.5 * Sk.M} " +
        "AND zero_registers > 0 " +
        s"THEN CAST(${Sk.M} AS DOUBLE) * ln(CAST(${Sk.M} AS DOUBLE) / zero_registers) " +
        s"ELSE CAST(${Sk.Alpha} AS DOUBLE) * ${Sk.M} * ${Sk.M} * " +
        s"CAST(${Sk.Scale} AS DOUBLE) / s_scaled END, 4)"
    s"WITH hv AS (SELECT CASE WHEN l_quantity <= 2 THEN 'a' ELSE 'b' END AS tag, " +
      s"$h AS h FROM lineitem WHERE l_quantity <= 2 OR l_quantity > 48), " +
      s"reg AS (SELECT tag, h >> ${Sk.RestBits} AS idx, " +
      s"CASE WHEN (h & $rest) = 0 THEN ${Sk.RestBits + 1} " +
      s"ELSE ${Sk.RestBits + 1} - length(bin(h & $rest)) END AS rho FROM hv), " +
      "mx AS (SELECT tag, idx, max(rho) AS mx FROM reg GROUP BY 1, 2), " +
      "allmx AS (SELECT tag, idx, mx FROM mx " +
      "UNION ALL SELECT 'u', idx, max(mx) FROM mx GROUP BY 2), " +
      "agg AS (SELECT tag, " +
      s"CAST(sum(CAST(1 AS BIGINT) << (${Sk.RestBits + 1} - mx)) AS BIGINT) AS s_present, " +
      "count(*) AS n_present FROM allmx GROUP BY 1), " +
      s"fin AS (SELECT tag, s_present + (${Sk.M} - n_present) * ${Sk.Scale} AS s_scaled, " +
      s"${Sk.M} - n_present AS zero_registers FROM agg), " +
      s"est AS (SELECT tag, $estExpr AS est FROM fin), " +
      "piv AS (SELECT max(CASE WHEN tag = 'a' THEN est END) AS est_a, " +
      "max(CASE WHEN tag = 'b' THEN est END) AS est_b, " +
      "max(CASE WHEN tag = 'u' THEN est END) AS est_union FROM est) " +
      "SELECT est_a, est_b, est_union, " +
      "round(est_a + est_b - est_union, 4) AS est_intersect FROM piv"
  }

  val queries: Seq[(String, Query)] = Seq(
    "q_hll_intersect"   -> Query(qHllIntersect, qHllIntersectSql),
    "q_join_size_est"   -> Query(qJoinSizeEst, qJoinSizeEstSql),
    "q_hll_groups"      -> Query(qHllGroups, qHllGroupsSql),
    "q_quantile_sketch" -> Query(qQuantileSketch, qQuantileSketchSql),
    "q_qsketch_error"   -> Query(qQsketchError, qQsketchErrorSql),
    "q_hll_rolling"     -> Query(qHllRolling, qHllRollingSql),
    "q_heavy_hitters"   -> Query(qHeavyHitters, qHeavyHittersSql),
    "q_cms_error"       -> Query(qCmsError, qCmsErrorSql),
    "q_bloom_prune"     -> Query(qBloomPrune, qBloomPruneSql),
  )
}
