package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DotProduct, Neighbor, TopKAggregator}
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (`vec_id`, 64-dim
  * `array<float>` `embedding`, `label`) — beyond the reference (which has
  * no vector operations at all); the ANN/near-dup primitives a training
  *-data pipeline needs at 100 TB.
  *
  * Three tiers:
  *  - brute-force cosine top-k (windowed): the small-scale ORACLE.
  *  - bounded-heap top-k (custom `Aggregator` with partial aggregation):
  *    the same answer with shuffle capped at O(queries × k × partitions)
  *    — this is the plan shape that survives a 1000-executor corpus scan.
  *  - sign-random-projection LSH: the approximate scale path — one packed
  *    64-bit sketch per vector (one codegen'd scan, like SimHash for
  *    text), banded into buckets so only same-bucket vectors pair up.
  *
  * Oracle parity: floats are widened to double before arithmetic and dot
  * products fold left-to-right — the evaluation order DuckDB's
  * `list_dot_product` uses — then reported similarities are rounded to 6
  * decimals on both sides.
  */
object SimilarityQueries {

  /** How many query vectors the demo knn queries use (kept small so the
    * brute-force oracle is cheap; the plans broadcast the query side and
    * scan the corpus once regardless of this number). */
  private val NumQueries = 20
  private val K = 5

  private def cosOrNull(dotv: Column, denom: Column): Column =
    cosineOrNull(dotv, denom) // shared ANSI-safe guard — VectorFunctions

  /** Exact squared L2 distance spelled (a·a − 2·a·b) + b·b — the fold
    * and association order of the oracle's `list_dot_product` chain. */
  private def sqL2(a: Column, b: Column): Column =
    DotProduct.dot(a, a) - lit(2.0) * DotProduct.dot(a, b) + DotProduct.dot(b, b)

  /** Vectors with their norm precomputed ONCE per row (the pairwise join
    * then does a single codegen'd dot per pair instead of three
    * interpreted folds — ~4× on the all-pairs bench). */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(DotProduct.dot(col("v"), col("v"))))
  }

  /** All (query, candidate, cosine) pairs: broadcast the small query side,
    * one scan of the corpus. The corpus side never shuffles pre-window. */
  private def scoredPairs(s: SparkSession, d: String): DataFrame = {
    val q = vecs(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    vecs(s, d).join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosOrNull(DotProduct.dot(col("qv"), col("v")),
          col("qn") * col("nrm")).as("sim"))
      // zero-norm vectors have undefined cosine — excluded on both
      // engine and oracle sides; the heap aggregator's non-nullable
      // input would otherwise reject the row
      .filter(col("sim").isNotNull)
  }

  // ── Brute-force knn via window rank (the oracle-shaped plan) ───────────
  def qKnnBrute(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scoredPairs(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("qid"), col("nid"), col("rnk"), round(col("sim"), 6).as("sim_r"))
  }

  private val sqlPairs =
    s"SELECT q.vec_id AS qid, e.vec_id AS nid, " +
      "list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS sim " +
      "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
      s"WHERE vec_id < $NumQueries) q, " +
      "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e " +
      "WHERE e.vec_id <> q.vec_id AND " +
      "sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)) > 0"

  val qKnnBruteSql: String =
    s"SELECT qid, nid, rnk, round(sim, 6) AS sim_r FROM (" +
      "SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rnk " +
      s"FROM ($sqlPairs) p) r WHERE rnk <= $K"

  // ── Same answer through the bounded-heap Aggregator (the scale path) ───
  // Must be row-identical to qKnnBrute — it shares that oracle.
  def qKnnHeap(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new TopKAggregator(K))
    scoredPairs(s, d)
      .groupBy(col("qid"))
      .agg(topk(col("nid"), col("sim")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("qid"), col("n.id").as("nid"), (col("pos") + 1).as("rnk"),
        round(col("n.sim"), 6).as("sim_r"))
  }

  val qKnnHeapSql: String = qKnnBruteSql

  // ── Exact cosine near-dup pairs (embedding-space dedup) ────────────────
  // The embedding analog of DedupQueries: all pairs above a cosine
  // threshold. Exact form is O(n²) — it is the small-scale oracle for the
  // LSH path below, same relationship as n-gram Jaccard : MinHash-LSH.
  private val NearDupThreshold = 0.4

  /** Guard for the exact-quadratic spellings: they exist as small-scale
    * ORACLES for the LSH paths, and refuse to run past this corpus size
    * so no registered query is unconditionally O(n²) — point a real
    * corpus at q_ann_lsh (SRP-banded) instead. */
  private val MaxExactRows = 100000L

  /** One guard verdict per (session, dataset dir): the probe job runs
    * once, not on every (benchmarked) invocation. Keyed by the session
    * OBJECT via a WeakHashMap — identity hash codes are not unique, so
    * an Int key could collide two live sessions; the weak keying also
    * lets a closed session's entries be collected. */
  private val guardCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Long]]()

  private def guardProbe(s: SparkSession, d: String)(probe: => Long): Long = {
    val perSession = guardCache.synchronized {
      guardCache.computeIfAbsent(s, _ =>
        scala.collection.concurrent.TrieMap.empty[String, Long])
    }
    perSession.getOrElseUpdate(d, probe)
  }

  /** Above this many vectors the exact all-pairs stage runs on a
    * deterministic md5 sample instead of the full corpus: the query is
    * an accuracy oracle/demo, and an UNSAMPLED quadratic was 15% of the
    * whole-suite sf1 bench. At the oracle-gate SFs (≤ 2000 vectors) the
    * limit does not bind, so gate results are byte-identical to the
    * unsampled spelling; the oracle applies the same rule. */
  private val NearDupSample = 5000

  def qCosNearDup(s: SparkSession, d: String): DataFrame = {
    // NOT silent when the gate binds: callers used to get a loud refusal
    // past MaxExactRows and now get a sample-restricted pair set — warn
    // once per (session, dataset) so an incomplete near-dup set is never
    // mistaken for the full one. guardProbe caches the count, so bench
    // re-invocations don't re-pay the probe job.
    val n = guardProbe(s, d)(vecs(s, d).count())
    if (n > NearDupSample)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"q_cos_neardup: corpus has $n vectors > sample gate " +
          s"$NearDupSample — returning pairs over the deterministic " +
          "md5 sample only (an accuracy oracle, not the full near-dup " +
          "set); use q_ann_lsh for complete coverage at scale")
    // the 5000 smallest md5-hash(vec_id) rows — TakeOrderedAndProject
    // (per-partition heap + driver merge), never a global sort; the
    // SAME seed-free sample rule as the k-means oversample, replayable
    // in DuckDB via md5 of the decimal id string
    val smp = vecs(s, d)
      .select(graft.functions.Md5Bits.hash60(col("vec_id")).as("h"),
        col("vec_id"), col("v"), col("nrm"))
      .orderBy(col("h"), col("vec_id")).limit(NearDupSample)
    val a = smp.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = smp.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosOrNull(DotProduct.dot(col("va"), col("vb")),
          col("na") * col("nb")).as("sim"))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))
  }

  val qCosNearDupSql: String =
    "WITH cnsmp AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      graft.functions.Md5Bits.sqlHash60("CAST(vec_id AS VARCHAR)") +
      s" AS h FROM embeddings ORDER BY h, vec_id LIMIT $NearDupSample) " +
      "SELECT id_a, id_b, round(sim, 6) AS sim_r FROM (" +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim " +
      "FROM cnsmp a JOIN cnsmp b " +
      s"ON a.vec_id < b.vec_id) p WHERE sim >= $NearDupThreshold"

  // ── Sign-random-projection LSH ANN (the approximate 100 TB path) ───────
  // One 16-bit sketch per vector (single scan, no shuffle), banded into 4
  // 4-bit blocks: vectors sharing any block become candidates (pigeonhole
  // over small Hamming distances, exactly like SimHash block-banding), so
  // shuffle volume is O(vectors × bands) instead of O(pairs). Candidates
  // are re-scored with exact cosine and top-k ranked per query.
  // The hyperplanes derive from md5 (VectorFunctions.srpPlane), so the
  // DuckDB oracle rebuilds the identical sketches and the whole query is
  // hash-checked; recall vs brute force stays asserted in SimilaritySpec.
  private val Dims = 64 // embeddings table dimension

  def qAnnLsh(s: SparkSession, d: String): DataFrame =
    annLsh(vecs(s, d).select(col("vec_id"), col("v")), nBits = 16, bands = 4,
      k = K, queryFilter = col("vec_id") < NumQueries, dims = Dims)

  /** Reusable LSH ANN over any (vec_id, v: array<double>) frame; `dims`
    * fixes the hyperplane width at plan-build time (vectors of any other
    * length sketch to NULL and never pair). */
  def annLsh(vecFrame: DataFrame, nBits: Int, bands: Int, k: Int,
      queryFilter: Column, dims: Int): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val sketched = vecFrame.select(col("vec_id"), col("v"),
      srpSketch(col("v"), nBits, dims).as("sk"),
      sqrt(DotProduct.dot(col("v"), col("v"))).as("nrm"))
    val banded = sketched.select(col("vec_id"), col("v"), col("nrm"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sk"), b * bandBits).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
    val q = banded.filter(queryFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("bk"))
    val cand = banded.as("c")
      .join(q, col("c.bk") === q("bk") && col("c.vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qn"),
        col("c.vec_id").as("nid"), col("c.v").as("nv"), col("c.nrm").as("nn"))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    cand.select(col("qid"), col("nid"),
      cosOrNull(DotProduct.dot(col("qv"), col("nv")),
        col("qn") * col("nn")).as("sim"))
      // zero-norm vectors have undefined cosine — excluded on both the
      // engine and oracle sides (oracle guards qn * nn > 0)
      .filter(col("sim").isNotNull)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), round(col("sim"), 6).as("sim_r"))
  }

  /** DuckDB oracle for qAnnLsh: rebuild the md5-derived hyperplanes,
    * sketch, band-match, exact-cosine re-score, rank — the identical
    * computation (same fold order via list_dot_product). */
  val qAnnLshSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60(
      "CAST(j AS VARCHAR) || ',' || CAST(d AS VARCHAR)")
    "WITH planes AS (SELECT j, list(CAST(CASE WHEN (" + h + " & 1) = 1 " +
      "THEN 1.0 ELSE -1.0 END AS DOUBLE) ORDER BY d) AS sv " +
      s"FROM range(0, 16) a(j), range(0, $Dims) b(d) GROUP BY j), " +
      "vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "sk AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, " +
      "CAST(sum(CASE WHEN list_dot_product(v, sv) >= 0 " +
      "THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sk " +
      "FROM vs, planes GROUP BY vec_id, v), " +
      "cand AS (SELECT q.vec_id AS qid, c.vec_id AS nid, " +
      "list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim " +
      s"FROM sk q JOIN sk c ON q.vec_id < $NumQueries " +
      "AND c.vec_id <> q.vec_id AND q.nrm * c.nrm > 0 " +
      "AND EXISTS (SELECT 1 FROM range(0, 4) t(b) " +
      "WHERE ((q.sk >> (b*4)) & 15) = ((c.sk >> (b*4)) & 15))) " +
      "SELECT qid, nid, rnk, round(sim, 6) AS sim_r FROM (" +
      "SELECT qid, nid, sim, row_number() OVER (" +
      "PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rnk FROM cand) r " +
      s"WHERE rnk <= $K"
  }

  // ── SRP estimator accuracy audit ───────────────────────────────────────
  // The fourth sketch audit (MinHash, CMS, HLL, now SRP): on the banded-
  // collision pairs OF THE PROBE SET (the anchor side is the same
  // `vec_id < NumQueries` probe set q_ann_lsh serves), the 16-bit
  // sign-random-projection estimate cos(π·hamming/16) against the TRUE
  // cosine — the bits-vs-error measurement behind any SRP banding
  // choice, measured exactly where it matters: on the serving path's
  // candidate pairs. Anchoring one side keeps the audit LINEAR in the
  // corpus (probes × bucket-mates); the earlier all-vs-all banded
  // self-join was Θ(N²/2^bandBits) — 31× the wall time for 10× vectors
  // at sf1, the fixed 16-value band-key space making it structural.
  // The estimate takes only 17 possible values (hamming ∈ 0..16),
  // rounded to 6dp before the error terms; error magnitudes
  // micro-quantize before summing, so the one-row report is
  // accumulation-order-free.
  def qSrpError(s: SparkSession, d: String): DataFrame = {
    val nBits = 16
    val bands = 4
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val sk = vecs(s, d).filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"),
        srpSketch(col("v"), nBits, Dims).as("sk"))
    val banded = sk.select(col("vec_id"), col("v"), col("nrm"), col("sk"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sk"), b * bandBits).bitwiseAND(lit(mask))
            .as("key"))
      }: _*)).as("bk"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id") &&
          col("a.vec_id") < NumQueries)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        col("a.v").as("va"), col("b.v").as("vb"),
        (col("a.nrm") * col("b.nrm")).as("denom"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .dropDuplicates("ia", "ib")
    val scored = pairs.select(
      round(cos(lit(math.Pi) *
        call_function("bit_count", col("ska").bitwiseXOR(col("skb")))
          .cast("double") / nBits), 6).as("est"),
      (DotProduct.dot(col("va"), col("vb")) / col("denom")).as("tru"))
      .select(
        round(abs(col("est") - col("tru")) * 1e6, 0).cast("long").as("ae"),
        round((col("est") - col("tru")) * 1e6, 0).cast("long").as("se"))
    scored.agg(count(lit(1)).as("n_pairs"),
      sum(col("ae")).as("sae"), max(col("ae")).as("mae"),
      sum(col("se")).as("sse"))
      .select(col("n_pairs"),
        round(col("sae").cast("double") /
          (col("n_pairs").cast("double") * 1e6), 6).as("mean_abs_err"),
        round(col("mae").cast("double") / 1e6, 6).as("max_abs_err"),
        round(col("sse").cast("double") /
          (col("n_pairs").cast("double") * 1e6), 6).as("bias"))
  }

  val qSrpErrorSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60(
      "CAST(j AS VARCHAR) || ',' || CAST(d AS VARCHAR)")
    "WITH planes AS (SELECT j, list(CAST(CASE WHEN (" + h + " & 1) = 1 " +
      "THEN 1.0 ELSE -1.0 END AS DOUBLE) ORDER BY d) AS sv " +
      s"FROM range(0, 16) a(j), range(0, $Dims) b(d) GROUP BY j), " +
      "vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "sk AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, " +
      "CAST(sum(CASE WHEN list_dot_product(v, sv) >= 0 " +
      "THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sk " +
      "FROM vs, planes GROUP BY vec_id, v), " +
      "pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib, " +
      "round(cos(pi() * CAST(bit_count(xor(a.sk, b.sk)) AS DOUBLE) / 16), 6) AS est, " +
      "list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS tru " +
      s"FROM sk a JOIN sk b ON a.vec_id < b.vec_id AND a.vec_id < $NumQueries " +
      "AND a.nrm > 0 AND b.nrm > 0 " +
      "AND EXISTS (SELECT 1 FROM range(0, 4) t(bb) " +
      "WHERE ((a.sk >> (bb*4)) & 15) = ((b.sk >> (bb*4)) & 15))), " +
      "scored AS (SELECT CAST(round(abs(est - tru) * 1e6, 0) AS BIGINT) AS ae, " +
      "CAST(round((est - tru) * 1e6, 0) AS BIGINT) AS se FROM pairs) " +
      "SELECT count(*) AS n_pairs, " +
      "round(CAST(sum(ae) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_abs_err, " +
      "round(CAST(max(ae) AS DOUBLE) / 1e6, 6) AS max_abs_err, " +
      "round(CAST(sum(se) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e6), 6) AS bias " +
      "FROM scored"
  }

  // ── Per-label centroids (elementwise mean vectors) ─────────────────────
  // The clustering/averaging primitive (IVF coarse quantizer training,
  // class prototypes): posexplode → one grouped aggregation keyed on
  // (label, dim) — fully parallel, one shuffle of scalar triples, never
  // whole vectors. Decimal sum → order-independent, oracle-exact.
  def qCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      // final quantize to 1e-6: the decimal sum is exact/order-independent,
      // but each float summand's double→DECIMAL(28,12) TIE rounding can
      // differ between engines (observed: one cell off by 2e-14 under
      // DuckDB 1.0.0) — quantizing the quotient absorbs that last-ulp
      // noise. Spelled floor(q·1e6 + 0.5)/1e6, NOT round(q, 6): the
      // engines' round() libraries disagree when q·1e6 lands on a
      // representable .5, and a tiny negative mean rounds to -0.0 on one
      // engine and 0.0 on the other ('-0' vs '0' in the hash canon —
      // caught at sf3). The floor spelling is plain IEEE arithmetic
      // computed identically on both sides and never emits -0.0.
      .agg((floor(sum(col("x").cast("decimal(28,12)")).cast("double") /
        count(col("x")) * 1e6 + 0.5) / 1e6).as("c"))

  val qCentroidsSql: String =
    "SELECT label, pos - 1 AS dim, " +
      "floor(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(x) * 1e6 + 0.5) / 1e6 AS c " +
      "FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x, " +
      "generate_subscripts(embedding, 1) AS pos FROM embeddings) t " +
      "GROUP BY 1, 2"

  // ── IVF ANN: k-means-trained inverted file, probe nProbe cells ─────────
  // The other standard ANN family next to LSH: the corpus is bucketed by
  // nearest trained centroid; each query scans only its 4 nearest of 16
  // cells (~25% of the corpus). The whole training run is deterministic
  // AND engine-agnostic (md5-derived init sample, dot-product-spelled
  // distances, order-independent decimal means — see KMeans.fit), so the
  // oracle replays init + every Lloyd round + the probed search in SQL;
  // exactness at full probe + cluster recall stay spec-tested.
  private val IvfK = 16
  private val IvfIters = 3
  private val IvfProbe = 4

  def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val centroids = graft.operators.KMeans.fit(v, k = IvfK, iterations = IvfIters)
    graft.operators.KMeans.ivfSearch(
      v, v.filter(col("id") < NumQueries), centroids, k = K, nProbe = IvfProbe)
      .select(col("qid"), col("nid"), col("rnk"), round(col("sim"), 6).as("sim_r"))
  }

  /** DuckDB oracle for qAnnIvf — the full pipeline unrolled as CTEs:
    * md5-ordered oversample, k greedy farthest-point selections (argmax
    * of min-distance, tie on id — KMeans.fit's exact rule), `IvfIters`
    * Lloyd rounds (argmin assign + decimal-mean recompute + empty-cell
    * coalesce), then the probed cosine search. Every float op uses the
    * same spelling/fold order as the engine (`list_dot_product`,
    * `c·c - 2·v·c` scores, round-6 means), so comparisons agree
    * bit-for-bit. */
  private def sqlDot(a: String, b: String) = s"list_dot_product($a, $b)"
  private def sqlScore(v: String, c: String) =
    s"${sqlDot(c, c)} - 2*${sqlDot(v, c)}"

  /** Shared SQL replay of `KMeans.fit(k, iters)` + the final assignment:
    * a `WITH` prefix whose LAST CTE is
    * `cells(id, v: DOUBLE[], cluster, nrm)` — the whole corpus labeled
    * with its trained cluster and L2 norm. Callers append their own CTEs
    * (`prefix + ", x AS (...) SELECT ..."`). Both the IVF search and the
    * SemDeDup oracle build on this so the training replay cannot drift
    * between them. */
  private def kmeansCellsSql(k: Int, iters: Int, baseWhere: String = null,
      encodeSrc: String = "vs"): String = {
    val m = 4 * k
    def dot(a: String, b: String) = sqlDot(a, b)
    def d2(a: String, b: String) = s"${dot(a, a)} - 2*${dot(a, b)} + ${dot(b, b)}"
    def assignCte(name: String, src: String, cent: String) =
      s"$name AS MATERIALIZED (SELECT id, v, cluster FROM (" +
        s"SELECT e.id, e.v, c.cluster, row_number() OVER (PARTITION BY e.id " +
        s"ORDER BY ${sqlScore("e.v", "c.v")} ASC, c.cluster ASC) AS rn " +
        s"FROM $src e, $cent c) WHERE rn = 1)"
    val sb = new StringBuilder
    // MATERIALIZED: the corpus CTE is referenced by every Lloyd round —
    // inlining it would re-open the parquet per reference (observed:
    // fd exhaustion) and rescan ~20×
    // baseWhere (upsert replay): training draws from the `vs` SUBSET,
    // while `vsall` stays available for encode/query CTEs (encodeSrc)
    if (baseWhere == null)
      sb ++= "WITH vs AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    else {
      sb ++= "WITH vsall AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
      sb ++= s"vs AS MATERIALIZED (SELECT id, v FROM vsall WHERE $baseWhere), "
    }
    sb ++= "smp AS MATERIALIZED (SELECT id, v, " +
      graft.functions.Md5Bits.sqlHash60("CAST(id AS VARCHAR)") +
      s" AS h FROM vs ORDER BY h, id LIMIT $m), "
    sb ++= "ch0 AS MATERIALIZED (SELECT id, v FROM smp ORDER BY h, id LIMIT 1), "
    sb ++= s"md0 AS MATERIALIZED (SELECT s.id, s.v, ${d2("s.v", "c.v")} AS mind FROM smp s, ch0 c), "
    for (j <- 1 until k) {
      sb ++= s"ch$j AS MATERIALIZED (SELECT id, v FROM md${j - 1} ORDER BY mind DESC, id ASC LIMIT 1), "
      if (j < k - 1)
        sb ++= s"md$j AS MATERIALIZED (SELECT m.id, m.v, least(m.mind, ${d2("m.v", "c.v")}) AS mind " +
          s"FROM md${j - 1} m, ch$j c), "
    }
    sb ++= (0 until k)
      .map(j => s"SELECT $j AS cluster, v FROM ch$j")
      .mkString("cent0 AS MATERIALIZED (", " UNION ALL ", "), ")
    for (t <- 1 to iters) {
      sb ++= assignCte(s"a$t", "vs", s"cent${t - 1}") + ", "
      sb ++= s"m$t AS (SELECT cluster, pos - 1 AS dim, " +
        "round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(x), 6) AS mval " +
        s"FROM (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a$t) " +
        "GROUP BY 1, 2), "
      sb ++= s"n$t AS (SELECT cluster, list(mval ORDER BY dim) AS v FROM m$t GROUP BY cluster), "
      sb ++= s"cent$t AS MATERIALIZED (SELECT p.cluster, coalesce(n.v, p.v) AS v " +
        s"FROM cent${t - 1} p LEFT JOIN n$t n USING (cluster)), "
    }
    sb ++= assignCte("cellsa", encodeSrc, s"cent$iters") + ", "
    sb ++= s"cells AS (SELECT id, v, cluster, sqrt(${dot("v", "v")}) AS nrm FROM cellsa)"
    sb.toString
  }

  val qAnnIvfSql: String =
    kmeansCellsSql(IvfK, IvfIters) + ", " +
      s"qs AS (SELECT id AS qid, v AS qv, sqrt(${sqlDot("v", "v")}) AS qn " +
      s"FROM vs WHERE id < $NumQueries), " +
      "probes AS (SELECT qid, qv, qn, cluster FROM (" +
      "SELECT q.qid, q.qv, q.qn, c.cluster, row_number() OVER (PARTITION BY q.qid " +
      s"ORDER BY ${sqlScore("q.qv", "c.v")} ASC, c.cluster ASC) AS rn " +
      s"FROM qs q, cent$IvfIters c) WHERE rn <= $IvfProbe), " +
      s"cand AS (SELECT p.qid, l.id AS nid, " +
      s"${sqlDot("p.qv", "l.v")} / (p.qn * l.nrm) AS sim " +
      "FROM probes p JOIN cells l USING (cluster) WHERE l.id <> p.qid) " +
      "SELECT qid, nid, rnk, round(sim, 6) AS sim_r FROM (" +
      "SELECT qid, nid, sim, row_number() OVER (" +
      "PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rnk FROM cand) " +
      s"WHERE rnk <= $K"

  // ── IVF recall audit (ANN vs exact ground truth) ───────────────────────
  // The fifth accuracy audit: recall@5 of the nprobe=4 IVF search
  // against the brute-force top-5 — the ANN quality number every
  // nprobe/k trade-off decision reads. Both sides are the PROVEN chains
  // (qAnnIvf's replayed k-means + probed search; qKnnBrute's guarded
  // exact scan), the intersection is an equi-join on (query, neighbor),
  // and every reported figure is a ratio of integers — mean recall =
  // Σhits/(|queries|·k) — so nothing floats until one division.
  def qIvfRecall(s: SparkSession, d: String): DataFrame =
    recallSummary(qAnnIvf(s, d), qKnnBrute(s, d))

  /** recall@K of `ann` against the exact top-K `truth` (both carrying
    * qid, nid): one row of integer counts and their two ratios. The
    * truth side is checkpointed once, since both joins read it. */
  private def recallSummary(ann: DataFrame, truth: DataFrame): DataFrame = {
    val found = ann.select(col("qid"), col("nid"))
    val brute = truth.select(col("qid"), col("nid")).localCheckpoint(true)
    val hits = brute.select(col("qid")).distinct()
      .join(found.join(brute, Seq("qid", "nid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h")), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("h"))
    hits.agg(count(lit(1)).as("n_queries"),
      sum(col("h")).as("total_hits"), min(col("h")).as("min_h"))
      .select(col("n_queries"), col("total_hits"),
        round(col("total_hits").cast("double") /
          (col("n_queries").cast("double") * K), 6).as("mean_recall"),
        round(col("min_h").cast("double") / K, 6).as("min_recall"))
  }

  val qIvfRecallSql: String =
    s"WITH ivf AS (SELECT qid, nid FROM ($qAnnIvfSql) x), " +
      s"brute AS (SELECT qid, nid FROM ($qKnnBruteSql) y), " +
      "hit AS (SELECT q.qid, count(i.nid) AS h " +
      "FROM (SELECT DISTINCT qid FROM brute) q " +
      "LEFT JOIN (SELECT ivf.qid, ivf.nid FROM ivf " +
      "JOIN brute ON ivf.qid = brute.qid AND ivf.nid = brute.nid) i " +
      "ON i.qid = q.qid GROUP BY 1) " +
      "SELECT count(*) AS n_queries, CAST(sum(h) AS BIGINT) AS total_hits, " +
      s"round(CAST(sum(h) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $K), 6) " +
      "AS mean_recall, " +
      s"round(CAST(min(h) AS DOUBLE) / $K, 6) AS min_recall FROM hit"

  // ── IVF-PQ recall audit (seventh sketch-accuracy audit) ────────────────
  // recall@5 of the composed two-stage index (coarse probe + ADC + exact
  // refine) against the brute-force ground truth — what decides whether
  // the 16× scan compression is safe at the chosen nProbe/PqC dials.
  // Same integer-ratio discipline as qIvfRecall; distance-ranked IVF-PQ
  // top-k vs the cosine-ranked exact top-k agree because all vectors
  // share ~unit scale on this fixture (the spec asserts the measured
  // recall itself, so any metric mismatch would surface as a low number).
  def qIvfPqRecall(s: SparkSession, d: String): DataFrame = {
    val ann = qAnnIvfPq(s, d)
    // exact SQUARED-L2 ground truth (the metric IVF-PQ ranks by — the
    // cosine brute would count metric disagreement as index loss)
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val q = v.filter(col("id") < NumQueries)
      .select(col("id").as("qid"), col("v").as("qv"))
    val wB = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    val brute = v.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        sqL2(col("qv"), col("v")).as("d2"))
      .withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= K)
    recallSummary(ann, brute)
  }

  lazy val qIvfPqRecallSql: String =
    s"WITH ann AS (SELECT qid, nid FROM ($qAnnIvfPqSql) x), " +
      "brute AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (" +
      "PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rnk FROM (" +
      "SELECT q.vec_id AS qid, e.vec_id AS nid, " +
      "list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, e.v) " +
      "+ list_dot_product(e.v, e.v) AS d2 " +
      "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
      s"WHERE vec_id < $NumQueries) q, " +
      "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e " +
      s"WHERE e.vec_id <> q.vec_id) p) r WHERE rnk <= $K), " +
      "hit AS (SELECT q.qid, count(i.nid) AS h " +
      "FROM (SELECT DISTINCT qid FROM brute) q " +
      "LEFT JOIN (SELECT ann.qid, ann.nid FROM ann " +
      "JOIN brute ON ann.qid = brute.qid AND ann.nid = brute.nid) i " +
      "ON i.qid = q.qid GROUP BY 1) " +
      "SELECT count(*) AS n_queries, CAST(sum(h) AS BIGINT) AS total_hits, " +
      s"round(CAST(sum(h) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $K), 6) " +
      "AS mean_recall, " +
      s"round(CAST(min(h) AS DOUBLE) / $K, 6) AS min_recall FROM hit"

  // ── SemDeDup: embedding-cluster near-duplicate pruning ─────────────────
  // Abbas et al., "SemDeDup" (2023): cluster the corpus embeddings with
  // k-means, then drop, WITHIN each cluster only, every vector whose
  // cosine to a lower-id cluster-mate exceeds τ — semantic dedup without
  // an all-pairs stage. The pairwise step is bounded by cluster size (a
  // 100 TB run raises k to keep cells bounded; the paper uses k≈11k for
  // LAION), so the quadratic piece never sees the corpus. Training reuses
  // the SAME deterministic KMeans.fit the IVF query proved, and the
  // drop rule ("dominated by ANY earlier cluster-mate", not just kept
  // ones) is order-independent — re-runs and the SQL replay agree
  // exactly. τ is calibrated to the synthetic fixture's cosine range
  // (max pair ≈ 0.51); a production text-embedding corpus runs ~0.9.
  private val SemTau = 0.35

  /** SemDeDup's k auto-scales with the corpus so the within-cell
    * quadratic piece stays BOUNDED: k = IvfK·⌈n / MaxExactRows⌉ — the
    * demo k=16 up to 100k vectors (so every oracle tier through sf3 is
    * byte-identical to the fixed-k spelling), +16 per further 100k.
    * Average cell size stays ≈ MaxExactRows/IvfK ≈ 6k rows, so pair
    * volume grows LINEARLY in n — the paper's k ≈ n/10k recipe (Abbas
    * et al. 2023 §3; k ≈ 11k for LAION) rather than a refusal. The
    * REGISTERED oracle is k-faithful at every tier: Verify writes
    * oracle_sql.json from `fixtureOracles`, which respells the replay at
    * this same semK(n) — identical to the static k=16 strings wherever
    * n ≤ MaxExactRows, the generated-k spelling past that (round 17
    * verified k=32 hash-green at sf10's 200k vectors by hand; round 18
    * re-verified through the automatic path). At corpus sizes where the
    * O(n·k) Lloyd fit
    * itself dominates, production swaps the inline fit for the
    * fingerprint-keyed persisted artifact the ANN family already uses
    * (fit once per corpus, serve warm). */
  private[graft] def semK(n: Long): Int =
    (IvfK * ((n + MaxExactRows - 1) / MaxExactRows)).toInt

  def qSemdedup(s: SparkSession, d: String): DataFrame = {
    // Bounded-cell discipline: k scales with the corpus (see semK) so
    // the within-cell dominance join never goes quadratic in n.
    val n = guardProbe(s, d + "#semn")(vecs(s, d).count())
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val centroids = graft.operators.KMeans.fit(v, k = semK(n), iterations = IvfIters)
    val a = graft.operators.KMeans.assign(v, centroids)
      .withColumn("nrm", sqrt(DotProduct.dot(col("v"), col("v"))))
    val right = a.select(col("cluster"), col("id").as("id2"),
      col("v").as("v2"), col("nrm").as("nrm2"))
    // the dominance join: same cluster, strictly earlier id, cosine > τ —
    // shuffles on cluster only, pair volume bounded per cell
    val dropped = a.join(right, Seq("cluster"))
      .filter(col("id") < col("id2") && col("nrm") > 0 && col("nrm2") > 0)
      .filter(DotProduct.dot(col("v"), col("v2")) / (col("nrm") * col("nrm2"))
        > SemTau)
      .select(col("id2").as("id")).distinct()
    a.join(dropped.withColumn("is_dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        when(col("is_dropped").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** The SemDeDup replay at an explicit k — the registered oracle is the
    * k=IvfK instance (exact wherever the corpus ≤ MaxExactRows); larger
    * tiers register the spelling at semK(n) via [[fixtureOracles]]. */
  def qSemdedupSqlFor(k: Int): String =
    kmeansCellsSql(k, IvfIters) + ", " +
      "dom AS (SELECT DISTINCT b.id AS id FROM cells a JOIN cells b " +
      "ON a.cluster = b.cluster AND a.id < b.id " +
      "AND a.nrm > 0 AND b.nrm > 0 " +
      s"AND ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) > $SemTau) " +
      "SELECT c.id, CAST(c.cluster AS BIGINT) AS cluster, " +
      "CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept " +
      "FROM cells c LEFT JOIN dom d USING (id)"

  val qSemdedupSql: String = qSemdedupSqlFor(IvfK)

  // ── SemDeDup with the paper's keep policy ──────────────────────────────
  // The variant above keeps the lowest id per near-dup group; the paper
  // (Abbas et al. 2023 §3) keeps the example FARTHEST from its cluster
  // centroid — the most atypical representative, so pruning sheds the
  // redundant center mass of each semantic clump. Keep-priority is the
  // total order (centroid distance DESC, id ASC); x drops iff some
  // cosine-τ cluster-mate outranks it. Dominance by ANY mate (kept or
  // not) keeps the rule order-independent AND leaves survivors pairwise
  // below τ: of two similar rows one always outranks the other. The
  // distance rides a 16-row broadcast join; every fold order matches the
  // SQL replay exactly, so the cross-row score comparisons agree.
  def qSemdedupKeep(s: SparkSession, d: String): DataFrame = {
    // Same bounded-cell discipline as qSemdedup: k = semK(n).
    val n = guardProbe(s, d + "#semn")(vecs(s, d).count())
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val centroids = graft.operators.KMeans.fit(v, k = semK(n), iterations = IvfIters)
    val a = graft.operators.KMeans.assign(v, centroids)
      .join(broadcast(centroids.select(col("cluster"), col("c"))), Seq("cluster"))
      .withColumn("nrm", sqrt(DotProduct.dot(col("v"), col("v"))))
      // full squared distance — v·v does NOT cancel across different rows
      .withColumn("score", sqL2(col("c"), col("v")))
      .drop("c")
    val right = a.select(col("cluster"), col("id").as("id2"),
      col("v").as("v2"), col("nrm").as("nrm2"), col("score").as("score2"))
    val dropped = a.join(right, Seq("cluster"))
      .filter(col("id") =!= col("id2") && col("nrm") > 0 && col("nrm2") > 0)
      .filter(DotProduct.dot(col("v"), col("v2")) / (col("nrm") * col("nrm2"))
        > SemTau)
      .filter(col("score2") > col("score") ||
        (col("score2") === col("score") && col("id2") < col("id")))
      .select(col("id")).distinct()
    a.join(dropped.withColumn("is_dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        when(col("is_dropped").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Keep-farthest replay at an explicit k (see qSemdedupSqlFor). */
  def qSemdedupKeepSqlFor(k: Int): String =
    kmeansCellsSql(k, IvfIters) + ", " +
      s"sc AS (SELECT c.id, c.v, c.cluster, c.nrm, " +
      s"${sqlDot("ct.v", "ct.v")} - 2*${sqlDot("c.v", "ct.v")} + ${sqlDot("c.v", "c.v")} AS score " +
      s"FROM cells c JOIN cent$IvfIters ct USING (cluster)), " +
      "dom AS (SELECT DISTINCT a.id FROM sc a JOIN sc b " +
      "ON a.cluster = b.cluster AND a.id <> b.id " +
      "AND a.nrm > 0 AND b.nrm > 0 " +
      s"AND ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) > $SemTau " +
      "AND (b.score > a.score OR (b.score = a.score AND b.id < a.id))) " +
      "SELECT s.id, CAST(s.cluster AS BIGINT) AS cluster, " +
      "CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept " +
      "FROM sc s LEFT JOIN dom d USING (id)"

  val qSemdedupKeepSql: String = qSemdedupKeepSqlFor(IvfK)

  /** Fixture-faithful oracle overrides — the queries whose registered SQL
    * is a function of the corpus (SemDeDup runs at k = semK(n), so its
    * replay must too). Verify folds these over the static map when it
    * writes oracle_sql.json, making every tier's registered oracle the
    * exact engine spelling with no manual oracle swap. At any tier
    * with n ≤ MaxExactRows (every gate tier through sf3) the returned
    * strings are byte-identical to the static k=IvfK registrations. */
  def fixtureOracles(s: SparkSession, d: String): Map[String, String] = {
    val k = semK(guardProbe(s, d + "#semn")(vecs(s, d).count()))
    Map("q_semdedup" -> qSemdedupSqlFor(k),
      "q_semdedup_keep" -> qSemdedupKeepSqlFor(k))
  }

  // ── k-NN label classification (embedding-quality evaluation) ───────────
  // The standard embedding probe: predict each query vector's label by
  // majority vote of its 5 nearest neighbors (self excluded) and flag
  // correctness against the stored label — embeddings whose neighborhoods
  // vote their own class are retrieval-ready. Builds directly on the
  // oracle-proven deterministic kNN (qKnnBrute); the vote is one tiny
  // (qid, label) aggregation + the argmax-struct rollup. Vote ties break
  // to the larger label — replayed as (cnt DESC, label DESC).
  def qKnnClassify(s: SparkSession, d: String): DataFrame = {
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = qKnnBrute(s, d)
      .join(labels.select(col("vec_id").as("nid"), col("label").as("nl")), "nid")
      .groupBy(col("qid"), col("nl")).agg(count(lit(1)).as("cnt"))
    votes.groupBy(col("qid"))
      .agg(max(struct(col("cnt"), col("nl"))).as("top"))
      .join(labels.select(col("vec_id").as("qid"),
        col("label").as("true_label")), "qid")
      .select(col("qid"), col("true_label"),
        col("top.nl").as("pred_label"), col("top.cnt").as("n_votes"),
        when(col("true_label") === col("top.nl"), 1L).otherwise(0L).as("correct"))
  }

  val qKnnClassifySql: String =
    s"WITH nn AS ($qKnnBruteSql), " +
      "lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings), " +
      "v AS (SELECT n.qid, l.label AS nl, count(*) AS cnt " +
      "FROM nn n JOIN lb l ON n.nid = l.vec_id GROUP BY 1, 2), " +
      "p AS (SELECT qid, nl, cnt, " +
      "row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, nl DESC) AS rn FROM v) " +
      "SELECT p.qid, t.label AS true_label, p.nl AS pred_label, p.cnt AS n_votes, " +
      "CAST(CASE WHEN t.label = p.nl THEN 1 ELSE 0 END AS BIGINT) AS correct " +
      "FROM p JOIN lb t ON p.qid = t.vec_id WHERE rn = 1"

  // ── K-means cluster purity (clustering evaluation) ─────────────────────
  // The eval harness for the similarity stack: per trained cell, the
  // dominant ground-truth label's share of the cell (cell purity) — the
  // standard external clustering metric. Counts only: one shuffle to
  // (cluster, label) counts, then the same argmax-struct rollup the
  // boilerplate report uses (partial-aggregating max, no window); the
  // result is k rows whatever the corpus size. Label ties break to the
  // larger label — replayed in SQL as (cnt DESC, label DESC).
  def qClusterPurity(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val centroids = graft.operators.KMeans.fit(v, k = IvfK, iterations = IvfIters)
    val labeled = graft.operators.KMeans.assign(v, centroids)
      .join(Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("label").cast("long").as("label")), "id")
    val counts = labeled.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("cluster"))
      .agg(max(struct(col("cnt"), col("label"))).as("top"),
        sum(col("cnt")).as("n_members"))
      .select(col("cluster"), col("n_members"),
        col("top.label").as("top_label"), col("top.cnt").as("n_top"),
        // Canon.qround, NOT round(x, 6): purity is an integer ratio with
        // power-of-two-friendly denominators, so x·1e6 lands EXACTLY on
        // .5 (e.g. 142/1280 at sf1) where the engines' round() legally
        // disagree (r16 float-canon audit)
        Canon.qround(col("top.cnt").cast("double") / col("n_members"), 6)
          .as("purity_r"))
  }

  val qClusterPuritySql: String =
    kmeansCellsSql(IvfK, IvfIters) + ", " +
      "lc AS (SELECT c.cluster, CAST(e.label AS BIGINT) AS label, count(*) AS cnt " +
      "FROM cells c JOIN embeddings e ON c.id = e.vec_id GROUP BY 1, 2), " +
      "r AS (SELECT cluster, label, cnt, " +
      "row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, label DESC) AS rn, " +
      "CAST(sum(cnt) OVER (PARTITION BY cluster) AS BIGINT) AS n_members FROM lc) " +
      "SELECT CAST(cluster AS BIGINT) AS cluster, n_members, label AS top_label, " +
      "cnt AS n_top, floor(CAST(cnt AS DOUBLE) / n_members * 1e6 + 0.5) / 1e6 AS purity_r " +
      "FROM r WHERE rn = 1"

  // ── PQ-ADC ANN: product quantization + asymmetric distance ─────────────
  // The third standard ANN family (FAISS's IVF-PQ compression half): the
  // 64-dim vector splits into PqM=4 subspaces of 16 dims; each subspace
  // trains its own PqK=16-centroid codebook (KMeans.fitProduct: per
  // subspace bit-identical to the KMeans.fit the IVF query proved — md5
  // oversample, farthest-point init, decimal-mean Lloyd rounds — with
  // all four trained in one corpus scan per round), and every corpus
  // vector compresses to 4 code bytes. A query never touches raw corpus vectors again:
  // it builds a (subspace, code) → partial-squared-distance lookup table
  // against the codebooks and scores candidates by summing 4 table hits
  // (asymmetric distance computation). At 100 TB this is THE scan-
  // compression story: the corpus scan reads 4 bytes + id per vector
  // (16× less than the raw floats), the LUTs broadcast (queries×PqK
  // rows each), encoding is ONE projection of literal argmins (zero
  // Exchange), and the per-query cost is 4 broadcast-hash probes + a
  // partial-aggregated top-k. Fold orders and the argmin tie rule are
  // the oracle-proven ones, so DuckDB replays training, encoding, and
  // ADC bit-for-bit.
  private val PqM = 4     // subspaces
  private val PqK = 16    // codes per subspace codebook
  private val PqIters = 2 // Lloyd rounds per codebook
  private val PqSub = Dims / PqM
  private val PqC = 50    // ADC candidates re-ranked exactly per query

  def qAnnPq(s: SparkSession, d: String): DataFrame = {
    // Serves from the persisted index (fit once per corpus, shared with
    // the IVF-PQ family): the stored codes were encoded with the SAME
    // deterministic codebooks this query used to train in-query, so the
    // result is identical (spec-pinned) while the corpus-sized training
    // scans drop out of the per-query plan. The PQ-only variant ignores
    // the coarse `cluster` column — every code row is a candidate.
    val (v, codes, _, books) = annIndex(s, d)
    pqServe(v, codes.drop("cluster"), books)
  }

  /** The in-query-training spelling of [[qAnnPq]] (train + encode + serve
    * in one plan) — spec-only, pinning persisted-serve == fresh-train. */
  def qAnnPqTrained(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val (_, books, codes) = trainAnnIndex(v)
    pqServe(v, codes.drop("cluster"), books)
  }

  /** Subspace `j`'s slice of a vector column (1-based, PqSub long). */
  private def pqSlice(v: Column, j: Int): Column = slice(v, j * PqSub + 1, PqSub)

  /** PQ encode: code columns c0..c3 of `col("v")`, all four subspace
    * argmins in ONE literal projection (zero Exchange). */
  private def pqCodes(books: Seq[DataFrame]): Seq[Column] =
    (0 until PqM).map(j => graft.operators.KMeans.argminCluster(
      pqSlice(col("v"), j), books(j)).as(s"c$j"))

  /** The PQ-ADC SERVING path over an encoded corpus `codes(id, c0..c3)`:
    * LUT build → candidate join → ADC shortlist → exact refine. With
    * coarse `centroids` (IVF-PQ; `codes` then also carries `cluster`),
    * each query first probes its IvfProbe nearest cells and only codes in
    * those cells are candidates. Every PQ and IVF-PQ query serves through
    * here, persisted index and fresh training alike, so their results are
    * hash-equal by construction. `v` doubles as query source
    * (id < NumQueries) and refine store (raw vectors touched only for
    * shortlisted ids). */
  private def pqServe(v: DataFrame, codes: DataFrame, books: Seq[DataFrame],
      centroids: Option[DataFrame] = None): DataFrame = {
    val q = v.filter(col("id") < NumQueries)
    // Per-subspace LUT: (qid, code) → cc − 2·c·q + q·q, the full partial
    // squared distance (the q·q term is rank-neutral but keeps the
    // reported ADC value a true squared-distance estimate).
    def lut(j: Int): DataFrame =
      q.select(col("id").as("qid"), pqSlice(col("v"), j).as("qs"))
        .crossJoin(broadcast(books(j)
          .select(col("cluster").as(s"c$j"), col("c"))))
        .select(col("qid"), col(s"c$j"), sqL2(col("c"), col("qs")).as(s"pd$j"))
    // IVF-PQ: the probe join (top-IvfProbe coarse cells per query,
    // shuffle-free as in ivfSearch) introduces qid, so every LUT join is
    // (qid, code) 1:1. PQ alone: the first LUT join fans each code row
    // out per query. All joins broadcast — the corpus side never
    // shuffles before the bounded top-k.
    val (probed, lut0Key) = centroids match {
      case Some(cents) =>
        val qScored = graft.operators.KMeans.centroidScores(cents, col("qv"))
        val probes = q.select(col("id").as("qid"), col("v").as("qv"))
          .select(col("qid"),
            explode(slice(array_sort(array(qScored: _*)), 1, IvfProbe)).as("pc"))
          .select(col("qid"), col("pc.cluster").as("cluster"))
        (codes.join(broadcast(probes), Seq("cluster")), Seq("qid", "c0"))
      case None => (codes, Seq("c0"))
    }
    var cur = probed.join(broadcast(lut(0)), lut0Key)
    for (j <- 1 until PqM)
      cur = cur.join(broadcast(lut(j)), Seq("qid", s"c$j"))
    // Fixed left-to-right association ((pd0+pd1)+pd2)+pd3 — the exact
    // IEEE sequence the oracle's left-assoc `+` chain produces.
    val adist = (0 until PqM).map(j => col(s"pd$j")).reduce(_ + _)
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid").asc)
    val shortlist = cur.filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), adist.as("adist"))
      .withColumn("crk", row_number().over(wAdc))
      .filter(col("crk") <= PqC)
      .select(col("qid"), col("nid"))
    // Refine: exact distances for the PqC shortlisted ids only — the
    // FAISS refine step. The shortlist (queries × PqC rows) broadcasts
    // into the corpus scan, so raw vectors are touched for ~PqC/N of the
    // corpus; structureless data (this synthetic table: same-label and
    // cross-label distances are both ≈2.0) makes the ADC ordering noisy,
    // and the exact re-rank is what turns it into a usable top-k.
    val exact = v.join(broadcast(shortlist), col("id") === col("nid"))
      .join(broadcast(q.select(col("id").as("qid"), col("v").as("qv"))), Seq("qid"))
      .select(col("qid"), col("nid"), sqL2(col("qv"), col("v")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("qid"), col("nid"), col("rnk"), round(col("d2"), 6).as("dist_r"))
  }

  /** The PQ trainer + encoder + LUT CTE block (everything between the
    * shared `vs`/`smp` prefix and the candidate generation), reused
    * verbatim by the standalone PQ oracle and the composed IVF-PQ
    * oracle so the two replays cannot drift. Expects a CTE `vs(id, v)`
    * to exist; defines its own training sample `pqsmp` (LIMIT 4·PqK —
    * matching KMeans.fitProduct's sample size, independent of whatever
    * sample the coarse-quantizer replay drew) plus `e$j`, `lut$j`,
    * `codes`. */
  private def pqTrainEncodeSql(encodeSrc: String = "vs"): String = {
    def dot(a: String, b: String) = s"list_dot_product($a, $b)"
    def d2(a: String, b: String) = s"${dot(a, a)} - 2*${dot(a, b)} + ${dot(b, b)}"
    def score(v: String, c: String) = s"${dot(c, c)} - 2*${dot(v, c)}"
    def sliced(e: String, j: Int) = s"$e[${j * PqSub + 1}:${(j + 1) * PqSub}]"
    // training always slices `vs` (the base corpus); encode + query LUTs
    // slice encodeSrc — distinct CTEs only when the two differ (upsert)
    def encJ(j: Int) = if (encodeSrc == "vs") s"vs$j" else s"va$j"
    val sb = new StringBuilder
    sb ++= "pqsmp AS MATERIALIZED (SELECT id, v, " +
      graft.functions.Md5Bits.sqlHash60("CAST(id AS VARCHAR)") +
      s" AS h FROM vs ORDER BY h, id LIMIT ${4 * PqK}), "
    for (j <- 0 until PqM) {
      sb ++= s"s$j AS MATERIALIZED (SELECT id, ${sliced("v", j)} AS v, h FROM pqsmp), "
      sb ++= s"vs$j AS MATERIALIZED (SELECT id, ${sliced("v", j)} AS v FROM vs), "
      if (encodeSrc != "vs")
        sb ++= s"va$j AS MATERIALIZED (SELECT id, ${sliced("v", j)} AS v FROM $encodeSrc), "
      sb ++= s"ch${j}_0 AS MATERIALIZED (SELECT id, v FROM s$j ORDER BY h, id LIMIT 1), "
      sb ++= s"md${j}_0 AS MATERIALIZED (SELECT s.id, s.v, ${d2("s.v", "c.v")} AS mind FROM s$j s, ch${j}_0 c), "
      for (i <- 1 until PqK) {
        sb ++= s"ch${j}_$i AS MATERIALIZED (SELECT id, v FROM md${j}_${i - 1} ORDER BY mind DESC, id ASC LIMIT 1), "
        if (i < PqK - 1)
          sb ++= s"md${j}_$i AS MATERIALIZED (SELECT m.id, m.v, least(m.mind, ${d2("m.v", "c.v")}) AS mind " +
            s"FROM md${j}_${i - 1} m, ch${j}_$i c), "
      }
      sb ++= (0 until PqK)
        .map(i => s"SELECT $i AS cluster, v FROM ch${j}_$i")
        .mkString(s"cent${j}_0 AS MATERIALIZED (", " UNION ALL ", "), ")
      for (t <- 1 to PqIters) {
        sb ++= s"a${j}_$t AS MATERIALIZED (SELECT id, v, cluster FROM (" +
          s"SELECT e.id, e.v, c.cluster, row_number() OVER (PARTITION BY e.id " +
          s"ORDER BY ${score("e.v", "c.v")} ASC, c.cluster ASC) AS rn " +
          s"FROM vs$j e, cent${j}_${t - 1} c) WHERE rn = 1), "
        sb ++= s"m${j}_$t AS (SELECT cluster, pos - 1 AS dim, " +
          "round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(x), 6) AS mval " +
          s"FROM (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a${j}_$t) " +
          "GROUP BY 1, 2), "
        sb ++= s"n${j}_$t AS (SELECT cluster, list(mval ORDER BY dim) AS v FROM m${j}_$t GROUP BY cluster), "
        sb ++= s"cent${j}_$t AS MATERIALIZED (SELECT p.cluster, coalesce(n.v, p.v) AS v " +
          s"FROM cent${j}_${t - 1} p LEFT JOIN n${j}_$t n USING (cluster)), "
      }
      // encode this subspace (same argmin rule as the assign CTEs) —
      // over encJ, so an upsert replay encodes the FULL corpus while
      // training stayed on the base subset
      sb ++= s"e$j AS MATERIALIZED (SELECT id, cluster AS c$j FROM (" +
        s"SELECT e.id, c.cluster, row_number() OVER (PARTITION BY e.id " +
        s"ORDER BY ${score("e.v", "c.v")} ASC, c.cluster ASC) AS rn " +
        s"FROM ${encJ(j)} e, cent${j}_$PqIters c) WHERE rn = 1), "
      // per-subspace LUT over query slices (queries live in encJ too)
      sb ++= s"lut$j AS MATERIALIZED (SELECT q.id AS qid, c.cluster AS c$j, " +
        s"${dot("c.v", "c.v")} - 2*${dot("q.v", "c.v")} + ${dot("q.v", "q.v")} AS pd$j " +
        s"FROM ${encJ(j)} q, cent${j}_$PqIters c WHERE q.id < $NumQueries), "
    }
    sb ++= "codes AS (SELECT e0.id, c0, c1, c2, c3 FROM e0 " +
      "JOIN e1 USING (id) JOIN e2 USING (id) JOIN e3 USING (id))"
    sb.toString
  }

  /** DuckDB oracle for qAnnPq — four independent codebook trainings
    * (each the qAnnIvfSql machinery over a 16-dim slice: shared md5
    * oversample, greedy farthest-point init, decimal-mean Lloyd rounds,
    * empty-cell coalesce), then encode + LUT joins + the left-assoc ADC
    * sum. Slices are 1-based inclusive on both engines
    * (Spark `slice(v, lo, len)` ↔ DuckDB `v[lo:hi]`). */
  val qAnnPqSql: String = {
    def dot(a: String, b: String) = s"list_dot_product($a, $b)"
    val sb = new StringBuilder
    sb ++= "WITH vs AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    // pqTrainEncodeSql draws its own shared oversample (pqsmp: ids are
    // subspace-independent), sliced per codebook
    sb ++= pqTrainEncodeSql() + ", "
    sb ++= "cand AS (SELECT l0.qid, e.id AS nid, pd0 + pd1 + pd2 + pd3 AS adist " +
      "FROM codes e " +
      "JOIN lut0 l0 ON l0.c0 = e.c0 " +
      "JOIN lut1 l1 ON l1.qid = l0.qid AND l1.c1 = e.c1 " +
      "JOIN lut2 l2 ON l2.qid = l0.qid AND l2.c2 = e.c2 " +
      "JOIN lut3 l3 ON l3.qid = l0.qid AND l3.c3 = e.c3 " +
      "WHERE e.id <> l0.qid), "
    sb ++= "short AS (SELECT qid, nid FROM (" +
      "SELECT qid, nid, row_number() OVER (" +
      "PARTITION BY qid ORDER BY adist ASC, nid ASC) AS crk FROM cand) " +
      s"WHERE crk <= $PqC), "
    sb ++= s"exact AS (SELECT s.qid, s.nid, " +
      s"${dot("q.v", "q.v")} - 2*${dot("q.v", "n.v")} + ${dot("n.v", "n.v")} AS d2 " +
      "FROM short s JOIN vs q ON q.id = s.qid JOIN vs n ON n.id = s.nid) "
    sb ++= "SELECT qid, nid, rnk, round(d2, 6) AS dist_r FROM (" +
      "SELECT qid, nid, d2, row_number() OVER (" +
      "PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rnk FROM exact) " +
      s"WHERE rnk <= $K"
    sb.toString
  }

  // ── IVF-PQ: the composed production ANN architecture ───────────────────
  // FAISS's IndexIVFPQ shape, from the two PROVEN halves: the k-means
  // coarse quantizer restricts each query to its nProbe nearest inverted-
  // file cells (qAnnIvf's machinery), and WITHIN those cells candidates
  // are scored by PQ asymmetric distance over 4-byte codes (qAnnPq's
  // machinery; codebooks on raw vectors — the no-residual variant), then
  // exact-refined on the bounded shortlist. At 100 TB this is the full
  // story: the corpus scan reads (cell, 4 code bytes, id) per vector,
  // only ~nProbe/k of it joins any query, LUTs and the shortlist
  // broadcast, and raw vectors are touched only for the refine rows.
  // Every stage reuses the oracle-proven tie rules (argmin score asc →
  // cluster asc; shortlist adist asc → nid asc), and the DuckDB oracle
  // is literally the two proven CTE prefixes concatenated (sharing the
  // `vs` head; each trainer draws its own correctly-sized sample, so
  // IvfK and PqK may be dialed independently) plus the probed
  // candidate join.
  def qAnnIvfPq(s: SparkSession, d: String): DataFrame = {
    // Serves from the fingerprint-keyed persisted index (fit once per
    // corpus, shared with qAnnServe / qAnnPq / qIvfPqRecall) — the
    // in-query-training spelling below is retained as the spec's
    // bit-for-bit cross-check of the persisted path.
    val (v, codes, centroids, books) = annIndex(s, d)
    pqServe(v, codes, books, Some(centroids))
  }

  /** The in-query-training spelling of [[qAnnIvfPq]] — trains the coarse
    * quantizer + codebooks from the raw embeddings on every call. Kept
    * (spec-only) so SimilaritySpec can pin that the persisted-index serve
    * path equals a fresh train+serve bit-for-bit. */
  def qAnnIvfPqTrained(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    val (centroids, books, codes) = trainAnnIndex(v)
    pqServe(v, codes, books, Some(centroids))
  }

  /** The IVF-PQ serve-path SQL tail (probes → LUT candidate join → ADC
    * shortlist → exact refine) over query/refine source CTE `src` —
    * shared by the in-query-training, persisted-serve, and upsert
    * oracles so the replay cannot drift between them. */
  private def ivfPqServeSqlTail(src: String): String = {
    def dot(a: String, b: String) = s"list_dot_product($a, $b)"
    def score(v: String, c: String) = s"${dot(c, c)} - 2*${dot(v, c)}"
    val sb = new StringBuilder
    sb ++= "pprobes AS (SELECT qid, cluster FROM (" +
      "SELECT q.id AS qid, c.cluster, row_number() OVER (PARTITION BY q.id " +
      s"ORDER BY ${score("q.v", "c.v")} ASC, c.cluster ASC) AS rn " +
      s"FROM $src q, cent$IvfIters c WHERE q.id < $NumQueries) " +
      s"WHERE rn <= $IvfProbe), "
    sb ++= "pcand AS (SELECT p.qid, e.id AS nid, pd0 + pd1 + pd2 + pd3 AS adist " +
      "FROM pprobes p JOIN cells cl ON cl.cluster = p.cluster " +
      "JOIN codes e ON e.id = cl.id " +
      "JOIN lut0 l0 ON l0.qid = p.qid AND l0.c0 = e.c0 " +
      "JOIN lut1 l1 ON l1.qid = p.qid AND l1.c1 = e.c1 " +
      "JOIN lut2 l2 ON l2.qid = p.qid AND l2.c2 = e.c2 " +
      "JOIN lut3 l3 ON l3.qid = p.qid AND l3.c3 = e.c3 " +
      "WHERE e.id <> p.qid), "
    sb ++= "pshort AS (SELECT qid, nid FROM (" +
      "SELECT qid, nid, row_number() OVER (" +
      "PARTITION BY qid ORDER BY adist ASC, nid ASC) AS crk FROM pcand) " +
      s"WHERE crk <= $PqC), "
    sb ++= s"pexact AS (SELECT s.qid, s.nid, " +
      s"${dot("q.v", "q.v")} - 2*${dot("q.v", "n.v")} + ${dot("n.v", "n.v")} AS d2 " +
      s"FROM pshort s JOIN $src q ON q.id = s.qid JOIN $src n ON n.id = s.nid) "
    sb ++= "SELECT qid, nid, rnk, round(d2, 6) AS dist_r FROM (" +
      "SELECT qid, nid, d2, row_number() OVER (" +
      "PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rnk FROM pexact) " +
      s"WHERE rnk <= $K"
    sb.toString
  }

  val qAnnIvfPqSql: String =
    // coarse k-means replay (defines vs, smp, …, cells) + the PQ block
    // (consumes the same vs/smp; defines e$j, lut$j, codes) + shared tail
    kmeansCellsSql(IvfK, IvfIters) + ", " +
      pqTrainEncodeSql() + ", " + ivfPqServeSqlTail("vs")

  // ── Persisted-index ANN serving (fit once, serve forever) ──────────────
  // Production ANN never retrains per query: FAISS fits an index once and
  // serves millions of queries from it. qAnnIvfPq's dominant cost is the
  // in-query training (~3 s of its 4.1 s at sf0.1); this pair splits it:
  // fitAnnIndex trains the coarse quantizer + 4 PQ codebooks, encodes the
  // corpus, and PERSISTS the artifacts to parquet (centroids k=16 rows,
  // codebooks 4×16 rows, codes = (id, cell, 4 bytes) per vector, plus the
  // raw-vector refine store — exactly FAISS IndexRefineFlat's layout);
  // qAnnServe answers the same probes reading ONLY those tables. Doubles
  // round-trip parquet exactly, and the serving plan is the shared
  // pqServe, so the result is hash-identical to qAnnIvfPq and the
  // SAME oracle replay proves it. The index dir is keyed by a fingerprint
  // of the source file (path+size+mtime), so a regenerated corpus refits
  // instead of serving stale artifacts. At 100 TB the serve-side scan
  // reads (cell, 4 code bytes, id) per vector — the 16×-compressed
  // inverted file — and raw vectors only for the ~PqC shortlisted rows.
  private def annIndexDir(d: String, suffix: String = ""): java.nio.file.Path =
    graft.ArtifactCache.dir(d, "embeddings", "ann_index", suffix)

  /** Ensure the persisted IVF-PQ index for fixture `d` exists (fit once,
    * fingerprint-keyed), then return the read-back artifact frames
    * (vectors, codes, centroids, books). ALL IVF-PQ/PQ queries serve from
    * these — the production fit-once discipline — so the coarse quantizer
    * and the 4 PQ codebooks train exactly once per corpus instead of once
    * per query; determinism of the fit keeps every consumer's result
    * identical to its in-query-training spelling (spec-pinned). */
  private def annIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, IndexedSeq[DataFrame]) = {
    val dir = annIndexDir(d)
    if (!graft.ArtifactCache.ready(dir, "codes"))
      graft.ArtifactCache.publish(dir, part = "codes")(tmp =>
        fitAnnIndex(s, d, tmp.toString))
    (s.read.parquet(s"$dir/vectors"), s.read.parquet(s"$dir/codes"),
      s.read.parquet(s"$dir/centroids"),
      (0 until PqM).map(j => s.read.parquet(s"$dir/book$j")))
  }

  /** Train + persist the IVF-PQ index artifacts under `dir`. */
  def fitAnnIndex(s: SparkSession, d: String, dir: String): Unit =
    fitAnnIndexOn(vecs(s, d).select(col("vec_id").as("id"), col("v")), dir)

  /** The same fit + persist over any (id, v) frame — the upsert path
    * trains on the BASE slice only. */
  private def fitAnnIndexOn(v: DataFrame, dir: String): Unit = {
    val (centroids, books, codes) = trainAnnIndex(v)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    (0 until PqM).foreach(j =>
      books(j).write.mode("overwrite").parquet(s"$dir/book$j"))
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    v.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Train the IVF-PQ index over an (id, v) frame: the coarse quantizer
    * (KMeans.fit), the PqM codebooks (KMeans.fitProduct, one corpus scan
    * per Lloyd round) and the encoded inverted file
    * `codes(id, cluster, c0..c3)` — one projection over the assignment. */
  private def trainAnnIndex(v: DataFrame): (DataFrame, Seq[DataFrame], DataFrame) = {
    val centroids = graft.operators.KMeans.fit(v, k = IvfK, iterations = IvfIters)
    val books = graft.operators.KMeans.fitProduct(
      v, m = PqM, subDim = PqSub, k = PqK, iterations = PqIters)
    val codes = graft.operators.KMeans.assign(v, centroids)
      .select(col("id") +: col("cluster") +: pqCodes(books): _*)
    (centroids, books, codes)
  }

  def qAnnServe(s: SparkSession, d: String): DataFrame = {
    // the RETURNED plan reads only the persisted index tables — no
    // embeddings scan, no training stage (PlanSpec pins this)
    val (v, codes, centroids, books) = annIndex(s, d)
    pqServe(v, codes, books, Some(centroids))
  }

  /** Hash-equal to qAnnIvfPq by construction, so the oracle is the same
    * full train+serve replay. */
  val qAnnServeSql: String = qAnnIvfPqSql

  // ── ANN index maintenance: upsert without refit ────────────────────────
  // Production indexes grow daily, and refitting the coarse quantizer +
  // codebooks per ingest batch is a full-corpus k-means. The standard play
  // (FAISS `add()`) is re-encode-not-refit: keep the trained quantizers,
  // encode ONLY the new vectors with the STORED centroids/codebooks (the
  // same literal-argmin projections the fit path uses), append their codes
  // to the inverted file and their raw vectors to the refine store, and
  // serve the union. Recall then degrades only with distribution drift,
  // which a scheduled (not per-batch) refit absorbs. The base/delta split
  // is derived from the corpus itself — base = id < 4·max(id)/5 — so the
  // exact rule replays at any scale factor on both engines. At 100 TB the
  // served plan reads the persisted base artifacts (16×-compressed codes)
  // plus ONLY the delta slice of the source table: the range predicate is
  // pushed to the parquet scan, so base embeddings are never rescanned
  // (spec-pinned).
  private def upsertSplit(s: SparkSession, d: String): Long =
    guardProbe(s, d + "#annsplit") {
      val maxId = Tables.embeddings(s, d)
        .agg(max(col("vec_id"))).head().getLong(0)
      4L * maxId / 5L
    }

  def qAnnUpsert(s: SparkSession, d: String): DataFrame = {
    val split = upsertSplit(s, d)
    val dir = annIndexDir(d, suffix = s"_base$split")
    if (!graft.ArtifactCache.ready(dir, "codes"))
      graft.ArtifactCache.publish(dir, part = "codes") { tmp =>
        fitAnnIndexOn(vecs(s, d).filter(col("vec_id") < split)
          .select(col("vec_id").as("id"), col("v")), tmp.toString)
      }
    val centroids = s.read.parquet(s"$dir/centroids")
    val books = (0 until PqM).map(j => s.read.parquet(s"$dir/book$j"))
    val baseCodes = s.read.parquet(s"$dir/codes")
    val baseVecs = s.read.parquet(s"$dir/vectors")
    // the ONLY source-table scan in the served plan: the delta slice,
    // with the range predicate pushed down to the parquet reader
    val delta = Tables.embeddings(s, d).filter(col("vec_id") >= split)
      .select(col("vec_id").as("id"), asDouble(col("embedding")).as("v"))
    val deltaCodes = graft.operators.KMeans.assign(delta, centroids)
      .select(col("id") +: col("cluster") +: pqCodes(books): _*)
    pqServe(baseVecs.union(delta), baseCodes.union(deltaCodes), books,
      Some(centroids))
  }

  /** The upsert replay: train on the base subset (`baseWhere`), encode +
    * serve the FULL corpus (`encodeSrc = vsall`) — the round-11 oracle
    * hooks exercised with non-default arguments. DuckDB `//` is integer
    * floor division, matching Scala Long division on the non-negative ids
    * here. */
  val qAnnUpsertSql: String =
    kmeansCellsSql(IvfK, IvfIters,
      baseWhere = "id < 4 * (SELECT max(id) FROM vsall) // 5",
      encodeSrc = "vsall") + ", " +
      pqTrainEncodeSql(encodeSrc = "vsall") + ", " + ivfPqServeSqlTail("vsall")

  // ── int8 scalar quantization under the oracle gate ─────────────────────
  // The 4× storage/scan compression for a 100 TB embedding corpus
  // (VectorFunctions.i8Scale/quantizeI8), reported per vector as
  // integer-exact signals: the quantized-component sum (a bigint — any
  // engine divergence in scale or rounding flips it) plus the rounded
  // max reconstruction error, which must respect the scale/2 bound.
  // Pure per-row column algebra — zero shuffle, scan-fused at any scale.
  def qQuantize(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions._
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scale", i8Scale(col("v")))
      .withColumn("q", quantizeI8(col("v"), col("scale")))
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
        round(aggregate(
          zip_with(col("v"), dequantizeI8(col("q"), col("scale")),
            (x, y) => abs(x - y)),
          lit(0.0), (a, e) => greatest(a, e)), 9).as("max_err_r"))
  }

  val qQuantizeSql: String =
    "SELECT vec_id, CAST(list_sum(q) AS BIGINT) AS q_sum, " +
      "round(list_max(list_transform(generate_series(1, len(v)), " +
      "i -> abs(v[i] - q[i] * scale))), 9) AS max_err_r " +
      "FROM (SELECT vec_id, v, scale, " +
      "list_transform(v, x -> round(x / scale)) AS q " +
      "FROM (SELECT vec_id, v, " +
      "CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale " +
      "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m " +
      "FROM embeddings) a) b) c"

  // ── MMR diverse top-k (two-stage retrieval with a rerank window) ───────
  // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98): after a
  // DISTRIBUTED recall stage (top-`MmrPool` by cosine to the query, the
  // q_knn plan shape), greedily pick k results maximizing
  // λ·sim(q,d) − (1−λ)·max sim(d, selected) — relevance minus redundancy.
  // The greedy reranks the POOL, which is small BY CONSTRUCTION (50 rows
  // at any corpus size), so it runs driver-side like every production
  // reranker; the recall scan is the part that sees the corpus. Engine
  // parity: every similarity is rounded to 6dp before the greedy, the
  // score is one multiply each + one subtract in the same order, ties
  // break on vec_id — the oracle unrolls the same greedy as k CTE rounds.
  private val MmrK = 5
  private val MmrPool = 50
  private val MmrQueryId = 0L

  def qMmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = vecs(s, d).filter(col("vec_id") === MmrQueryId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val pool = vecs(s, d).filter(col("vec_id") =!= MmrQueryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"),
        round(cosOrNull(DotProduct.dot(col("qv"), col("v")),
          col("qn") * col("nrm")), 6).as("sim_r"))
      .filter(col("sim_r").isNotNull)
      .orderBy(col("sim_r").desc, col("vec_id").asc)
      .limit(MmrPool)
      .collect() // the bounded rerank window — 50 rows at any corpus size
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    // driver-side fold matches list_dot_product's left-to-right order
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cosR(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double = {
      val den = math.sqrt(dot(a._2, a._2)) * math.sqrt(dot(b._2, b._2))
      // HALF_UP at 6dp — the same rounding Spark's round() and DuckDB's
      // round() apply (rint would be half-even)
      new java.math.BigDecimal(dot(a._2, b._2) / den)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer.from(pool)
    while (selected.length < MmrK && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val redundancy =
          if (selected.isEmpty) 0.0
          else selected.map(sel => cosR(c, pool.find(_._1 == sel._1).get)).max
        val score = if (selected.isEmpty) c._3 else 0.7 * c._3 - 0.3 * redundancy
        (c, score)
      }
      val best = scored.minBy { case (c, sc) => (-sc, c._1) }._1
      selected += ((best._1, best._3))
      remaining -= best
    }
    selected.zipWithIndex
      .map { case ((id, sim), i) => (i + 1L, id, sim) }.toSeq
      .toDF("rank", "vec_id", "sim_r")
  }

  private def mmrCos(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  val qMmrSql: String = {
    val rounds = (2 to MmrK).map { i =>
      val selUnion = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      s"s$i AS MATERIALIZED (SELECT c.vec_id, c.sim_r FROM cand c " +
        s"WHERE c.vec_id NOT IN ($selUnion) " +
        s"ORDER BY 0.7 * c.sim_r - 0.3 * (SELECT max(p.ps) FROM p " +
        s"WHERE p.ia = c.vec_id AND p.ib IN ($selUnion)) DESC, c.vec_id ASC " +
        "LIMIT 1)"
    }.mkString(", ")
    val out = (1 to MmrK).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id, sim_r FROM s$i").mkString(" UNION ALL ")
    s"WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
      s"WHERE vec_id = $MmrQueryId), " +
      "cand AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      s"${mmrCos("qv", "CAST(embedding AS DOUBLE[])")} AS sim_r " +
      s"FROM embeddings, q WHERE vec_id <> $MmrQueryId " +
      "AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0 " +
      s"ORDER BY sim_r DESC, vec_id ASC LIMIT $MmrPool), " +
      "p AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib, " +
      s"${mmrCos("a.v", "b.v")} AS ps FROM cand a, cand b WHERE a.vec_id <> b.vec_id), " +
      "s1 AS MATERIALIZED (SELECT vec_id, sim_r FROM cand ORDER BY sim_r DESC, vec_id ASC LIMIT 1), " +
      rounds + " " + out
  }

  // ── Grid-bucketed spatial distance join ────────────────────────────────
  // All point pairs within ε in the plane (first two embedding dims as
  // coordinates) — the ε-neighborhood join every spatial/geo pipeline
  // needs. The scalable spelling: bucket each point into an ε-sized grid
  // cell, replicate the LEFT side onto its 3×3 neighborhood, equi-join on
  // the cell key (the right side keeps its own single cell, so every
  // close pair meets in exactly one cell — no post-join dedup), then
  // apply the EXACT distance predicate. Shuffle is ≤9 rows per point on
  // the cell key — linear, vs the O(n²) cross join this replaces; a
  // hot cell is an AQE-skew-join split, not a plan failure.
  // Parity: coordinates widen float→double; cell = floor(x·100) (an
  // exact double multiply — never a division by the decimal literal
  // 0.01, which DuckDB would type as DECIMAL); dist² spelled
  // (Δx·Δx + Δy·Δy) term-for-term; the ε² threshold is the double
  // literal 1e-4 on both engines; sqrt is IEEE-correctly-rounded so
  // the reported distance rounds identically.
  private val SpatialScale = 100.0 // 1/ε
  private val SpatialEps2 = 1e-4   // ε²

  def qSpatialJoin(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.embeddings(s, d).select(
      col("vec_id").cast("long").as("pid"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val a = pts
      .withColumn("dcx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dcy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("pid").as("pid_a"), col("x").as("xa"), col("y").as("ya"),
        (floor(col("x") * SpatialScale) + col("dcx")).as("cx"),
        (floor(col("y") * SpatialScale) + col("dcy")).as("cy"))
    val b = pts.select(col("pid").as("pid_b"), col("x").as("xb"), col("y").as("yb"),
      floor(col("x") * SpatialScale).as("cx"),
      floor(col("y") * SpatialScale).as("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("pid_a") < col("pid_b"))
      .filter(d2 <= SpatialEps2)
      .select(col("pid_a"), col("pid_b"), round(sqrt(d2), 6).as("dist_r"))
  }

  // Oracle mirrors the engine's grid-bucketed candidate generation (cells
  // of width ε via the bit-identical IEEE expression floor(x * 100.0),
  // 3×3 neighbor offsets, equi-join on the cell) instead of the r12
  // all-pairs theta join, which is O(N²) in DuckDB and infeasible at sf10
  // (200k points ⇒ 2·10¹⁰ pairs; >40 min before it was retired). The
  // exact-distance WHERE is unchanged, so the two spellings emit the same
  // rows wherever both run — hash-verified against the all-pairs form at
  // sf0.01–sf3 (r12–r16 sweeps) and re-verified for the grid form at
  // sf0.01/0.1 on switch (r17). Each qualifying pair matches exactly one
  // (dx,dy) offset, so no DISTINCT is needed.
  val qSpatialJoinSql: String =
    "WITH p AS (SELECT CAST(vec_id AS BIGINT) AS pid, " +
      "CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y " +
      "FROM embeddings), " +
      "c AS (SELECT pid, x, y, CAST(floor(x * 100.0) AS BIGINT) AS cx, " +
      "CAST(floor(y * 100.0) AS BIGINT) AS cy FROM p), " +
      "o AS (SELECT dx.v AS dx, dy.v AS dy FROM (VALUES (-1), (0), (1)) " +
      "dx(v), (VALUES (-1), (0), (1)) dy(v)), " +
      "ac AS (SELECT c.pid, c.x, c.y, c.cx + o.dx AS cx, c.cy + o.dy AS cy " +
      "FROM c CROSS JOIN o) " +
      "SELECT a.pid AS pid_a, b.pid AS pid_b, " +
      "round(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6) AS dist_r " +
      "FROM ac a JOIN c b ON a.cx = b.cx AND a.cy = b.cy AND a.pid < b.pid " +
      "WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 1e-4"

  // ── Reciprocal-rank fusion (hybrid retrieval) ──────────────────────────
  // The standard way to combine a lexical ranking with a vector ranking
  // (RRF, Cormack et al. SIGIR'09): score(d) = Σ 1/(k + rank_i(d)) over
  // the rankings that retrieved d, k = 60. Here ranking A is term
  // frequency of a keyword (docs ranked by tf desc), ranking B is cosine
  // similarity to a query embedding — doc_id and vec_id share the id
  // space. Each ranking is a TakeOrdered top-50 (never a global sort);
  // the fusion is a full-outer join of two 50-row lists — driver-scale
  // regardless of corpus size, because list depth, not corpus, bounds it.
  // Parity: each reciprocal contribution is quantized to integer
  // micro-units BEFORE the cross-list sum (no double-addition-order
  // hazard); ranks themselves are deterministic (sim is the identical
  // double expression on both engines; ties break on id).
  private val RrfTerm = "join"
  private val RrfQueryVec = 0L
  private val RrfPool = 50
  private val RrfTopK = 20

  def qRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val lexr = Tables.documents(s, d)
      .select(col("doc_id").as("id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") === RrfTerm)
      .groupBy(col("id")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("id").asc).limit(RrfPool)
      .withColumn("rnk_lex",
        row_number().over(W.orderBy(col("tf").desc, col("id").asc)).cast("long"))
      .select(col("id"), col("rnk_lex"))
    val q = vecs(s, d).filter(col("vec_id") === RrfQueryVec)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val vecr = vecs(s, d).filter(col("vec_id") =!= RrfQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        cosOrNull(DotProduct.dot(col("qv"), col("v")),
          col("qn") * col("nrm")).as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col("id").asc).limit(RrfPool)
      .withColumn("rnk_vec",
        row_number().over(W.orderBy(col("sim").desc, col("id").asc)).cast("long"))
      .select(col("id"), col("rnk_vec"))
    def contrib(rk: Column) =
      coalesce(round(lit(1e6) / (lit(60L) + rk), 0).cast("long"), lit(0L))
    lexr.join(vecr, Seq("id"), "full_outer")
      .select(col("id"),
        (contrib(col("rnk_lex")) + contrib(col("rnk_vec"))).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("id").asc).limit(RrfTopK)
      .withColumn("rnk",
        row_number().over(W.orderBy(col("rrf_micro").desc, col("id").asc)).cast("long"))
  }

  val qRrfSql: String =
    "WITH t AS (SELECT doc_id, unnest(" +
      graft.functions.TextFunctions.sqlTokens +
      ") AS term FROM documents), " +
      s"lex AS (SELECT doc_id AS id, count(*) AS tf FROM t WHERE term = '$RrfTerm' GROUP BY 1), " +
      "lexr AS (SELECT id, CAST(row_number() OVER (ORDER BY tf DESC, id ASC) AS BIGINT) AS rnk_lex " +
      s"FROM (SELECT id, tf FROM lex ORDER BY tf DESC, id ASC LIMIT $RrfPool) x), " +
      s"q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = $RrfQueryVec), " +
      "vec AS (SELECT CAST(vec_id AS BIGINT) AS id, " +
      "list_dot_product(qv, CAST(embedding AS DOUBLE[])) / " +
      "(sqrt(list_dot_product(qv, qv)) * " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS sim " +
      s"FROM embeddings, q WHERE vec_id <> $RrfQueryVec " +
      "AND sqrt(list_dot_product(qv, qv)) * " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0), " +
      "vecr AS (SELECT id, CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rnk_vec " +
      s"FROM (SELECT id, sim FROM vec ORDER BY sim DESC, id ASC LIMIT $RrfPool) y), " +
      "fused AS (SELECT COALESCE(l.id, v.id) AS id, " +
      "COALESCE(CAST(round(1e6 / (60 + l.rnk_lex), 0) AS BIGINT), 0) + " +
      "COALESCE(CAST(round(1e6 / (60 + v.rnk_vec), 0) AS BIGINT), 0) AS rrf_micro " +
      "FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id) " +
      "SELECT id, CAST(rrf_micro AS BIGINT) AS rrf_micro, " +
      "CAST(row_number() OVER (ORDER BY rrf_micro DESC, id ASC) AS BIGINT) AS rnk " +
      s"FROM fused ORDER BY rrf_micro DESC, id ASC LIMIT $RrfTopK"

  // ── Feature-scaling fit (per-dimension standardization parameters) ─────
  // The StandardScaler fit every embedding pipeline runs before
  // quantization/indexing: per-dimension mean, population std, min, max.
  // Values quantize to integer micro-units at the scan (float32 widened
  // to double, one deterministic multiply+round), so the moment sums are
  // exact integers; the n·Σx² − (Σx)² variance numerator is computed in
  // DECIMAL(38,0) (HUGEINT on the oracle side) — BIGINT would overflow
  // within ~50k vectors. One partial-aggregated shuffle on the 64 dims;
  // doubles only at the final rounded divisions and one IEEE sqrt.
  def qFeatureScale(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val u = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1e6, 0).cast("long").as("u"))
    u.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("su"),
        sum(col("u").cast(dec) * col("u").cast(dec)).as("squ"),
        min(col("u")).as("min_u"), max(col("u")).as("max_u"))
      .select(col("dim"), col("n"),
        round(col("su").cast("double") / 1e6 / col("n"), 6).as("mean_r"),
        round(sqrt((col("n").cast(dec) * col("squ") -
            col("su").cast(dec) * col("su").cast(dec)).cast("double") /
          (col("n") * col("n")).cast("double")) / 1e6, 6).as("std_r"),
        col("min_u"), col("max_u"))
  }

  val qFeatureScaleSql: String =
    "WITH u AS (SELECT CAST(i - 1 AS BIGINT) AS dim, " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6, 0) AS BIGINT) AS u " +
      "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)), " +
      "m AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS su, " +
      "sum(CAST(u AS HUGEINT) * u) AS squ, " +
      "CAST(min(u) AS BIGINT) AS min_u, CAST(max(u) AS BIGINT) AS max_u " +
      "FROM u GROUP BY 1) " +
      "SELECT dim, n, round(CAST(su AS DOUBLE) / 1e6 / n, 6) AS mean_r, " +
      "round(sqrt(CAST(CAST(n AS HUGEINT) * squ - CAST(su AS HUGEINT) * su AS DOUBLE) / " +
      "CAST(n * n AS DOUBLE)) / 1e6, 6) AS std_r, min_u, max_u FROM m"

  // ── PCA: dominant principal component by fixed-point power iteration ──
  // The dimensionality-reduction fit next to q_feature_scale's scaler:
  // the top eigenvector of the embedding covariance matrix, with its
  // explained-variance share — what a 100 TB pipeline runs before
  // whitening, compressing, or visualizing its vectors. The architecture
  // is the standard Spark one (MLlib RowMatrix.computePrincipalComponents
  // does exactly this split): the O(N) work — accumulating the d×d Gram
  // matrix — is ONE distributed scan with map-side partial aggregation
  // (each row emits its d(d+1)/2 upper-triangle products + d linear terms
  // + a count as (slot, term) pairs from a single flattened-transform
  // array, so the shuffle carries only slots × partitions rows, never
  // N×d²), and the O(d²) eigensolve runs on the bounded 2 145-entry
  // collected matrix — bounded by construction, like KMeans' k-centroid
  // table. Cross-engine exactness discipline: components quantize to
  // micro-units at the scan; covariance numerators N·Σxy − Σx·Σy are
  // exact integers (DECIMAL(38,0) / HUGEINT); the matrix is prescaled by
  // an integral divisor into ±1e9; and each power-iteration step
  // normalizes by max-|w| with integer truncating division (spelled
  // sign·(|w| div k) on both engines), so every iterate is an exact
  // integer vector and iterate T is bit-identical in Spark, BigInt, and
  // DuckDB — no float ever enters the state. Convergence (vs the true
  // eigenvector) is spec-tested; the oracle replays the identical
  // unrolled iteration.
  private val PcaDim = 64
  private val PcaIters = 80

  def qPca(s: SparkSession, d: String): DataFrame = {
    val (v, share) = pcaSolve(s, d)
    import s.implicits._
    (0 until PcaDim)
      .map(i => (i.toLong, v(i).toLong, share.map(long2Long).orNull))
      .toDF("dim", "pc1_q", "ev_share_ppm")
      .select(col("dim"), col("pc1_q"), col("ev_share_ppm").cast("long"))
  }

  /** The distributed-Gram + driver-BigInt eigensolve shared by qPca and
    * qPcaProject: returns (pc1 in 1e6 fixed point, explained-share ppm). */
  private def pcaSolve(s: SparkSession, d: String): (Array[BigInt], Option[Long]) = {
    import s.implicits._
    val dd = PcaDim
    // the eigensolve collects a d×d Gram matrix to the driver — bounded
    // by construction at d=64, but fail loudly (not OOM) if the dimension
    // is ever raised past what a driver-side BigInt matrix can carry
    require(dd <= 1024,
      s"pcaSolve collects a $dd×$dd Gram matrix to the driver; dimensions " +
        "past 1024 need a distributed eigensolve, not a bigger driver")
    // one scan: quantized vector → the GramSumAgg typed aggregate (slot
    // = i·d+j for the upper triangle, d²+i linear sums, d²+d count) —
    // a single Long-lane multiply-add per slot per row inside the
    // partial aggregate, ONE ~35 KB buffer per partition to the merge.
    // Replaces the d(d+1)/2-terms-per-row struct explode + DECIMAL hash
    // aggregate (measured 28.9 s → sub-second Gram stage at sf1's 20 k
    // vectors; GramSumSpec pins sum-for-sum equality incl. spill paths).
    // Canon.qlong (floor(x·1e6 + 0.5)), NOT round(x·1e6): float
    // components are dyadic rationals, so x·1e6 lands EXACTLY on .5
    // constantly — the one class where the engines' round() legally
    // disagrees, and a basis-cell flip cascades through every
    // projection (r16 float-canon audit)
    val q = transform(col("embedding"),
      x => Canon.qlong(x.cast("double"), 1e6))
    // null rows/elements would throw inside the typed aggregate's
    // encoder/require where the old explode-based spelling silently
    // dropped them — filter them out up front so a corpus with missing
    // embeddings degrades the same way on both paths (the fixture has
    // none, so the oracle replay is unchanged)
    val bytes = Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .select(q.as("q"))
      .filter(!exists(col("q"), _.isNull))
      .as[Array[Long]]
      .select(graft.functions.GramSumAgg(dd).toColumn)
      .head()
    val sums = bytes.iterator.zipWithIndex
      .map { case (b, p) => p -> BigInt(new java.math.BigInteger(b)) }
      .filter(_._2 != 0).toMap
    // bounded driver-side eigensolve over the collected d×d matrix —
    // exact BigInt, mirroring the oracle's unrolled SQL operation for
    // operation (truncating division spelled sign·(|x| div k))
    def tdiv(x: BigInt, k: BigInt): BigInt =
      if (x < 0) -((-x) / k) else x / k
    val n = sums(dd * dd + dd)
    val sv = Array.tabulate(dd)(i => sums.getOrElse(dd * dd + i, BigInt(0)))
    val cnum = Array.tabulate(dd, dd) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      n * sums.getOrElse(a * dd + b, BigInt(0)) - sv(i) * sv(j)
    }
    val g = cnum.flatten.map(_.abs).max / BigInt(1000000000L) + 1
    val c = cnum.map(_.map(tdiv(_, g)))
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dd)(i =>
        (0 until dd).foldLeft(BigInt(0))((a, j) => a + c(i)(j) * v(j)))
    var v = Array.fill(dd)(BigInt(1000000L))
    for (_ <- 1 to PcaIters) {
      val w = matvec(v)
      val k = w.map(_.abs).max / BigInt(1000000L) + 1
      v = w.map(tdiv(_, k))
    }
    val wf = matvec(v)
    val rn = (0 until dd).foldLeft(BigInt(0))((a, i) => a + v(i) * wf(i))
    val rd = (0 until dd).foldLeft(BigInt(0))((a, i) => a + v(i) * v(i))
    val tr = (0 until dd).foldLeft(BigInt(0))((a, i) => a + c(i)(i))
    val share =
      if (rd * tr == 0) None
      else Some(tdiv(rn * BigInt(1000000L), rd * tr).toLong)
    (v, share)
  }

  // ── PCA projection: the fit applied (per-class separation on PC1) ─────
  // The apply half of the fit/apply pair (like q_ann_serve for IVF-PQ):
  // every embedding's coordinate along qPca's eigenvector, rolled up per
  // label — n, mean, min, max of the projection — the one-look check of
  // how much class structure the leading component captures. The
  // projection is exact integer arithmetic (micro-quantized components ×
  // the 1e6 fixed-point eigenvector, folded per row inside codegen), the
  // rollup one keyed partial-agg shuffle over ≤10 label groups; sums ride
  // DECIMAL(38,0)/HUGEINT (a BIGINT sum would overflow near ~10⁵ rows).
  // The oracle re-runs the full unrolled eigensolve, then the same
  // projection join and rollup.
  def qPcaProject(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val (v, _) = pcaSolve(s, d)
    val q = transform(col("embedding"),
      x => Canon.qlong(x.cast("double"), 1e6))
    val proj = aggregate(
      zip_with(q, typedlit(v.map(_.toLong).toSeq), (x, c) => x * c),
      lit(0L), (acc, t) => acc + t)
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"), proj.as("p"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("p").cast(dec)).as("sp"),
        min(col("p")).as("min_p"), max(col("p")).as("max_p"))
      .select(col("label"), col("n"),
        expr("CAST(sp div n AS BIGINT)").as("mean_p"),
        col("min_p"), col("max_p"))
  }

  lazy val qPcaProjectSql: String =
    pcaChainSql + ", " +
      "pr AS (SELECT x.vec_id, SUM(x.xq * v.v) AS p " +
      s"FROM x JOIN v$PcaIters v ON v.i = x.i GROUP BY 1) " +
      "SELECT CAST(e.label AS BIGINT) AS label, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(pr.p) // count(*) AS BIGINT) AS mean_p, " +
      "CAST(MIN(pr.p) AS BIGINT) AS min_p, " +
      "CAST(MAX(pr.p) AS BIGINT) AS max_p " +
      "FROM pr JOIN embeddings e ON e.vec_id = pr.vec_id GROUP BY 1"

  /** The oracle's shared eigensolve chain: CTEs through `v{PcaIters}`
    * (the converged fixed-point eigenvector) plus the `x`/`m` tables —
    * qPcaSql appends the report, qPcaProjectSql the projection. */
  private lazy val pcaChainSql: String = {
    val dd = PcaDim
    def step(t: Int): String = {
      val p = if (t == 1) "v0" else s"v${t - 1}"
      s"w$t AS MATERIALIZED (SELECT m.i AS i, SUM(m.c * v.v) AS w " +
        s"FROM m JOIN $p v ON m.j = v.i GROUP BY m.i), " +
        s"k$t AS (SELECT (MAX(ABS(w)) // 1000000) + 1 AS k FROM w$t), " +
        s"v$t AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -((-w) // k) " +
        s"ELSE w // k END AS v FROM w$t, k$t)"
    }
    s"WITH x AS MATERIALIZED (SELECT vec_id, CAST(pos - 1 AS BIGINT) AS i, " +
      "CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq " +
      "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)), " +
      "nn AS (SELECT count(DISTINCT vec_id) AS n FROM x), " +
      "sv AS (SELECT i, CAST(sum(xq) AS HUGEINT) AS s FROM x GROUP BY 1), " +
      "p AS (SELECT a.i AS i, b.i AS j, " +
      "SUM(CAST(a.xq AS HUGEINT) * b.xq) AS p " +
      "FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i " +
      "GROUP BY 1, 2), " +
      "cq AS MATERIALIZED (SELECT p.i AS i, p.j AS j, " +
      "CAST(nn.n AS HUGEINT) * p.p - sa.s * sb.s AS cnum " +
      "FROM p JOIN sv sa ON sa.i = p.i JOIN sv sb ON sb.i = p.j " +
      "CROSS JOIN nn), " +
      "gg AS (SELECT (MAX(ABS(cnum)) // 1000000000) + 1 AS g FROM cq), " +
      "mu AS (SELECT i, j, CASE WHEN cnum < 0 THEN -((-cnum) // g) " +
      "ELSE cnum // g END AS c FROM cq, gg), " +
      "m AS MATERIALIZED (SELECT i, j, c FROM mu " +
      "UNION ALL SELECT j, i, c FROM mu WHERE i < j), " +
      s"v0 AS (SELECT CAST(range AS BIGINT) AS i, " +
      s"CAST(1000000 AS HUGEINT) AS v FROM range($dd)), " +
      (1 to PcaIters).map(step).mkString(", ")
  }

  lazy val qPcaSql: String =
    pcaChainSql + ", " +
      s"wf AS (SELECT m.i AS i, SUM(m.c * v.v) AS w " +
      s"FROM m JOIN v$PcaIters v ON m.j = v.i GROUP BY m.i), " +
      s"ray AS (SELECT SUM(v.v * w.w) AS rn FROM v$PcaIters v " +
      "JOIN wf w ON v.i = w.i), " +
      s"rdd AS (SELECT SUM(v * v) AS rd FROM v$PcaIters), " +
      "trc AS (SELECT SUM(c) AS tr FROM m WHERE i = j) " +
      s"SELECT v.i AS dim, CAST(v.v AS BIGINT) AS pc1_q, " +
      "CAST(CASE WHEN rd * tr = 0 THEN NULL " +
      "WHEN rn < 0 THEN -(((-rn) * 1000000) // (rd * tr)) " +
      "ELSE (rn * 1000000) // (rd * tr) END AS BIGINT) AS ev_share_ppm " +
      s"FROM v$PcaIters v CROSS JOIN ray CROSS JOIN rdd CROSS JOIN trc"

  // ── Embedding outliers: exact diagonal-Mahalanobis distance ───────────
  // The vector-space twin of q_outliers/q_mad_outliers: score every
  // embedding by its variance-normalized squared distance to the corpus
  // mean — Σ_i z_i² with z_i = (x_i − μ_i)/σ_i — and report the top-20
  // most anomalous vectors, the standard embedding-level quality filter
  // a curation pipeline runs before ANN indexing (broken encoders and
  // corrupt rows land far from the mean in normalized space). Exactness:
  // with u in micro-units, z_i² = (n·u_i − Σu)² / (n·Σu² − (Σu)²) — the
  // n² cancels, so each ppm term is one exact integer division:
  // numerator and denominator live in DECIMAL(38,0)/HUGEINT and the
  // 1e6-scaled quotient truncates identically in both engines.
  // Zero-variance dimensions carry no signal and are excluded (den > 0)
  // rather than dividing by zero. Plan shape: the 64-row stats frame
  // broadcasts onto one exploded corpus scan (the corpus itself never
  // shuffles — the per-vector sum partial-aggregates in place), then
  // TakeOrdered keeps 20 rows.
  private val OutlierTopK = 20

  def qEmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val u = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        round(col("x").cast("double") * 1e6, 0).cast("long").as("u"))
    val stats = u.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("su"),
        sum(col("u").cast(dec) * col("u").cast(dec)).as("squ"))
      .select(col("dim"), col("n"), col("su").cast(dec).as("su"),
        (col("n").cast(dec) * col("squ") -
          col("su").cast(dec) * col("su").cast(dec)).as("den"))
      .filter(col("den") > 0)
    val md2 = u.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), expr(
        "((CAST(n AS DECIMAL(38,0)) * u - su) * " +
          "(CAST(n AS DECIMAL(38,0)) * u - su) * 1000000) div den")
        .as("term"))
      .groupBy(col("vec_id")).agg(sum(col("term")).as("md2_ppm"))
    md2.orderBy(col("md2_ppm").desc, col("vec_id").asc).limit(OutlierTopK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("md2_ppm").desc, col("vec_id").asc)).cast("long"))
  }

  val qEmbedOutliersSql: String =
    "WITH u AS MATERIALIZED (SELECT vec_id, CAST(pos - 1 AS BIGINT) AS dim, " +
      "CAST(round(CAST(embedding[pos] AS DOUBLE) * 1e6, 0) AS BIGINT) AS u " +
      "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)), " +
      "st AS (SELECT dim, count(*) AS n, CAST(sum(u) AS HUGEINT) AS su, " +
      "sum(CAST(u AS HUGEINT) * u) AS squ FROM u GROUP BY 1), " +
      "st2 AS MATERIALIZED (SELECT dim, n, su, " +
      "CAST(n AS HUGEINT) * squ - su * su AS den FROM st), " +
      "md AS (SELECT u.vec_id, " +
      "SUM(((CAST(s.n AS HUGEINT) * u.u - s.su) * " +
      "(CAST(s.n AS HUGEINT) * u.u - s.su) * 1000000) // s.den) AS md2_ppm " +
      "FROM u JOIN st2 s ON s.dim = u.dim AND s.den > 0 GROUP BY 1) " +
      "SELECT vec_id, CAST(md2_ppm AS BIGINT) AS md2_ppm, " +
      "CAST(row_number() OVER (ORDER BY md2_ppm DESC, vec_id ASC) AS BIGINT) AS rnk " +
      "FROM (SELECT * FROM md ORDER BY md2_ppm DESC, vec_id ASC " +
      s"LIMIT $OutlierTopK) x"

  // ── k-center coreset selection (greedy farthest-point) ────────────────
  // Coreset selection for data-efficient training (Sener & Savarese,
  // ICLR'18 use exactly this greedy k-center rule): pick 32 maximally
  // spread representative vectors, then report each representative's
  // basin — how many corpus vectors it covers and the covering radius.
  // The selection reuses the PROVEN KMeans init contract (md5-ordered
  // 128-row oversample via TakeOrdered — never a global sort — then
  // greedy farthest-point with the min-hash start and id tie-break,
  // driver-side over the bounded pool); coverage is ONE broadcast scan
  // scoring every vector against 32 center literals with the
  // c·c − 2·v·c fold (the corpus never shuffles before its keyed
  // 32-group census). Float parity: identical fold order and round-6
  // radius on both engines; the oracle replays oversample, all 32
  // greedy selections, assignment, and census as CTEs.
  private val CoresetK = 32
  private val CoresetPool = 4 * CoresetK // KMeans.seed's oversample size

  def qCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, d).select(col("vec_id").as("id"), col("v"))
    // CoresetPool = 4·CoresetK: exactly KMeans's seeding oversample, so
    // the centers are its first CoresetK picks, with their ids kept
    val centers = graft.operators.KMeans.seed(v, CoresetK).head.zipWithIndex
      .map { case ((id, cv), j) => (j.toLong, id, cv.toSeq) }
    val best = graft.operators.KMeans.nearest(graft.operators.KMeans
      .centroidScoresOf(centers.map { case (j, _, cv) => (j, cv) }, col("v")))
    v.select(col("id"),
        best.getField("cluster").as("center"),
        (DotProduct.dot(col("v"), col("v")) + best.getField("d")).as("dd"))
      .groupBy(col("center"))
      .agg(count(lit(1)).as("n_assigned"), max(col("dd")).as("maxd2"))
      .join(broadcast(centers.map(c => (c._1, c._2))
        .toDF("center", "center_id")), Seq("center"))
      .select(col("center"), col("center_id"), col("n_assigned"),
        round(sqrt(greatest(col("maxd2"), lit(0.0))), 6).as("radius_r"))
  }

  val qCoresetSql: String = {
    val m = CoresetPool
    val k = CoresetK
    def dot(a: String, b: String) = sqlDot(a, b)
    def d2(a: String, b: String) =
      s"${dot(a, a)} - 2*${dot(a, b)} + ${dot(b, b)}"
    val sb = new StringBuilder
    sb ++= "WITH vs AS MATERIALIZED (SELECT vec_id AS id, " +
      "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    sb ++= "smp AS MATERIALIZED (SELECT id, v, " +
      graft.functions.Md5Bits.sqlHash60("CAST(id AS VARCHAR)") +
      s" AS h FROM vs ORDER BY h, id LIMIT $m), "
    sb ++= "ch0 AS MATERIALIZED (SELECT id, v FROM smp ORDER BY h, id LIMIT 1), "
    sb ++= s"md0 AS MATERIALIZED (SELECT s.id, s.v, ${d2("s.v", "c.v")} " +
      "AS mind FROM smp s, ch0 c), "
    for (j <- 1 until k) {
      sb ++= s"ch$j AS MATERIALIZED (SELECT id, v FROM md${j - 1} " +
        "ORDER BY mind DESC, id ASC LIMIT 1), "
      if (j < k - 1)
        sb ++= s"md$j AS MATERIALIZED (SELECT m.id, m.v, " +
          s"least(m.mind, ${d2("m.v", "c.v")}) AS mind " +
          s"FROM md${j - 1} m, ch$j c), "
    }
    sb ++= (0 until k)
      .map(j => s"SELECT $j AS center, id AS center_id, v FROM ch$j")
      .mkString("cent AS MATERIALIZED (", " UNION ALL ", "), ")
    sb ++= "asg AS MATERIALIZED (SELECT id, v, center FROM (" +
      "SELECT e.id, e.v, c.center, row_number() OVER (PARTITION BY e.id " +
      s"ORDER BY ${sqlScore("e.v", "c.v")} ASC, c.center ASC) AS rn " +
      "FROM vs e, cent c) x WHERE rn = 1) "
    // aa + (cc − 2·ab): the exact add order the engine uses (v·v plus the
    // struct score) — NOT the init chain's ((aa − 2ab) + bb) grouping
    val ddCensus = s"${dot("a.v", "a.v")} + " +
      s"(${dot("c.v", "c.v")} - 2*${dot("a.v", "c.v")})"
    sb ++= "SELECT a.center, CAST(max(c.center_id) AS BIGINT) AS center_id, " +
      "CAST(count(*) AS BIGINT) AS n_assigned, " +
      s"round(sqrt(greatest(max($ddCensus), 0.0)), 6) AS radius_r " +
      "FROM asg a JOIN cent c ON c.center = a.center GROUP BY 1"
    sb.toString
  }

  // ── Grid DBSCAN: density-based clustering with noise ──────────────────
  // The density-based family next to KMeans (centroid) and Louvain
  // (graph): cluster = maximal set of connected DENSE grid cells, with
  // border and noise semantics — the STING/GriDBSCAN-style cell
  // formulation of DBSCAN (Ester et al., KDD'96) that scales where
  // point-pairwise ε-joins cannot. Points land in integer grid cells
  // (floor(x·20) on dims 0–1, cell width 0.05); a cell with ≥ 5 points
  // is CORE; clusters are connected components over 8-adjacent core
  // cells (the proven pointer-jumping CC operator, on the CELL graph —
  // |cells| ≪ N, never a point-pairwise stage); points of a non-core
  // cell adjacent to a core cell are BORDER (attached to the min
  // adjacent cluster label — deterministic tie-break); everything else
  // is NOISE. Every stage is a keyed shuffle on cell coordinates; the
  // 8-way adjacency is an equi-join on shifted integer keys, not a
  // range join. Census output is one bounded row per cluster plus one
  // noise row. The oracle replays the grid, the unrolled min-label CC
  // (convergence spec-tested), the border attach, and the census.
  private val DbMinPts = 5
  private val DbScale = 20 // cell width 1/20 = 0.05 on dims 0-1
  private val DbOffsets =
    Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))

  def qDbscanGrid(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IterCheckpoint.IterCheckpointOps
    val cells = Tables.embeddings(s, d)
      .select(
        floor(element_at(col("embedding"), 1).cast("double") * DbScale)
          .cast("long").as("cx"),
        floor(element_at(col("embedding"), 2).cast("double") * DbScale)
          .cast("long").as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("cnt"))
      .withColumn("cid",
        (col("cx") + 1000) * 100000 + (col("cy") + 1000))
      .iterCheckpoint()
    val core = cells.filter(col("cnt") >= DbMinPts)
    val offs = explode(array(DbOffsets.map { case (dx, dy) =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o")
    val coreAt = core.select(
      col("cx").as("nx"), col("cy").as("ny"), col("cid").as("kcid"))
    val edges = core.select(col("cid").as("src"), col("cx"), col("cy"), offs)
      .select(col("src"), (col("cx") + col("o.dx")).as("nx"),
        (col("cy") + col("o.dy")).as("ny"))
      .join(coreAt, Seq("nx", "ny"))
      .filter(col("src") < col("kcid"))
      .select(col("src"), col("kcid").as("dst"))
    // isolated core cells have no edges — they stay their own cluster
    val lab = core.select(col("cid"))
      .join(graft.operators.ConnectedComponents.components(edges)
        .withColumnRenamed("node", "cid"), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("comp"), col("cid")).as("comp"))
    val coreCnt = core.join(lab, Seq("cid"))
      .groupBy(col("comp").as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_core_pts"))
    val bcells = cells.filter(col("cnt") < DbMinPts)
      .select(col("cid"), col("cnt"), col("cx"), col("cy"), offs)
      .select(col("cid"), col("cnt"), (col("cx") + col("o.dx")).as("nx"),
        (col("cy") + col("o.dy")).as("ny"))
      .join(coreAt, Seq("nx", "ny"))
      .join(lab.select(col("cid").as("kcid"), col("comp")), Seq("kcid"))
      .groupBy(col("cid"), col("cnt"))
      .agg(min(col("comp")).as("cluster"))
      .iterCheckpoint()
    val borderCnt = bcells.groupBy(col("cluster"))
      .agg(sum(col("cnt")).as("n_border_pts"))
    val clusters = coreCnt.join(borderCnt, Seq("cluster"), "left")
      .select(col("cluster"), col("n_cells"), col("n_core_pts"),
        coalesce(col("n_border_pts"), lit(0L)).as("n_border_pts"),
        lit(0L).as("n_noise_pts"))
    val noise = cells.filter(col("cnt") < DbMinPts)
      .join(bcells.select(col("cid")), Seq("cid"), "left_anti")
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_cells"),
        lit(0L).as("n_core_pts"), lit(0L).as("n_border_pts"),
        col("n").as("n_noise_pts"))
    clusters.unionAll(noise)
  }

  val qDbscanGridSql: String = {
    val ccRounds = 24
    def ccIter(prev: String, cur: String): String =
      s"$cur AS MATERIALIZED (SELECT l.node, " +
        "LEAST(l.comp, COALESCE(MIN(l2.comp), l.comp)) AS comp " +
        s"FROM $prev l " +
        "LEFT JOIN sym s ON s.a = l.node " +
        s"LEFT JOIN $prev l2 ON l2.node = s.b " +
        "GROUP BY l.node, l.comp)"
    val rounds = (1 to ccRounds)
      .map(i => ccIter(s"l${i - 1}", s"l$i")).mkString(", ")
    "WITH cells AS MATERIALIZED (SELECT cx, cy, " +
      "(cx + 1000) * 100000 + (cy + 1000) AS cid, count(*) AS cnt FROM " +
      s"(SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * $DbScale) AS BIGINT) AS cx, " +
      s"CAST(floor(CAST(embedding[2] AS DOUBLE) * $DbScale) AS BIGINT) AS cy " +
      "FROM embeddings) p GROUP BY 1, 2), " +
      s"core AS MATERIALIZED (SELECT * FROM cells WHERE cnt >= $DbMinPts), " +
      "offs AS (SELECT dx.range AS dx, dy.range AS dy " +
      "FROM range(-1, 2) dx, range(-1, 2) dy " +
      "WHERE NOT (dx.range = 0 AND dy.range = 0)), " +
      "e AS MATERIALIZED (SELECT a.cid AS src, b.cid AS dst " +
      "FROM core a CROSS JOIN offs o " +
      "JOIN core b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy " +
      "WHERE a.cid < b.cid), " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e " +
      "UNION ALL SELECT dst, src FROM e), " +
      "l0 AS MATERIALIZED (SELECT cid AS node, cid AS comp FROM core), " +
      rounds + ", " +
      s"lab AS MATERIALIZED (SELECT node AS cid, comp FROM l$ccRounds), " +
      "corecnt AS (SELECT lab.comp AS cluster, " +
      "CAST(count(*) AS BIGINT) AS n_cells, " +
      "CAST(SUM(k.cnt) AS BIGINT) AS n_core_pts " +
      "FROM core k JOIN lab ON lab.cid = k.cid GROUP BY 1), " +
      "bcells AS MATERIALIZED (SELECT c.cid, c.cnt, MIN(lab.comp) AS cluster " +
      s"FROM cells c CROSS JOIN offs o " +
      "JOIN core k ON k.cx = c.cx + o.dx AND k.cy = c.cy + o.dy " +
      "JOIN lab ON lab.cid = k.cid " +
      s"WHERE c.cnt < $DbMinPts GROUP BY c.cid, c.cnt), " +
      "bordercnt AS (SELECT cluster, CAST(SUM(cnt) AS BIGINT) AS n_border_pts " +
      "FROM bcells GROUP BY 1), " +
      "noise AS (SELECT CAST(COALESCE(SUM(c.cnt), 0) AS BIGINT) AS n " +
      s"FROM cells c WHERE c.cnt < $DbMinPts " +
      "AND NOT EXISTS (SELECT 1 FROM bcells b WHERE b.cid = c.cid)) " +
      "SELECT cc.cluster, cc.n_cells, cc.n_core_pts, " +
      "CAST(COALESCE(b.n_border_pts, 0) AS BIGINT) AS n_border_pts, " +
      "CAST(0 AS BIGINT) AS n_noise_pts " +
      "FROM corecnt cc LEFT JOIN bordercnt b ON b.cluster = cc.cluster " +
      "UNION ALL SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), " +
      "CAST(0 AS BIGINT), CAST(0 AS BIGINT), n FROM noise"
  }

  val queries: Seq[(String, Query)] = Seq(
    "q_pca"            -> Query(qPca, qPcaSql),
    "q_pca_project"    -> Query(qPcaProject, qPcaProjectSql),
    "q_dbscan_grid"    -> Query(qDbscanGrid, qDbscanGridSql),
    "q_embed_outliers" -> Query(qEmbedOutliers, qEmbedOutliersSql),
    "q_coreset"        -> Query(qCoreset, qCoresetSql),
    "q_feature_scale"  -> Query(qFeatureScale, qFeatureScaleSql),
    "q_rrf"            -> Query(qRrf, qRrfSql),
    "q_spatial_join"   -> Query(qSpatialJoin, qSpatialJoinSql),
    "q_mmr"            -> Query(qMmr, qMmrSql),
    "q_quantize"       -> Query(qQuantize, qQuantizeSql),
    "q_ann_ivf"        -> Query(qAnnIvf, qAnnIvfSql),
    "q_semdedup"       -> Query(qSemdedup, qSemdedupSql),
    "q_semdedup_keep"  -> Query(qSemdedupKeep, qSemdedupKeepSql),
    "q_cluster_purity" -> Query(qClusterPurity, qClusterPuritySql),
    "q_knn_classify"   -> Query(qKnnClassify, qKnnClassifySql),
    "q_ann_ivfpq"      -> Query(qAnnIvfPq, qAnnIvfPqSql),
    "q_ann_serve"      -> Query(qAnnServe, qAnnServeSql),
    "q_ann_upsert"     -> Query(qAnnUpsert, qAnnUpsertSql),
    "q_ivfpq_recall"   -> Query(qIvfPqRecall, qIvfPqRecallSql),
    "q_ann_pq"         -> Query(qAnnPq, qAnnPqSql),
    "q_centroids"      -> Query(qCentroids, qCentroidsSql),
    "q_knn_brute"      -> Query(qKnnBrute, qKnnBruteSql),
    "q_knn_heap"       -> Query(qKnnHeap, qKnnHeapSql),
    "q_cos_neardup"    -> Query(qCosNearDup, qCosNearDupSql),
    "q_ann_lsh"        -> Query(qAnnLsh, qAnnLshSql),
    "q_srp_error"      -> Query(qSrpError, qSrpErrorSql),
    "q_ivf_recall"     -> Query(qIvfRecall, qIvfRecallSql),
  )
}
