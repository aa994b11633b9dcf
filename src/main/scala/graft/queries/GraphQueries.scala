package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ConnectedComponents, Fixpoint, Graph, IterCheckpoint, Relax}
import graft.operators.Fixpoint.unroll
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Graph analytics beyond the reference's simplified PageRank
  * (`simplified_page_rank.py` counts in-links only — SURVEY.md §2B): exact
  * triangle counting over a co-purchase graph derived from `lineitem`
  * (parts are nodes; an edge connects two parts bought in the same order).
  *
  * The Spark plan is the edge-iterator algorithm with DEGREE ORIENTATION
  * (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11): every undirected edge is directed from its
  * lower-(degree, id) endpoint to its higher one, out-neighborhoods are
  * collected into per-node arrays, and each edge (u,v) contributes
  * |adj(u) ∩ adj(v)| — counted inside whole-stage codegen via
  * `array_intersect`, so no wedge set is ever materialized (the naive
  * wedge join would shuffle ~50M rows at sf0.1 alone). Orientation bounds
  * every out-neighborhood at O(sqrt(m)) regardless of skew, which caps
  * both the array payloads and the per-edge intersection work — the
  * "last reducer" hub problem is structurally gone. The adjacency side is
  * |V| rows; AQE broadcasts it while it fits and falls back to a
  * sort-merge join at billion-node scale — no hint pins the wrong choice.
  * The DuckDB oracle runs the naive canonical-ordered triple join — same
  * count, affordable at verification scale only.
  */
object GraphQueries {

  /** All same-order part pairs (src < dst), one row per ROW pair — the
    * exact multiset the naive self-join `a.ok = b.ok AND a.pk < b.pk`
    * produces, built with ONE shuffle: baskets collected per order, pairs
    * expanded from the sorted array inside codegen. A self-join would
    * sort-and-shuffle the fact table twice; baskets are small (items per
    * order), so the quadratic expansion is per-group-bounded — the
    * standard market-basket trick. */
  private def pairBaskets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(filter(slice(ps, i + 2, size(ps)), y -> y > x), " +
          "y -> struct(x AS src, y AS dst))))")).as("p"))
      .select(col("p.src"), col("p.dst"))

  /** Canonical undirected co-purchase edges (src < dst, deduplicated). */
  private def coEdges(s: SparkSession, d: String): DataFrame =
    pairBaskets(s, d).distinct()

  /** Per-order DISTINCT pairs — one row per (order, pair), built from the
    * deduplicated basket array. This is the co-occurrence multiset
    * association metrics count over: a part appearing twice in one order
    * is still ONE occurrence of each of its pairs. */
  private def orderPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(array_distinct(sort_array(collect_list(col("l_partkey")))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("p"))
      .select(col("p.src"), col("p.dst"))

  /** Exact triangle count over canonical undirected edges (src < dst,
    * no duplicates). Returns a single row `n_triangles`. */
  def triangleCount(e: DataFrame): DataFrame = {
    // NOTE (r17): an eager-materialization variant (checkpointing e, deg
    // and o — they appear in several subtrees) measured NEUTRAL in a
    // same-window A/B at sf0.1: the repeated subtrees are identical, so
    // AQE's runtime exchange reuse already deduplicates them within this
    // single-action plan. Left in the lazy spelling.
    // Undirected degree per node; |V| rows — broadcast back onto edges.
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("sdeg"))), Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("ddeg"))), Seq("dst"))
    // Orient by the total order (deg, id): u -> v iff (deg_u, u) < (deg_v, v).
    val fwd = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val o = withDeg.select(
      when(fwd, col("src")).otherwise(col("dst")).as("u"),
      when(fwd, col("dst")).otherwise(col("src")).as("v"))
    // Out-neighborhoods under the orientation: ≤ O(sqrt(m)) values each,
    // so the arrays stay small no matter how skewed the raw degrees are.
    val adj = o.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))
    // A triangle a ≺ b ≺ c is counted exactly once: at edge (a,b), as the
    // common out-neighbor c ∈ adj(a) ∩ adj(b).
    o.join(adj.withColumnRenamed("nbrs", "nu"), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .agg(coalesce(sum(size(array_intersect(col("nu"), col("nv")))), lit(0L))
        .as("n_triangles"))
  }

  def qTriangles(s: SparkSession, d: String): DataFrame =
    triangleCount(coEdges(s, d))

  // ── Connected components (community structure) ─────────────────────────
  // Weakly connected components of the SUPPORT-THRESHOLDED co-purchase
  // graph (pairs bought together in ≥ MinSupport orders — the
  // market-basket association graph; without the threshold every popular
  // part joins one giant near-clique and "components" says nothing).
  // Runs the same iterated min-label propagation the dedup pipeline uses
  // (operators/ConnectedComponents: one join + one agg per round, labels
  // localCheckpoint-ed, early exit on convergence). The registered result
  // is the component-size histogram — a canonical, order-free summary.
  // The oracle unrolls 20 propagation rounds as DuckDB CTEs (the fixture
  // graphs converge in 11 at both verification SFs; converged labels are
  // a fixed point, so extra rounds are no-ops on both engines).
  private val MinSupport = 2
  private val CcRounds = 20

  /** Co-purchase edges kept only when the pair co-occurs in ≥ MinSupport
    * DISTINCT orders — a part repeated inside one order must not inflate
    * its pairs' support past the threshold. */
  private[graft] def supportedEdges(s: SparkSession, d: String): DataFrame =
    orderPairs(s, d)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinSupport)
      .select(col("src"), col("dst"))

  /** The oracle's spelling of [[supportedEdges]]: the materialized CTE
    * `e`. */
  private val SqlSupportedEdges: String =
    "e AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= $MinSupport)"

  def qComponents(s: SparkSession, d: String): DataFrame = {
    val labels = graft.operators.ConnectedComponents
      .components(supportedEdges(s, d), maxIterations = CcRounds)
    labels.groupBy(col("comp"))
      .agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))
  }

  val qComponentsSql: String = {
    val rounds = ConnectedComponents.labelRoundsSql("l", "sym", CcRounds)
    s"WITH $SqlSupportedEdges, " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS comp FROM sym), " +
      rounds + " " +
      "SELECT component_size, count(*) AS n_components FROM " +
      s"(SELECT comp, count(*) AS component_size FROM l$CcRounds GROUP BY 1) g " +
      "GROUP BY 1"
  }

  // ── Modularity of the component partition ──────────────────────────────
  // Newman–Girvan modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the CC
  // labeling over the support-thresholded co-purchase graph — the
  // standard "is this clustering better than random" score a dedup/
  // community pipeline reports before trusting its clusters. All terms
  // are exact integers until ONE final division: Q = Σ(4·m·e_c − d_c²)
  // / (4m²), summed in DECIMAL(38,0) so a billion-edge graph cannot
  // overflow. The global m rides a single-row broadcast (Q11/Q15
  // discipline); labels come from the same proven CC fixed point the
  // oracle unrolls, so both engines score the identical partition.
  def qModularity(s: SparkSession, d: String): DataFrame = {
    // materialized once: the CC fixpoint and the final scoring job both
    // re-derive the edge set otherwise (no exchange reuse across jobs)
    val e = supportedEdges(s, d).iterCheckpoint()
    val labels = graft.operators.ConnectedComponents
      .components(e, maxIterations = CcRounds)
    // every edge is intra-component by construction; label via src
    val ec = e.join(labels.select(col("node").as("src"), col("comp")), Seq("src"))
      .groupBy(col("comp")).agg(count(lit(1)).as("e_c"))
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dc = deg.join(labels, Seq("node"))
      .groupBy(col("comp")).agg(sum(col("deg")).as("d_c"))
    val tot = e.agg(count(lit(1)).as("m"))
    ec.join(dc, Seq("comp"))
      .crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_communities"),
        first(col("m")).as("m_edges"),
        sum((col("m") * col("e_c") * 4 - col("d_c") * col("d_c"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("numer"))
      .select(col("n_communities"), col("m_edges"),
        round(col("numer").cast("double") /
          (col("m_edges").cast("double") * col("m_edges") * 4.0), 9)
          .as("modularity_r"))
  }

  val qModularitySql: String = {
    val rounds = ConnectedComponents.labelRoundsSql("l", "sym", CcRounds)
    s"WITH $SqlSupportedEdges, " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS comp FROM sym), " +
      rounds + ", " +
      s"fin AS MATERIALIZED (SELECT node, comp FROM l$CcRounds), " +
      "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM " +
      "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) GROUP BY 1), " +
      "ec AS (SELECT f.comp, CAST(count(*) AS BIGINT) AS e_c FROM e " +
      "JOIN fin f ON f.node = e.src GROUP BY 1), " +
      "dc AS (SELECT f.comp, CAST(sum(deg) AS BIGINT) AS d_c FROM deg " +
      "JOIN fin f USING (node) GROUP BY 1), " +
      "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_communities, " +
      "any_value(mm.m) AS m_edges, " +
      "round(CAST(sum(CAST(mm.m * e_c * 4 - d_c * d_c AS DECIMAL(38,0))) AS DOUBLE) " +
      "/ (CAST(any_value(mm.m) AS DOUBLE) * any_value(mm.m) * 4.0), 9) AS modularity_r " +
      "FROM ec JOIN dc USING (comp), mm"
  }

  val qTrianglesSql: String =
    "WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey) " +
      "SELECT count(*) AS n_triangles FROM e e1 " +
      "JOIN e e2 ON e2.src = e1.dst " +
      "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"

  // ── Degree distribution + log-log power-law fit ────────────────────────
  // The graph-shape diagnostic run before sizing any skew-sensitive graph
  // job: the degree histogram of the co-purchase graph plus the OLS slope
  // of ln(count) on ln(degree) — a straight log-log line is the
  // scale-free signature, and the slope says how heavy the hub tail is
  // (what decides salting/orientation strategy at 100 TB). Engine parity
  // discipline: each ln is taken once on an exact integer, scaled to
  // integer MICRO-NATS immediately (round(ln·1e6)), so the OLS moment
  // sums are exact BIGINT arithmetic on both engines; doubles reappear
  // only in the final slope/intercept division, computed in the same
  // operation order and rounded at 6dp. The histogram is |distinct
  // degrees| rows — the fit aggregate is driver-sized, broadcast back
  // onto every histogram row so the full result keeps the per-row hash
  // surface.
  def qDegreeDist(s: SparkSession, d: String): DataFrame = {
    val e = supportedEdges(s, d)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val hist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    val withLn = hist.select(col("deg"), col("n_nodes"),
      round(log(col("deg").cast("double")) * 1e6, 0).cast("long").as("x"),
      round(log(col("n_nodes").cast("double")) * 1e6, 0).cast("long").as("y"))
    val m = withLn.agg(
      count(lit(1)).as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
    val intercept = (col("sy").cast("double") / col("k").cast("double") -
      (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("k") * col("sxx") - col("sx") * col("sx")).cast("double") *
        (col("sx").cast("double") / col("k").cast("double"))) / 1e6
    val fit = m.select(round(slope, 6).as("slope_r"),
      round(intercept, 6).as("intercept_r"))
    hist.crossJoin(broadcast(fit))
      .select(col("deg"), col("n_nodes"), col("slope_r"), col("intercept_r"))
  }

  val qDegreeDistSql: String =
    "WITH e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= $MinSupport), " +
      "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM " +
      "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) n GROUP BY 1), " +
      "hist AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1), " +
      "ln AS (SELECT deg, n_nodes, " +
      "CAST(round(ln(CAST(deg AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x, " +
      "CAST(round(ln(CAST(n_nodes AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y FROM hist), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx FROM ln), " +
      "fit AS (SELECT " +
      "round(CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS slope_r, " +
      "round((CAST(sy AS DOUBLE) / CAST(k AS DOUBLE) - " +
      "CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE) * " +
      "(CAST(sx AS DOUBLE) / CAST(k AS DOUBLE))) / 1e6, 6) AS intercept_r FROM m) " +
      "SELECT deg, n_nodes, slope_r, intercept_r FROM hist, fit"

  // ── K-core decomposition (peel to the density core) ────────────────────
  // The 2-core of the support-≥2 co-purchase graph: iteratively strip
  // nodes with fewer than 2 surviving neighbors (pendant trees) until the
  // cycle-containing core remains — the density prefilter that runs ahead
  // of community detection at scale (operators/KCore scaladoc for the
  // 100 TB shape). Registered result is each core node with its in-core
  // degree. The oracle unrolls the synchronous peel: each round keeps
  // nodes with current degree ≥ k, then restricts edges to kept endpoints
  // — the fixture graphs converge in ≤5 rounds at both verification SFs,
  // and converged rounds are no-ops on both engines.
  private val CoreK = 2
  private val KcoreRounds = 12

  def qKcore(s: SparkSession, d: String): DataFrame =
    graft.operators.KCore
      .coreEdges(supportedEdges(s, d), CoreK)
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("core_deg"))

  private def kcoreIter(i: Int, prev: String): String =
    s"k$i AS MATERIALIZED (SELECT a FROM $prev GROUP BY a HAVING count(*) >= $CoreK), " +
      s"r$i AS MATERIALIZED (SELECT e.a, e.b FROM $prev e " +
      s"JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)"

  val qKcoreSql: String = {
    val rounds = (1 to KcoreRounds).map(i => kcoreIter(i, s"r${i - 1}")).mkString(", ")
    s"WITH $SqlSupportedEdges, " +
      "r0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e " +
      "UNION ALL SELECT dst, src FROM e), " +
      rounds + " " +
      s"SELECT a AS node, CAST(count(*) AS BIGINT) AS core_deg FROM r$KcoreRounds GROUP BY 1"
  }

  // ── Semi-supervised label propagation (label spreading, clamped) ───────
  // A quarter of the nodes are SEEDED with their part's brand (salted-md5
  // selection — reproducible); labels then spread over the co-purchase
  // graph for a FIXED number of synchronous rounds: an unlabeled node
  // takes the majority label among its labeled neighbors (ties → count
  // desc, label asc), and once labeled a node is clamped. Fixed rounds —
  // not run-to-convergence — so both engines compute the identical
  // intermediate states and the oracle unrolls the same R rounds. Each
  // round is one message join + one vote aggregation + one per-node
  // window, all shuffling on the node key; labels localCheckpoint per
  // round (the same iterative-plan discipline as PageRank/CC).
  private val LpRounds = 5

  def qLabelProp(s: SparkSession, d: String): DataFrame = {
    val seedPick = graft.functions.Md5Bits.hash60(
      concat(lit("lp:"), col("p_partkey").cast("string"))) % 4 === 0
    val seeds = Tables.part(s, d).filter(seedPick)
      .select(col("p_partkey").as("node"), col("p_brand").as("lab"))
    graft.operators.LabelPropagation
      .spread(supportedEdges(s, d), seeds, LpRounds)
  }

  private def lpIter(prev: String): String =
    s"SELECT l.node, coalesce(l.lab, w.wlab) AS lab FROM $prev l LEFT JOIN (" +
      "SELECT a AS node, lab AS wlab FROM (" +
      "SELECT s.a, x.lab, count(*) AS c, " +
      "row_number() OVER (PARTITION BY s.a ORDER BY count(*) DESC, x.lab ASC) AS rn " +
      s"FROM sym s JOIN $prev x ON s.b = x.node WHERE x.lab IS NOT NULL " +
      "GROUP BY s.a, x.lab) v WHERE rn = 1) w USING (node)"

  val qLabelPropSql: String = {
    val seed = graft.functions.Md5Bits.sqlHash60("'lp:' || CAST(p_partkey AS VARCHAR)") + " % 4 = 0"
    val rounds = unroll("l", LpRounds)((p, _) => lpIter(p))
    s"WITH $SqlSupportedEdges, " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e), " +
      "l0 AS MATERIALIZED (SELECT n.node, p.p_brand AS lab FROM " +
      "(SELECT DISTINCT a AS node FROM sym) n LEFT JOIN " +
      s"(SELECT p_partkey, p_brand FROM part WHERE $seed) p ON n.node = p.p_partkey), " +
      rounds + " " +
      s"SELECT node, lab FROM l$LpRounds"
  }

  // ── K-truss (triangle-density core) ────────────────────────────────────
  // The 3-truss of the supported co-purchase graph: every surviving edge
  // closes at least one triangle within the truss — a stricter community
  // core than the 2-core (operators/KTruss scaladoc). The oracle unrolls
  // the synchronous edge peel: each round keeps edges whose endpoints
  // share ≥ k−2 common neighbors in the current graph (correlated
  // count over the symmetric form — affordable at verification scale;
  // the fixture converges in ≤2 rounds at both SFs, and converged
  // rounds are no-ops on both engines).
  private val TrussK = 3
  private val TrussRounds = 6

  def qKtruss(s: SparkSession, d: String): DataFrame =
    graft.operators.KTruss.trussEdges(
      supportedEdges(s, d), TrussK)

  private def ktIter(i: Int, prev: String): String =
    s"r$i AS MATERIALIZED (SELECT e.a, e.b FROM $prev e WHERE (" +
      s"SELECT count(*) FROM s${i - 1} x, s${i - 1} y " +
      s"WHERE x.n = e.a AND y.n = e.b AND x.m = y.m) >= ${TrussK - 2}), " +
      s"s$i AS MATERIALIZED (SELECT a AS n, b AS m FROM r$i " +
      s"UNION ALL SELECT b, a FROM r$i)"

  val qKtrussSql: String = {
    val rounds = (1 to TrussRounds).map(i => ktIter(i, s"r${i - 1}")).mkString(", ")
    s"WITH $SqlSupportedEdges, " +
      "r0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e), " +
      "s0 AS MATERIALIZED (SELECT a AS n, b AS m FROM r0 UNION ALL SELECT b, a FROM r0), " +
      rounds + " " +
      s"SELECT e.a, e.b, CAST((SELECT count(*) FROM s$TrussRounds x, s$TrussRounds y " +
      s"WHERE x.n = e.a AND y.n = e.b AND x.m = y.m) AS BIGINT) AS support " +
      s"FROM r$TrussRounds e"
  }

  // ── Frequent itemsets + association rules ──────────────────────────────
  // Market-basket mining over the same baskets: the top pairs by order
  // co-occurrence with confidence(src→dst) and lift. Counts are DISTINCT
  // orders (a part twice in one order is one occurrence), so supports are
  // integers and the ratios are identical double expressions on both
  // engines. Item supports are |parts| rows — broadcast onto the pair
  // aggregate; the basket total is a scalar. Top-k by (support, src, dst)
  // is a deterministic TakeOrdered, no global sort.
  private val ItemsetTopK = 20

  def qItemsets(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pairOrders = orderPairs(s, d)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("pair_orders"))
    val itemOrders = li.groupBy(col("l_partkey").as("item"))
      .agg(countDistinct(col("l_orderkey")).as("item_orders"))
    val baskets = li.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    pairOrders
      .join(broadcast(itemOrders.select(col("item").as("src"), col("item_orders").as("src_orders"))), Seq("src"))
      .join(broadcast(itemOrders.select(col("item").as("dst"), col("item_orders").as("dst_orders"))), Seq("dst"))
      .crossJoin(broadcast(baskets))
      .select(col("src"), col("dst"), col("pair_orders"),
        // Canon.qround, NOT round(x, 6): confidence/lift are integer
        // ratios, so x·1e6 lands EXACTLY on .5 (lift 6902.8953125 at
        // sf3) where the engines' round() legally disagree (r16 audit)
        Canon.qround(col("pair_orders") / col("src_orders"), 6)
          .as("confidence_r"),
        Canon.qround(col("pair_orders") * col("n_baskets") /
          (col("src_orders") * col("dst_orders")), 6).as("lift_r"))
      .orderBy(col("pair_orders").desc, col("src").asc, col("dst").asc)
      .limit(ItemsetTopK)
  }

  val qItemsetsSql: String =
    "WITH po AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
      "count(DISTINCT a.l_orderkey) AS pair_orders " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), " +
      "io AS (SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS item_orders " +
      "FROM lineitem GROUP BY 1), " +
      "nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem) " +
      "SELECT src, dst, pair_orders, " +
      "floor(pair_orders / s.item_orders * 1e6 + 0.5) / 1e6 AS confidence_r, " +
      "floor(pair_orders * n_baskets / (s.item_orders * t.item_orders) * 1e6 + 0.5) / 1e6 AS lift_r " +
      "FROM po JOIN io s ON po.src = s.item JOIN io t ON po.dst = t.item CROSS JOIN nb " +
      s"ORDER BY pair_orders DESC, src, dst LIMIT $ItemsetTopK"

  // ── Single-source BFS (shortest hop distances) ─────────────────────────
  // Unweighted shortest paths from a deterministic source (the minimum
  // node id) over the same support-thresholded co-purchase graph the CC
  // query uses: synchronous frontier expansion, one join + one aggregate
  // per round, distances fixed at first touch (the BFS layer property —
  // a node reached in round k has hop distance exactly k). The loop
  // early-exits when the reached set stops growing, which for BFS happens
  // only at completion, so the early exit is semantics-free; the oracle
  // unrolls the same MAX rounds as DuckDB CTEs (a converged frontier is a
  // fixed point — extra rounds are no-ops on both engines). Scale: each
  // round shuffles (node, dist) pairs only — never adjacency payloads —
  // and localCheckpoint truncates the growing lineage exactly as the CC
  // operator does. The registered result is the hop-distance histogram of
  // the source's component.
  private val BfsRounds = 20

  /** (node, dist) hop distances from `source` over undirected `edges`
    * (src/dst columns); unreached nodes are absent. Testable core of
    * qBfs. */
  def bfsDistances(edges: DataFrame, source: Long, maxRounds: Int): DataFrame =
    // cached hash-partitioned by the per-round join key: every round's
    // frontier join reuses the in-memory layout so only the V-sized
    // frontier side ever shuffles (guide §2.4; IterCheckpoint.keyedForReuse)
    Graph(edges).withKeyed(col("a")) { sym =>
      // reached is MONOTONE non-decreasing, so equality two rounds apart
      // implies equality at the round between — a sound fixed-point test,
      // and for BFS a non-growing frontier IS completion (the source alone
      // is reached before the first pair)
      val stalled = Fixpoint.Probe(Seq(reachedCount), (prev, cur) =>
        cur.getAs[Long]("reached") <= prev.fold(1L)(_.getAs[Long]("reached")))
      Relax(sym, fromSource(sym, source), Seq("node"), col("dist"), hop, stalled, maxRounds)
        .filter(col("dist").isNotNull)
    }

  /** The materialized start of a single-source relaxation over `sym`:
    * `source` at distance 0, every other node unreached (null). */
  private def fromSource(sym: DataFrame, source: Long): DataFrame =
    Graph.nodes(sym).withColumn("dist",
      when(col("node") === source, lit(0L)).otherwise(lit(null).cast("long")))
      .iterCheckpoint()

  /** The hop merge: a reached node keeps its distance (the BFS layer
    * property), an unreached one takes the frontier minimum plus one. */
  private def hop(dist: Column, mn: Column): Column =
    when(dist.isNotNull, dist).otherwise(mn + 1L)

  private def reachedCount: Column =
    sum(when(col("dist").isNotNull, 1L).otherwise(0L)).as("reached")

  // ── Weighted single-source shortest paths (Bellman–Ford rounds) ────────
  // BFS's weighted sibling: synchronous relaxation rounds — every round,
  // each node takes the min of its own distance and (neighbor distance +
  // edge weight) — run to the fixed point with early exit. Edge weight is
  // the integer "closeness" of a co-purchase tie (strong ties are short:
  // w = max(1, 6 − co-order count)), so all arithmetic is exact longs on
  // both engines. Unlike hop-BFS, convergence is detected on (reached
  // count, total distance): a round can improve distances without
  // reaching new nodes. Per round: one join of the frontier onto the
  // symmetric edge list (shuffled on node id), one partial-aggregated
  // min, one left join — the textbook Pregel round as three declarative
  // ops; localCheckpoint truncates the growing lineage.
  private val SsspRounds = 25

  def ssspDistances(edges: DataFrame, source: Long, maxRounds: Int): DataFrame =
    // cached keyed to the relaxation join key — see bfsDistances
    Graph(edges).withKeyed(col("a"))(ssspOn(_, source, maxRounds))

  /** [[ssspDistances]] over `sym`, a keyed copy of the weighted graph. */
  private def ssspOn(sym: DataFrame, source: Long, maxRounds: Int): DataFrame = {
    // TWO relaxation rounds per checkpoint job (same double-step as BFS):
    // reached is monotone non-decreasing and, once reached is stable,
    // total is monotone non-increasing, so an unchanged (reached, total)
    // two rounds apart pins the round in between too — the double-step
    // probe is still a sound fixed point.
    def st(r: Row) = (r.getAs[Long]("reached"), r.getAs[Long]("total"))
    val fixed = Fixpoint.Probe(
      Seq(reachedCount, sum(coalesce(col("dist"), lit(0L))).as("total")),
      (prev, cur) => prev.exists(st(_) == st(cur)))
    val shorter = (dist: Column, mn: Column) =>
      when(dist.isNull, mn).when(mn.isNull, dist).otherwise(least(dist, mn))
    Relax(sym, fromSource(sym, source), Seq("node"), col("dist") + col("w"), shorter,
      fixed, maxRounds).filter(col("dist").isNotNull)
  }

  private def weightedEdges(s: SparkSession, d: String): DataFrame =
    orderPairs(s, d)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinSupport)
      .select(col("src"), col("dst"),
        greatest(lit(1L), lit(6L) - col("n")).as("w"))

  def qSssp(s: SparkSession, d: String): DataFrame = {
    // materialized once — hubNode and the loop are separate actions
    val e = weightedEdges(s, d).iterCheckpoint()
    ssspDistances(e, hubNode(e.select(col("src"), col("dst"))), SsspRounds)
  }

  private def ssspIter(prev: String): String =
    s"SELECT l.node, CASE WHEN l.dist IS NULL THEN m.mn " +
      s"WHEN m.mn IS NULL THEN l.dist ELSE least(l.dist, m.mn) END AS dist " +
      s"FROM $prev l LEFT JOIN (SELECT s.b AS node, min(x.dist + s.w) AS mn " +
      s"FROM sym s JOIN $prev x ON s.a = x.node WHERE x.dist IS NOT NULL GROUP BY 1) m " +
      "USING (node)"

  /** The oracle's [[ssspDistances]] from the hub over the weighted
    * supported edges: the CTEs up to `s$SsspRounds`. Shared by qSsspSql
    * and qSsspPathSql. */
  private def ssspDistancesSql: String =
    "WITH e AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
      "CAST(GREATEST(1, 6 - count(DISTINCT a.l_orderkey)) AS BIGINT) AS w " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= $MinSupport), " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b, w FROM e " +
      "UNION ALL SELECT dst, src, w FROM e), " +
      s"s0 AS MATERIALIZED (SELECT node, CASE WHEN node = $SqlHub " +
      "THEN CAST(0 AS BIGINT) ELSE NULL END AS dist FROM " +
      "(SELECT DISTINCT a AS node FROM sym) n), " +
      unroll("s", SsspRounds)((p, _) => ssspIter(p))

  val qSsspSql: String =
    ssspDistancesSql + " " + s"SELECT node, dist FROM s$SsspRounds WHERE dist IS NOT NULL"

  /** Deterministic source that lands in a REAL component: the
    * max-degree node (min id tiebreak). The min-id node sits in a 2-node
    * component at sf0.1 — a frontier walk from it proves nothing. */
  private def hubNode(e: DataFrame): Long =
    e.select(col("src").as("a")).unionAll(e.select(col("dst").as("a")))
      .groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("a").asc).limit(1)
      .head().getLong(0)

  // a def, not a val: qSsspSql initializes before this point in the
  // object body and a val would interpolate as null
  private def SqlHub: String =
    "(SELECT a FROM (SELECT a, count(*) AS deg FROM sym GROUP BY 1) dg " +
      "ORDER BY deg DESC, a LIMIT 1)"

  // ── SSSP with PATH RECONSTRUCTION ──────────────────────────────────────
  // Distances alone answer "how far"; pipelines auditing a dedup/linkage
  // graph need "through WHOM". Three declarative stages:
  //  1. distances — the proven ssspDistances fixed point;
  //  2. predecessor tree, derived POST-HOC in one join (no per-round
  //     pred carry): pred(n) = min{ a : dist(a) + w(a,n) = dist(n) } —
  //     the min-id tie-break makes the tree (and so every path) unique,
  //     so both engines agree string-for-string;
  //  3. path assembly by POINTER DOUBLING on (anc, seg): each round every
  //     chain splices its ancestor's known segment in front of its own,
  //     halving remaining depth — O(log depth) self-join rounds instead
  //     of the O(depth) linear backtrack (with integer weights ≥ 1 depth
  //     is ≤ max dist, and a 100 TB graph's path tree assembles in ~6
  //     rounds). Convergence is observed on the not-yet-rooted count
  //     riding the checkpoint job.
  private val PathDoubleRounds = 8 // 2^8 = depth 256 safety cap

  def ssspPaths(edges: DataFrame, source: Long, maxRounds: Int): DataFrame = {
    // the distance loop's keyed edges also feed the predecessor join
    val init = Graph(edges).withKeyed(col("a")) { sym =>
      val dist = ssspOn(sym, source, maxRounds).iterCheckpoint()
      val distA = dist.select(col("node").as("a"), col("dist").as("dist_a"))
      val pred = dist
        .join(sym.select(col("a"), col("b").as("node"), col("w")), Seq("node"))
        .join(distA, Seq("a"))
        .filter(col("dist_a") + col("w") === col("dist"))
        .groupBy(col("node")).agg(min(col("a")).as("pred"))
      // state: seg = path over (anc, node] as "id->id->…"; rooted ⟺ anc=src.
      // The source's own pred (zero-weight edges) is dropped here: a
      // `node =!= source` filter ahead of the join makes Spark plan a
      // runtime bloom filter over the cached edges, three jobs more
      dist.join(pred, Seq("node"), "left")
        .select(col("node"), col("dist"),
          when(col("node") === source, col("node"))
            .otherwise(coalesce(col("pred"), col("node"))).as("anc"),
          col("node").cast("string").as("seg"))
        .iterCheckpoint()
    }
    val rooted = Fixpoint.Probe(
      Seq(sum(when(col("anc") === source, 0L).otherwise(1L)).as("pending")),
      (_, cur) => cur.getAs[Long]("pending") == 0L)
    val st = Fixpoint.run(init, PathDoubleRounds, 1, Some(rooted)) { (st, _) =>
      val byNode = st.select(col("node").as("anc"), col("anc").as("aanc"),
        col("seg").as("aseg"))
      st.join(byNode, Seq("anc"), "left")
        .select(col("node"), col("dist"),
          when(col("anc") === source, col("anc"))
            .otherwise(col("aanc")).as("anc"),
          when(col("anc") === source, col("seg"))
            .otherwise(concat(col("aseg"), lit("->"), col("seg"))).as("seg"))
    }.state
    st.filter(col("anc") === source)
      .select(col("node"), col("dist"),
        when(col("node") === source, col("seg"))
          .otherwise(concat(lit(s"$source->"), col("seg"))).as("path"))
  }

  def qSsspPath(s: SparkSession, d: String): DataFrame = {
    // materialized once — hubNode, the distance loop, and the pred join
    // each act on the edge set in separate jobs
    val e = weightedEdges(s, d).iterCheckpoint()
    ssspPaths(e, hubNode(e.select(col("src"), col("dst"))), SsspRounds)
  }

  /** Backtrack depth for the SQL oracle's unrolled path walk: every step
    * strictly decreases dist (integer weights ≥ 1), and the observed max
    * tree depth across fixtures is 9 — 14 leaves margin. */
  private val SqlBacktrackSteps = 14

  val qSsspPathSql: String = {
    val walk = (1 to SqlBacktrackSteps).map { i =>
      s"p$i AS (SELECT p.node, p.dist, " +
        s"CASE WHEN p.cur = $SqlHub THEN p.cur ELSE pr.pred END AS cur, " +
        s"CASE WHEN p.cur = $SqlHub THEN p.path " +
        "ELSE CAST(pr.pred AS VARCHAR) || '->' || p.path END AS path " +
        s"FROM p${i - 1} p LEFT JOIN pred pr ON pr.node = p.cur)"
    }.mkString(", ")
    ssspDistancesSql + ", " +
      s"fin AS MATERIALIZED (SELECT node, dist FROM s$SsspRounds " +
      "WHERE dist IS NOT NULL), " +
      "pred AS MATERIALIZED (SELECT s.b AS node, min(s.a) AS pred " +
      "FROM sym s JOIN fin x ON x.node = s.a JOIN fin n ON n.node = s.b " +
      s"WHERE x.dist + s.w = n.dist AND s.b <> $SqlHub GROUP BY s.b), " +
      "p0 AS (SELECT node, dist, node AS cur, CAST(node AS VARCHAR) AS path " +
      "FROM fin), " +
      walk + " " +
      s"SELECT node, dist, path FROM p$SqlBacktrackSteps WHERE cur = $SqlHub"
  }

  def qBfs(s: SparkSession, d: String): DataFrame = {
    // materialized once: hubNode's aggregation and the loop's sym job are
    // separate actions — without this each re-derives the edge set from
    // the fact table (no exchange reuse across jobs; guide §1.2 step 1)
    val e = supportedEdges(s, d).iterCheckpoint()
    bfsDistances(e, hubNode(e), BfsRounds)
      .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
  }

  private def bfsIter(prev: String): String =
    s"SELECT l.node, CASE WHEN l.dist IS NOT NULL THEN l.dist ELSE m.mn + 1 END AS dist " +
      s"FROM $prev l LEFT JOIN (SELECT s.b AS node, min(x.dist) AS mn FROM sym s " +
      s"JOIN $prev x ON s.a = x.node WHERE x.dist IS NOT NULL GROUP BY 1) m USING (node)"

  val qBfsSql: String = {
    val rounds = unroll("b", BfsRounds)((p, _) => bfsIter(p))
    s"WITH $SqlSupportedEdges, " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      s"b0 AS MATERIALIZED (SELECT node, CASE WHEN node = $SqlHub " +
      "THEN CAST(0 AS BIGINT) ELSE NULL END AS dist FROM " +
      "(SELECT DISTINCT a AS node FROM sym) n), " +
      rounds + " " +
      s"SELECT dist, count(*) AS n_nodes FROM b$BfsRounds " +
      "WHERE dist IS NOT NULL GROUP BY 1"
  }

  // ── Strongly connected components on a DIRECTED purchase-path graph ────
  // Nodes are parts; an edge points from each line to the NEXT line of the
  // same order in (l_linenumber, l_partkey) order — the "purchase path".
  // Restricted to partkey ≡ 0 (mod 7) so the DuckDB oracle's transitive
  // closure stays verification-affordable; the Spark operator itself is
  // the coloring/FW-BW iteration and never materializes reachability
  // (see operators/StronglyConnectedComponents.scala). Edge derivation is
  // ONE shuffle: per-order struct arrays sorted in codegen, adjacent
  // pairs expanded — no window, no self-join re-shuffle of the fact table.
  private[graft] def purchasePathEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_partkey").as("pk")))).as("xs"))
      .select(explode(expr(
        "transform(slice(xs, 1, size(xs) - 1), " +
          "(x, i) -> struct(x.pk AS src, xs[i + 1].pk AS dst))")).as("p"))
      .select(col("p.src"), col("p.dst"))
      .filter(col("src") % 7 === 0 && col("dst") % 7 === 0 &&
        col("src") =!= col("dst"))
      .distinct()

  def qScc(s: SparkSession, d: String): DataFrame =
    graft.operators.StronglyConnectedComponents
      .components(purchasePathEdges(s, d))

  // ── Directed-edge reciprocity ──────────────────────────────────────────
  // The share of directed purchase-path edges whose reverse edge also
  // exists — the standard first diagnostic on any directed graph (how
  // mutual is the linking?), and the cheap predictor of how much of the
  // graph the SCC pass can collapse. One self-join of the edge list on
  // the reversed key (both sides the same deduplicated frame), exact
  // integer counts, one final division.
  def qReciprocity(s: SparkSession, d: String): DataFrame = {
    val e = purchasePathEdges(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val out = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        round(col("n_recip").cast("double") / col("n_edges"), 6)
          .as("reciprocity"))
    out
  }

  val qReciprocitySql: String =
    "WITH seq AS (SELECT l_orderkey, l_partkey, " +
      "lead(l_partkey) OVER (PARTITION BY l_orderkey " +
      "ORDER BY l_linenumber, l_partkey) AS nxt FROM lineitem), " +
      "e AS (SELECT DISTINCT l_partkey AS src, nxt AS dst FROM seq " +
      "WHERE nxt IS NOT NULL AND l_partkey % 7 = 0 AND nxt % 7 = 0 " +
      "AND l_partkey <> nxt), " +
      "r AS (SELECT count(*) AS n_recip FROM e " +
      "WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)) " +
      "SELECT (SELECT count(*) FROM e) AS n_edges, n_recip, " +
      "round(CAST(n_recip AS DOUBLE) / (SELECT count(*) FROM e), 6) AS reciprocity " +
      "FROM r"

  // ── HITS hubs & authorities ────────────────────────────────────────────
  // Kleinberg's HITS (JACM 1999) over the directed purchase-path graph —
  // the classic dual of PageRank that the centrality family was missing:
  // a part is a good HUB if it links to good authorities (it leads
  // buyers onward), a good AUTHORITY if good hubs link to it. Alternating
  // power iteration in the repo's exact fixed-point discipline: scores
  // live in integer micro-units (start 1e6), each half-step is one keyed
  // O(|E|) join+sum shuffle (never a window over the edge set), and
  // normalization divides by k = max(score) div 1e6 + 1 with truncating
  // integer division — every iterate is an exact BIGINT vector, so
  // iterate T is bit-identical in Spark and the oracle's unrolled CTEs;
  // no float ever enters the state. Per round the only driver-side value
  // is the single max scalar (bounded by construction, same as Louvain's
  // m2); plans re-root each round via iterCheckpoint. Scale bound:
  // scores ≤ 1e6, so a half-step sum ≤ in-degree · 1e6 — BIGINT-safe to
  // ~9·10^12 in-links per node.
  private val HitsIters = 6

  def qHits(s: SparkSession, d: String): DataFrame =
    hitsScores(purchasePathEdges(s, d), HitsIters)

  /** The alternating fixed-point iteration over any (src, dst) directed
    * edge frame — separated so specs can pin it on hand graphs. */
  private[graft] def hitsScores(edges: DataFrame, iters: Int): DataFrame = {
    // the two half-steps join the edge set on OPPOSITE endpoints — one
    // cached copy per key so neither half-step ever re-shuffles E
    // (guide §2.4); the label side is V-sized and pre-partitioned too.
    // eDst repartitions OFF the filled eSrc cache, so the upstream edge
    // derivation runs once, not once per keyed copy
    val eSrc = edges.keyedForReuse(col("src"))
    val eDst = eSrc.keyedCopy(col("dst"))
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var hub = nodes.withColumn("h", lit(1000000L))
    var auth = nodes.withColumn("a", lit(0L))
    // normalization divisor from a half-step's observed max
    def scale(mx: Row): Long =
      Option(mx.getAs[java.lang.Long]("mx")).map(_.longValue).getOrElse(0L) / 1000000L + 1
    for (_ <- 1 to iters) {
      // the normalization scalar rides the checkpoint job as an observed
      // metric (the BFS/SSSP convergence-probe discipline) instead of a
      // separate max() action per half-step, and the scaled projection
      // stays LAZY over the checkpointed raw frame — two driver actions
      // per iteration instead of six
      val (aRaw, aMax) = IterCheckpoint.observed(nodes.join(
          eSrc.join(hub.select(col("node").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum(col("h")).as("ar")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("ar"), lit(0L)).as("ar")),
        max(col("ar")).as("mx"))
      auth = aRaw.select(col("node"), expr(s"ar div ${scale(aMax)}L").as("a"))
      val (hRaw, hMax) = IterCheckpoint.observed(nodes.join(
          eDst.join(auth.select(col("node").as("dst"), col("a")), Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum(col("a")).as("hr")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("hr"), lit(0L)).as("hr")),
        max(col("hr")).as("mx"))
      hub = hRaw.select(col("node"), expr(s"hr div ${scale(hMax)}L").as("h"))
    }
    // the final frame reads only the checkpointed score tables — release
    // the edge/node caches now (the Louvain-leak lesson from round 9)
    val out = hub.join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub_q"), col("a").as("auth_q"))
    eSrc.unpersist(); eDst.unpersist(); nodes.unpersist()
    out
  }

  val qHitsSql: String = {
    def round(t: Int): String = {
      val p = if (t == 1) "h0" else s"h${t - 1}"
      s"ar$t AS MATERIALIZED (SELECT n.node, COALESCE(SUM(h.h), 0) AS ar " +
        "FROM nodes n " +
        s"LEFT JOIN e ON e.dst = n.node LEFT JOIN $p h ON h.node = e.src " +
        "GROUP BY n.node), " +
        s"ka$t AS (SELECT (MAX(ar) // 1000000) + 1 AS k FROM ar$t), " +
        s"a$t AS MATERIALIZED (SELECT node, ar // k AS a FROM ar$t, ka$t), " +
        s"hr$t AS MATERIALIZED (SELECT n.node, COALESCE(SUM(a.a), 0) AS hr " +
        "FROM nodes n " +
        s"LEFT JOIN e ON e.src = n.node LEFT JOIN a$t a ON a.node = e.dst " +
        "GROUP BY n.node), " +
        s"kh$t AS (SELECT (MAX(hr) // 1000000) + 1 AS k FROM hr$t), " +
        s"h$t AS MATERIALIZED (SELECT node, hr // k AS h FROM hr$t, kh$t)"
    }
    "WITH seq AS (SELECT l_orderkey, l_partkey, " +
      "lead(l_partkey) OVER (PARTITION BY l_orderkey " +
      "ORDER BY l_linenumber, l_partkey) AS nxt FROM lineitem), " +
      "e AS MATERIALIZED (SELECT DISTINCT l_partkey AS src, nxt AS dst " +
      "FROM seq WHERE nxt IS NOT NULL AND l_partkey % 7 = 0 " +
      "AND nxt % 7 = 0 AND l_partkey <> nxt), " +
      "nodes AS MATERIALIZED (SELECT src AS node FROM e " +
      "UNION SELECT dst FROM e), " +
      "h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS h FROM nodes), " +
      (1 to HitsIters).map(round).mkString(", ") + " " +
      s"SELECT h.node AS node, CAST(h.h AS BIGINT) AS hub_q, " +
      s"CAST(a.a AS BIGINT) AS auth_q " +
      s"FROM h$HitsIters h JOIN a$HitsIters a ON h.node = a.node"
  }

  // ── Deterministic random-walk corpus (node2vec-style) ─────────────────
  // The walk-generation stage of every graph-embedding pipeline
  // (DeepWalk/node2vec, KDD'14/'16): fixed-length uniform random walks
  // from a seed set over the undirected co-purchase graph, emitted as a
  // (seed, step, node) corpus ready for skip-gram training. The walk is
  // DERANDOMIZED with the repo's one shared hash: at step t from node v
  // on seed s's walk, the next hop is nbrs[hash60("s:t:v") mod deg] over
  // the ascending-sorted neighbor list — reproducible bit-for-bit across
  // engines, executors, and runs (the md5 discipline every approximate
  // operator here uses, and the standard trick for replayable sampling).
  // Plan shape: adjacency lists build once (one keyed shuffle, arrays
  // bounded by degree), each of the 8 steps is ONE equi-join of the
  // walk frontier against the adjacency table — walk state is (seed,
  // node), never a path array, so a step shuffles O(#seeds) rows
  // regardless of walk length. Seeds are the node%10=0 slice (a dial;
  // any predicate works). Dead ends cannot occur: co-purchase nodes have
  // degree ≥ 1 by construction.
  private val WalkSteps = 8

  def qRandomWalks(s: SparkSession, d: String): DataFrame = {
    val adj = coEdges(s, d)
      .select(col("src").as("a"), col("dst").as("b"))
      .unionAll(coEdges(s, d).select(col("dst"), col("src")))
      .groupBy(col("a").as("node"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"),
        count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Each step's frontier is CHECKPOINTED: `out` unions the frontier at
    // every step, so a lazy chain makes branch t replay all t hop-joins —
    // an O(steps²) plan (the old spelling ran 36 hop-joins for 8 steps).
    // Materializing per step keeps it linear: 8 joins, each ~|seeds| rows
    // against the cached adjacency (guide §1.2 / §5; results identical —
    // checkpointing only forces evaluation order).
    var frontier = adj.filter(col("node") % 10 === 0)
      .select(col("node").as("seed"), col("node"))
      .iterCheckpoint()
    var out = frontier.select(col("seed"), lit(0L).as("step"), col("node"))
    for (t <- 1 to WalkSteps) {
      val idx = pmod(graft.functions.Md5Bits.hash60(
        concat_ws(":", col("seed"), lit(t), col("node"))), col("deg"))
      frontier = frontier.join(adj, Seq("node"))
        .select(col("seed"),
          element_at(col("nbrs"), (idx + 1).cast("int")).as("node"))
        .iterCheckpoint()
      out = out.unionAll(
        frontier.select(col("seed"), lit(t.toLong).as("step"), col("node")))
    }
    out
  }

  val qRandomWalksSql: String = {
    def step(t: Int): String = {
      val p = if (t == 1) "w0" else s"w${t - 1}"
      val h = Md5Bits60(s"CAST(w.seed AS VARCHAR) || ':$t:' || " +
        "CAST(w.node AS VARCHAR)")
      s"w$t AS MATERIALIZED (SELECT w.seed, " +
        s"a.nbrs[CAST($h % a.deg + 1 AS BIGINT)] AS node " +
        s"FROM $p w JOIN adj a ON a.node = w.node)"
    }
    "WITH e AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      "GROUP BY 1, 2), " +
      "sym AS (SELECT src AS a, dst AS b FROM e " +
      "UNION ALL SELECT dst, src FROM e), " +
      "adj AS MATERIALIZED (SELECT a AS node, list(b ORDER BY b) AS nbrs, " +
      "CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1), " +
      "w0 AS (SELECT node AS seed, node FROM adj WHERE node % 10 = 0), " +
      (1 to WalkSteps).map(step).mkString(", ") + " " +
      "SELECT seed, CAST(0 AS BIGINT) AS step, node FROM w0 " +
      (1 to WalkSteps).map(t =>
        s"UNION ALL SELECT seed, CAST($t AS BIGINT), node FROM w$t")
        .mkString(" ")
  }

  /** DuckDB spelling of hash60 — local alias to keep the walk SQL legible. */
  private def Md5Bits60(e: String): String =
    graft.functions.Md5Bits.sqlHash60(e)

  // ── Temporal edge novelty (graph drift monitor) ────────────────────────
  // Per month: how many distinct co-purchase edges are appearing for the
  // FIRST time vs recurring — the drift signal an incremental dedup/
  // recommendation pipeline watches to size its re-train cadence. Three
  // chained key-shuffles, all on the edge key: per-(edge, month)
  // presence, first-month per edge (a min aggregate — no window), then
  // the per-month rollup (≤ |months| rows at any volume).
  def qEdgeNovelty(s: SparkSession, d: String): DataFrame = {
    val em = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m")),
        Seq("l_orderkey"))
      .groupBy(col("l_orderkey"), col("m"))
      .agg(array_distinct(sort_array(collect_list(col("l_partkey")))).as("ps"))
      .select(col("m"), explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("p"))
      .select(col("m"), col("p.src"), col("p.dst"))
      .distinct()
      // materialized once: `em` feeds both the first-month aggregation
      // and the rollup join — without this the whole lineitem⋈orders
      // pair expansion runs twice (guide §1.2 step 1 / §5)
      .iterCheckpoint()
    val first = em.groupBy(col("src"), col("dst"))
      .agg(min(col("m")).as("fm"))
    em.join(first, Seq("src", "dst"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("m") === col("fm"), 1L).otherwise(0L)).as("n_new"))
      .select(col("m"), col("n_edges"), col("n_new"),
        round(col("n_new").cast("double") / col("n_edges"), 6).as("novelty"))
  }

  val qEdgeNoveltySql: String =
    "WITH em AS (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, " +
      "a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      "JOIN orders ON o_orderkey = a.l_orderkey), " +
      "f AS (SELECT src, dst, min(m) AS fm FROM em GROUP BY 1, 2) " +
      "SELECT m, count(*) AS n_edges, " +
      "CAST(sum(CASE WHEN m = fm THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
      "round(CAST(sum(CASE WHEN m = fm THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) " +
      "AS novelty " +
      "FROM em JOIN f USING (src, dst) GROUP BY 1"

  // ── Local clustering coefficient, averaged per degree ──────────────────
  // Watts–Strogatz local CC(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) — how
  // clique-like each node's neighborhood is — reported as the average
  // over nodes of equal degree (one row per distinct degree, bounded
  // output at any graph size). Per-node triangle counts ride the SAME
  // degree-oriented edge-iterator plan as q_triangles: each oriented
  // edge (u,v) credits u and v with |adj(u)∩adj(v)| and every common
  // neighbor w with 1, via one codegen intersect + explode — no wedge
  // materialization, O(sqrt(m)) arrays under skew. Same-degree nodes
  // share the denominator, so the per-degree average is EXACT integers:
  // avg_cc(d) = 2·Σtri / (n_d·d·(d−1)) — no per-node double ever sums.
  def qClusteringCoef(s: SparkSession, d: String): DataFrame = {
    // same note as triangleCount: the eager-materialization variant
    // measured neutral (AQE runtime exchange reuse covers the repeated
    // identical subtrees in this single-action plan) — kept lazy
    val e = coEdges(s, d)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("sdeg"))),
        Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("ddeg"))),
        Seq("dst"))
    val fwd = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val o = withDeg.select(
      when(fwd, col("src")).otherwise(col("dst")).as("u"),
      when(fwd, col("dst")).otherwise(col("src")).as("v"))
    val adj = o.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))
    val common = o
      .join(adj.withColumnRenamed("nbrs", "nu"), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"), array_intersect(col("nu"), col("nv")).as("cw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val credits = common
      .select(col("u").as("node"), size(col("cw")).cast("long").as("t"))
      .unionAll(common
        .select(col("v").as("node"), size(col("cw")).cast("long").as("t")))
      .unionAll(common
        .select(explode(col("cw")).as("node"), lit(1L).as("t")))
    val tri = credits.groupBy(col("node")).agg(sum(col("t")).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("tri")).as("sum_tri"))
      .select(col("deg"), col("n_nodes"),
        round(lit(2.0) * col("sum_tri").cast("double") /
          (col("n_nodes").cast("double") * col("deg").cast("double") *
            (col("deg") - 1L).cast("double")), 6).as("avg_cc"))
  }

  val qClusteringCoefSql: String =
    "WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
      "deg AS (SELECT node, count(*) AS deg FROM " +
      "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) n GROUP BY 1), " +
      "tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c " +
      "FROM e e1 JOIN e e2 ON e2.src = e1.dst " +
      "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst), " +
      "creds AS (SELECT a AS node FROM tri UNION ALL " +
      "SELECT b FROM tri UNION ALL SELECT c FROM tri), " +
      "t AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM creds GROUP BY 1) " +
      "SELECT deg, count(*) AS n_nodes, " +
      "round(2.0 * CAST(sum(coalesce(tri, 0)) AS DOUBLE) / " +
      "(CAST(count(*) AS DOUBLE) * CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)), 6) " +
      "AS avg_cc " +
      "FROM deg LEFT JOIN t USING (node) WHERE deg >= 2 GROUP BY deg"

  // ── Recommendation evaluation: time-split hit-rate@3 ───────────────────
  // The leakage-free eval harness for the item-CF recommender: similarity
  // trains ONLY on pre-2000 orders; each post-2000 test basket hides its
  // max part and asks whether the CF top-3 (scored by summed similarity
  // of the remaining context items, context items excluded as
  // candidates) recovers it. Every per-(order, candidate) score is the
  // sum of NANO-QUANTIZED similarity integers — double sums would be
  // accumulation-order-dependent across engines — and ranking ties break
  // on candidate id, so the hit set is bit-deterministic. Shuffles: the
  // train pair expansion (one), the candidate scoring join keyed on the
  // context item, and a per-order WindowGroupLimit-able top-3.
  private val CfSplitDate = "2000-01-01"

  def qCfHitrate(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"),
          (col("o_orderdate") < lit(CfSplitDate).cast("date")).as("is_train")),
        Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("is_train"))
      .distinct()
    val train = keyed.filter(col("is_train"))
    val occ = train.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("occ"))
    val cooc = train
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("p"))
      .select(col("p.src"), col("p.dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= MinSupport)
    val simDir = cooc
      .unionAll(cooc.select(col("dst").as("src"), col("src").as("dst"),
        col("cooc")))
      .join(occ.select(col("pk").as("src"), col("occ").as("os")), "src")
      .join(occ.select(col("pk").as("dst"), col("occ").as("od")), "dst")
      .select(col("src"), col("dst"),
        round(lit(1e9) * col("cooc").cast("double") /
          sqrt((col("os") * col("od")).cast("double")), 0).cast("long")
          .as("su"))
    val testBaskets = keyed.filter(!col("is_train"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(col("l_orderkey"),
        element_at(col("ps"), -1).as("target"),
        expr("slice(ps, 1, size(ps) - 1)").as("context"))
    val nTest = testBaskets.agg(count(lit(1)).as("n_test"))
    val scored = testBaskets
      .select(col("l_orderkey"), col("target"), col("context"),
        explode(col("context")).as("src"))
      .join(simDir, Seq("src"))
      .filter(!array_contains(col("context"), col("dst")))
      .groupBy(col("l_orderkey"), col("target"), col("dst"))
      .agg(sum(col("su")).as("score"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("score").desc, col("dst").asc)
    val top3 = scored.withColumn("rn", row_number().over(byOrder))
      .filter(col("rn") <= 3)
    top3.agg(count_distinct(col("l_orderkey")).as("n_scored"),
      sum(when(col("dst") === col("target"), 1L).otherwise(0L)).as("n_hits"))
      .crossJoin(broadcast(nTest))
      .select(col("n_test"), col("n_scored"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_scored"), 6)
          .as("hit_rate"))
  }

  val qCfHitrateSql: String =
    "WITH keyed AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS p, " +
      s"o_orderdate < DATE '$CfSplitDate' AS is_train " +
      "FROM lineitem l JOIN orders ON o_orderkey = l.l_orderkey), " +
      "occ AS (SELECT p AS pk, count(*) AS occ FROM keyed WHERE is_train GROUP BY 1), " +
      "cooc AS (SELECT a.p AS src, b.p AS dst, count(*) AS cooc " +
      "FROM keyed a JOIN keyed b ON a.ok = b.ok AND a.p < b.p " +
      s"WHERE a.is_train AND b.is_train GROUP BY 1, 2 HAVING count(*) >= $MinSupport), " +
      "simdir AS (SELECT s.src, s.dst, CAST(round(1e9 * CAST(s.cooc AS DOUBLE) / " +
      "sqrt(CAST(o1.occ * o2.occ AS DOUBLE)), 0) AS BIGINT) AS su " +
      "FROM (SELECT src, dst, cooc FROM cooc " +
      "UNION ALL SELECT dst, src, cooc FROM cooc) s " +
      "JOIN occ o1 ON s.src = o1.pk JOIN occ o2 ON s.dst = o2.pk), " +
      "tgt AS (SELECT ok, max(p) AS target, count(*) AS np FROM keyed " +
      "WHERE NOT is_train GROUP BY 1 HAVING count(*) >= 2), " +
      "ctx AS (SELECT k.ok, k.p AS b, t.target FROM keyed k " +
      "JOIN tgt t ON k.ok = t.ok AND k.p <> t.target WHERE NOT k.is_train), " +
      "scored AS (SELECT c.ok, c.target, s.dst, CAST(sum(s.su) AS BIGINT) AS score " +
      "FROM ctx c JOIN simdir s ON s.src = c.b " +
      "WHERE NOT EXISTS (SELECT 1 FROM ctx c2 WHERE c2.ok = c.ok AND c2.b = s.dst) " +
      "GROUP BY 1, 2, 3), " +
      "top3 AS (SELECT ok, target, dst, " +
      "row_number() OVER (PARTITION BY ok ORDER BY score DESC, dst) AS rn " +
      "FROM scored) " +
      "SELECT (SELECT count(*) FROM tgt) AS n_test, " +
      "count(DISTINCT ok) AS n_scored, " +
      "CAST(sum(CASE WHEN dst = target THEN 1 ELSE 0 END) AS BIGINT) AS n_hits, " +
      "round(CAST(sum(CASE WHEN dst = target THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "count(DISTINCT ok), 6) AS hit_rate " +
      "FROM top3 WHERE rn <= 3"

  // ── Degree assortativity (Newman's r) ──────────────────────────────────
  // Do high-degree parts co-purchase with other high-degree parts?
  // Pearson correlation of (deg(a), deg(b)) over the symmetrized
  // co-purchase edges — positive r means hub-hub linking (social-network
  // shape), negative means hub-spoke (tech-network shape); it decides
  // whether degree-based partitioning will skew. Degrees are a |V|-row
  // side broadcast onto the edge list; all five moments are exact
  // integers in DECIMAL(38,0) (Σdeg³-scale products overflow BIGINT on
  // power-law graphs), doubles only in the final correlation — the
  // q_corr/q_degree_dist discipline.
  def qAssortativity(s: SparkSession, d: String): DataFrame = {
    // r17: eager materialization of e/deg measured neutral here (AQE
    // runtime exchange reuse; single action) — kept lazy
    val e = supportedEdges(s, d)
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val withDeg = sym
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("dx"))),
        Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dy"))),
        Seq("dst"))
    withDeg
      .agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx").cast(dec) * col("dy")).as("sxy"),
        sum(col("dx").cast(dec) * col("dx")).as("sx2"),
        sum(col("dy").cast(dec) * col("dy")).as("sy2"))
      .select(col("m2").as("n_directed_edges"),
        round((col("m2") * col("sxy") - col("sx").cast(dec) * col("sy"))
          .cast("double") /
          (sqrt((col("m2") * col("sx2") - col("sx").cast(dec) * col("sx"))
            .cast("double")) *
            sqrt((col("m2") * col("sy2") - col("sy").cast(dec) * col("sy"))
              .cast("double"))), 6).as("assortativity"))
  }

  val qAssortativitySql: String =
    "WITH e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= $MinSupport), " +
      "sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e), " +
      "deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1), " +
      "w AS (SELECT d1.deg AS dx, d2.deg AS dy FROM sym " +
      "JOIN deg d1 ON sym.src = d1.node JOIN deg d2 ON sym.dst = d2.node), " +
      "m AS (SELECT count(*) AS m2, " +
      "CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy, " +
      "sum(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy, " +
      "sum(CAST(dx AS DECIMAL(38,0)) * dx) AS sx2, " +
      "sum(CAST(dy AS DECIMAL(38,0)) * dy) AS sy2 FROM w) " +
      "SELECT m2 AS n_directed_edges, " +
      "round(CAST(m2 * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE) / " +
      "(sqrt(CAST(m2 * sx2 - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)) * " +
      "sqrt(CAST(m2 * sy2 - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))), 6) " +
      "AS assortativity FROM m"

  // ── Item-item collaborative filtering (co-occurrence cosine) ───────────
  // The classic "customers who bought X also bought Y" recommender:
  // sim(a,b) = |orders with both| / sqrt(|orders with a|·|orders with b|),
  // top-3 neighbors per item. Co-occurrence comes from the one-shuffle
  // per-order pair expansion (never a fact-table self-join); the support
  // threshold caps the candidate pair set; occurrence counts are a
  // |parts|-row side that AQE broadcasts while it fits. The top-3 filter
  // compiles to WindowGroupLimit, so each shuffle partition forwards at
  // most 3 rows per item — inputs to the final sort are bounded at any
  // corpus size. All similarity inputs are exact integers, so both
  // engines compute bit-identical doubles.
  def qItemCf(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_orderkey")).distinct()
      .groupBy(col("pk")).agg(count(lit(1)).as("occ"))
    val cooc = orderPairs(s, d)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= MinSupport)
    val sym = cooc.unionAll(
      cooc.select(col("dst").as("src"), col("src").as("dst"), col("cooc")))
    val sim = sym
      .join(occ.select(col("pk").as("src"), col("occ").as("occ_s")), "src")
      .join(occ.select(col("pk").as("dst"), col("occ").as("occ_d")), "dst")
      .select(col("src"), col("dst"),
        (col("cooc").cast("double") /
          sqrt((col("occ_s") * col("occ_d")).cast("double"))).as("sim"))
    val byItem = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    sim.withColumn("rn", row_number().over(byItem))
      .filter(col("rn") <= 3)
      .select(col("src"), col("dst"), round(col("sim"), 6).as("sim_r"),
        col("rn"))
  }

  val qItemCfSql: String =
    "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
      "occ AS (SELECT l_partkey AS pk, count(*) AS occ FROM op GROUP BY 1), " +
      "cooc AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS cooc " +
      "FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey " +
      "AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(*) >= $MinSupport), " +
      "sym AS (SELECT src, dst, cooc FROM cooc " +
      "UNION ALL SELECT dst, src, cooc FROM cooc), " +
      "sim AS (SELECT s.src, s.dst, CAST(s.cooc AS DOUBLE) / " +
      "sqrt(CAST(o1.occ * o2.occ AS DOUBLE)) AS sim " +
      "FROM sym s JOIN occ o1 ON s.src = o1.pk JOIN occ o2 ON s.dst = o2.pk), " +
      "r AS (SELECT src, dst, sim, row_number() OVER " +
      "(PARTITION BY src ORDER BY sim DESC, dst) AS rn FROM sim) " +
      "SELECT src, dst, round(sim, 6) AS sim_r, rn FROM r WHERE rn <= 3"

  // The sf3-feasible FW-BW replay (r16): unrolls the engine's own outer
  // coloring rounds — forward min-reach F, same-color edge restriction,
  // backward min-reach G on the transpose, settle F = G, recurse on the
  // open same-color subgraph, open-but-edgeless nodes settle as
  // singletons — exactly StronglyConnectedComponents.components. The
  // fixtures converge in ≤3 outer rounds (sf0.01: 2, sf0.1: 3, sf1: 3,
  // sf3: 3; tools/scc_oracle_probe.py) and the inner fixpoints converge
  // well inside the unrolled jumping rounds (14 ≡ 16 node-for-node at
  // sf3); surplus rounds of either kind run on empty/fixed-point state
  // and are no-ops. Replaces the r1 transitive-closure spelling that was
  // quadratic in reachability and timed out (>2400 s) at sf3 — this
  // replay runs in ~11 s there and matched the engine node-for-node at
  // sf0.01 and sf3 during bring-up.
  private val SccOuterRounds = 8  // mirrors the engine's maxOuterRounds
  // MUST equal StronglyConnectedComponents.components' maxPropRounds
  // default (20): a fixture whose min-reach needed rounds 17–20 would
  // converge in the engine but not in a shorter-unrolled oracle. Surplus
  // rounds are fixed-point no-ops, so matching the engine's bound costs
  // only oracle runtime, never correctness.
  private val SccPropRounds = 20  // == engine maxPropRounds; 2^20 reach

  val qSccSql: String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    parts += "seq AS MATERIALIZED (SELECT l_orderkey, l_partkey, " +
      "lead(l_partkey) OVER (PARTITION BY l_orderkey " +
      "ORDER BY l_linenumber, l_partkey) AS nxt FROM lineitem)"
    parts += "ed0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS src, " +
      "nxt AS dst FROM seq WHERE nxt IS NOT NULL AND l_partkey % 7 = 0 " +
      "AND nxt % 7 = 0 AND l_partkey <> nxt)"
    // one min-reach pass: labels start at self over the pass's own node
    // set; returns the final (node, m) CTE
    def reach(tag: String, edges: String, from: String, to: String): String = {
      parts += s"${tag}0 AS MATERIALIZED (SELECT node, node AS m FROM " +
        s"(SELECT $edges.src AS node FROM $edges UNION SELECT $edges.dst FROM $edges) t)"
      parts += ConnectedComponents.minReachSql(tag, edges, from, to, SccPropRounds)
      s"$tag$SccPropRounds"
    }
    val settled = scala.collection.mutable.ArrayBuffer[String]()
    for (o <- 0 until SccOuterRounds) {
      val ed = s"ed$o"
      val fFin = reach(s"f${o}_", ed, "src", "dst")
      parts += s"c$o AS MATERIALIZED (SELECT e.src, e.dst FROM $ed e " +
        s"JOIN $fFin fs ON e.src = fs.node " +
        s"JOIN $fFin fd ON e.dst = fd.node WHERE fs.m = fd.m)"
      val gFin = reach(s"g${o}_", s"c$o", "dst", "src")
      // nodes with no same-color edge never enter the backward fixpoint:
      // G defaults to self, matching the engine's coalesce(g, node)
      parts += s"v$o AS MATERIALIZED (SELECT f.node, f.m AS f, " +
        s"coalesce(g.m, f.node) AS g FROM $fFin f " +
        s"LEFT JOIN $gFin g USING (node))"
      settled += s"SELECT node, f AS scc FROM v$o WHERE f = g"
      parts += s"op$o AS MATERIALIZED (SELECT node FROM v$o WHERE f <> g)"
      parts += s"ed${o + 1} AS MATERIALIZED (SELECT c.src, c.dst FROM c$o c " +
        s"WHERE c.src IN (SELECT node FROM op$o) " +
        s"AND c.dst IN (SELECT node FROM op$o))"
      settled += s"SELECT node, node AS scc FROM op$o " +
        s"WHERE node NOT IN (SELECT src FROM ed${o + 1}) " +
        s"AND node NOT IN (SELECT dst FROM ed${o + 1})"
    }
    "WITH " + parts.mkString(", ") + " " + settled.mkString(" UNION ALL ")
  }

  // ── Closeness / harmonic centrality from pivot seeds ───────────────────
  // The centrality class PageRank doesn't cover: distance-based. From
  // `CentralitySeeds` deterministic pivots (smallest node ids — the
  // standard pivot-sampling estimator shape; at 100 TB the seed list is
  // just longer), ONE multi-source BFS fixpoint computes all seed
  // distances together — state is (seed, node, dist), |seeds|·|V| rows,
  // one keyed join + one aggregate per round on the same double-step /
  // observed-convergence cadence as qBfs — and each seed's closeness
  // (n−1)/Σd and harmonic Σ1/d fall out of a per-(seed, dist) count
  // rollup. Harmonic stays EXACT integer: Σ cnt_d · (L/d) with
  // L = lcm(1..20) = 232792560, one division at the end — no
  // order-dependent float summation anywhere. The oracle unrolls the
  // same rounds with the seed dimension carried through (converged
  // states are fixed points, so surplus rounds are no-ops).
  private val CentralitySeeds = 4
  private val CentralityLcm = 232792560L // lcm(1..20); dists ≤ rounds = 20

  /** The multi-source BFS fixpoint: (seed, node, dist) over undirected
    * `edges` for the `nSeeds` smallest node ids, dist null where a seed
    * does not reach. Serves qCloseness and qEffDiameter (the two
    * pivot-sampling distance estimators) over the supported co-purchase
    * graph. */
  private[graft] def seedDistances(edges: DataFrame, nSeeds: Int, maxRounds: Int): DataFrame =
    // cached keyed to the per-round join key — see bfsDistances
    Graph(edges).withKeyed(col("a")) { sym =>
      val init = pivotPairs(sym, nSeeds)
        .select(col("seed"), col("node"),
          when(col("node") === col("seed"), 0L)
            .otherwise(lit(null).cast("long")).as("dist"))
        .iterCheckpoint()
      // stops only when two consecutive jobs reach equally many
      val stalled = Fixpoint.Probe(Seq(reachedCount), (prev, cur) =>
        prev.exists(_.getAs[Long]("reached") == cur.getAs[Long]("reached")))
      Relax(sym, init, Seq("seed", "node"), col("dist"), hop, stalled, maxRounds)
    }

  /** Every (node, seed) pair of `sym`'s nodes with the `nSeeds` smallest
    * node ids — the pivots of the seed distances and of betweenness. */
  private def pivotPairs(sym: DataFrame, nSeeds: Int): DataFrame = {
    val nodes = Graph.nodes(sym)
    nodes.crossJoin(broadcast(
      nodes.orderBy(col("node").asc).limit(nSeeds).select(col("node").as("seed"))))
  }

  def qCloseness(s: SparkSession, d: String): DataFrame = {
    val byDist = seedDistances(supportedEdges(s, d), CentralitySeeds, CcRounds)
      .filter(col("dist").isNotNull)
      .groupBy(col("seed"), col("dist")).agg(count(lit(1)).as("cnt"))
    byDist.groupBy(col("seed"))
      .agg(sum(col("cnt")).as("n_reached"),
        sum(col("dist") * col("cnt")).as("sum_dist"),
        sum(when(col("dist") > 0,
          col("cnt") * (lit(CentralityLcm) / col("dist")).cast("long"))
          .otherwise(0L)).as("hsc"))
      .select(col("seed"), col("n_reached"), col("sum_dist"),
        round((col("n_reached") - 1).cast("double") / col("sum_dist"), 6)
          .as("closeness_r"),
        round(col("hsc").cast("double") / CentralityLcm, 6).as("harmonic_r"))
  }

  /** The oracle's [[seedDistances]] over the supported edges: the CTEs
    * up to `<p>$CcRounds`, the (seed, node, dist) state after the last
    * round, named with the prefix `p`. Shared by qClosenessSql and
    * qEffDiameterSql. */
  private def seedDistancesSql(p: String): String = {
    def iter(prev: String): String =
      s"SELECT l.seed, l.node, CASE WHEN l.dist IS NOT NULL THEN l.dist " +
        "ELSE m.mn + 1 END AS dist " +
        s"FROM $prev l LEFT JOIN (SELECT x.seed, s.b AS node, min(x.dist) AS mn " +
        s"FROM sym s JOIN $prev x ON s.a = x.node " +
        "WHERE x.dist IS NOT NULL GROUP BY 1, 2) m USING (seed, node)"
    s"WITH $SqlSupportedEdges, " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      "nd AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym), " +
      s"seeds AS (SELECT node AS seed FROM nd ORDER BY node LIMIT $CentralitySeeds), " +
      s"${p}0 AS MATERIALIZED (SELECT seed, node, CASE WHEN node = seed " +
      "THEN CAST(0 AS BIGINT) ELSE NULL END AS dist FROM nd CROSS JOIN seeds), " +
      unroll(p, CcRounds)((prev, _) => iter(prev))
  }

  val qClosenessSql: String =
    seedDistancesSql("c") + ", " +
      s"bd AS (SELECT seed, dist, CAST(count(*) AS BIGINT) AS cnt FROM c$CcRounds " +
      "WHERE dist IS NOT NULL GROUP BY 1, 2) " +
      "SELECT seed, CAST(sum(cnt) AS BIGINT) AS n_reached, " +
      "CAST(sum(dist * cnt) AS BIGINT) AS sum_dist, " +
      "round(CAST(sum(cnt) - 1 AS DOUBLE) / sum(dist * cnt), 6) AS closeness_r, " +
      s"round(CAST(sum(CASE WHEN dist > 0 THEN cnt * ($CentralityLcm // dist) " +
      s"ELSE 0 END) AS DOUBLE) / $CentralityLcm, 6) AS harmonic_r " +
      "FROM bd GROUP BY 1"

  // ── Effective diameter (pivot-sampled distance distribution) ──────────
  // The graph-scale dial that decides BFS/iteration budgets: pool the
  // (seed → node) shortest distances from the SAME pivot BFS qCloseness
  // runs (the ANF/HyperANF estimator shape — more seeds at scale), and
  // report the pooled distance histogram's summary: max observed
  // distance (a diameter lower bound), the 90% effective diameter
  // (smallest d with ≥90% of connected ordered pairs at distance ≤ d —
  // integer cross-multiplied, no division), and the mean distance. The
  // only window runs on the ≤20-row distance histogram (the
  // bounded-frame discipline); everything upstream is the proven BFS.
  def qEffDiameter(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val hist = seedDistances(supportedEdges(s, d), CentralitySeeds, CcRounds)
      .filter(col("dist").isNotNull && col("dist") > 0)
      .groupBy(col("dist")).agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n_pairs"),
      max(col("dist")).as("max_dist"),
      sum(col("dist") * col("cnt")).as("sum_dist"))
    val w = W.orderBy(col("dist"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val eff = hist.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 10 >= col("n_pairs") * 9)
      .agg(min(col("dist")).as("eff_diameter_90"))
    tot.crossJoin(broadcast(eff))
      .select(col("n_pairs"), col("max_dist"), col("eff_diameter_90"),
        round(col("sum_dist").cast("double") / col("n_pairs"), 6)
          .as("mean_dist_r"))
  }

  val qEffDiameterSql: String =
    seedDistancesSql("e") + ", " +
      s"h AS (SELECT dist, CAST(count(*) AS BIGINT) AS cnt FROM e$CcRounds " +
      "WHERE dist IS NOT NULL AND dist > 0 GROUP BY 1), " +
      "t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs, max(dist) AS max_dist, " +
      "CAST(sum(dist * cnt) AS BIGINT) AS sum_dist FROM h), " +
      "c AS (SELECT dist, CAST(sum(cnt) OVER (ORDER BY dist " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM h), " +
      "ed AS (SELECT min(dist) AS eff_diameter_90 FROM c, t " +
      "WHERE cum * 10 >= n_pairs * 9) " +
      "SELECT n_pairs, max_dist, eff_diameter_90, " +
      "round(CAST(sum_dist AS DOUBLE) / n_pairs, 6) AS mean_dist_r FROM t, ed"

  // ── Betweenness centrality (sampled Brandes) ───────────────────────────
  // The last classic centrality the family lacked: "which nodes sit on
  // the most shortest paths" — the broker/bottleneck measure, vs
  // PageRank's endorsement and closeness's reachability. Exact Brandes
  // runs one BFS per node; the standard estimator (Brandes–Pich 2007)
  // runs it from pivot seeds only — the same `CentralitySeeds` smallest
  // ids qCloseness uses, so at 100 TB the seed list just grows.
  //
  // Forward phase: synchronous level-by-level BFS carrying σ (the
  // shortest-path COUNT) — σ(b) at level r is the integer sum of σ over
  // b's level-(r−1) neighbors; exact BIGINT on both engines. Single-step
  // rounds (σ accumulation is per-level, so the double-step cadence the
  // distance-only BFS uses would fuse two frontiers); converged levels
  // are fixed points, so the fixed `CcRounds` unroll is replay-safe.
  //
  // Backward phase: dependency accumulation δ(v) = Σ_w (σv/σw)(1+δ(w))
  // over v's successors w (neighbors one level deeper). δ is rational,
  // and a float sum would be partial-aggregation-order-dependent — so δ
  // is carried in integer MICRO-units with portable floor division
  // (the qEwma/Holt-Winters integer-state discipline):
  //   δq(v) = Σ_w (σv·(10⁶ + δq(w)) − mod) / σw,  exact BIGINT.
  // Each backward level is one join + one keyed aggregate; levels run
  // from the deepest frontier up. The registered result is the top-20
  // brokers by accumulated δq across seeds (ties → node asc) — the
  // ranking a graph-ops team actually consumes.
  private val BetwMicro = 1000000L

  def qBetweenness(s: SparkSession, d: String): DataFrame =
    betweennessOnEdges(supportedEdges(s, d), CentralitySeeds)

  /** Edge-parameterized core of [[qBetweenness]] — public so specs can
    * drive the DISTRIBUTED operator over hand-built closed-form graphs
    * (path, star) instead of only the parquet fixture. */
  def betweennessOnEdges(e: DataFrame, nSeeds: Int): DataFrame =
    // cached keyed to the forward-phase join key — see bfsDistances
    Graph(e).withKeyed(col("a")) { sym =>
      // (seed, node, dist, sigma): dist null = unreached
      val init = pivotPairs(sym, nSeeds)
        .select(col("seed"), col("node"),
          when(col("node") === col("seed"), 0L).otherwise(lit(null).cast("long"))
            .as("dist"),
          when(col("node") === col("seed"), 1L).otherwise(lit(null).cast("long"))
            .as("sigma"))
        .iterCheckpoint()
      // early exit once a round assigns nothing: every later round is a
      // no-op on BOTH engines (the oracle's surplus unrolled rounds leave
      // a converged state untouched), so parity survives the shortcut —
      // rounds drop from the fixed 20 to the graph's eccentricity.
      // (r18 tried the seedDistances double-step here — two σ levels
      // stacked lazily per checkpoint: the duplicated state references per
      // plan cost more than the saved actions, +6% drift-adjusted at
      // sf0.1 and +10% at sf1, so the single-step cadence stays.)
      // Round index i assigns level r = i + 1.
      val noneAssigned = Fixpoint.Probe(
        (i: Int) => Seq(sum(when(col("dist") === i + 1, 1L).otherwise(0L)).as("assigned")),
        (_, cur) => cur.getAs[Long]("assigned") == 0L)
      val fwd = Fixpoint.run(init, CcRounds, 1, Some(noneAssigned)) { (st, i) =>
        val r = i + 1
        val frontier = st.filter(col("dist") === (r - 1))
          .select(col("seed"), col("node").as("a"), col("sigma").as("fs"))
        val contrib = sym.join(frontier, Seq("a"))
          .groupBy(col("seed"), col("b").as("node"))
          .agg(sum(col("fs")).as("sig"))
        st.join(contrib, Seq("seed", "node"), "left")
          .select(col("seed"), col("node"),
            when(col("dist").isNotNull, col("dist"))
              .when(col("sig").isNotNull, lit(r.toLong)).as("dist"),
            when(col("dist").isNotNull, col("sigma"))
              .when(col("sig").isNotNull, col("sig")).as("sigma"))
      }
      val st = fwd.state
      // the last round that assigned a level (a converged run's last round
      // assigned none)
      val maxDist = if (fwd.converged) fwd.rounds - 1 else fwd.rounds
      // backward: δq per (seed, node), deepest reached level first (levels
      // beyond maxDist are empty — no-ops the oracle still unrolls)
      var dq = st.filter(col("dist").isNotNull)
        .select(col("seed"), col("node"), col("dist"), col("sigma"),
          lit(0L).as("deltaq"))
        .iterCheckpoint()
      // the backward levels join sym on the OTHER endpoint — one b-keyed
      // cached copy up front (repartitioned straight off the still-cached
      // forward copy) replaces an E-sized exchange per level (guide §2.4)
      val symB = sym.select(col("a"), col("b")).keyedCopy(col("b"))
      for (lev <- maxDist to 1 by -1) {
        val deeper = dq.filter(col("dist") === lev)
          .select(col("seed"), col("node").as("b"),
            col("sigma").as("sw"), col("deltaq").as("dw"))
        // `div` (integral division) keeps the quotient exact BIGINT; the
        // previous (num - pmod(num, sw)) / sw spelled the same value but
        // Spark's `/` on BIGINTs goes through DOUBLE, losing exactness
        // once sigma*(1e6+deltaq) exceeds 2^53 on dense graphs. All values
        // are positive, so truncating div == the oracle's floor `//`.
        val c = symB.join(deeper, Seq("b"))
          .select(col("seed"), col("a").as("node"), col("sw"), col("dw"))
          .join(dq.filter(col("dist") === (lev - 1))
            .select(col("seed"), col("node"), col("sigma")), Seq("seed", "node"))
          .select(col("seed"), col("node"),
            expr(s"(sigma * (${BetwMicro}L + dw)) div sw").as("dc"))
          .groupBy(col("seed"), col("node")).agg(sum(col("dc")).as("dsum"))
        dq = dq.join(c, Seq("seed", "node"), "left")
          .select(col("seed"), col("node"), col("dist"), col("sigma"),
            (col("deltaq") + coalesce(col("dsum"), lit(0L))).as("deltaq"))
          .iterCheckpoint()
      }
      symB.unpersist(false) // dq is checkpointed — the caches can go now
      dq.filter(col("node") =!= col("seed"))
        .groupBy(col("node"))
        .agg(sum(col("deltaq")).as("betw_q"))
        .orderBy(col("betw_q").desc, col("node").asc)
        .limit(20)
        .select(col("node"), col("betw_q"),
          round(col("betw_q").cast("double") / BetwMicro, 6).as("betweenness_r"))
    }

  val qBetweennessSql: String = {
    def fwd(prev: String, r: Int): String =
      s"SELECT t.seed, t.node, " +
        s"CASE WHEN t.dist IS NOT NULL THEN t.dist WHEN m.sig IS NOT NULL THEN $r END AS dist, " +
        "CASE WHEN t.dist IS NOT NULL THEN t.sigma WHEN m.sig IS NOT NULL THEN m.sig END AS sigma " +
        s"FROM $prev t LEFT JOIN (SELECT x.seed, s.b AS node, " +
        s"CAST(sum(x.sigma) AS BIGINT) AS sig FROM sym s " +
        s"JOIN $prev x ON s.a = x.node AND x.dist = ${r - 1} GROUP BY 1, 2) m " +
        "USING (seed, node)"
    def bwd(prev: String, lev: Int): String = {
      val num = s"g.sigma * ($BetwMicro + d.dw)"
      s"SELECT t.seed, t.node, t.dist, t.sigma, " +
        "t.deltaq + coalesce(c.dsum, 0) AS deltaq " +
        s"FROM $prev t LEFT JOIN (" +
        s"SELECT g.seed, g.node, CAST(sum(($num - ((($num) % d.sw) + d.sw) % d.sw) // d.sw) AS BIGINT) AS dsum " +
        s"FROM (SELECT seed, node, sigma FROM $prev WHERE dist = ${lev - 1}) g " +
        "JOIN sym s ON s.a = g.node " +
        s"JOIN (SELECT seed, node AS b, sigma AS sw, deltaq AS dw FROM $prev " +
        s"WHERE dist = $lev) d ON d.seed = g.seed AND d.b = s.b " +
        "GROUP BY 1, 2) c USING (seed, node)"
    }
    val fwds = unroll("f", CcRounds)(fwd)
    val bwds = (CcRounds to 1 by -1)
      .map(l => s"b${CcRounds - l} AS MATERIALIZED " +
        s"(${bwd(if (l == CcRounds) "bini" else s"b${CcRounds - l - 1}", l)})")
      .mkString(", ")
    s"WITH $SqlSupportedEdges, " +
      "sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      "nd AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym), " +
      s"seeds AS (SELECT node AS seed FROM nd ORDER BY node LIMIT $CentralitySeeds), " +
      "f0 AS MATERIALIZED (SELECT seed, node, " +
      "CASE WHEN node = seed THEN CAST(0 AS BIGINT) END AS dist, " +
      "CASE WHEN node = seed THEN CAST(1 AS BIGINT) END AS sigma " +
      "FROM nd CROSS JOIN seeds), " +
      fwds + ", " +
      s"bini AS MATERIALIZED (SELECT seed, node, dist, sigma, " +
      s"CAST(0 AS BIGINT) AS deltaq FROM f$CcRounds WHERE dist IS NOT NULL), " +
      bwds + " " +
      "SELECT node, CAST(sum(deltaq) AS BIGINT) AS betw_q, " +
      s"round(CAST(sum(deltaq) AS DOUBLE) / $BetwMicro, 6) AS betweenness_r " +
      s"FROM b${CcRounds - 1} WHERE node <> seed GROUP BY 1 " +
      "ORDER BY betw_q DESC, node ASC LIMIT 20"
  }

  // ── Link prediction (common-neighbor scoring) ──────────────────────────
  // "Which parts are NOT yet co-purchased but share the most co-purchase
  // neighbors?" — the classic common-neighbors link predictor (the
  // recommender candidate generator). Candidate pairs are generated as
  // open wedges: every node emits the sorted pairs of its neighbor list,
  // so a pair's count IS its common-neighbor count and only distance-2
  // pairs ever materialize — never all-pairs. Existing edges are removed
  // with one anti join; top-20 by (score desc, pair asc) via TakeOrdered.
  // The support-thresholded graph keeps neighbor lists small here; at a
  // 100 TB graph the standard production guard is capping hub adjacency
  // (sample top-degree nodes) before the wedge expansion — the plan shape
  // is unchanged by that cap.
  private val LinkPredTop = 20

  def qLinkPredict(s: SparkSession, d: String): DataFrame = {
    val e = supportedEdges(s, d)
    val sym = e.select(col("src").as("w"), col("dst").as("n"))
      .unionAll(e.select(col("dst").as("w"), col("src").as("n")))
    val adj = sym.groupBy(col("w"))
      .agg(sort_array(collect_list(col("n"))).as("ns"))
    val wedges = adj.select(explode(expr(
      "flatten(transform(ns, (x, i) -> " +
        "transform(slice(ns, i + 2, size(ns)), y -> struct(x AS u, y AS v))))"))
      .as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("common"))
    wedges.join(e,
        wedges("u") === e("src") && wedges("v") === e("dst"), "left_anti")
      .orderBy(col("common").desc, col("u").asc, col("v").asc)
      .limit(LinkPredTop)
  }

  val qLinkPredictSql: String =
    "WITH op AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2), " +
      "e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM op a " +
      "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(*) >= $MinSupport), " +
      "sym AS (SELECT src AS w, dst AS n FROM e UNION ALL SELECT dst, src FROM e), " +
      "wedge AS (SELECT a.n AS u, b.n AS v, count(*) AS common FROM sym a " +
      "JOIN sym b ON a.w = b.w AND a.n < b.n GROUP BY 1, 2) " +
      "SELECT u, v, common FROM wedge " +
      "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = u AND e.dst = v) " +
      s"ORDER BY common DESC, u, v LIMIT $LinkPredTop"

  // ── Louvain community detection ────────────────────────────────────────
  // The optimization counterpart to q_modularity: FIND a partition instead
  // of scoring the CC one. Two-level deterministic Louvain
  // (operators/Louvain: parity-alternating local moves with integer-exact
  // modularity gains, one aggregation level) over the same
  // support-thresholded co-purchase graph; the registered result is the
  // full community census (community label → member count), so the oracle
  // hash pins the entire partition, not a summary. The spec scores the
  // found partition with the qModularity formula and checks it beats both
  // the singleton partition and (on the fixture graphs) the one-community
  // baseline.
  private val LouvainRounds = 4

  /** Level-1 Louvain local-move labels over the co-purchase graph, fit
    * once per fixture and persisted (fingerprint-keyed on the source
    * lineitem parquet, the [[graft.ArtifactCache]] discipline): the
    * level-1 moves are 4 rounds × 3 keyed shuffles over the FULL edge set
    * and are byte-identical between q_communities and
    * q_communities_leiden (Leiden only diverges AFTER level 1, at the
    * refinement), so the two queries share one training run instead of
    * each replaying it. Determinism of the parity-move rule makes the
    * persisted copy bit-identical to an in-query run (LouvainSpec pins
    * the shared-L1 tails against the monolithic spellings). */
  private def louvainL1(s: SparkSession, d: String, we: DataFrame): DataFrame = {
    val dir = graft.ArtifactCache.dir(d, "lineitem", "louvain_l1")
    if (!graft.ArtifactCache.ready(dir))
      graft.ArtifactCache.publish(dir) { tmp =>
        graft.operators.Louvain.localMove(we, rounds = LouvainRounds)
          .write.mode("overwrite").parquet(tmp.toString)
      }
    s.read.parquet(dir.toString)
  }

  def qCommunities(s: SparkSession, d: String): DataFrame = {
    val we = supportedEdges(s, d).withColumn("w", lit(1L))
    graft.operators.Louvain.clusterFromL1(we, louvainL1(s, d, we),
        rounds = LouvainRounds)
      .groupBy(col("comm").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  val qCommunitiesSql: String = {
    val (ctes, fin) = graft.operators.Louvain.clusterSql(LouvainRounds)
    "WITH op AS MATERIALIZED (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2), " +
      "we AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
      "CAST(1 AS BIGINT) AS w FROM op a " +
      "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(*) >= $MinSupport), " +
      ctes + " " +
      s"SELECT comm AS community, count(*) AS n_nodes FROM $fin GROUP BY 1"
  }

  // ── Leiden-refined communities (connectivity-guaranteed) ───────────────
  // Louvain can emit internally DISCONNECTED communities (Traag et al.
  // 2019 measure up to 25% of them defective on real graphs); Leiden's
  // refinement phase is the standard fix. q_communities_leiden runs the
  // same deterministic two-level scaffold with a refinement after each
  // level: every community is split into the connected components of its
  // induced subgraph (operators/Louvain.refine — the proven
  // pointer-jumping CC over intra-community edges), so every emitted
  // community induces a connected subgraph BY CONSTRUCTION (LouvainSpec
  // asserts it on the fixture + a hand-built defective case). Census
  // output like q_communities so the oracle hash pins the partition.
  def qCommunitiesLeiden(s: SparkSession, d: String): DataFrame = {
    val we = supportedEdges(s, d).withColumn("w", lit(1L))
    graft.operators.Louvain.clusterLeidenFromL1(we, louvainL1(s, d, we),
        rounds = LouvainRounds)
      .groupBy(col("comm").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  val qCommunitiesLeidenSql: String = {
    val (ctes, fin) = graft.operators.Louvain.clusterLeidenSql(LouvainRounds)
    "WITH op AS MATERIALIZED (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2), " +
      "we AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
      "CAST(1 AS BIGINT) AS w FROM op a " +
      "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      s"GROUP BY 1, 2 HAVING count(*) >= $MinSupport), " +
      ctes + " " +
      s"SELECT comm AS community, count(*) AS n_nodes FROM $fin GROUP BY 1"
  }

  val queries: Seq[(String, Query)] = Seq(
    "q_hits"               -> Query(qHits, qHitsSql),
    "q_random_walks"       -> Query(qRandomWalks, qRandomWalksSql),
    "q_communities"        -> Query(qCommunities, qCommunitiesSql),
    "q_communities_leiden" -> Query(qCommunitiesLeiden, qCommunitiesLeidenSql),
    "q_betweenness"        -> Query(qBetweenness, qBetweennessSql),
    "q_eff_diameter"       -> Query(qEffDiameter, qEffDiameterSql),
    "q_link_predict"       -> Query(qLinkPredict, qLinkPredictSql),
    "q_closeness"          -> Query(qCloseness, qClosenessSql),
    "q_scc"                -> Query(qScc, qSccSql),
    "q_item_cf"            -> Query(qItemCf, qItemCfSql),
    "q_reciprocity"        -> Query(qReciprocity, qReciprocitySql),
    "q_assortativity"      -> Query(qAssortativity, qAssortativitySql),
    "q_clustering_coef"    -> Query(qClusteringCoef, qClusteringCoefSql),
    "q_edge_novelty"       -> Query(qEdgeNovelty, qEdgeNoveltySql),
    "q_cf_hitrate"         -> Query(qCfHitrate, qCfHitrateSql),
    "q_sssp"               -> Query(qSssp, qSsspSql),
    "q_sssp_path"          -> Query(qSsspPath, qSsspPathSql),
    "q_modularity"         -> Query(qModularity, qModularitySql),
    "q_bfs"                -> Query(qBfs, qBfsSql),
    "q_triangles"          -> Query(qTriangles, qTrianglesSql),
    "q_components"         -> Query(qComponents, qComponentsSql),
    "q_kcore"              -> Query(qKcore, qKcoreSql),
    "q_degree_dist"        -> Query(qDegreeDist, qDegreeDistSql),
    "q_label_prop"         -> Query(qLabelProp, qLabelPropSql),
    "q_ktruss"             -> Query(qKtruss, qKtrussSql),
    "q_itemsets"           -> Query(qItemsets, qItemsetsSql),
  )
}
