package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Louvain community detection (Blondel et al. 2008), distributed and
  * DETERMINISTIC — the optimization counterpart to the descriptive
  * `qModularity` score: it FINDS a partition instead of scoring a given
  * one. Beyond the reference (whose only graph op is in-link counting).
  *
  * Sequential Louvain moves one node at a time, which no shuffle-based
  * engine can reproduce; this is the standard synchronous relaxation
  * (Prat-Pérez et al., "High quality, scalable and parallel community
  * detection for large real graphs", WWW'14 discipline) made fully
  * deterministic so a SQL oracle replays it bit-for-bit:
  *
  *  - **Semi-synchronous parity moves**: in round t only nodes with
  *    `node % 2 == t % 2` may move. Simultaneous moves of adjacent nodes
  *    are what make synchronous Louvain oscillate (two nodes swapping
  *    communities forever); alternating by id parity breaks every
  *    2-cycle while still moving half the graph per round.
  *  - **Integer-exact gain**: moving u into community c changes
  *    modularity by ΔQ ∝ m2·k_{u,c} − k_u·vol(c∖u) (both sides scaled by
  *    2m² — positive iff the move improves Q). Edge weights are integers,
  *    so the score is exact BIGINT arithmetic on any engine: no float
  *    ever decides a move. (Overflow bound: m2·k_{u,c} < 2^63 holds up
  *    to ~3·10^9 total edge weight; cast the score to DECIMAL beyond.)
  *  - **Deterministic ties**: argmax by (score DESC, community ASC);
  *    staying put is always a candidate (k_{u,c0} may be 0).
  *  - **Fixed round count, no early exit**: parity alternation means a
  *    quiet round is not a fixed point, so both engines run exactly
  *    `rounds` rounds per level — replay-identical by construction.
  *
  * One aggregation level (communities → supernodes carrying self-loop
  * weights, total volume m2 invariant) then a second local-move pass —
  * the Louvain phase-2 that merges whole communities. Per round the plan
  * is two keyed shuffles (community volumes; neighbor-community weights)
  * + one broadcast of the single-row m2 — each O(|E|) with no windows on
  * the edge set, the shape that survives a billion-edge graph.
  */
object Louvain {

  /** Weighted degree per node: incident edge weight + 2× self-loop
    * weight (self-loops appear once in `we` as src==dst rows). Takes the
    * caller's (persisted) symmetric edge frame instead of re-deriving
    * it — localMove materializes `sym` anyway. */
  private def weightedDegrees(we: DataFrame, sym: DataFrame): DataFrame = {
    val nodes = we.select(col("src").as("node"))
      .union(we.select(col("dst").as("node"))).distinct()
    val d = sym.groupBy(col("a").as("node")).agg(sum(col("w")).as("d"))
    val sw = we.filter(col("src") === col("dst"))
      .groupBy(col("src").as("node")).agg(sum(col("w")).as("sw"))
    nodes.join(d, Seq("node"), "left").join(sw, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("d"), lit(0L)) + lit(2L) * coalesce(col("sw"), lit(0L)))
          .as("k"))
  }

  /** Both directions of the non-self edges. */
  private def symEdges(we: DataFrame): DataFrame = {
    val e = we.filter(col("src") =!= col("dst"))
    e.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .union(e.select(col("dst").as("a"), col("src").as("b"), col("w")))
  }

  /** `rounds` parity-alternating local-move rounds over a weighted graph
    * `we(src, dst, w)` (canonical src<=dst; src==dst rows are self-loops).
    * Returns (node, comm). */
  def localMove(we0: DataFrame, rounds: Int): DataFrame = {
    // The caller's `we` is typically an expensive derivation (the L2 call
    // passes aggregateGraph(...) = two label joins over the original edge
    // set) consumed by the sym build, the degree/node table and the
    // self-loop scan across SEPARATE actions — materialize it once
    // (guide §1.2 step 1; runtime exchange reuse cannot span actions)
    val we = IterCheckpoint(we0)
    // partitioned by the per-round candidate-join key once — each round's
    // neighbor-community join then reuses the cached layout and only the
    // V-sized label side shuffles (guide §2.4)
    val sym = IterCheckpoint.keyedForReuse(symEdges(we), col("b"))
    val k = weightedDegrees(we, sym).persist(StorageLevel.MEMORY_AND_DISK)
    // m2 (total volume) is a single bounded scalar, invariant across
    // rounds AND aggregation levels — collect it once rather than
    // re-broadcasting a one-row subplan in every round's job. (Measured
    // neutral at sf0.1 — 12.9 s vs 12.6 s, within min-of-3 noise: the
    // round cost is the three keyed aggregations, not the broadcast —
    // kept for the simpler per-round plan.)
    val m2: Long = k.agg(sum(col("k"))).head().getLong(0)
    val init = k.select(col("node"), col("node").as("comm")).iterCheckpoint()
    val moved = Fixpoint.run(init, rounds, 1) { (labels, r) =>
      val vol = labels.join(k, Seq("node"))
        .groupBy(col("comm")).agg(sum(col("k")).as("vol"))
      // weight from each node to each NEIGHBOR community, plus the node's
      // own community as an always-present zero-weight candidate
      val cand = sym
        .join(labels.select(col("node").as("b"), col("comm")), Seq("b"))
        .select(col("a").as("node"), col("comm"), col("w"))
        .union(labels.select(col("node"), col("comm"), lit(0L).as("w")))
        .groupBy(col("node"), col("comm")).agg(sum(col("w")).as("k_uc"))
      val cur = labels.select(col("node"), col("comm").as("c0"))
      val scored = cand
        .join(vol, Seq("comm"))
        .join(cur, Seq("node"))
        .join(k, Seq("node"))
        .select(col("node"), col("comm"), col("c0"),
          (lit(m2) * col("k_uc") - col("k") *
            (col("vol") - when(col("comm") === col("c0"), col("k"))
              .otherwise(lit(0L)))).as("score"))
      // argmax(score) tie-broken to the smallest community id, as a plain
      // aggregation (communities per node are bounded by its degree — no
      // window over the edge set)
      val best = scored
        .groupBy(col("node"))
        .agg(max(struct(col("score"), (-col("comm")).as("nc"))).as("b"),
          first(col("c0")).as("c0"))
        .select(col("node"), (-col("b.nc")).as("bcomm"), col("c0"))
      best.select(col("node"),
        when(pmod(col("node"), lit(2)) === lit(r % 2), col("bcomm"))
          .otherwise(col("c0")).as("comm"))
    }.state
    sym.unpersist(false)
    k.unpersist(false)
    moved
  }

  /** Collapse communities into supernodes: inter-community edges sum
    * their weights, intra-community edges become self-loops. Total
    * volume m2 is invariant. */
  def aggregateGraph(we: DataFrame, labels: DataFrame): DataFrame =
    we.join(labels.select(col("node").as("src"), col("comm").as("ca")), Seq("src"))
      .join(labels.select(col("node").as("dst"), col("comm").as("cb")), Seq("dst"))
      .groupBy(least(col("ca"), col("cb")).as("src"),
        greatest(col("ca"), col("cb")).as("dst"))
      .agg(sum(col("w")).as("w"))

  /** Two-level Louvain: local moves, aggregate, local moves on the
    * supergraph, project back. Returns (node, comm) for every node of
    * the input graph; comm ids are node ids of the input graph (the
    * label a community's supernode ended up in). */
  def cluster(we: DataFrame, rounds: Int = 4): DataFrame =
    clusterFromL1(we, localMove(we, rounds), rounds)

  /** [[cluster]]'s tail over ALREADY-COMPUTED level-1 labels — lets
    * callers that run both Louvain and Leiden over the same graph share
    * the level-1 move rounds (the dominant cost: 4 rounds × 3 keyed
    * shuffles over the FULL edge set; level 2 runs on the much smaller
    * supergraph). `l1` must be the (node, comm) output of
    * `localMove(we, rounds)` — determinism makes a persisted copy
    * bit-identical to an in-query run. */
  def clusterFromL1(we: DataFrame, l1In: DataFrame, rounds: Int): DataFrame = {
    val l1 = l1In.persist(StorageLevel.MEMORY_AND_DISK)
    val l2 = localMove(aggregateGraph(we, l1), rounds)
    // materialize the projection join eagerly so l1's cache can be
    // released here instead of lingering for the session lifetime
    // (mirrors how localMove unpersists sym/k after its rounds)
    val out = l1.join(l2.select(col("node").as("comm"), col("comm").as("final")),
        Seq("comm"))
      .select(col("node"), col("final").as("comm"))
      .iterCheckpoint()
    l1.unpersist(false)
    out
  }

  /** How many min-label-propagation rounds the refinement CC runs (and
    * the oracle unrolls). Pointer jumping makes this O(log diameter);
    * converged rounds are fixed points, so the engine's early exit and
    * the oracle's fixed unroll agree (the CC parity rule). */
  val RefineRounds = 10

  /** Leiden refinement (Traag et al. 2019): split every community of
    * `labels` into the CONNECTED COMPONENTS of its induced subgraph, so
    * each refined community is connected by construction — the guarantee
    * plain Louvain lacks (its synchronous moves can strand a community's
    * members with no internal path). Refined ids are the min node id of
    * the component (globally unique — components are disjoint); nodes
    * with no intra-community edge become singletons. One keyed
    * edge-filter join + the proven pointer-jumping CC — O(|E|) per
    * round, no windows, billion-edge-shaped. */
  def refine(we: DataFrame, labels: DataFrame): DataFrame = {
    // canonical (one-direction) edges are enough here: components()
    // symmetrizes its input anyway, so pre-symmetrizing only doubled the
    // two label joins (2E rows through each) and left CC propagating over
    // duplicate directed edges (4E) — same labeling, twice the bytes
    // (guide §2.2: shuffle fewer bytes). Filter + label joins on E rows,
    // CC on 2E, identical output.
    val intra = we.filter(col("src") =!= col("dst"))
      .join(labels.select(col("node").as("src"), col("comm").as("ca")), Seq("src"))
      .join(labels.select(col("node").as("dst"), col("comm").as("cb")), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .select(col("src"), col("dst"))
    val cc = ConnectedComponents.components(intra, maxIterations = RefineRounds)
    labels.join(cc.select(col("node"), col("comp")), Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comm"))
  }

  /** Two-level Louvain with Leiden's refinement phase: local moves →
    * refine (split disconnected communities) → aggregate ON THE REFINED
    * partition → local moves on the supergraph → project → final refine.
    * The closing refinement is what carries the Leiden guarantee to the
    * OUTPUT: every emitted community induces a connected subgraph
    * (LouvainSpec asserts it; full Leiden's randomized γ-sampled merge
    * step is replaced by the deterministic parity local-move rule so the
    * SQL oracle replays bit-for-bit). */
  def clusterLeiden(we: DataFrame, rounds: Int = 4): DataFrame =
    clusterLeidenFromL1(we, localMove(we, rounds), rounds)

  /** [[clusterLeiden]]'s tail over already-computed RAW level-1 labels
    * (pre-refinement — the same artifact [[clusterFromL1]] takes, so one
    * persisted level-1 run feeds both the Louvain and the Leiden query). */
  def clusterLeidenFromL1(we: DataFrame, l1Raw: DataFrame, rounds: Int)
      : DataFrame = {
    // `we` is consumed by THREE separate subtrees/actions below (refine,
    // aggregate, final refine) — and at the query layer it is typically
    // an expensive derivation (a fact-table self-join). Materialize it
    // once so each consumer scans the checkpointed rows instead of
    // replaying the derivation (guide §1.2: no exchange reuse across
    // actions).
    val weM = IterCheckpoint(we)
    val l1 = refine(weM, l1Raw)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l2 = localMove(aggregateGraph(weM, l1), rounds)
    val merged = l1.join(
        l2.select(col("node").as("comm"), col("comm").as("final")), Seq("comm"))
      .select(col("node"), col("final").as("comm"))
    val out = refine(weM, merged).iterCheckpoint()
    l1.unpersist(false)
    out
  }

  // ── DuckDB oracle replay ──────────────────────────────────────────────
  // The full two-level run unrolled as materialized CTEs. Expects a CTE
  // `we(src, dst, w)` (canonical, self-loops allowed) to exist; emits
  // `final(node, comm)` as the last CTE. Every rule above (parity gate,
  // integer score, tie order, fixed rounds) is spelled identically.

  private def symSql(we: String, sym: String): String =
    s"$sym AS MATERIALIZED (SELECT src AS a, dst AS b, w FROM $we WHERE src <> dst " +
      s"UNION ALL SELECT dst, src, w FROM $we WHERE src <> dst)"

  private def kSql(we: String, sym: String, kk: String): String =
    s"$kk AS MATERIALIZED (SELECT n.node, coalesce(d.d, 0) + 2 * coalesce(sw.sw, 0) AS k FROM " +
      s"(SELECT src AS node FROM $we UNION SELECT dst FROM $we) n " +
      s"LEFT JOIN (SELECT a AS node, sum(w) AS d FROM $sym GROUP BY 1) d USING (node) " +
      s"LEFT JOIN (SELECT src AS node, sum(w) AS sw FROM $we WHERE src = dst GROUP BY 1) sw USING (node))"

  private def roundSql(p: String, t: Int, r: Int, sym: String, kk: String,
      m2: String): (String, String) = {
    val (vol, cand, best, next) = (s"${p}vol$t", s"${p}cand$t", s"${p}best$t", s"${p}l${t + 1}")
    val prev = s"${p}l$t"
    val sql =
      s"$vol AS MATERIALIZED (SELECT comm, sum(k) AS vol FROM $prev JOIN $kk USING (node) GROUP BY 1), " +
      s"$cand AS MATERIALIZED (SELECT node, comm, sum(w) AS k_uc FROM (" +
        s"SELECT s.a AS node, l.comm, s.w FROM $sym s JOIN $prev l ON l.node = s.b " +
        s"UNION ALL SELECT node, comm, 0 FROM $prev) GROUP BY 1, 2), " +
      s"$best AS MATERIALIZED (SELECT node, comm AS bcomm FROM (" +
        s"SELECT c.node, c.comm, row_number() OVER (PARTITION BY c.node ORDER BY " +
        s"($m2.m2 * c.k_uc - kk.k * (v.vol - CASE WHEN c.comm = l.comm THEN kk.k ELSE 0 END)) DESC, " +
        s"c.comm ASC) AS rn " +
        s"FROM $cand c JOIN $vol v USING (comm) JOIN $prev l ON l.node = c.node " +
        s"JOIN $kk kk ON kk.node = c.node, $m2) WHERE rn = 1), " +
      s"$next AS MATERIALIZED (SELECT l.node, " +
        s"CASE WHEN l.node % 2 = ${r % 2} THEN b.bcomm ELSE l.comm END AS comm " +
        s"FROM $prev l JOIN $best b USING (node))"
    (sql, next)
  }

  /** The full SQL replay: `we` must already be defined; appends CTEs and
    * returns the name of the final (node, comm) CTE. */
  def clusterSql(rounds: Int): (String, String) = {
    val sb = new StringBuilder
    sb ++= symSql("we", "sym1") + ", " + kSql("we", "sym1", "kk1") + ", "
    sb ++= "m2 AS MATERIALIZED (SELECT sum(k) AS m2 FROM kk1), "
    sb ++= "al0 AS MATERIALIZED (SELECT node, node AS comm FROM kk1), "
    var last = "al0"
    for (r <- 0 until rounds) {
      val (sql, next) = roundSql("a", r, r, "sym1", "kk1", "m2")
      sb ++= sql + ", "
      last = next
    }
    val lvl1 = last
    sb ++= s"we2 AS MATERIALIZED (SELECT least(la.comm, lb.comm) AS src, " +
      s"greatest(la.comm, lb.comm) AS dst, sum(w) AS w FROM we e " +
      s"JOIN $lvl1 la ON la.node = e.src JOIN $lvl1 lb ON lb.node = e.dst GROUP BY 1, 2), "
    sb ++= symSql("we2", "sym2") + ", " + kSql("we2", "sym2", "kk2") + ", "
    sb ++= "bl0 AS MATERIALIZED (SELECT node, node AS comm FROM kk2), "
    last = "bl0"
    for (r <- 0 until rounds) {
      val (sql, next) = roundSql("b", r, r, "sym2", "kk2", "m2")
      sb ++= sql + ", "
      last = next
    }
    sb ++= s"final AS (SELECT l1.node, l2.comm FROM $lvl1 l1 " +
      s"JOIN $last l2 ON l2.node = l1.comm)"
    (sb.toString, "final")
  }

  /** SQL replay of [[refine]]: intra-community edge filter, then
    * `RefineRounds` unrolled rounds of the pointer-jumping CC update
    * (neighbor-min prop + one-hop jump, exactly the engine's two joins
    * per round; converged rounds are fixed points so the engine's early
    * exit and this fixed unroll agree). `sym` must hold both directions
    * of the non-self edges; emits `out(node, comm)`. */
  def refineSql(p: String, sym: String, labels: String, out: String): String = {
    val sb = new StringBuilder
    sb ++= s"${p}isym AS MATERIALIZED (SELECT s.a, s.b FROM $sym s " +
      s"JOIN $labels la ON la.node = s.a JOIN $labels lb ON lb.node = s.b " +
      "WHERE la.comm = lb.comm), "
    sb ++= s"${p}cc0 AS MATERIALIZED (SELECT a AS node, least(a, min(b)) AS comp " +
      s"FROM ${p}isym GROUP BY a), "
    for (i <- 1 to RefineRounds) {
      sb ++= s"${p}nm$i AS (SELECT s.a AS node, min(l.comp) AS ncomp " +
        s"FROM ${p}isym s JOIN ${p}cc${i - 1} l ON l.node = s.b GROUP BY 1), "
      sb ++= s"${p}pp$i AS MATERIALIZED (SELECT l.node, " +
        s"least(l.comp, coalesce(n.ncomp, l.comp)) AS comp " +
        s"FROM ${p}cc${i - 1} l LEFT JOIN ${p}nm$i n USING (node)), "
      sb ++= s"${p}cc$i AS MATERIALIZED (SELECT p.node, " +
        s"least(p.comp, coalesce(j.jcomp, p.comp)) AS comp " +
        s"FROM ${p}pp$i p LEFT JOIN " +
        s"(SELECT node AS comp, comp AS jcomp FROM ${p}pp$i) j USING (comp)), "
    }
    sb ++= s"$out AS MATERIALIZED (SELECT l.node, coalesce(c.comp, l.node) AS comm " +
      s"FROM $labels l LEFT JOIN ${p}cc$RefineRounds c USING (node))"
    sb.toString
  }

  /** The full Leiden replay: level-1 moves, refine, aggregate on the
    * REFINED partition, level-2 moves, project, final refine. Expects
    * `we`; emits the name of the final (node, comm) CTE. */
  def clusterLeidenSql(rounds: Int): (String, String) = {
    val sb = new StringBuilder
    sb ++= symSql("we", "sym1") + ", " + kSql("we", "sym1", "kk1") + ", "
    sb ++= "m2 AS MATERIALIZED (SELECT sum(k) AS m2 FROM kk1), "
    sb ++= "al0 AS MATERIALIZED (SELECT node, node AS comm FROM kk1), "
    var last = "al0"
    for (r <- 0 until rounds) {
      val (sql, next) = roundSql("a", r, r, "sym1", "kk1", "m2")
      sb ++= sql + ", "
      last = next
    }
    sb ++= refineSql("ra", "sym1", last, "ral") + ", "
    val lvl1 = "ral"
    sb ++= s"we2 AS MATERIALIZED (SELECT least(la.comm, lb.comm) AS src, " +
      s"greatest(la.comm, lb.comm) AS dst, sum(w) AS w FROM we e " +
      s"JOIN $lvl1 la ON la.node = e.src JOIN $lvl1 lb ON lb.node = e.dst GROUP BY 1, 2), "
    sb ++= symSql("we2", "sym2") + ", " + kSql("we2", "sym2", "kk2") + ", "
    sb ++= "bl0 AS MATERIALIZED (SELECT node, node AS comm FROM kk2), "
    last = "bl0"
    for (r <- 0 until rounds) {
      val (sql, next) = roundSql("b", r, r, "sym2", "kk2", "m2")
      sb ++= sql + ", "
      last = next
    }
    sb ++= s"mrg AS MATERIALIZED (SELECT l1.node, l2.comm FROM $lvl1 l1 " +
      s"JOIN $last l2 ON l2.node = l1.comm), "
    sb ++= refineSql("rb", "sym1", "mrg", "leidenfinal")
    (sb.toString, "leidenfinal")
  }
}
