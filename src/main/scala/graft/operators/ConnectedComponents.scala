package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Connected components by iterated min-label propagation — the step that
  * turns near-duplicate PAIRS (from MinHash-LSH / SimHash / winnowing)
  * into duplicate CLUSTERS so one canonical survivor per cluster can be
  * kept. Entirely beyond the reference.
  *
  * Algorithm: the min-reach fixpoint ([[minReach]]) over the symmetrised
  * edges — the same loop that serves both passes of
  * [[StronglyConnectedComponents]]. Every node starts at the min over
  * itself and its neighbors; each round takes one hop (the min over the
  * neighbors' labels) and then jumps through the previous round's labels;
  * converged when no label changes. Rounds needed = O(log diameter) —
  * near-dup clusters are small and dense (diameter 2-3), so the default
  * cap of 10 rounds is generous. Each round is one join + one aggregation
  * shuffling on the node key plus the jump join, materialized by ONE
  * checkpoint job that also observes the convergence probe.
  *
  * Size gate: the input is a [[Graph]], whose materializing job also
  * counts its rows, and [[Graph.fitsLocally]] is the one gate. When rows ×
  * the planner's per-row size fit one advisory partition
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) the rounds would
  * each be a one-task job of a few KB, so the operator returns a lazy
  * single-task frame that replays them in memory instead ([[LocalGraph]])
  * — same rows, cap and warning included, one job in place of one per
  * round.
  * At 100 TB the gate fails on its first measurement and the distributed
  * loop runs on the already-materialized frame: per round it shuffles
  * only the V-sized label side against the keyed, cached edge set, with
  * no driver-side materialization at any size.
  */
object ConnectedComponents {

  /** @param edges two-column (src, dst) undirected pair frame
    * @return (node, component) — component = min node id reachable.
    * Logs a warning if the label propagation did not converge within
    * `maxIterations` (possible only when some component's diameter
    * exceeds it — raise the cap for long chain-shaped clusters). */
  def components(edges: DataFrame, maxIterations: Int = 10): DataFrame = {
    // undirected: propagate both ways
    val g = Graph(edges)
    g.finishLocally(initLabels(arcs(g.edges)).toDF("node", "comp").schema)(
        local(_, maxIterations)) {
      // keyed on the hop join's key once — only the V-sized label side
      // shuffles per round (guide §2.4)
      g.withKeyed(col("b")) { sym =>
        val e = arcs(sym)
        val run = minReach(e, initLabels(e), maxIterations)
        if (!run.converged) Fixpoint.warnCapHit(this, capMessage(maxIterations))
        run.state.select(col("node"), col("m").as("comp"))
      }
    }
  }

  /** The symmetric `(a, b)` frame as [[minReach]]'s `(src, dst)` arcs. */
  private def arcs(sym: DataFrame): DataFrame = sym.select(col("a").as("src"), col("b").as("dst"))

  /** Init fused with the first hop: every `src` of `e` starts at the min
    * over itself and its `dst`s, (node, m) — one aggregation in place of
    * the identity labeling and the first round (any labeling between the
    * identity and the fixed point converges to the same labels). Nodes
    * that are never a `src` are the caller's to add. */
  private[operators] def initLabels(e: DataFrame): DataFrame =
    e.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("m"))
      .withColumnRenamed("src", "node")

  /** The min-reach fixpoint with pointer jumping: from `init` (node, m),
    * every node's label becomes the min id reachable by following the
    * arcs of `e` (src, dst) forward. `e` is keyed on `dst` by the caller;
    * `init` is lazy and labels every node that can appear on either side.
    * Each round is
    *
    *   prop(v) = min(m(v), m(out-neighbors of v))
    *   m'(v)   = min(prop(v), m(prop(v)))
    *
    * — one hop, then a jump through the PREVIOUS round's checkpointed
    * labels: m(x) is reachable from x, so the jump is sound, and reading
    * it from the materialized frame rather than from `prop` keeps the
    * round ONE action with ONE checkpoint (self-joining the
    * un-materialized hop would run it twice). The stale-by-one jump can
    * only add rounds over a fresh one (+2 across q_scc at sf0.1, against
    * half the actions per round; r18 measured q_scc −19 %). The probe
    * counts the labels the round moved, so convergence means
    * hop-stability, and a hop-stable labeling IS the fixed point — the
    * jump is only an accelerator. Returns the [[Fixpoint.Result]] with
    * state (node, m, prev); the caller owns the cap warning. */
  private[operators] def minReach(e: DataFrame, init: DataFrame, maxRounds: Int): Fixpoint.Result = {
    val changed = Fixpoint.Probe(
      Seq(sum(when(col("m") =!= col("prev"), 1L).otherwise(0L)).as("changed")),
      (_, cur) => cur.getAs[Long]("changed") == 0L)
    Fixpoint.run(init.iterCheckpoint(), maxRounds, 1, Some(changed)) { (st, _) =>
      val labels = st.select(col("node"), col("m"))
      val hop = e.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(min(col("m")).as("hm"))
      val prop = labels.join(hop, Seq("node"), "left")
        .select(col("node"),
          least(col("m"), coalesce(col("hm"), col("m"))).as("m"),
          col("m").as("prev"))
      val jump = labels.select(col("m").as("jm"), col("node").as("m"))
      prop.join(jump, Seq("m"), "left")
        .select(col("node"),
          least(col("m"), coalesce(col("jm"), col("m"))).as("m"),
          col("prev"))
    }
  }

  /** The rounds of [[minReach]] replayed in one task, from the same fused
    * init: next(v) = min(prop(v), label(prop(v))) with `label` the
    * previous round's labels. */
  private def local(g: LocalGraph.Edges, maxIterations: Int): (Array[Int], Array[Int]) = {
    val (a, b) = (g.a, g.b)
    var label = Array.range(0, g.nodes)
    for (e <- a.indices) if (b(e) < label(a(e))) label(a(e)) = b(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val prop = label.clone()
      for (e <- a.indices) if (label(b(e)) < prop(a(e))) prop(a(e)) = label(b(e))
      val next = prop.map(c => math.min(c, label(c)))
      converged = java.util.Arrays.equals(next, label)
      label = next
      iter += 1
    }
    if (!converged) Fixpoint.warnCapHit(this, capMessage(maxIterations))
    (Array.range(0, g.nodes), label)
  }

  private def capMessage(maxIterations: Int): String =
    s"connected components did not converge in $maxIterations rounds " +
      "— some cluster's diameter exceeds the cap; labels are partial"

  /** Survivor selection: given near-dup pairs over a corpus, return the
    * corpus with one canonical row (min id) kept per duplicate cluster;
    * rows in no cluster survive untouched. */
  def keepSurvivors(corpus: DataFrame, idCol: String,
      pairs: DataFrame, maxIterations: Int = 10): DataFrame = {
    val comp = components(pairs, maxIterations)
    corpus.join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  // ── DuckDB oracle replay ──────────────────────────────────────────────
  // Chains of materialized CTEs, as in [[Fixpoint.unroll]]; each caller
  // defines its own round-0 CTE. Converged labels
  // are a fixed point, so surplus unrolled rounds are no-ops. The engine
  // starts one hop in and its rounds take a hop and a jump, so after t
  // rounds its labels are ≤ the plain replay's after t + 1 and ≥ the true
  // minimum: wherever the plain unroll converges, the engine's loop has
  // converged within the same cap.

  /** `rounds` plain min-label rounds over the symmetric CTE `sym(a, b)`:
    * `<p>i` = each node's min over its own and its neighbors' `comp` in
    * `<p>{i−1}` (node, comp). */
  private[graft] def labelRoundsSql(p: String, sym: String, rounds: Int): String =
    Fixpoint.unroll(p, rounds) { (prev, _) =>
      s"SELECT l.node, least(l.comp, coalesce(m.mn, l.comp)) AS comp FROM $prev l " +
        s"LEFT JOIN (SELECT s.a AS node, min(x.comp) AS mn FROM $sym s " +
        s"JOIN $prev x ON s.b = x.node GROUP BY 1) m USING (node)"
    }

  /** `rounds` min-reach rounds with pointer jumping over the edge CTE
    * `edges`, labels flowing from column `to` to column `from`, as
    * (hop, jump) pairs `<tag>h<i>`, `<tag><i>` from `<tag>0` (node, m):
    * m := min(m, min over the `to`-neighbors' m), then m := min(m, m(m))
    * through the hop's own labels. The last CTE is `<tag><rounds>`. */
  private[graft] def minReachSql(tag: String, edges: String, from: String, to: String,
      rounds: Int): String =
    (1 to rounds).map { i =>
      val (prev, hop) = (s"$tag${i - 1}", s"${tag}h$i")
      s"$hop AS MATERIALIZED (SELECT l.node, " +
        s"least(l.m, coalesce(h.hm, l.m)) AS m FROM $prev l " +
        s"LEFT JOIN (SELECT e.$from AS node, min(x.m) AS hm FROM $edges e " +
        s"JOIN $prev x ON e.$to = x.node GROUP BY 1) h USING (node)), " +
        s"$tag$i AS MATERIALIZED (SELECT l.node, " +
        s"least(l.m, coalesce(j.m, l.m)) AS m FROM $hop l " +
        s"LEFT JOIN $hop j ON l.m = j.node)"
    }.mkString(", ")
}
