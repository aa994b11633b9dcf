package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Connected components by iterated min-label propagation — the step that
  * turns near-duplicate PAIRS (from MinHash-LSH / SimHash / winnowing)
  * into duplicate CLUSTERS so one canonical survivor per cluster can be
  * kept. Entirely beyond the reference.
  *
  * Algorithm: every node starts labeled with its own id; each round every
  * node takes the min label over itself and its neighbors; converged when
  * no label changes. Rounds needed = graph diameter — near-dup clusters
  * are small and dense (diameter 2-3), so the default cap of 10 rounds is
  * generous; the loop also exits early on a converged round. Each round
  * is one join + one aggregation shuffling on the node key, with
  * localCheckpoint truncating the logical plan (same iterative-plan
  * discipline as PageRank).
  *
  * Size gate: the job that materializes the symmetrised edge frame also
  * counts its rows. When rows × the planner's per-row size fit one
  * advisory partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`)
  * the rounds would each be a one-task job of a few KB, so the operator
  * returns a lazy single-task frame that replays them in memory instead
  * ([[LocalGraph]]) — same rows, cap and warning included, one job in
  * place of about 25. At 100 TB the gate fails on its first measurement
  * and the distributed loop runs on the already-materialized frame: per
  * round it shuffles only the V-sized label side against the keyed,
  * cached edge set, with no driver-side materialization at any size.
  */
object ConnectedComponents {

  /** @param edges two-column (src, dst) undirected pair frame
    * @return (node, component) — component = min node id reachable.
    * Logs a warning if the label propagation did not converge within
    * `maxIterations` (possible only when some component's diameter
    * exceeds it — raise the cap for long chain-shaped clusters). */
  def components(edges: DataFrame, maxIterations: Int = 10): DataFrame = {
    val e = edges.toDF("src", "dst")
    // undirected: propagate both ways. The job that materializes the
    // symmetrised frame also counts it — the local-finish gate
    val sym = IterCheckpoint.measure(
      e.union(e.select(col("dst"), col("src"))).toDF("a", "b"))
    if (LocalGraph.fits(sym)) local(sym.df, maxIterations)
    else distributed(sym, maxIterations)
  }

  // init fused with the first propagation round: every node starts at
  // min(self, neighbors) — one aggregation over sym replaces both the
  // distinct-nodes pass and the first loop round (any labeling between
  // the identity and the fixed point converges to the same labels)
  private def initLabels(sym: DataFrame): DataFrame =
    sym.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("comp"))
      .withColumnRenamed("a", "node")

  /** The rounds of [[distributed]] replayed in one task, typed as its
    * output. */
  private def local(sym: DataFrame, maxIterations: Int): DataFrame =
    LocalGraph.finish(sym, initLabels(sym).schema) { g =>
      val (a, b) = (g.a, g.b)
      var label = Array.range(0, g.nodes)
      for (e <- a.indices) if (b(e) < label(a(e))) label(a(e)) = b(e)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIterations) {
        val prop = label.clone()
        for (e <- a.indices) if (label(b(e)) < prop(a(e))) prop(a(e)) = label(b(e))
        val next = prop.map(c => math.min(c, prop(c)))
        converged = java.util.Arrays.equals(next, label)
        label = next
        iter += 1
      }
      if (!converged) warnNotConverged(maxIterations)
      (Array.range(0, g.nodes), label)
    }

  private def distributed(measured: IterCheckpoint.Measured, maxIterations: Int): DataFrame = {
    // hash-partitioned by the per-round join key ONCE — the cached layout
    // is reused by every round's neighbor-min join, so only the V-sized
    // label side ever shuffles (the E-sized per-round exchange is gone;
    // guide §2.4)
    val sym = IterCheckpoint.keyedForReuse(measured, col("b"))
    var labels = initLabels(sym).iterCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node")).agg(min(col("comp")).as("ncomp"))
      // checkpointed: prop feeds BOTH sides of the jump join below —
      // without materialization the neighbor-min aggregation would run
      // twice per round. (r17 re-tested the lazy spelling betting on
      // AQE runtime exchange reuse: q_modularity read +31% without the
      // checkpoint — the reuse does not reliably cover the self-join of
      // an aggregation this deep — so the eager job stays.)
      val prop = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("prev"))
        .iterCheckpoint()
      // pointer jumping (shortcutting): follow the new label one hop
      // (comp := label(comp)). Labels only ever decrease toward the
      // component minimum, so the jump stays inside the component — and
      // rounds drop from O(diameter) to O(log diameter), which is the
      // difference between 11 rounds and 4 on a chain-shaped cluster.
      val jump = prop.select(col("node").as("comp"), col("comp").as("jcomp"))
      // the convergence probe rides the checkpoint job as an observed
      // metric — no separate action per round
      val obs = new org.apache.spark.sql.Observation(
        s"cc_conv_${iter}_${System.nanoTime()}")
      val next = prop.join(jump, Seq("comp"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"),
          col("prev"))
        .observe(obs,
          sum(when(col("comp") =!= col("prev"), 1L).otherwise(0L)).as("changed"))
        .iterCheckpoint()
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.select(col("node"), col("comp"))
      iter += 1
    }
    if (!converged) warnNotConverged(maxIterations)
    sym.unpersist(false)
    labels
  }

  private def warnNotConverged(maxIterations: Int): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"connected components did not converge in $maxIterations rounds " +
        "— some cluster's diameter exceeds the cap; labels are partial")

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
}
