package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IterCheckpoint.IterCheckpointOps

/** K-core decomposition by iterative peeling — the density filter used on
  * similarity/co-occurrence graphs before community detection or dedup
  * clustering (a companion to [[ConnectedComponents]]; entirely beyond
  * the reference's in-link-count PageRank,
  * `performance_functions/simplified_page_rank.py`).
  *
  * Algorithm (Batagelj–Zaveršnik peel, synchronous rounds): repeatedly
  * delete every node whose current degree is below k until none remains;
  * the surviving subgraph is the k-core. Each round is one degree
  * aggregation plus two semi-join-shaped filters, all shuffling on the
  * node key; `localCheckpoint` truncates the growing plan and an
  * `Observation` metric rides the checkpoint job to detect the fixed
  * point without a separate count action. Rounds needed is the peel
  * depth (max core-shell chain), which is tiny on real graphs; the cap
  * is a safety net, and extra rounds past convergence are no-ops.
  *
  * Size gate (shared with [[ConnectedComponents]]): the job that
  * materializes the symmetrised edge frame also counts its rows; when it
  * fits one advisory partition the peel rounds are replayed in one
  * in-memory task ([[LocalGraph]]) instead of one eager job per three
  * peels — same rows, cap and warning included.
  *
  * At 100 TB the gate fails on its first measurement and the distributed
  * peel runs: per-round state is the (shrinking) edge list itself; the
  * keep-set is one BIGINT column of surviving nodes, broadcast by AQE
  * while it fits and a shuffled semi join beyond that — no driver-side
  * materialization at any size.
  */
object KCore {

  /** @param edges two-column (src, dst) undirected pair frame
    * @return symmetric surviving edges (a, b) — both directions present;
    *         per-node core degree is `count(*) GROUP BY a`. Logs a warning
    *         if the peel did not reach its fixed point within
    *         `maxIterations` (the edges are then partial). */
  def coreEdges(edges: DataFrame, k: Int, maxIterations: Int = 20): DataFrame = {
    val e = edges.toDF("src", "dst")
    // the job that materializes the symmetrised frame also counts it —
    // the local-finish gate
    val sym = IterCheckpoint.measure(
      e.union(e.select(col("dst"), col("src"))).toDF("a", "b"))
    if (LocalGraph.fits(sym)) local(sym.df, k, maxIterations)
    else distributed(sym.df, k, maxIterations)
  }

  /** The rounds of [[distributed]] replayed in one task over a multiset
    * edge list (duplicate edges and both halves of a self-loop count
    * toward degree, as in the distributed aggregation). */
  private def local(sym: DataFrame, k: Int, maxIterations: Int): DataFrame =
    LocalGraph.finish(sym, sym.schema) { g =>
      val (a, b) = (g.a, g.b)
      val alive = Array.fill(a.length)(true)
      val deg = new Array[Int](g.nodes)
      def peel(): Unit = {
        java.util.Arrays.fill(deg, 0)
        for (e <- a.indices) if (alive(e)) deg(a(e)) += 1
        for (e <- a.indices) if (alive(e)) alive(e) = deg(a(e)) >= k && deg(b(e)) >= k
      }
      var prevCount = -1L
      var converged = false
      var iter = 0
      while (!converged && iter < maxIterations) {
        val steps = math.min(3, maxIterations - iter)
        (1 to steps).foreach(_ => peel())
        val curCount = alive.count(identity).toLong
        converged = curCount == prevCount || curCount == 0L
        prevCount = curCount
        iter += steps
      }
      if (!converged) warnNotConverged(maxIterations)
      val kept = a.indices.filter(alive(_)).toArray
      (kept.map(a(_)), kept.map(b(_)))
    }

  private def distributed(symmetrised: DataFrame, k: Int, maxIterations: Int): DataFrame = {
    var sym = symmetrised
    // -1 sentinel: convergence is judged from the per-round Observation
    // alone (first round never matches), so no upfront count() pass
    var prevCount = -1L
    var converged = false
    var iter = 0
    // One peel as a pure plan transform; THREE peels ride each checkpoint
    // job (one step deeper than the BFS/SSSP double-step — peeling has no
    // frontier join that grows with batched steps, so the probe cadence
    // can stretch further and trim a third of the per-round job overhead).
    // The surviving-edge count is MONOTONE non-increasing, so an
    // unchanged count three peels apart pins the peels between as well —
    // the fixed-point test stays sound.
    def peel(g: DataFrame): DataFrame = {
      val keep = g.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a"))
      g.join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    while (!converged && iter < maxIterations) {
      val steps = math.min(3, maxIterations - iter)
      val stepped = (1 to steps).foldLeft(sym)((g, _) => peel(g))
      val obs = new org.apache.spark.sql.Observation(
        s"kcore_${iter}_${System.nanoTime()}")
      val next = stepped
        .observe(obs, count(lit(1)).as("m"))
        .iterCheckpoint()
      val curCount = obs.get("m").asInstanceOf[Long]
      converged = curCount == prevCount || curCount == 0L
      prevCount = curCount
      sym = next
      iter += steps
    }
    if (!converged) warnNotConverged(maxIterations)
    sym
  }

  private def warnNotConverged(maxIterations: Int): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"k-core did not converge in $maxIterations rounds " +
        "— the peel depth exceeds the cap; edges are partial")
}
