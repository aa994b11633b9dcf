package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IterCheckpoint.IterCheckpointOps

/** K-truss decomposition — the triangle-density core: iteratively delete
  * every edge supported by fewer than k−2 triangles until none remains.
  * A stricter cohesion filter than [[KCore]] (every k-truss edge lies in
  * a (k−1)-core, not vice versa), the standard community-core extractor
  * on co-occurrence graphs.
  *
  * Each round recomputes per-edge support with the SAME adjacency-
  * intersection plan as the triangle counter (per-node sorted neighbor
  * arrays joined onto each edge, `array_intersect` inside codegen — no
  * wedge materialization), filters, and checkpoints; an Observation
  * metric riding the checkpoint detects the fixed point without an
  * extra count job. Extra rounds past convergence are no-ops, which is
  * what lets a fixed-round oracle replay it.
  */
object KTruss {

  /** @param edges canonical undirected (src, dst) pairs, src < dst
    * @return surviving canonical edges with their in-truss support. Logs
    *         a warning if the peel did not converge within `maxIterations`
    *         rounds (the edges are then partial). */
  def trussEdges(edges: DataFrame, k: Int, maxIterations: Int = 12): DataFrame = {
    def withSupport(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("b"), col("a"))).toDF("n", "m")
      val adj = sym.groupBy(col("n")).agg(sort_array(collect_list(col("m"))).as("nbrs"))
      cur
        .join(adj.select(col("n").as("a"), col("nbrs").as("na")), Seq("a"))
        .join(adj.select(col("n").as("b"), col("nbrs").as("nb")), Seq("b"))
        .withColumn("support", size(array_intersect(col("na"), col("nb"))).cast("long"))
    }
    val run = Fixpoint.run(edges.toDF("a", "b").iterCheckpoint(), maxIterations, 1,
        Some(Fixpoint.rowsStable)) { (st, _) =>
      withSupport(st.select(col("a"), col("b")))
        .filter(col("support") >= k - 2)
        .select(col("a"), col("b"), col("support"))
    }
    // Converged exit: the last round kept the SAME edge set it scored
    // (|S_i| = |S_{i-1}| and S_i ⊆ S_{i-1} force S_i = S_{i-1}), so its
    // checkpointed (a, b, support) IS the final support — returning it
    // skips a whole adjacency-build + double-join pass. Only a capped-out
    // non-converged loop still needs the recompute over the final set.
    if (run.converged) run.state
    else {
      Fixpoint.warnCapHit(this, s"k-truss did not converge in $maxIterations rounds " +
        "— the peel depth exceeds the cap; edges are partial")
      withSupport(run.state.select(col("a"), col("b")))
        .select(col("a"), col("b"), col("support"))
    }
  }
}
