package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, min}

/** The min-plus relaxation loop behind BFS, SSSP and the closeness seed
  * distances — the Pregel round the three hand-wrote: join the reached
  * state onto the edges (keyed on `a`), take the min candidate per target
  * `b`, and merge it back into the state with a left join. Two rounds
  * ride each checkpoint job, halving the per-round job overhead that
  * dominates at toy scale — the measured optimum: a 4-step batch ran
  * ~1.5-1.9× slower in BFS and SSSP (sf0.1 bench), the 8-join-deep plan
  * costing more in the optimizer and in redundant post-convergence rounds
  * than it saved in submissions. The loop stops when the caller's probe
  * sees the fixed point, or at the cap.
  *
  * The state carries `keys` (ending in `node`; any keys before it, such
  * as a seed, travel along unchanged) and a nullable `dist`, null meaning
  * unreached. Callers differ only in values: the keys, the per-edge
  * `candidate` over the edge row and the reached `dist`, the `merge` of
  * the old `dist` with the round's minimum `mn`, and the probe.
  */
private[graft] object Relax {

  /** The state after the loop from `init` (materialized) over `sym`, a
    * keyed copy of a [[Graph]]'s edges. */
  def apply(sym: DataFrame, init: DataFrame, keys: Seq[String], candidate: Column,
      merge: (Column, Column) => Column, probe: Fixpoint.Probe, cap: Int): DataFrame = {
    val carried = keys.init.map(col)
    def round(d: DataFrame): DataFrame = {
      val mn = sym
        .join(d.filter(col("dist").isNotNull)
          .select(carried :+ col("node").as("a") :+ col("dist"): _*), Seq("a"))
        .groupBy(carried :+ col("b").as("node"): _*).agg(min(candidate).as("mn"))
      d.join(mn, keys, "left")
        .select(keys.map(col) :+ merge(col("dist"), col("mn")).as("dist"): _*)
    }
    Fixpoint.run(init, cap, 2, Some(probe))((d, _) => round(d)).state
  }
}
