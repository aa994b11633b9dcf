package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Iterative PageRank over an edge DataFrame — the full version of the
  * reference's "simplified PageRank" (which only counts in-links,
  * `performance_functions/simplified_page_rank.py:25-43`; the in-link
  * count itself is our oracle-checked `q_inlink_count`).
  *
  * Scale design: the edge set is pre-joined with out-degrees ONCE and
  * cached; each iteration is then one join + one aggregation, both
  * shuffling on the SAME node key so Spark reuses the partitioning;
  * ranks are localCheckpoint'ed per round so lineage (and any
  * recomputation under failure) stays one iteration deep, and the cached
  * invariants are unpersisted on exit.
  * Dangling nodes (no out-edges) contribute nothing, matching the classic
  * formulation rank = (1-d) + d * Σ rank(in)/deg(in).
  */
object PageRank {

  /** @param edges two-column frame (src, dst), one row per directed edge */
  def pagerank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame =
    run(edges, lit(true), iterations, damping)

  /** Personalized PageRank: the restart mass concentrates on a SEED set
    * instead of spreading uniformly — the "related to THESE items"
    * recommender walk (Page et al. 1999 §6; the uniform case above is
    * the special instance seeds = all nodes). Iteration is
    * r' = (1−d)·1[seed] + d·A·r with r₀ = 1[seed], so rank measures
    * seed-reachable mass and untouched nodes stay at exactly 0.0 (a
    * 100 TB graph keeps them as rows — filtering `rank > 0` after the
    * fixed rounds prunes the output to the seeds' neighborhood). Same
    * per-round shape and checkpoint cadence as `pagerank`.
    */
  def personalized(edges: DataFrame, seeds: Seq[Long],
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    run(edges, col("node").isin(seeds.map(java.lang.Long.valueOf): _*),
      iterations, damping)
  }

  /** The one PageRank loop: r₀ = 1[seed], r' = (1−d)·1[seed] + d·A·r.
    * Uniform PageRank passes `isSeed = lit(true)`; the optimizer folds
    * `CASE WHEN true THEN x ELSE y END` to `x`, so its per-round plans
    * are those of the plain (1−d) + d·A·r spelling. */
  private def run(edges: DataFrame, isSeed: Column, iterations: Int,
      damping: Double): DataFrame = {
    val e = edges.toDF("src", "dst")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // loop-invariant: edges pre-joined with out-degrees ONCE (re-joining
    // inside the loop would repeat an identical shuffle every iteration);
    // pinned to the per-round join key so the cached layout is reused by
    // every iteration's rank join regardless of which join strategy built
    // it (a broadcast degree join would otherwise leave the frame
    // partitioned by nothing and re-shuffle E per round; guide §2.4)
    val weighted = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), col("deg"))
      .transform(IterCheckpoint.keyedForReuse(_, col("src")))
    val restart = when(isSeed, lit(1 - damping)).otherwise(lit(0.0))
    // localCheckpoint (not persist): iterative plans must TRUNCATE the
    // logical plan each round — persist only caches physical results, so
    // the analyzer/optimizer would still walk an ever-deeper join tree
    // (and eventually OOM the driver around ~20 iterations).
    val init = nodes
      .withColumn("rank", when(isSeed, lit(1.0)).otherwise(lit(0.0)))
      .iterCheckpoint()
    def step(r: DataFrame): DataFrame = {
      val contribs = weighted
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (restart + lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
    }
    // Double-step: two rank updates per checkpoint job (same cadence as
    // BFS/SSSP/k-core) — identical math, a 2-deep plan per action, half
    // the job-submission overhead that dominates at toy scale.
    val ranks = Fixpoint.run(init, iterations, 2)((r, _) => step(r)).state
    nodes.unpersist(false)
    weighted.unpersist(false)
    ranks
  }
}
