package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Strongly connected components on a DIRECTED graph — the directed
  * companion to [[ConnectedComponents]] (which ignores direction), used to
  * find mutually-reachable clusters in link graphs, citation graphs, and
  * redirect chains. Entirely beyond the reference's in-link-count PageRank
  * (`performance_functions/simplified_page_rank.py`).
  *
  * Algorithm: the coloring / forward-backward method (Orzan's coloring;
  * FW-BW of Fleischer-Hendrickson-Pinar), expressed as two min-label
  * fixpoints per outer round:
  *
  *   1. F(v) = min id forward-reachable from v (v included) — min-label
  *      propagation AGAINST edge direction with pointer jumping (labels
  *      are themselves reachable nodes, so F(v) := min(F(v), F(F(v))) is
  *      sound and cuts rounds from O(diameter) to O(log diameter)).
  *   2. Within each color class {v: F(v)=c}, G(v) = min id that REACHES v
  *      via same-color edges — the same fixpoint on the reversed
  *      color-restricted subgraph. SCC paths never leave the SCC, and
  *      every node of color c is ≥ c, so G(v)=c exactly when pivot c
  *      reaches v; combined with F(v)=c (v reaches c, provably within
  *      color) that pins v ∈ SCC(c).
  *   3. Settle scc(v)=c where F(v)=G(v)=c (covers singleton pivots too:
  *      F(v)=v ⇒ G(v)=v); recurse on the unsettled same-color subgraph —
  *      one SCC settles per color per round, so DAG-shaped tails (every
  *      node its own pivot) all settle in a single round rather than one
  *      per round as in plain FW-BW.
  *
  * Scale shape: every fixpoint round is one key-shuffle join + one
  * aggregation over the (shrinking) edge list; per-node state is two
  * BIGINT columns; `iterCheckpoint` truncates lineage per double-step and
  * an `Observation` metric rides the checkpoint job for convergence — no
  * driver-side materialization at any size (same discipline as
  * [[ConnectedComponents]] / [[PageRank]]).
  */
object StronglyConnectedComponents {

  /** Min-label-reach fixpoint with pointer jumping: for every node of
    * `edges` (two-column src/dst), the min id reachable by following
    * edges forward. Returns (node, m). */
  private def minReach(edges: DataFrame, maxRounds: Int): DataFrame = {
    // hash-partitioned by the hop-join key once — every fixpoint round's
    // edge join then reuses this layout and only the V-sized label side
    // shuffles (guide §2.4)
    val e = edges.toDF("src", "dst")
      .transform(IterCheckpoint.keyedForReuse(_, col("dst")))
    // init fused with round one: F0(v) = min(v, out-neighbors) — labels
    // start at one-hop reach; isolated-as-source nodes (dst-only) get
    // their own id via the full outer union below
    val init = e.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("m"))
      .withColumnRenamed("src", "node")
      .union(e.select(col("dst").as("node"), col("dst").as("m")))
      .groupBy(col("node")).agg(min(col("m")).as("m"))
      .iterCheckpoint()
    val changed = Fixpoint.Probe(
      Seq(sum(when(col("m") =!= col("prev"), 1L).otherwise(0L)).as("changed")),
      (_, cur) => cur.getAs[Long]("changed") == 0L)
    val run = Fixpoint.run(init, maxRounds, 1, Some(changed)) { (st, _) =>
      val labels = st.select(col("node"), col("m"))
      // one hop: m'(v) = min(m(v), m(out-neighbors))
      val hop = e.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(min(col("m")).as("hm"))
      val m1 = labels.join(hop, Seq("node"), "left")
        .select(col("node"),
          least(col("m"), coalesce(col("hm"), col("m"))).as("m"),
          col("m").as("prev"))
      // pointer jump THROUGH THE PREVIOUS ROUND'S CHECKPOINTED LABELS:
      // m := min(m1, labels(m1)). labels(x) is reachable from x, so the
      // jump stays sound; reading the jump side from the materialized
      // frame (not from m1 itself) keeps the whole round ONE action with
      // ONE checkpoint — the previous spelling checkpointed m1 first
      // because self-joining the un-materialized aggregation re-ran the
      // hop on both sides (the CC +31% lazy-respell measurement), paying
      // two driver actions per round. Convergence still detects hop-
      // stability (changed counts the full round's movement vs the old
      // labels), and a hop-stable labeling IS the min-reach fixpoint —
      // the jump is only an accelerator — so results are unchanged; the
      // stale-by-one jump can only add rounds (+2 total across the whole
      // query at sf0.1, 21→23 per plans/r18/q_scc_{before,after}.txt,
      // against the 2× per-round action cut; whole-query −19% A/B).
      val jump = labels.select(col("m").as("jm"), col("node").as("m"))
      m1.join(jump, Seq("m"), "left")
        .select(col("node"),
          least(col("m"), coalesce(col("jm"), col("m"))).as("m"),
          col("prev"))
    }
    e.unpersist(false)
    if (!run.converged)
      Fixpoint.warnCapHit(this, s"scc min-reach did not converge in $maxRounds rounds; labels partial")
    run.state.select(col("node"), col("m"))
  }

  /** @param edges two-column (src, dst) directed edge frame
    * @return (node, scc) — scc = min node id of the strongly connected
    *         component (singletons map to themselves). */
  def components(edges: DataFrame, maxOuterRounds: Int = 8,
      maxPropRounds: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the emptiness probe rides the checkpoint job as an observed metric
    // (here and per outer round below) — no separate isEmpty action
    val edgeCount = count(lit(1)).as("n")
    val (rem0, n0) = IterCheckpoint.observed(edges.toDF("src", "dst")
      .filter(col("src") =!= col("dst")).distinct(), edgeCount)
    var remaining = rem0
    var settled: DataFrame = Seq.empty[(Long, Long)].toDF("node", "scc")
    var outer = 0
    var done = n0.getAs[Long]("n") == 0L
    while (!done && outer < maxOuterRounds) {
      val fwd = minReach(remaining, maxPropRounds)
        .withColumnRenamed("m", "f")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // same-color edges, reversed — G = min-reach on the transpose of
      // the color-restricted subgraph
      val colored = remaining
        .join(fwd.select(col("node").as("src"), col("f").as("fs")), "src")
        .join(fwd.select(col("node").as("dst"), col("f").as("fd")), "dst")
        .filter(col("fs") === col("fd"))
        .select(col("src"), col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bwd = minReach(colored.select(col("dst").as("src"),
        col("src").as("dst")), maxPropRounds)
        .withColumnRenamed("m", "g")
      // settle where F == G (nodes with no same-color edge never enter
      // bwd — they are their own pivot exactly when F(v)=v)
      val verdicts = fwd.join(bwd, Seq("node"), "left")
        .select(col("node"), col("f"),
          coalesce(col("g"), col("node")).as("g"))
        .iterCheckpoint()
      // settled is consumed only after the loop; its lineage is a shallow
      // union of checkpointed verdict frames — no per-round job needed
      settled = settled
        .union(verdicts.filter(col("f") === col("g"))
          .select(col("node"), col("f").as("scc")))
      val open = verdicts.filter(col("f") =!= col("g"))
        .select(col("node"))
      val (rem, n) = IterCheckpoint.observed(colored
        .join(open.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(open.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")), edgeCount)
      remaining = rem
      // nodes still open but with no surviving edge are singleton SCCs
      val isolated = open
        .join(remaining.select(col("src").as("node")), Seq("node"), "left_anti")
        .join(remaining.select(col("dst").as("node")), Seq("node"), "left_anti")
      // settled stays LAZY: its lineage is a bounded (≤ maxOuterRounds)
      // union of filters over checkpointed frames only — verdicts and
      // remaining — so nothing in it references fwd/colored after the
      // unpersists below, and the per-round pinning checkpoint it used
      // to pay bought nothing
      settled = settled
        .union(isolated.select(col("node"), col("node").as("scc")))
      fwd.unpersist(false)
      colored.unpersist(false)
      done = n.getAs[Long]("n") == 0L
      outer += 1
    }
    if (!done)
      Fixpoint.warnCapHit(this, s"scc did not settle every node in $maxOuterRounds outer rounds")
    settled
  }
}
