package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IterCheckpoint.IterCheckpointOps

/** Semi-supervised label propagation (label spreading with clamping):
  * seeded nodes keep their label; unlabeled nodes take, each synchronous
  * round, the majority label among their LABELED neighbors (ties broken
  * count-desc then label-asc — fully deterministic). Runs a FIXED number
  * of rounds rather than to convergence so an external oracle can replay
  * the identical intermediate states round for round.
  *
  * Scale shape: each round is one message join (edges ⋈ labeled nodes),
  * one vote aggregation, and one per-node window — all shuffling on the
  * node key; the label frame is localCheckpoint-ed per round (the same
  * iterative-plan discipline as PageRank / ConnectedComponents).
  */
object LabelPropagation {

  /** @param edges two-column (src, dst) undirected pair frame
    * @param seeds (node, lab) for the clamped seed nodes
    * @param rounds fixed synchronous round count
    * @return (node, lab) for every node of `edges`; lab null if no
    *         labeled node is within `rounds` hops. */
  def spread(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    // partitioned once by the per-round message-join key (guide §2.4)
    Graph(edges).withKeyed(col("b")) { sym =>
      val sd = seeds.toDF("node", "lab")
      val init = Graph.nodes(sym)
        .join(sd, Seq("node"), "left")
        .iterCheckpoint()
      // One synchronous round as a pure plan transform; TWO rounds ride
      // each localCheckpoint job (the BFS/SSSP double-step) — the round
      // COUNT is exactly `rounds` either way, so the fixed-round oracle
      // parity is untouched; only the materialization cadence changes.
      // A 3-step cadence was measured at sf0.1 local[32]: 4.63 s → 6.02 s
      // (the 3-deep unmaterialized join+window chain costs more than the
      // saved checkpoint job), so 2 stays — same conclusion as the 4-step
      // BFS/SSSP experiment recorded in Relax.
      def step(l: DataFrame): DataFrame = {
        val votes = sym
          .join(l.filter(col("lab").isNotNull)
            .select(col("node").as("b"), col("lab")), Seq("b"))
          .groupBy(col("a"), col("lab")).agg(count(lit(1)).as("c"))
        // majority with (count desc, label asc) tiebreak as a partial-
        // aggregated argmin over struct(−count, label) — same winner as a
        // row_number window, without the per-round partition sort (and the
        // min combines map-side, so only one candidate per label survives
        // each partition)
        val winner = votes
          .select(col("a"),
            struct((-col("c")).as("nc"), col("lab").as("l")).as("k"))
          .groupBy(col("a")).agg(min(col("k")).as("k"))
          .select(col("a").as("node"), col("k.l").as("wlab"))
        l.join(winner, Seq("node"), "left")
          .select(col("node"), coalesce(col("lab"), col("wlab")).as("lab"))
      }
      Fixpoint.run(init, rounds, 2)((l, _) => step(l)).state
    }
}
