package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one input of the iterative undirected-graph operators (connected
  * components, k-core, label propagation, BFS, SSSP, the closeness seed
  * distances and betweenness): the symmetrised edge frame `(a, b[, w])`
  * — every edge in both directions — materialized and counted once
  * through [[IterCheckpoint.measure]], so the reliable-checkpoint conf
  * applies to it and the local-finish gate reads its counts from that same
  * job.
  */
private[graft] final class Graph private (measured: IterCheckpoint.Measured) {

  /** The materialized symmetric edge frame. */
  def edges: DataFrame = measured.df

  /** A cached copy hash-partitioned on `keys` for the per-round joins
    * ([[IterCheckpoint.keyedForReuse]]), passed to `body` and unpersisted
    * when it returns — the caller's result must not read it lazily. */
  def withKeyed[A](keys: Column*)(body: DataFrame => A): A = {
    val keyed = IterCheckpoint.keyedForReuse(measured, keys: _*)
    try body(keyed) finally keyed.unpersist(false)
  }

  /** The local-finish gate: true when the frame fits one advisory
    * partition, its columns are LONG or INT, and no endpoint is null —
    * the distributed joins drop null endpoints, which the one-task replay
    * does not model. */
  def fitsLocally: Boolean =
    measured.nullRows == 0 && measured.fitsOnePartition &&
      edges.schema.fields.forall(f => LocalGraph.toId(f.dataType).isDefined)

  /** The [[LocalGraph.finish]] frame (typed `schema`, rows from `kernel`)
    * when the graph [[fitsLocally]], else the caller's `distributed`
    * loop. */
  private[operators] def finishLocally(schema: => StructType)(
      kernel: LocalGraph.Edges => (Array[Int], Array[Int]))(distributed: => DataFrame): DataFrame =
    if (fitsLocally) LocalGraph.finish(edges, schema)(kernel) else distributed
}

private[graft] object Graph {

  /** The graph of `edges`: two endpoint columns, named `a` and `b` in the
    * symmetrised frame, and optionally a weight column, which keeps its
    * name (`w` for the weighted operators). */
  def apply(edges: DataFrame): Graph = {
    val Seq(src, dst, w @ _*) = edges.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    new Graph(IterCheckpoint.measure(
      edges.select(src.as("a") +: dst.as("b") +: w: _*)
        .unionAll(edges.select(dst.as("a") +: src.as("b") +: w: _*))))
  }

  /** The node set of a symmetric edge frame (any copy of
    * [[Graph.edges]]): the first endpoint already holds every node. */
  def nodes(sym: DataFrame): DataFrame = sym.select(col("a").as("node")).distinct()
}
