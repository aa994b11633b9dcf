package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The one min-label loop behind connected components and both SCC passes
  * ([[ConnectedComponents.minReach]]) on random directed graphs, against a
  * driver-side breadth-first search.
  */
class MinReachSpec extends AnyFunSuite {
  import graft.TestSpark._
  import spark.implicits._

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** For every node, the min id reachable from it (itself included). */
  private def bfsMinReach(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    nodes.map { v =>
      val seen = scala.collection.mutable.Set(v)
      val queue = scala.collection.mutable.Queue(v)
      while (queue.nonEmpty)
        out.getOrElse(queue.dequeue(), Nil).foreach(u => if (seen.add(u)) queue.enqueue(u))
      v -> seen.min
    }.toMap
  }

  test("min-reach equals BFS on random directed graphs, distributed path forced (12 trials)") {
    val r = new Random(17)
    val saved = spark.conf.getOption(AdvisoryKey)
    // 1-byte advisory partitions: no stage coalesces to a single task
    spark.conf.set(AdvisoryKey, "1")
    try for (trial <- 1 to 12) {
      val n = 2 + r.nextInt(40)
      // scrambled ids, so a chain's minimum can sit anywhere along it
      val ids = r.shuffle((0 until n).map(i => 100L + 3 * i))
      val random = Seq.fill(r.nextInt(2 * n))((ids(r.nextInt(n)), ids(r.nextInt(n))))
      // every third graph also holds a directed path through all nodes:
      // the long reach that needs the jumps
      val edges = if (trial % 3 == 0) random ++ ids.zip(ids.tail) else random
      val e = IterCheckpoint.keyedForReuse(edges.toDF("src", "dst"), col("dst"))
      val run = ConnectedComponents.minReach(e, ids.map(v => (v, v)).toDF("node", "m"), n)
      val got = run.state.select(col("node"), col("m")).as[(Long, Long)].collect().toMap
      e.unpersist()
      assert(run.converged, s"edges: $edges")
      assert(got === bfsMinReach(ids, edges), s"edges: $edges")
    } finally saved.fold(spark.conf.unset(AdvisoryKey))(spark.conf.set(AdvisoryKey, _))
  }
}
