package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

class PageRankSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("pagerank matches a hand-computed reference on a small graph") {
    // 1→2, 1→3, 2→3, 3→1 — the classic 3-node example
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val iters = 20
    val d = 0.85

    val got = PageRank.pagerank(edges, iterations = iters, damping = d)
      .as[(Long, Double)].collect().toMap

    // reference implementation: same formulation, plain Scala
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L))
    var r = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0)
    for (_ <- 1 to iters) {
      val contrib = out.toSeq.flatMap { case (src, dsts) =>
        dsts.map(dst => dst -> r(src) / dsts.size)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = r.keys.map(n => n -> ((1 - d) + d * contrib.getOrElse(n, 0.0))).toMap
    }
    r.foreach { case (node, expect) =>
      assert(math.abs(got(node) - expect) < 1e-9, s"node $node")
    }
    // sanity: 3 has the most in-links weighted by rank → highest rank
    assert(got(3L) > got(1L) && got(3L) > got(2L))
  }

  test("dangling nodes keep base rank and sinks absorb") {
    // 1→2; 2 has no out-edges (dangling)
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = PageRank.pagerank(edges, iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 0.15) < 1e-9) // no in-links → 1-d
    assert(got(2L) > got(1L))
  }

  test("pagerank equals personalized pagerank seeded with every node") {
    // a cycle, a fan-in, a dangling sink and a source with no in-links
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 3L), (4L, 5L),
      (1L, 5L), (6L, 1L)).toDF("src", "dst")
    val all = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double)].collect().sortBy(_._1).toSeq
    val uniform = rows(PageRank.pagerank(edges, iterations = 7))
    assert(uniform.map(_._1) === all)
    assert(uniform === rows(PageRank.personalized(edges, all, iterations = 7)))
  }

  test("fib expression matches closed computation and handles edge cases") {
    val out = spark.range(0, 93)
      .select($"id", graft.functions.Fib.fib($"id").as("f"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) === 0L)
    assert(out(1L) === 1L)
    assert(out(10L) === 55L)
    assert(out(50L) === 12586269025L)
    assert(out(92L) === out(0L)) // mod 92 wraps
  }
}
