package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Louvain

class LouvainSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Plain-Scala replay of the EXACT distributed rules: parity gate,
    * integer score m2·k_uc − k·vol(c∖u), tie to smallest community,
    * fixed rounds, one aggregation level. Any divergence between this
    * and the Spark operator is a bug in one of them. */
  private def refLocalMove(
      we: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = we.filter(e => e._1 != e._2)
      .flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
    val selfw = we.filter(e => e._1 == e._2)
      .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = we.flatMap(e => Seq(e._1, e._2)).distinct
    val k = nodes.map { n =>
      n -> (sym.filter(_._1 == n).map(_._3).sum + 2 * selfw.getOrElse(n, 0L))
    }.toMap
    val m2 = k.values.sum
    var labels = nodes.map(n => n -> n).toMap
    for (r <- 0 until rounds) {
      val vol = labels.groupBy(_._2).view.mapValues(_.keys.map(k).sum).toMap
      labels = labels.map { case (u, c0) =>
        if (u % 2 != r % 2) u -> c0
        else {
          val kuc = sym.filter(_._1 == u)
            .groupBy(e => labels(e._2)).view.mapValues(_.map(_._3).sum).toMap
          val cands = (kuc.keySet + c0).toSeq
          val best = cands.map { c =>
            val volMinus = vol(c) - (if (c == c0) k(u) else 0L)
            (m2 * kuc.getOrElse(c, 0L) - k(u) * volMinus, c)
          }.minBy { case (score, c) => (-score, c) }._2
          u -> best
        }
      }
    }
    labels
  }

  private def refCluster(
      we: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    val l1 = refLocalMove(we, rounds)
    val we2 = we.groupBy(e =>
        (math.min(l1(e._1), l1(e._2)), math.max(l1(e._1), l1(e._2))))
      .map { case ((a, b), es) => (a, b, es.map(_._3).sum) }.toSeq
    val l2 = refLocalMove(we2, rounds)
    l1.map { case (n, c) => n -> l2(c) }
  }

  private def modularity(
      we: Seq[(Long, Long, Long)], labels: Map[Long, Long]): Double = {
    val m = we.map(_._3).sum.toDouble
    val k = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    we.foreach { case (a, b, w) =>
      if (a == b) k(a) += 2.0 * w else { k(a) += w; k(b) += w }
    }
    val intra = we.filter(e => labels(e._1) == labels(e._2)).map(_._3).sum / m
    val volShare = k.groupBy { case (n, _) => labels(n) }
      .values.map(_.values.sum / (2.0 * m)).map(s => s * s).sum
    intra - volShare
  }

  // two 4-cliques joined by one bridge edge — the textbook two-community
  // graph
  private val twoCliques: Seq[(Long, Long, Long)] = {
    def clique(ns: Seq[Long]) = for {
      i <- ns.indices; j <- (i + 1) until ns.size
    } yield (ns(i), ns(j), 1L)
    (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(4L, 5L, 6L, 7L)) :+
      ((3L, 4L, 1L))).map(identity)
  }

  test("cluster matches the plain-Scala replay on the two-clique graph") {
    val we = twoCliques.toDF("src", "dst", "w")
    val got = Louvain.cluster(we, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val ref = refCluster(twoCliques, rounds = 4)
    assert(got === ref)
    // and it actually FINDS the two communities
    assert(got.values.toSet.size === 2, s"two communities: $got")
    assert(Set(0L, 1L, 2L, 3L).map(got) .size === 1, "left clique together")
    assert(Set(4L, 5L, 6L, 7L).map(got).size === 1, "right clique together")
  }

  test("cluster matches the replay on a deterministic random graph") {
    // 40 nodes, 4 planted groups of 10, dense intra / sparse inter edges
    // chosen by a hash rule (no RNG object — reproducible by value)
    def h(a: Long, b: Long): Long = {
      var x = a * 2654435761L + b * 40503L
      x ^= x >>> 16; x *= 0x45d9f3bL; x ^= x >>> 16; math.abs(x)
    }
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      sameGroup = a / 10 == b / 10
      keep = if (sameGroup) h(a, b) % 10 < 7 else h(a, b) % 100 < 2
      if keep
    } yield (a, b, 1L + h(b, a) % 3)).toSeq
    val got = Louvain.cluster(edges.toDF("src", "dst", "w"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    val ref = refCluster(edges, rounds = 4)
    assert(got === ref)
    // quality: found partition beats singletons and the one-community
    // partition on modularity
    val q = modularity(edges, got)
    val qSingleton = modularity(edges, (0L until 40L).map(n => n -> n).toMap)
    val qOne = modularity(edges, (0L until 40L).map(n => n -> 0L).toMap)
    assert(q > qSingleton && q > qOne, s"q=$q singleton=$qSingleton one=$qOne")
    assert(q > 0.4, s"planted 4-community structure should score well: $q")
  }

  /** Driver-side connectivity check: every community of `labels` must
    * induce a connected subgraph of `edges`. */
  private def disconnectedComms(edges: Seq[(Long, Long, Long)],
      labels: Map[Long, Long]): Set[Long] = {
    val adj = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq((e._1, e._2), (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    labels.toSeq.groupBy(_._2).collect { case (comm, members0) =>
      val members = members0.map(_._1).toSet
      val seen = scala.collection.mutable.Set(members.head)
      var frontier = Set(members.head)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .intersect(members).diff(seen)
        seen ++= frontier
      }
      (comm, seen.size == members.size)
    }.collect { case (comm, ok) if !ok => comm }.toSet
  }

  test("refine splits an internally disconnected community") {
    // hand-built defective partition: {0,1,2,3} labeled one community but
    // the induced subgraph is two disjoint edges; node 4 shares the label
    // with no intra edge at all
    val edges = Seq((0L, 1L, 1L), (2L, 3L, 1L), (4L, 5L, 1L))
    val we = edges.toDF("src", "dst", "w")
    val bad = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 9L))
      .toDF("node", "comm")
    val refined = Louvain.refine(we, bad).as[(Long, Long)].collect().toMap
    // components of community 0: {0,1} → 0, {2,3} → 2, {4} → singleton
    assert(refined(0L) === 0L && refined(1L) === 0L)
    assert(refined(2L) === 2L && refined(3L) === 2L)
    assert(refined(4L) === 4L, "no-intra-edge member becomes a singleton")
    assert(refined(5L) === 5L, "lone-member community refines to itself")
    assert(disconnectedComms(edges, refined).isEmpty)
    // a partition that is already all-connected is a fixed point
    val again = Louvain.refine(we, refined.toSeq.toDF("node", "comm"))
      .as[(Long, Long)].collect().toMap
    assert(again === refined)
  }

  test("clusterLeiden: every emitted community induces a connected subgraph") {
    def h(a: Long, b: Long): Long = {
      var x = a * 2654435761L + b * 40503L
      x ^= x >>> 16; x *= 0x45d9f3bL; x ^= x >>> 16; math.abs(x)
    }
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      sameGroup = a / 10 == b / 10
      keep = if (sameGroup) h(a, b) % 10 < 7 else h(a, b) % 100 < 2
      if keep
    } yield (a, b, 1L + h(b, a) % 3)).toSeq
    val got = Louvain.clusterLeiden(edges.toDF("src", "dst", "w"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet === (0L until 40L).toSet, "every node labeled once")
    assert(disconnectedComms(edges, got).isEmpty,
      "Leiden guarantee: no internally disconnected community")
    // refinement must not wreck quality: still beats the degenerate
    // partitions on modularity
    val q = modularity(edges, got)
    val qSingleton = modularity(edges, (0L until 40L).map(n => n -> n).toMap)
    val qOne = modularity(edges, (0L until 40L).map(n => n -> 0L).toMap)
    assert(q > qSingleton && q > qOne, s"q=$q singleton=$qSingleton one=$qOne")
    assert(q > 0.4, s"planted structure should survive refinement: $q")
    // and on the two-clique graph Leiden finds the same PARTITION as
    // Louvain (already connected — refinement only relabels each
    // community to its min member id)
    def parts(m: Map[Long, Long]): Set[Set[Long]] =
      m.toSeq.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val tc = Louvain.clusterLeiden(twoCliques.toDF("src", "dst", "w"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(parts(tc) === parts(
      Louvain.cluster(twoCliques.toDF("src", "dst", "w"), rounds = 4)
        .as[(Long, Long)].collect().toMap))
    // Leiden labels are canonical: each community labeled by a member
    tc.groupBy(_._2).foreach { case (comm, members) =>
      assert(members.keySet.contains(comm), s"label $comm not a member") }
  }

  test("shared level-1 labels: parquet round-trip feeds both tails bit-for-bit") {
    // q_communities / q_communities_leiden share ONE persisted level-1
    // run (GraphQueries.louvainL1); this pins that a parquet round-trip
    // of the labels leaves both tails identical to the monolithic
    // spellings — schema/nullability drift through the write would break
    // the joins silently otherwise
    val we = twoCliques.toDF("src", "dst", "w")
    val dir = java.nio.file.Files.createTempDirectory("graft_l1_spec")
    try {
      Louvain.localMove(we, rounds = 4)
        .write.mode("overwrite").parquet(dir.toString)
      val l1 = spark.read.parquet(dir.toString)
      assert(Louvain.clusterFromL1(we, l1, rounds = 4)
        .as[(Long, Long)].collect().toMap ===
        Louvain.cluster(we, rounds = 4).as[(Long, Long)].collect().toMap)
      assert(Louvain.clusterLeidenFromL1(we, l1, rounds = 4)
        .as[(Long, Long)].collect().toMap ===
        Louvain.clusterLeiden(we, rounds = 4).as[(Long, Long)].collect().toMap)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("community queries share one persisted level-1 run (fit once per fixture)") {
    // the returned plans checkpoint-truncate their lineage, so the pin is
    // at the artifact level: running either community query materializes
    // the fingerprint-keyed level-1 label store, and the shared-L1 census
    // equals the monolithic spelling exactly
    val sf = "/root/testdata/sf0.001"
    val gotL = graft.queries.GraphQueries.qCommunities(spark, sf)
      .as[(Long, Long)].collect().toMap
    val dir = ArtifactCache.dir(sf, "lineitem", "louvain_l1")
    assert(ArtifactCache.ready(dir),
      s"level-1 label store $dir should exist after a community query")
    val we = graft.queries.GraphQueries.supportedEdges(spark, sf)
      .withColumn("w", lit(1L))
    val expL = Louvain.cluster(we, rounds = 4)
      .groupBy(col("comm")).count().as[(Long, Long)].collect().toMap
    assert(gotL === expL, "shared-L1 census differs from monolithic Louvain")
    val gotLeiden = graft.queries.GraphQueries.qCommunitiesLeiden(spark, sf)
      .as[(Long, Long)].collect().toMap
    val expLeiden = Louvain.clusterLeiden(we, rounds = 4)
      .groupBy(col("comm")).count().as[(Long, Long)].collect().toMap
    assert(gotLeiden === expLeiden,
      "shared-L1 census differs from monolithic Leiden")
  }

  test("self-loops from aggregation carry their volume (m2 invariant)") {
    // aggregate the two-clique graph by a coarse labeling and check the
    // supergraph's total volume equals the original
    val we = twoCliques.toDF("src", "dst", "w")
    val l1 = Louvain.localMove(we, rounds = 4)
    val agg = Louvain.aggregateGraph(we, l1)
    // total weight is preserved by aggregation (intra-community edges
    // fold into self-loops, inter-community edges sum), so m2 = 2·Σw is
    // invariant — the property the level-2 gain formula relies on
    val m2orig = twoCliques.map(e => 2L * e._3).sum
    val m2agg = agg.select(sum(col("w") * 2)).as[Long].collect().head
    assert(m2agg === m2orig)
    // intra-community mass actually moved into self-loops
    assert(agg.filter(col("src") === col("dst")).count() >= 2L)
  }
}
