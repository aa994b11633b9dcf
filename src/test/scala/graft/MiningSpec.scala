package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{GraphQueries, SimilarityQueries}

/** Pins for the round-10 mining trio: fixed-point power-iteration PCA,
  * HITS hubs/authorities, and grid DBSCAN. PCA is checked against an
  * independent double-precision eigensolve (the integer fixed point must
  * CONVERGE, not just be deterministic); HITS against closed-form
  * structural facts on hand graphs; DBSCAN against conservation and
  * connectivity invariants replayed driver-side on the bounded cell
  * grid. */
class MiningSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ── PCA ────────────────────────────────────────────────────────────────

  test("qPca emits one max-normalized 64-dim integer eigenvector") {
    val rows = SimilarityQueries.qPca(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 64)
    assert(rows.map(_._1).sorted === (0L until 64L).toArray)
    val maxAbs = rows.map(x => math.abs(x._2)).max
    // max-norm scaling leaves the largest component within a whisker of 1e6
    assert(maxAbs <= 1000000L && maxAbs >= 990000L)
    // one explained-variance share, constant across rows, in (0, 1e6) ppm
    val shares = rows.map(_._3).distinct
    assert(shares.length === 1 && shares.head > 0 && shares.head < 1000000L)
  }

  test("qPca's integer fixed point converges to the true eigenvector") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = 64
    val n = vecs.length.toDouble
    val mean = Array.tabulate(d)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d) { (i, j) =>
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
    }
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 300) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val got = SimilarityQueries.qPca(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1).toDouble))
      .sortBy(_._1).map(_._2)
    val dot = (0 until d).map(i => got(i) * v(i)).sum
    val cos = math.abs(dot) /
      (math.sqrt(got.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
    assert(cos > 0.999, s"cosine to true eigenvector was $cos")
  }

  test("qPcaProject rolls up exact per-label PC1 projections") {
    val pc1 = SimilarityQueries.qPca(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0).toLong ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray)
    val projs = vecs.map { case (l, u) =>
      l -> (0 until 64).map(i => BigInt(u(i)) * BigInt(pc1(i))).sum }
    val expected = projs.groupBy(_._1).map { case (l, ps) =>
      val vals = ps.map(_._2)
      (l, vals.length.toLong, (vals.sum / vals.length).toLong,
        vals.min.toLong, vals.max.toLong)
    }.toSet
    val got = SimilarityQueries.qPcaProject(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === expected)
  }

  test("qPca is deterministic across runs") {
    val a = SimilarityQueries.qPca(spark, sf).collect().toSeq
    val b = SimilarityQueries.qPca(spark, sf).collect().toSeq
    assert(a.toSet === b.toSet)
  }

  // ── HITS ───────────────────────────────────────────────────────────────

  private def hits(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    GraphQueries.hitsScores(edges.toDF("src", "dst"), 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("star hub: the center is the unique best hub, leaves pure authorities") {
    // 0 -> 1, 0 -> 2, 0 -> 3
    val m = hits(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(m.size === 4)
    val (h0, a0) = m(0L)
    assert(a0 === 0L)          // nothing links TO the center
    assert(h0 > 0)
    for (leaf <- Seq(1L, 2L, 3L)) {
      val (hl, al) = m(leaf)
      assert(hl === 0L)        // leaves link to nothing
      assert(al === m(1L)._2)  // symmetric leaves score identically
      assert(al > 0)
    }
    assert(h0 > m(1L)._1)
  }

  test("chain: pure source has zero authority, pure sink zero hub") {
    val m = hits(Seq((10L, 11L), (11L, 12L)))
    assert(m(10L)._2 === 0L)   // no in-links
    assert(m(12L)._1 === 0L)   // no out-links
    assert(m(10L)._1 > 0 && m(12L)._2 > 0)
  }

  test("qHits covers exactly the purchase-path node set with bounded scores") {
    val rows = GraphQueries.qHits(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 1000000L &&
      r.getLong(2) >= 0 && r.getLong(2) <= 1000000L))
    // max-norm: the best hub and best authority sit near the 1e6 ceiling
    assert(rows.map(_.getLong(1)).max >= 500000L)
    assert(rows.map(_.getLong(2)).max >= 500000L)
  }

  // ── embedding outliers ─────────────────────────────────────────────────

  test("qEmbedOutliers equals an exact BigInt driver replay") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          BigInt(math.round(x.toDouble * 1e6))).toArray)
    val d = 64
    val n = BigInt(vecs.length)
    val su = Array.tabulate(d)(i => vecs.map(_._2(i)).sum)
    val squ = Array.tabulate(d)(i => vecs.map(v => v._2(i) * v._2(i)).sum)
    val den = Array.tabulate(d)(i => n * squ(i) - su(i) * su(i))
    val md2 = vecs.map { case (id, v) =>
      id -> (0 until d).filter(den(_) > 0).map { i =>
        val num = n * v(i) - su(i)
        (num * num * BigInt(1000000)) / den(i)
      }.sum
    }
    val expected = md2.sortBy { case (id, m) => (-m, id) }.take(20)
      .map { case (id, m) => (id, m.toLong) }.toSeq
    val got = SimilarityQueries.qEmbedOutliers(spark, sf)
      .orderBy(col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  // ── random walks ───────────────────────────────────────────────────────

  test("qRandomWalks emits valid, hash-replayable walks over real edges") {
    // rebuild the co-purchase adjacency driver-side from the fixture
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { rows =>
        val ps = rows.map(_._2).sorted
        for (i <- ps.indices; j <- i + 1 until ps.length if ps(i) != ps(j))
          yield (ps(i), ps(j))
      }.toSet
    val adj = (pairs.toSeq ++ pairs.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).distinct.sorted.toArray }
    val expected = adj.keys.filter(_ % 10 == 0).toSeq.flatMap { seed =>
      var cur = seed
      (seed, 0L, seed) +: (1 to 8).map { t =>
        val nbrs = adj(cur)
        val h = graft.functions.Md5Bits.hash60(s"$seed:$t:$cur")
        cur = nbrs((h % nbrs.length).toInt)
        (seed, t.toLong, cur)
      }
    }.toSet
    val got = GraphQueries.qRandomWalks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    // every consecutive hop is a real undirected co-purchase edge
    val byWalk = got.groupBy(_._1)
    for ((_, rows) <- byWalk) {
      val path = rows.toSeq.sortBy(_._2).map(_._3)
      assert(path.length === 9)
      for (Seq(a, b) <- path.sliding(2))
        assert(pairs(if (a < b) (a, b) else (b, a)),
          s"hop $a -> $b is not an edge")
    }
  }

  // ── differentially private release ─────────────────────────────────────

  test("qDpCounts noise equals the keyed-PRF Laplace replay, budget reported") {
    val truth = Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("nneg"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def lap(tag: String): Long = {
      val u = graft.functions.Md5Bits.hash60(tag).toDouble / math.pow(2, 60)
      val v = u - 0.5
      math.round(-1000.0 * 2.0 * math.signum(v) *
        math.log(math.max(1e-18, 1.0 - 2.0 * math.abs(v))))
    }
    val rows = graft.queries.PipelineQueries.qDpCounts(spark, sf).collect()
    assert(rows.length === truth.size)
    for (r <- rows) {
      val seg = r.getString(0)
      val (n, nneg) = truth(seg)
      assert(r.getLong(1) === n * 1000 + lap(s"dp:n:$seg"))
      assert(r.getLong(2) === nneg * 1000 + lap(s"dp:neg:$seg"))
      assert(r.getLong(3) === 1000L) // composed ε budget in milli
      // a Laplace(2) draw beyond ±42 units is below the 2^-60 PRF floor
      assert(math.abs(r.getLong(1) - n * 1000) <= 84000L)
    }
  }

  // ── k-center coreset ───────────────────────────────────────────────────

  test("qCoreset partitions the corpus among 32 spread representatives") {
    val rows = graft.queries.SimilarityQueries.qCoreset(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).distinct.length === rows.length,
      "representatives must be distinct vectors")
    assert(rows.map(_._3).sum === nVecs,
      "every corpus vector must be assigned to exactly one center")
    assert(rows.forall(_._4 >= 0.0))
    // greedy farthest-point spread: no center may sit inside another's
    // basin closer than it is to its own members at selection time —
    // weak but hand-checkable form: all 32 centers distinct => nonzero
    // pairwise distance, and at least one basin has > 1 member when
    // corpus > k
    if (nVecs > rows.length) assert(rows.exists(_._3 > 1))
  }

  // ── c-TF-IDF topic terms ───────────────────────────────────────────────

  test("qTopicTerms equals an exact driver-side c-TF-IDF replay") {
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tf = scala.collection.mutable.Map.empty[(Long, String), Long]
      .withDefaultValue(0L)
    for ((id, text) <- docs; c <- labels.get(id);
         t <- text.toLowerCase(java.util.Locale.ROOT)
           .split("[^a-z0-9]+") if t.nonEmpty)
      tf((c, t)) += 1
    val wc = tf.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ft = tf.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val am = wc.values.sum.toDouble / wc.size
    val idf = ft.map { case (t, f) =>
      t -> math.round(math.log(1.0 + am / f.toDouble) * 1e6) }
    val expected = tf.keys.groupBy(_._1).flatMap { case (c, keys) =>
      keys.toSeq.map { case (_, t) => (t, tf((c, t)) * idf(t) / wc(c)) }
        .sortBy { case (t, sc) => (-sc, t) }.take(5).zipWithIndex
        .map { case ((t, sc), i) => (c, t, sc, i + 1L) }
    }.toSet
    val got = graft.queries.TextQueries.qTopicTerms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
  }

  // ── A-ES weighted sample without replacement ───────────────────────────

  test("qSampleEs draws the exact top-k A-ES keys, fixed size, no repeats") {
    val rows = graft.queries.TextQueries.qSampleEs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.length === 50)
    assert(rows.map(_._1).distinct.length === 50) // without replacement
    // exact replay of the derandomized key rule
    val keyed = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map { r =>
        val id = r.getLong(0)
        val u = (graft.functions.Md5Bits.hash60(s"es:$id").toDouble + 1.0) /
          math.pow(2, 60)
        (id, r.getLong(1), math.log(u) / r.getLong(1).toDouble)
      }
    val expected = keyed.sortBy(t => (-t._3, t._1)).take(50)
      .zipWithIndex.map { case ((id, n, _), i) => (id, n, i + 1L) }.toSeq
    assert(rows.sortBy(_._3).toSeq === expected)
  }

  // ── asymmetric containment ─────────────────────────────────────────────

  test("containment prefix filter is lossless vs the naive ordered join") {
    import graft.queries.DedupQueries
    val sh = Tables.documents(spark, sf).select(col("doc_id"),
      explode(graft.functions.Shingles.shingles(col("text"), 3)).as("sh"))
    val fast = DedupQueries.containmentPrefix(sh, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = SetSimNaive.containment(sh, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast === naive)
  }

  test("containment catches a subset-dup that symmetric Jaccard misses") {
    import graft.queries.DedupQueries
    // doc 100 = first 4 tokens of doc 200's 40 tokens: containment(A in B)
    // = 1.0 but Jaccard ≈ 2/38 — the quote/excerpt case
    val a = "alpha beta gamma delta"
    val b = ("alpha beta gamma delta " +
      (1 to 36).map(i => s"w$i").mkString(" "))
    val sh = Seq((100L, a), (200L, b)).toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(graft.functions.Shingles.shingles(col("text"), 3)).as("sh"))
    val got = DedupQueries.containmentPrefix(sh, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq === Seq((100L, 200L, 1.0)))
    val jac = DedupQueries.ngramJaccardPrefix(sh, 0.8).collect()
    assert(jac.isEmpty)
  }

  // ── TextRank keywords ──────────────────────────────────────────────────

  test("qTextrank equals an exact integer driver replay of weighted PageRank") {
    val docs = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0))
    val w = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    for (text <- docs) {
      val t = text.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      for (i <- 0 until t.length - 1 if t(i) != t(i + 1)) {
        w((t(i), t(i + 1))) += 1; w((t(i + 1), t(i))) += 1
      }
    }
    val wd = w.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    var pr = wd.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 8) {
      val sc = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for (((u, v), wt) <- w) sc(v) += wt * 850 * pr(u) / (1000 * wd(u))
      pr = wd.keys.map(k => k -> (150000L + sc(k))).toMap
    }
    val expected = pr.toSeq.sortBy { case (k, p) => (-p, k) }.take(20)
      .zipWithIndex.map { case ((k, p), i) => (k, p, i + 1L) }.toSet
    val got = graft.queries.TextQueries.qTextrank(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  // ── Markov attribution ─────────────────────────────────────────────────

  test("qAttributionMarkov equals an independent driver-side chain solve") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = evs.groupBy(_._1)
    val chans = Seq("view", "click", "signup", "error")
    val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    for ((_, rows) <- byUser) {
      val ordered = rows.sortBy(r => (r._2, r._3))
      val firstP = ordered.find(_._4 == "purchase")
      val journey = firstP match {
        case Some(p) => ordered.takeWhile(r => (r._2, r._3) != ((p._2, p._3)))
          .filter(_._4 != "purchase")
        case None => ordered.filter(_._4 != "purchase")
      }
      val terminal = if (firstP.isDefined) "CONV" else "NULL"
      val path = "START" +: journey.map(_._4).toSeq :+ terminal
      for (Seq(a, b) <- path.sliding(2)) cnt((a, b)) += 1
    }
    val states = "START" +: chans
    val total = states.map(st =>
      st -> cnt.collect { case ((a, _), v) if a == st => v }.sum).toMap
    def solve(removed: Option[String]): Long = {
      var p = states.map(_ -> 0L).toMap
      for (_ <- 1 to 24) p = states.map { st =>
        val tot = total(st)
        st -> (if (tot == 0L) 0L
        else (cnt((st, "CONV")) * 1000000L +
          chans.filterNot(removed.contains)
            .map(c => cnt((st, c)) * p(c)).sum) / tot)
      }.toMap
      p("START")
    }
    val pFull = solve(None)
    val rems = chans.map(c => (c, pFull - solve(Some(c))))
    val trem = rems.map(_._2).sum
    val expected = rems.map { case (c, r) =>
      (c, pFull, pFull - r, r, r * 1000000L / trem) }.toSet
    val got = graft.queries.EventQueries.qAttributionMarkov(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === expected)
    // removal effects are nonnegative and p_full sits in (0, 1e6]
    assert(rems.forall(_._2 >= 0) && pFull > 0 && pFull <= 1000000L)
  }

  // ── grid DBSCAN ────────────────────────────────────────────────────────

  test("qDbscanGrid conserves points and emits exactly one noise row") {
    val rows = SimilarityQueries.qDbscanGrid(spark, sf).collect()
    val noise = rows.filter(_.getLong(0) == -1L)
    assert(noise.length === 1)
    val total = rows.map(r => r.getLong(2) + r.getLong(3) + r.getLong(4)).sum
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(total === nVecs, "core + border + noise must partition the points")
    // cluster rows carry no noise count; the noise row carries nothing else
    assert(rows.filter(_.getLong(0) != -1L).forall(_.getLong(4) == 0L))
    assert(noise.head.getLong(1) == 0L && noise.head.getLong(2) == 0L &&
      noise.head.getLong(3) == 0L)
  }

  test("every DBSCAN cluster's core cells induce a connected subgraph") {
    // replay the grid driver-side (bounded: |cells| ≤ a few hundred)
    val cells = Tables.embeddings(spark, sf)
      .select(
        floor(element_at(col("embedding"), 1).cast("double") * 20)
          .cast("long").as("cx"),
        floor(element_at(col("embedding"), 2).cast("double") * 20)
          .cast("long").as("cy"))
      .groupBy("cx", "cy").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val core = cells.filter(_._2 >= 5).keySet
    // flood fill over 8-adjacency
    var comp = Map.empty[(Long, Long), Int]
    var next = 0
    for (c <- core.toSeq.sorted if !comp.contains(c)) {
      var frontier = List(c); comp += c -> next
      while (frontier.nonEmpty) {
        val u = frontier.head; frontier = frontier.tail
        for (dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0) {
          val v = (u._1 + dx, u._2 + dy)
          if (core(v) && !comp.contains(v)) { comp += v -> next; frontier ::= v }
        }
      }
      next += 1
    }
    val expected = comp.groupBy(_._2).map { case (_, cs) =>
      (cs.size, cs.keys.toSeq.map(c => cells(c)).sum)
    }.toSet
    val got = SimilarityQueries.qDbscanGrid(spark, sf).collect()
      .filter(_.getLong(0) != -1L)
      .map(r => (r.getLong(1).toInt, r.getLong(2))).toSet
    assert(got === expected,
      "cluster (n_cells, n_core_pts) census must equal the flood-fill replay")
  }
}
