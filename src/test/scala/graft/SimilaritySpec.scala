package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.queries.SimilarityQueries

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("heap-aggregator knn is row-identical to windowed brute force") {
    val brute = SimilarityQueries.qKnnBrute(spark, sf)
      .as[(Long, Long, Int, Double)].collect().toSet
    val heap = SimilarityQueries.qKnnHeap(spark, sf)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(heap === brute)
    assert(brute.nonEmpty)
  }

  test("cosine column math matches plain scala") {
    val df = Seq((0L, Seq(1.0, 2.0, 2.0)), (1L, Seq(2.0, 1.0, 2.0)))
      .toDF("vec_id", "v")
    val a = df.as("a").filter($"vec_id" === 0).select($"v".as("va"))
    val b = df.as("b").filter($"vec_id" === 1).select($"v".as("vb"))
    val sim = a.crossJoin(b).select(cosine($"va", $"vb")).head().getDouble(0)
    // (2+2+4)/(3*3) = 8/9
    assert(math.abs(sim - 8.0 / 9.0) < 1e-12)
  }

  test("LSH ANN has high top-1 recall on clustered vectors") {
    // 10 well-separated clusters of 20 slightly-perturbed copies: every
    // vector's true nearest neighbor is in its own cluster. Sign-random-
    // projection buckets must recover most of them.
    val r = new Random(42)
    val dim = 32
    val centers = Array.fill(10)(Array.fill(dim)(r.nextGaussian()))
    val rows = for {
      c <- centers.indices
      i <- 0 until 20
    } yield {
      val v = centers(c).map(_ + 0.08 * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      ((c * 20 + i).toLong, v.map(_ / n).toSeq)
    }
    val df = rows.toDF("vec_id", "v")

    val ann = SimilarityQueries.annLsh(df, nBits = 16, bands = 4, k = 1,
      queryFilter = lit(true), dims = dim)
      .filter($"rnk" === 1)
      .select($"qid", $"nid").as[(Long, Long)].collect()

    // recall proxy: the reported top-1 must be from the query's cluster
    val sameCluster = ann.count { case (q, n) => q / 20 == n / 20 }
    assert(ann.length >= 190, s"only ${ann.length} queries got a neighbor")
    assert(sameCluster.toDouble / ann.length >= 0.95,
      s"cluster recall ${sameCluster.toDouble / ann.length}")
  }

  test("PQ-ADC ANN: exact reranked distances, recall well above chance") {
    // exact L2 top-5 per query, driver-recomputed from the raw parquet
    val raw = Tables.embeddings(spark, sf)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var aa = 0.0; var ab = 0.0; var bb = 0.0
      for (i <- a.indices) aa += a(i) * a(i)
      for (i <- a.indices) ab += a(i) * b(i)
      for (i <- b.indices) bb += b(i) * b(i)
      aa - 2 * ab + bb
    }
    val queries = raw.keys.filter(_ < 20L).toSeq.sorted
    val exactTop = queries.flatMap { qid =>
      raw.toSeq.filter(_._1 != qid)
        .map { case (nid, v) => (nid, d2(raw(qid), v)) }
        .sortBy { case (nid, d) => (d, nid) }.take(5)
        .map { case (nid, _) => (qid, nid) }
    }.toSet

    val got = SimilarityQueries.qAnnPq(spark, sf)
      .select($"qid", $"nid", $"rnk", $"dist_r")
      .as[(Long, Long, Int, Double)].collect()
    // structure: every query gets exactly K ranked rows
    assert(got.length === queries.length * 5)
    queries.foreach { qid =>
      assert(got.filter(_._1 == qid).map(_._3).sorted.toSeq === (1 to 5))
    }
    // the refine stage reports TRUE distances: each dist_r must equal the
    // driver-recomputed exact d2 of that pair at the 6dp contract
    got.foreach { case (qid, nid, _, dr) =>
      val e = BigDecimal(d2(raw(qid), raw(nid)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(e - dr) <= 1e-6, s"($qid,$nid): $dr vs exact $e")
    }
    // recall@5 vs exact: the corpus is structureless (same-label and
    // cross-label distances both ≈2.0 — the quantizer's worst case), so
    // the bar is "far above the C/N ≈ 0.1 chance line", not LSH-on-
    // clusters territory. Deterministic (md5-seeded training): measured
    // 0.51 at this sf, floor pinned at 0.4.
    val hits = got.map(r => (r._1, r._2)).toSet.intersect(exactTop).size
    val recall = hits.toDouble / exactTop.size
    assert(recall >= 0.4, s"PQ rerank recall@5 $recall < 0.4")
  }

  test("codegen dot product equals interpreted fold bit-for-bit") {
    val df = Tables.embeddings(spark, sf).limit(100)
      .select(asDouble($"embedding").as("v"))
    val both = df.select(
      graft.functions.DotProduct.dot($"v", $"v").as("fast"),
      dot($"v", $"v").as("slow")).collect()
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("int8 quantization: bounded error and high knn agreement") {
    val vd = Tables.embeddings(spark, sf)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("scale", i8Scale($"v"))
      .withColumn("q", quantizeI8($"v", $"scale"))
      .withColumn("vq", dequantizeI8($"q", $"scale"))
    // reconstruction error per component <= scale/2 (+ float slack)
    val bad = vd.select(
      aggregate(zip_with($"v", $"vq", (a, b) => abs(a - b)), lit(0.0),
        (acc, x) => greatest(acc, x)).as("maxerr"), $"scale")
      .filter($"maxerr" > $"scale" * 0.5 + 1e-12).count()
    assert(bad === 0)
    // top-1 neighbor agreement between full and quantized similarity
    def top1(col1: String) = {
      val x = vd.select($"vec_id".as("id"), org.apache.spark.sql.functions.col(col1).as("w"))
      val q = x.filter($"id" < 20).select($"id".as("qid"), $"w".as("qw"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"sim".desc, $"id".asc)
      x.join(broadcast(q), $"id" =!= $"qid")
        .select($"qid", $"id",
          graft.functions.DotProduct.dot($"qw", $"w").as("sim"))
        .withColumn("r", row_number().over(w)).filter($"r" === 1)
        .select($"qid", $"id").as[(Long, Long)].collect().toMap
    }
    val full = top1("v")
    val quant = top1("vq")
    val agree = full.count { case (q, n) => quant.get(q).contains(n) }
    assert(agree >= (full.size * 0.9).toInt,
      s"only $agree/${full.size} top-1 agree after int8 quantization")
  }

  test("srp sketch is deterministic across evaluations") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val a = df.select($"vec_id", srpSketch($"v", 16, 64).as("sk"))
      .as[(Long, Long)].collect().toMap
    val b = df.select($"vec_id", srpSketch($"v", 16, 64).as("sk"))
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("zero-norm vectors never crash cosine paths (ANSI divide-by-zero)") {
    // under Spark's default ANSI mode an unguarded double division by
    // zero THROWS — a single all-zero embedding must instead be excluded
    // (LSH) or ranked last (IVF), never abort the query
    val dim = 8
    val r = new Random(3)
    val rows = (0L until 30L).map(i => (i, Seq.fill(dim)(r.nextGaussian()))) :+
      (30L, Seq.fill(dim)(0.0))
    val df = rows.toDF("vec_id", "v")

    val lsh = SimilarityQueries.annLsh(df, nBits = 16, bands = 4, k = 3,
      queryFilter = lit(true), dims = dim).collect()
    assert(lsh.nonEmpty)
    assert(!lsh.exists(row => row.getLong(0) == 30L || row.getLong(1) == 30L),
      "zero vector must not appear as query or neighbor in LSH results")

    val vecs = df.select($"vec_id".as("id"), $"v")
    val cents = graft.operators.KMeans.fit(
      vecs.filter($"id" =!= 30L), k = 4, iterations = 1)
    val ivf = graft.operators.KMeans.ivfSearch(
      vecs, vecs.filter($"id" < 5), cents, k = 3, nProbe = 4)
    // must evaluate without throwing; zero vector may appear with null
    // sim only if fewer than k finite candidates exist in probed cells
    val got = ivf.collect()
    assert(got.nonEmpty)
  }

  test("md5-derived hash60: JVM spelling equals the column spelling") {
    val samples = Seq("", "a", "the quick brown fox", "0|tok en", "é¿unicode",
      "15,63") ++ (0 until 50).map(i => s"s$i")
    val df = samples.toDF("s")
      .select($"s", graft.functions.Md5Bits.hash60($"s").as("h"))
      .as[(String, Long)].collect().toMap
    samples.foreach { s =>
      assert(df(s) === graft.functions.Md5Bits.hash60(s), s"mismatch for '$s'")
      assert(df(s) >= 0L, "hash60 must be non-negative")
    }
  }

  test("spatial grid join equals the naive all-pairs epsilon join") {
    val got = graft.queries.SimilarityQueries.qSpatialJoin(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("pid_a"), r.getAs[Long]("pid_b"),
        r.getAs[Double]("dist_r"))).toSet
    // naive quadratic reference on the driver, same double arithmetic
    val pts = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1)(0).toDouble, r.getSeq[Float](1)(1).toDouble))
    val want = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) if d2 <= 1e-4
    } yield (ia, ib,
      new java.math.BigDecimal(math.sqrt(d2))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // every pair found in exactly ONE cell (no dedup artifacts): set
    // cardinality equals the raw row count
    assert(got.size ===
      graft.queries.SimilarityQueries.qSpatialJoin(spark, sf).count())
  }

  test("rrf fusion equals a driver-side recomputation of both rankings") {
    val got = graft.queries.SimilarityQueries.qRrf(spark, sf)
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf_micro")))
    assert(got.length === 20)
    // lexical ranking: tf of the keyword, desc, id asc, top 50
    val lexRank = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0),
        graft.functions.TextFunctions.tokenize(r.getString(1)).count(_ == "join").toLong))
      .filter(_._2 > 0).sortBy { case (id, tf) => (-tf, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // vector ranking: cosine to vec 0 (left-to-right fold), desc, id asc
    val es = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val qv = es.find(_._1 === 0L).get._2
    val qn = math.sqrt(dot(qv, qv))
    val vecRank = es.filter(_._1 != 0L)
      .map { case (id, v) => (id, dot(qv, v) / (qn * math.sqrt(dot(v, v)))) }
      .filter(p => !p._2.isNaN)
      .sortBy { case (id, sim) => (-sim, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    def contrib(r: Option[Long]): Long =
      r.map(rk => math.round(1e6 / (60 + rk))).getOrElse(0L)
    val want = (lexRank.keySet ++ vecRank.keySet).toSeq
      .map(id => (id, contrib(lexRank.get(id)) + contrib(vecRank.get(id))))
      .sortBy { case (id, m) => (-m, id) }.take(20)
    assert(got.toSeq === want)
  }

  test("feature-scale fit matches a driver-side recomputation per dim") {
    val got = graft.queries.SimilarityQueries.qFeatureScale(spark, sf)
      .orderBy("dim").collect()
    val es = Tables.embeddings(spark, sf).select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    assert(got.length === es.head.length)
    def r6(x: Double) = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    got.foreach { r =>
      val dim = r.getAs[Long]("dim").toInt
      val us = es.map(v => math.round(v(dim).toDouble * 1e6))
      val n = us.length.toLong
      val su = us.sum
      val squ = us.map(u => BigInt(u) * BigInt(u)).sum
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Long]("min_u") === us.min)
      assert(r.getAs[Long]("max_u") === us.max)
      assert(r.getAs[Double]("mean_r") === r6(su.toDouble / 1e6 / n))
      val varNum = (BigInt(n) * squ - BigInt(su) * BigInt(su)).toDouble
      assert(r.getAs[Double]("std_r") === r6(math.sqrt(varNum / (n.toDouble * n)) / 1e6))
    }
  }

  test("semdedup: drop rule equals a driver-side within-cluster sweep") {
    val out = SimilarityQueries.qSemdedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("kept")))
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    assert(out.length === corpus.size) // one verdict per vector
    assert(out.forall(r => r._3 == 0L || r._3 == 1L))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = out.groupBy(_._2)
    // dominance recomputed independently: dropped ⇔ some earlier
    // cluster-mate is within τ (the engine's exact rule, re-derived)
    byCluster.values.foreach { members =>
      val ids = members.map(_._1).sorted
      members.foreach { case (id, _, kept) =>
        val dominated = ids.exists(o =>
          o < id && cos(corpus(o), corpus(id)) > 0.35)
        assert(kept === (if (dominated) 0L else 1L),
          s"vector $id kept=$kept but dominated=$dominated")
      }
    }
    // the lowest id of every cluster can never be dominated
    byCluster.values.foreach { members =>
      val minId = members.map(_._1).min
      assert(members.find(_._1 == minId).get._3 === 1L)
    }
    // and the fixture actually exercises both branches
    assert(out.exists(_._3 == 0L) && out.count(_._3 == 1L) > out.length / 2)
  }

  test("semdedup keep-farthest: survivors pairwise below tau, drops justified") {
    val out = SimilarityQueries.qSemdedupKeep(spark, sf).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("kept")))
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    assert(out.length === corpus.size)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    out.groupBy(_._2).values.foreach { members =>
      val kept = members.filter(_._3 == 1L).map(_._1)
      // of two cosine-τ cluster-mates one always outranks the other, so
      // no similar pair can both survive — the policy's core guarantee
      for (a <- kept; b <- kept if a < b)
        assert(cos(corpus(a), corpus(b)) <= 0.35,
          s"survivors $a,$b exceed tau in one cluster")
      // every drop is justified by SOME cosine-τ cluster-mate
      members.filter(_._3 == 0L).foreach { case (id, _, _) =>
        assert(members.exists(m => m._1 != id &&
          cos(corpus(m._1), corpus(id)) > 0.35), s"vector $id dropped unjustified")
      }
    }
    // both policies agree on HOW MANY survive per cluster? Not in
    // general — but both must exercise both branches on this fixture
    assert(out.exists(_._3 == 0L) && out.count(_._3 == 1L) > out.length / 2)
  }

  test("semdedup k auto-scales: demo k through the oracle tiers, linear past it") {
    // ≤ 100k vectors (every tier through sf3) runs the demo k=16, so the
    // registered static oracle stays byte-exact there; past the bound k
    // steps +16 per 100k — average cell size stays ≈ 6k rows and the
    // within-cell pair volume grows linearly in n, never quadratically
    assert(SimilarityQueries.semK(1) === 16)
    assert(SimilarityQueries.semK(100000) === 16)
    assert(SimilarityQueries.semK(100001) === 32)
    assert(SimilarityQueries.semK(200000) === 32) // sf10's corpus
    assert(SimilarityQueries.semK(1000000) === 160)
    // the registered oracle SQL is exactly the demo-k instance of the
    // parameterized generator SimilarityQueries.fixtureOracles respells
    // for larger tiers
    assert(SimilarityQueries.qSemdedupSql ===
      SimilarityQueries.qSemdedupSqlFor(16))
    assert(SimilarityQueries.qSemdedupKeepSql ===
      SimilarityQueries.qSemdedupKeepSqlFor(16))
  }

  test("Verify registers the k-faithful semdedup oracle for the fixture") {
    // oracleSqlFor respells the SemDeDup replay at the engine's own
    // semK(n) — at this fixture (n ≤ 100k) that is the static k=16
    // string, and the override is exactly generator(semK(count))
    val n = Tables.embeddings(spark, sf).count()
    val reg = SparkEntry.oracleSqlFor(spark, sf)
    assert(reg("q_semdedup") ===
      SimilarityQueries.qSemdedupSqlFor(SimilarityQueries.semK(n)))
    assert(reg("q_semdedup_keep") ===
      SimilarityQueries.qSemdedupKeepSqlFor(SimilarityQueries.semK(n)))
    assert(reg("q_semdedup") === SimilarityQueries.qSemdedupSql)
    assert(reg("q_semdedup_keep") === SimilarityQueries.qSemdedupKeepSql)
    // every other registration passes through untouched
    assert((SparkEntry.oracleSql - "q_semdedup" - "q_semdedup_keep") ===
      (reg - "q_semdedup" - "q_semdedup_keep"))
  }

  test("knn classification equals a driver-side majority vote over the knn rows") {
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label".cast("long")).as[(Long, Long)].collect().toMap
    val nn = SimilarityQueries.qKnnBrute(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect()
    val out = SimilarityQueries.qKnnClassify(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("true_label"), r.getAs[Long]("pred_label"),
          r.getAs[Long]("n_votes"), r.getAs[Long]("correct"))).toMap
    assert(out.size === nn.map(_._1).distinct.length)
    nn.groupBy(_._1).foreach { case (qid, rows) =>
      val votes = rows.map(r => labels(r._2)).groupBy(identity)
        .map { case (l, v) => (l, v.size.toLong) }
      val (predLabel, nVotes) = votes.maxBy { case (l, c) => (c, l) }
      val (tl, pl, nv, c) = out(qid)
      assert(tl === labels(qid) && pl === predLabel && nv === nVotes)
      assert(c === (if (tl == pl) 1L else 0L))
    }
    // the probe isn't vacuous: some queries classify correctly
    assert(out.values.exists(_._4 == 1L))
  }

  test("cluster purity: members partition the corpus, purity bounded sane") {
    val rows = SimilarityQueries.qClusterPurity(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_members"),
        r.getAs[Long]("n_top"), r.getAs[Double]("purity_r")))
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum === n)          // cells partition the corpus
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.foreach { case (_, m, t, p) =>
      assert(t >= 1L && t <= m)
      assert(p > 0.0 && p <= 1.0)
      // purity can never undercut the uniform-label floor of 1/m
      assert(p >= 1.0 / m - 1e-9)
    }
  }
  test("IVF-PQ composed index: audited recall is real and internally consistent") {
    val r = graft.queries.SimilarityQueries.qIvfPqRecall(spark, sf).head()
    val nq = r.getAs[Long]("n_queries")
    val hits = r.getAs[Long]("total_hits")
    assert(nq > 0 && hits >= 0 && hits <= nq * 5)
    val mean = r.getAs[Double]("mean_recall")
    assert(math.abs(mean - hits.toDouble / (nq * 5)) < 1e-6)
    // structureless fixture: the composed index must still beat chance
    // by a wide margin (random top-5 of ~N rows would be ~5/N)
    assert(mean >= 0.2, s"IVF-PQ recall $mean below sanity floor")
    // the composed result is a valid top-k: K rows per query, ranked
    val ann = graft.queries.SimilarityQueries.qAnnIvfPq(spark, sf).collect()
    val perQ = ann.groupBy(_.getAs[Long]("qid"))
    perQ.values.foreach { rows =>
      assert(rows.length <= 5)
      val ds = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("dist_r"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b + 1e-9 },
        "refined distances must be non-decreasing in rank")
    }
  }

  test("persisted-index serving equals in-query training bit-for-bit") {
    val serve = graft.queries.SimilarityQueries.qAnnServe(spark, sf)
    // the serve plan must read ONLY the persisted index tables: no scan
    // of the source embeddings, no KMeans training stages
    val plan = serve.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ann_index_"),
      "serve plan should scan the persisted index")
    assert(!plan.contains("embeddings.parquet"),
      "serve plan must not rescan the source embeddings")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Int]("rnk"))
    val got = serve.collect().map(r => key(r) ->
      (r.getAs[Long]("nid"), r.getAs[Double]("dist_r"))).toMap
    val exp = graft.queries.SimilarityQueries.qAnnIvfPqTrained(spark, sf)
      .collect().map(r => key(r) ->
        (r.getAs[Long]("nid"), r.getAs[Double]("dist_r"))).toMap
    assert(got === exp, "served top-k differs from the trained-in-query top-k")
  }

  test("ANN audit queries serve from the persisted index, never retraining") {
    // the fit-once discipline (VERDICT r13 #2): q_ann_ivfpq and q_ann_pq
    // read ONLY the persisted index artifacts — no source-embeddings scan,
    // no KMeans training stage in the served plan
    for (q <- Seq(graft.queries.SimilarityQueries.qAnnIvfPq(spark, sf),
                  graft.queries.SimilarityQueries.qAnnPq(spark, sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_ann_index_"),
        "audit plan should scan the persisted index")
      assert(!plan.contains("embeddings.parquet"),
        "audit plan must not rescan the source embeddings")
    }
    // the recall audit's ANN half reads the index too (its brute-force
    // ground-truth half necessarily scans the raw embeddings)
    val recallPlan = graft.queries.SimilarityQueries.qIvfPqRecall(spark, sf)
      .queryExecution.executedPlan.toString
    assert(recallPlan.contains("graft_ann_index_"),
      "recall audit's ANN side should serve from the persisted index")
    // and the persisted-serve PQ result equals a fresh train+encode+serve
    def keyPq(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Int]("rnk"))
    val got = graft.queries.SimilarityQueries.qAnnPq(spark, sf).collect()
      .map(r => keyPq(r) -> (r.getAs[Long]("nid"), r.getAs[Double]("dist_r")))
      .toMap
    val exp = graft.queries.SimilarityQueries.qAnnPqTrained(spark, sf).collect()
      .map(r => keyPq(r) -> (r.getAs[Long]("nid"), r.getAs[Double]("dist_r")))
      .toMap
    assert(got === exp, "persisted-serve PQ differs from trained-in-query PQ")
  }

  test("ANN upsert: re-encode-not-refit serves base+delta, never rescanning base embeddings") {
    val up = graft.queries.SimilarityQueries.qAnnUpsert(spark, sf)
    val plan = up.queryExecution.executedPlan.toString
    // the served plan reads the PERSISTED base artifacts…
    assert(plan.contains("graft_ann_index_"),
      "upsert plan should scan the persisted base index")
    // …and touches the source table only for the delta slice: every
    // embeddings scan must carry the pushed range predicate
    val embScans = plan.split("FileScan").filter(_.contains("embeddings.parquet"))
    assert(embScans.nonEmpty, "delta slice should come from the source table")
    embScans.foreach(sc => assert(sc.contains("GreaterThanOrEqual(vec_id"),
      "an embeddings scan without the delta range filter rescans the base"))
    // upserted vectors BECOME CANDIDATES (the failure mode a dead
    // encodeSrc parameter would cause): sf0.001 has 500 vectors, split
    // 4·499/5 = 399, and the delta is 20% of the corpus — some top-k
    // neighbor must be a delta id (deterministic fixture, fixed plan)
    val split = 4L * 499 / 5
    val rows = up.collect()
    assert(rows.exists(_.getAs[Long]("nid") >= split),
      s"no neighbor with id >= $split: upserted vectors never became candidates")
    // valid ranked top-k per query
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      assert(rs.length <= 5)
      val ds = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("dist_r"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b + 1e-9 })
    }
    // oracle replay exercises the round-11 hooks with NON-default args:
    // training on the base subset, encode + LUT + serve over vsall (the
    // encJ fix — a regression back to vs$j would silently drop deltas)
    val sql = SparkEntry.oracleSql("q_ann_upsert")
    assert(sql.contains("vsall AS MATERIALIZED"))
    assert(sql.contains("// 5"))
    assert(sql.contains("FROM va0 e") && sql.contains("FROM va3 q"),
      "PQ encode/LUT CTEs must slice encodeSrc, not the base vs")
  }
}
