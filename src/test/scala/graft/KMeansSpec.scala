package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KMeans

class KMeansSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // 5 well-separated clusters of 20 perturbed copies each
  private lazy val (vecs, trueCluster) = {
    val r = new Random(7)
    val dim = 16
    val centers = Array.fill(5)(Array.fill(dim)(r.nextGaussian() * 3))
    val rows = for { c <- centers.indices; i <- 0 until 20 } yield {
      val v = centers(c).map(_ + 0.05 * r.nextGaussian())
      ((c * 20 + i).toLong, v.toSeq)
    }
    (rows.toDF("id", "v"), (id: Long) => id / 20)
  }

  test("kmeans recovers well-separated clusters") {
    val centroids = KMeans.fit(vecs, k = 5, iterations = 5)
    assert(centroids.count() === 5)
    val assigned = KMeans.assign(vecs, centroids)
      .select($"id", $"cluster").as[(Long, Long)].collect()
    // every true cluster maps to exactly one learned cluster (purity 1.0
    // on this separation)
    val byTrue = assigned.groupBy { case (id, _) => trueCluster(id) }
    byTrue.foreach { case (_, members) =>
      assert(members.map(_._2).distinct.length === 1,
        s"true cluster split across learned clusters: $members")
    }
    assert(assigned.map(_._2).distinct.length === 5)
  }

  test("ivf search with nProbe=1 finds in-cluster neighbors; full probe = brute force") {
    val centroids = KMeans.fit(vecs, k = 5, iterations = 5)
    val queries = vecs.filter($"id" % 20 === 0) // one query per cluster
    val ann = KMeans.ivfSearch(vecs, queries, centroids, k = 3, nProbe = 1)
      .select($"qid", $"nid").as[(Long, Long)].collect()
    assert(ann.nonEmpty)
    // with separation this strong, every neighbor is from the query's cluster
    ann.foreach { case (q, n) =>
      assert(trueCluster(q) === trueCluster(n), s"($q, $n) crosses clusters")
    }
    // probing every cell must equal exact brute force
    val full = KMeans.ivfSearch(vecs, queries, centroids, k = 3, nProbe = 5)
      .select($"qid", $"nid", $"rnk").as[(Long, Long, Int)].collect().toSet
    val data = vecs.as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val brute = (for {
      (q, qv) <- data if q % 20 == 0
      ((n, sim), i) <- data.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, sim) => (-sim, n) }.take(3).zipWithIndex
    } yield (q, n, i + 1)).toSet
    assert(full === brute)
  }

  test("fitProduct codebook j equals fit on slice j bit for bit") {
    val (m, subDim, k, iters) = (4, 4, 3, 3)
    val books = KMeans.fitProduct(vecs, m = m, subDim = subDim, k = k,
      iterations = iters)
    assert(books.size === m)
    def rows(c: org.apache.spark.sql.DataFrame) =
      c.select($"cluster", $"c").as[(Long, Seq[Double])].collect().sortBy(_._1)
        .map { case (cl, cv) => (cl, cv.map(java.lang.Double.doubleToRawLongBits)) }
        .toSeq
    for (j <- 0 until m) {
      val sliced = vecs.select($"id",
        org.apache.spark.sql.functions.slice($"v", j * subDim + 1, subDim).as("v"))
      val single = KMeans.fit(sliced, k = k, iterations = iters)
      val got = rows(books(j))
      assert(got.size === k)
      assert(got === rows(single), s"subspace $j codebook differs from fit on its slice")
    }
  }
}
