package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, Md5Bits}

/** Lloyd's k-means over an embedding column, plus the IVF
  * (inverted-file) approximate nearest-neighbor search it trains — the
  * other standard ANN family next to LSH (`SimilarityQueries.annLsh`).
  *
  * Training (fit): deterministic oversample-and-spread init (the
  * k-means|| endgame shape, Bahmani et al. VLDB 2012): hash-sample 4k
  * vectors in one top-k pass, then greedy farthest-point selection over
  * that driver-sized oversample — reproducible across runs and
  * executors, seeds spread across the data's extent, no global sort.
  * Then `iterations` rounds of assign (k centroids as plan-time
  * literals, one codegen'd distance scan) + recompute (posexplode → one
  * grouped aggregation per (cluster, dim)). The centroid table (k·dim
  * doubles) stays on the driver between rounds, so every round plans
  * fresh literals over the raw corpus: no per-round localCheckpoint,
  * unlike PageRank/ConnectedComponents, whose per-round state is
  * corpus-sized.
  *
  * Search (ivfSearch): corpus rows are bucketed by nearest centroid (the
  * inverted file); a query probes only its `nProbe` nearest cells, so the
  * scan touches ~nProbe/k of the corpus instead of all of it — the
  * recall/cost dial of every production vector index.
  */
object KMeans {

  /** The k centroids, collected to the driver (k rows by construction)
    * and embedded as per-centroid literal score columns: for a vector
    * column `v`, centroid c scores `c·c - 2·v·c` — the squared-L2
    * argmin key (the row-constant `v·v` term cancels in comparisons).
    * Each entry is `struct(score, cluster)`, so struct ordering = score
    * asc, tie-break cluster asc. */
  private[graft] def centroidScores(centroids: DataFrame,
      v: Column): Seq[Column] =
    centroidScoresOf(
      centroids.select(col("cluster"), col("c")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq, v)

  private[graft] def centroidScoresOf(cents: Seq[(Long, Seq[Double])],
      v: Column): Seq[Column] =
    cents.sortBy(_._1)
      .map { case (cl, cv) =>
        // same left-to-right fold as DotProduct.dot → bit-identical c·c
        val c2 = cv.foldLeft(0.0)((a, x) => a + x * x)
        struct((lit(c2) - lit(2.0) * DotProduct.dot(v, typedlit(cv))).as("d"),
          lit(cl).as("cluster"))
      }

  /** The winning `struct(d, cluster)` of a literal score list: score
    * asc, tie-break cluster asc (`least` needs two or more inputs). */
  private[graft] def nearest(scored: Seq[Column]): Column =
    if (scored.size == 1) scored.head else least(scored: _*)

  /** |a-b|² spelled as a·a - 2·a·b + b·b with three left folds — the
    * same operation sequence as `list_dot_product`-based SQL, so the
    * DuckDB oracle's farthest-point comparisons are bit-identical. */
  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) { aa += a(i) * a(i); i += 1 }
    i = 0
    while (i < a.length) { ab += a(i) * b(i); i += 1 }
    i = 0
    while (i < b.length) { bb += b(i) * b(i); i += 1 }
    aa - 2 * ab + bb
  }

  /** Deterministic seeding, shared by k-means, PQ codebooks and the
    * k-center coreset.
    *
    * Stage 1 — oversample: the 4k rows with the smallest md5-derived
    * hash60(id). A seed-free uniform pseudo-random sample, reproducible
    * everywhere AND on the DuckDB oracle side (md5 of the same decimal id
    * string); orderBy+limit compiles to TakeOrderedAndProject
    * (per-partition heap of 4k + driver merge), never a full global sort.
    *
    * Stage 2 — greedy farthest-point over the oversample, once per
    * `view` of the sampled vectors (fitProduct: one slice per subspace;
    * ids do not depend on the view, so one sample serves all). Driver
    * work, O(4k·k·dim): a plain uniform k-sample can seed two centroids
    * in one dense cluster and Lloyd's never recovers; farthest-point
    * guarantees spread. Deterministic: start at the min-hash row, pick
    * the argmax of the min-distance, tie-break on id.
    *
    * @return per view, the min(k, sample) chosen (id, vector) pairs in
    *         pick order */
  private[graft] def seed(vecs: DataFrame, k: Int,
      views: Seq[Array[Double] => Array[Double]] = Seq(identity))
      : Seq[Seq[(Long, Array[Double])]] = {
    val s = vecs.sparkSession
    import s.implicits._
    val sample = vecs
      .select(Md5Bits.hash60(col("id")).as("h"), col("id"), col("v"))
      .orderBy(col("h"), col("id")).limit(4 * k)
      .as[(Long, Long, Seq[Double])].collect()
      .sortBy(t => (t._1, t._2)) // driver-side re-sort: order is contractual
      .map(t => (t._2, t._3.toArray))
    require(sample.nonEmpty, "kmeans needs a non-empty corpus")
    views.map { view =>
      val sub = sample.map { case (id, v) => (id, view(v)) }
      val chosen = scala.collection.mutable.ArrayBuffer(sub.head)
      val minD = Array.fill(sub.length)(Double.MaxValue)
      while (chosen.length < math.min(k, sub.length)) {
        val last = chosen.last._2
        var bi = -1
        for (i <- sub.indices) {
          val d = d2(sub(i)._2, last)
          if (d < minD(i)) minD(i) = d
          if (bi < 0 || minD(i) > minD(bi) ||
            (minD(i) == minD(bi) && sub(i)._1 < sub(bi)._1)) bi = i
        }
        chosen += sub(bi)
      }
      chosen.toSeq
    }
  }

  /** Seeds numbered 0..k-1 as the starting centroid table. */
  private def numbered(seeds: Seq[(Long, Array[Double])]): Seq[(Long, Seq[Double])] =
    seeds.zipWithIndex.map { case ((_, v), c) => (c.toLong, v.toSeq) }

  /** Per-cell mean of `x`: decimal-sum mean rounded to 6 decimals —
    * exact and ORDER-INDEPENDENT (a double avg would vary with partition
    * order), and the identical spelling as the oracle-proven q_centroids,
    * so every Lloyd round is reproducible on both engines bit-for-bit. */
  private def decimalMean(x: Column): Column =
    round(sum(x.cast("decimal(28,12)")).cast("double") / count(x), 6)

  /** @param vecs (id, v: array<double>) frame
    * @return (cluster, centroid: array<double>) — k rows */
  def fit(vecs: DataFrame, k: Int, iterations: Int = 5): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    var cents = numbered(seed(vecs, k).head)
    for (_ <- 1 to iterations) {
      // Means land on the driver (k·dim doubles — the centroid table is
      // driver-sized by definition, same regime as fitProduct), so each
      // round's plan is fresh literals over the raw corpus: no per-round
      // localCheckpoint, no empty-cell join.
      val means = assign(vecs, cents.toDF("cluster", "c"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(decimalMean(col("x")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cl, rows) =>
          cl -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // a cluster that won zero points vanishes from the groupBy — keep
      // its previous centroid so k never silently shrinks
      cents = cents.map { case (cl, prev) => (cl, means.getOrElse(cl, prev)) }
    }
    cents.toDF("cluster", "c")
  }

  /** Product-quantization training: `m` independent k-means codebooks,
    * one per contiguous `subDim`-dim slice of `v`, trained TOGETHER —
    * per Lloyd round ONE corpus scan computes every subspace's argmin in
    * a single literal projection and one grouped aggregation recomputes
    * all (subspace, cluster, dim) means. Running `fit` per slice would
    * scan the corpus m times per round; at 100 TB this is the difference
    * between m Lloyd passes and one.
    *
    * Bit-identical per subspace to `fit` on that slice: the oversample
    * is the same md5-ordered id set (ids don't depend on the slice), the
    * greedy farthest-point init runs on the sliced sample with the same
    * d² spelling and tie rule, assignment uses the same literal argmin,
    * and means use the same decimal-sum/round(6) spelling — so a DuckDB
    * oracle may replay each codebook independently. Codebook means live
    * on the driver between rounds (m·k·subDim doubles — the codebook is
    * driver-sized by definition), so no per-round checkpoint is needed:
    * every round's plan is fresh literals over the raw corpus.
    *
    * @return one (cluster, c) frame per subspace, k rows each */
  def fitProduct(vecs: DataFrame, m: Int, subDim: Int, k: Int,
      iterations: Int = 5): Seq[DataFrame] = {
    val s = vecs.sparkSession
    import s.implicits._
    // per-subspace seeds from the ONE shared oversample, each subspace
    // selecting over its own slice (same d² spelling and tie rule as fit)
    var books: Seq[Seq[(Long, Seq[Double])]] =
      seed(vecs, k, (0 until m).map(j =>
        (v: Array[Double]) => v.slice(j * subDim, (j + 1) * subDim)))
        .map(numbered)
    for (_ <- 1 to iterations) {
      // one scan: all m subspace assignments as literal argmins, explode
      // to (sub, cluster, dim, x), one decimal-mean aggregation
      val entries = (0 until m).map { j =>
        val sv = slice(col("v"), j * subDim + 1, subDim)
        struct(lit(j).as("sub"),
          nearest(centroidScoresOf(books(j), sv)).getField("cluster").as("cluster"),
          sv.as("sv"))
      }
      val means = vecs
        .select(explode(array(entries: _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.cluster").as("cluster"),
          posexplode(col("e.sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cluster"), col("dim"))
        .agg(decimalMean(col("x")).as("mv"))
        .collect() // m·k·subDim rows — the codebook itself, driver-sized
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case ((sub, cl), rows) =>
          ((sub, cl), rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
        }
      // empty cells keep their previous centroid, same as fit
      books = (0 until m).map { j =>
        books(j).map { case (cl, prev) =>
          (cl, means.getOrElse((j, cl), prev))
        }
      }
    }
    books.map(_.toDF("cluster", "c"))
  }

  /** Beyond this many centroids the literal-argmin plan stops being a
    * good idea (plan bloat, generated `least` past JVM method limits) —
    * fall back to the broadcast-join spelling, which handles any k. */
  private val MaxLiteralCentroids = 256

  /** Nearest-centroid assignment as ONE projection: the k centroids are
    * plan-time literals and the argmin is a codegen'd `least` over k
    * `struct(score, cluster)` columns — no crossJoin, no window, zero
    * Exchange (PlanSpec pins this). The old crossJoin+window spelling
    * pushed corpus×k rows through a hash exchange per Lloyd round — the
    * one avoidable scale-killer at 100 TB. Past [[MaxLiteralCentroids]]
    * (production IVF k reaches the thousands) the literals themselves
    * become the problem, so the broadcast-join argmin takes over. */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = centroidScores(centroids, col("v"))
    if (scored.size > MaxLiteralCentroids) assignBroadcast(vecs, centroids)
    else vecs.select(col("id"), col("v"),
      nearest(scored).getField("cluster").as("cluster"))
  }

  /** Argmin cluster of an arbitrary vector EXPRESSION against a trained
    * codebook, as one literal-codegen column — the product-quantization
    * encode path: m subspace argmins ride a single projection (zero
    * Exchange), each over its own `slice(v, …)`. Same argmin rule as
    * [[assign]] (score asc, cluster asc) so the DuckDB replay of PQ
    * encoding agrees bit-for-bit. */
  def argminCluster(v: Column,
      centroids: DataFrame): Column = {
    val scored = centroidScores(centroids, v)
    require(scored.size <= MaxLiteralCentroids,
      s"argminCluster is the literal plan; ${scored.size} centroids exceed " +
        s"$MaxLiteralCentroids — use assign's broadcast fallback instead")
    nearest(scored).getField("cluster")
  }

  /** Large-k fallback: broadcast the centroid table, score corpus×k pairs
    * in the join, keep the per-row argmin via a window. One broadcast +
    * one window exchange — the price of not carrying k literals. */
  private def assignBroadcast(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val c2 = centroids.withColumn("_c2", DotProduct.dot(col("c"), col("c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("_d").asc, col("cluster").asc)
    vecs.crossJoin(broadcast(c2))
      .withColumn("_d", col("_c2") - lit(2.0) * DotProduct.dot(col("v"), col("c")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("id"), col("v"), col("cluster"))
  }

  /** IVF top-k cosine search: probe only the nProbe nearest cells per
    * query. Returns (qid, nid, rnk, sim).
    *
    * @param excludeSelf drop candidates whose corpus id equals the query
    *        id — correct when queries are a SUBSET OF THE CORPUS (the
    *        usual self-search); pass false when query ids live in a
    *        different id space, or same-id pairs would be wrongly
    *        discarded. */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    val cells = assign(corpus, centroids) // inverted file: (id, v, cluster)
      .withColumn("nrm", sqrt(DotProduct.dot(col("v"), col("v"))))
    // top-nProbe cells per query, shuffle-free: sort the k literal score
    // structs per row, keep the first nProbe, explode — a narrow stage
    // (the old crossJoin+window spelling shuffled queries×k rows)
    val qScored = centroidScores(centroids, col("qv"))
    val probes = queries.select(col("id").as("qid"), col("v").as("qv"))
      .withColumn("qn", sqrt(DotProduct.dot(col("qv"), col("qv"))))
      .select(col("qid"), col("qv"), col("qn"),
        explode(slice(array_sort(array(qScored: _*)), 1, nProbe)).as("pc"))
      .select(col("qid"), col("qv"), col("qn"), col("pc.cluster").as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    probes.join(cells, Seq("cluster"))
      .filter(if (excludeSelf) col("id") =!= col("qid") else lit(true))
      // ANSI-safe divide: zero-norm vectors rank last with NULL sim
      // (like the oracle's NULL-on-zero-divide), never abort the search
      .select(col("qid"), col("id").as("nid"),
        graft.functions.VectorFunctions.cosineOrNull(
          DotProduct.dot(col("qv"), col("v")),
          col("qn") * col("nrm")).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }
}
