package graft

import java.sql.Timestamp

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, ConnectedComponents, KCore, RangeJoin}

/** Randomized equivalence: the distributed operators must agree with
  * naive single-machine reference implementations on arbitrary inputs —
  * the level-1 testing tier of SURVEY §5 upgraded from hand-picked
  * examples to generated ones (seeded → reproducible).
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val base = 1700000000000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000L)

  private def randRows(r: Random, n: Int): List[(Long, Long)] =
    List.fill(n)((1L + r.nextInt(3), r.nextInt(121).toLong))

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** `build` on the single-task local finish (the default at these sizes)
    * and again on the distributed loop, forced by a 1-byte advisory
    * partition: both must give the same schema and the same multiset of
    * rows. Returns the (two-id-column) rows as longs. */
  private def bothPaths(build: => org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    def run() = {
      val df = build
      def id(v: Any) = v.asInstanceOf[Number].longValue
      (df.schema, df.collect().map(r => (id(r.get(0)), id(r.get(1)))).sorted.toSeq)
    }
    val (localSchema, localRows) = run()
    val saved = spark.conf.getOption(AdvisoryKey)
    spark.conf.set(AdvisoryKey, "1")
    val (distSchema, distRows) =
      try run()
      finally saved.fold(spark.conf.unset(AdvisoryKey))(spark.conf.set(AdvisoryKey, _))
    assert(localSchema === distSchema)
    assert(localRows === distRows)
    localRows
  }

  test("asof join equals the naive per-row latest-preceding scan (12 random trials)") {
    val r = new Random(42)
    for (_ <- 1 to 12) {
      val ls = randRows(r, 14)
      val rsu = randRows(r, 14).distinct // unique (k, ts) → unique match
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (k, ts(t), i.toLong) }
        .toDF("k", "lts", "lid")
      val right = rsu.zipWithIndex
        .map { case ((k, t), i) => (k, ts(t), (100 + i).toDouble) }
        .toDF("k", "rts", "px")

      val got = AsOfJoin.asof(left, right, Seq("k"), "lts", "rts",
        Seq("px"), inner = false)
        .select($"lid", $"px").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getDouble(1))))
        .toMap

      val expect = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rsu.zipWithIndex
          .filter { case ((rk, rt), _) => rk == k && rt <= t }
        val best =
          if (cands.isEmpty) None
          else Some((100 + cands.maxBy { case ((_, rt), _) => rt }._2).toDouble)
        i.toLong -> best
      }.toMap
      assert(got === expect, s"inputs: $ls / $rsu")
    }
  }

  test("range join equals the naive all-pairs filter (12 random trials)") {
    val r = new Random(7)
    for (_ <- 1 to 12) {
      val ls = randRows(r, 14)
      val rs = randRows(r, 14)
      val lower = 0L
      val upper = 30L
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (k, ts(t), i.toLong) }.toDF("k", "lts", "lid")
      val right = rs.zipWithIndex
        .map { case ((k, t), i) => (k, ts(t), i.toLong) }.toDF("k", "rts", "rid")

      val got = RangeJoin.timeRangeJoin(left, right, Seq("k"),
        "lts", "rts", lower, upper)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet

      val expect = (for {
        ((lk, lt), li) <- ls.zipWithIndex
        ((rk, rt), ri) <- rs.zipWithIndex
        if lk == rk && rt - lt >= lower && rt - lt <= upper
      } yield (li.toLong, ri.toLong)).toSet
      assert(got === expect, s"inputs: $ls / $rs")
    }
  }

  test("topk aggregator equals sort-take on arbitrary similarity lists") {
    import graft.functions.{Neighbor, TopKAggregator}
    val r = new Random(13)
    for (_ <- 1 to 12) {
      val xs = List.fill(25)((r.nextInt(51).toLong, r.nextDouble() * 2 - 1))
      val agg = new TopKAggregator(5)
      // split into two partial buffers + merge, like a real shuffle
      val (xa, xb) = xs.splitAt(12)
      val bufA = xa.foldLeft(agg.zero) { case (b, (id, sim)) =>
        agg.reduce(b, Neighbor(id, sim)) }
      val bufB = xb.foldLeft(agg.zero) { case (b, (id, sim)) =>
        agg.reduce(b, Neighbor(id, sim)) }
      val got = agg.finish(agg.merge(bufA, bufB))
      val expect = xs.map { case (id, sim) => Neighbor(id, sim) }
        .sortWith((a, b) => a.sim > b.sim || (a.sim == b.sim && a.id < b.id))
        .take(5)
      assert(got === expect)
    }
  }

  test("connected components equal driver union-find on random graphs (10 trials)") {
    val r = new Random(99)
    for (_ <- 1 to 10) {
      val nodes = 2 + r.nextInt(30)
      val nEdges = r.nextInt(40)
      val edges = List.fill(nEdges)(
        (r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(n => n -> find(n)).toMap
        // min-of-component labeling: normalize both sides to min member
        val wantMin = want.groupBy(_._2).flatMap { case (_, m) =>
          val mn = m.keys.min; m.keys.map(_ -> mn)
        }
        val got = bothPaths(ConnectedComponents
          .components(edges.toDF("src", "dst"), maxIterations = nodes)).toMap
        assert(got === wantMin, s"edges: $edges")
      }
    }
  }

  test("connected components: both paths return the same partial labels when the cap is hit") {
    // a 40-node chain under scrambled ids needs ~log2(40) pointer-jumping
    // rounds; caps 0-2 stop short of the fixed point
    val ids = (0 until 40).map(i => 100L + (i * 17) % 41)
    val chain = ids.zip(ids.tail).toDF("src", "dst")
    val intChain = chain.select(chain.columns.toSeq.map(c => chain(c).cast("int")): _*)
    for (cap <- 0 to 2) {
      val got = bothPaths(ConnectedComponents.components(chain, maxIterations = cap))
      assert(got.map(_._1).toSet === ids.toSet)
      assert(got.map(_._2).distinct.size > 1, s"cap $cap reached the fixed point")
      // INT ids take the same path and keep their type
      assert(bothPaths(ConnectedComponents.components(intChain, maxIterations = cap)) === got)
    }
  }

  test("prefix-filtered jaccard equals naive join on random token docs (6 trials)") {
    val r = new Random(5)
    import org.apache.spark.sql.functions.{col, explode}
    for (_ <- 1 to 6) {
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
      val docs = (0L until (4 + r.nextInt(6)).toLong).map { i =>
        (i, List.fill(5 + r.nextInt(25))(vocab(r.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sh = docs.select(col("doc_id"),
        explode(graft.functions.Shingles.shingles(col("text"), 3)).as("sh"))
      for (t <- Seq(0.3, 0.6, 0.9)) {
        val fast = queries.DedupQueries.ngramJaccardPrefix(sh, t)
          .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
          .collect().toSet
        val naive = SetSimNaive.jaccard(sh, t)
          .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
          .collect().toSet
        assert(fast === naive, s"threshold $t")
      }
    }
  }

  test("jaccard, containment and overlap joins equal their naive references on random token docs (4 trials)") {
    import queries.DedupQueries
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, explode}
    type Join = (DataFrame, Double) => DataFrame
    val measures = Seq[(String, Join, Join)](
      ("jaccard", DedupQueries.ngramJaccardPrefix, SetSimNaive.jaccard),
      ("containment", DedupQueries.containmentPrefix, SetSimNaive.containment),
      ("overlap", DedupQueries.winnowOverlapPrefix, SetSimNaive.overlap))
    val r = new Random(13)
    for (trial <- 1 to 4) {
      // a small vocabulary makes every token frequent (the closed-vocabulary
      // regime where prefixes are not rare); sizes vary 3x to exercise the
      // size rules and the one-sided measures
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
      val docs = (0L until (5 + r.nextInt(6)).toLong).map { i =>
        (i, List.fill(4 + r.nextInt(30))(vocab(r.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sh = docs.select(col("doc_id"),
        explode(graft.functions.Shingles.shingles(col("text"), 3)).as("sh"))
        .localCheckpoint()
      for ((name, fast, naive) <- measures; t <- Seq(0.3, 0.6, 0.9)) {
        def rows(df: DataFrame) =
          df.select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)].collect().toSet
        assert(rows(fast(sh, t)) === rows(naive(sh, t)), s"$name at $t, trial $trial")
      }
    }
  }

  test("MR combineReduce equals scala groupBy-sum on random inputs (8 trials)") {
    val r = new Random(7)
    val sum = (k: String, vs: Seq[Int]) => Iterator.single((k, vs.sum))
    for (trial <- 1 to 8) {
      val n = 200 + r.nextInt(800)
      val input = List.fill(n)((s"k${r.nextInt(50)}", r.nextInt(1000)))
      val expected = input.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toList.sorted
      // odd trials force tiny combine buffers → many chunked flushes
      if (trial % 2 == 1) spark.conf.set("graft.mr.combine.maxBuffered", "17")
      try {
        val got = graft.mr.MRPipeline
          .fromPairs(spark, spark.sparkContext.parallelize(input, 5))
          .combineReduce(sum, sum, 3)
          .collectPairs().sorted.toSeq
        assert(got === expected, s"trial $trial")
      } finally spark.conf.unset("graft.mr.combine.maxBuffered")
    }
  }

  test("degree-oriented triangle count equals naive enumeration on random graphs (10 trials)") {
    val r = new Random(7)
    for (trial <- 1 to 10) {
      val nodes = 4 + r.nextInt(20)
      val edges = List.fill(5 + r.nextInt(60)) {
        val a = r.nextInt(nodes); val b = r.nextInt(nodes)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val es = edges.toSet
        val ns = edges.flatMap(e => List(e._1, e._2)).distinct.sorted
        val want = ns.combinations(3).count { case Seq(a, b, c) =>
          es((a, b)) && es((b, c)) && es((a, c))
        }
        val got = graft.queries.GraphQueries
          .triangleCount(edges.toDF("src", "dst"))
          .as[Long].head()
        assert(got === want.toLong, s"trial $trial edges: $edges")
      }
    }
  }

  test("BFS hop distances equal driver-side BFS on random graphs (10 trials)") {
    val r = new Random(17)
    for (trial <- 1 to 10) {
      val nodes = 3 + r.nextInt(25)
      val edges = List.fill(4 + r.nextInt(50)) {
        val a = r.nextInt(nodes); val b = r.nextInt(nodes)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val adj = edges.flatMap(e => List(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val source = adj.keys.min
        // driver-side layered BFS ground truth
        val want = scala.collection.mutable.Map(source -> 0L)
        var layer = Set(source); var dd = 0L
        while (layer.nonEmpty) {
          dd += 1
          layer = layer.flatMap(adj(_)).filterNot(want.contains)
          layer.foreach(n => want(n) = dd)
        }
        val got = graft.queries.GraphQueries
          .bfsDistances(edges.toDF("src", "dst"), source, maxRounds = nodes)
          .as[(Long, Long)].collect().toMap
        assert(got === want.toMap, s"trial $trial edges: $edges")
      }
    }
  }

  test("multi-seed BFS distances equal a driver-side BFS per seed on random graphs (10 trials)") {
    val r = new Random(23)
    for (trial <- 1 to 10) {
      val nodes = 3 + r.nextInt(25)
      val edges = List.fill(4 + r.nextInt(50)) {
        val a = r.nextInt(nodes); val b = r.nextInt(nodes)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val adj = edges.flatMap(e => List(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val nSeeds = 1 + r.nextInt(4)
        val seeds = adj.keys.toSeq.sorted.take(nSeeds)
        // one driver-side layered BFS per seed; unreached nodes carry null
        val want = seeds.flatMap { seed =>
          val dist = scala.collection.mutable.Map(seed -> 0L)
          var layer = Set(seed); var dd = 0L
          while (layer.nonEmpty) {
            dd += 1
            layer = layer.flatMap(adj(_)).filterNot(dist.contains)
            layer.foreach(n => dist(n) = dd)
          }
          adj.keys.map(n => (seed, n) -> dist.get(n))
        }.toMap
        val got = graft.queries.GraphQueries
          .seedDistances(edges.toDF("src", "dst"), nSeeds, maxRounds = nodes)
          .collect()
          .map(x => (x.getLong(0), x.getLong(1)) -> Option(x.get(2)).map(_.asInstanceOf[Long]))
        assert(got.length === want.size, s"trial $trial edges: $edges")
        assert(got.toMap === want, s"trial $trial edges: $edges")
      }
    }
  }

  test("SSSP distances equal driver-side Dijkstra on random weighted graphs (10 trials)") {
    val r = new Random(29)
    for (trial <- 1 to 10) {
      val nodes = 3 + r.nextInt(25)
      val edges = List.fill(4 + r.nextInt(50)) {
        val a = r.nextInt(nodes); val b = r.nextInt(nodes)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }.distinct
        .map { case (a, b) => (a, b, 1L + r.nextInt(5)) }
      if (edges.nonEmpty) {
        val adj = edges.flatMap { case (a, b, w) => List((a, b, w), (b, a, w)) }
          .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
        val source = adj.keys.min
        // driver-side Dijkstra ground truth
        val want = scala.collection.mutable.Map(source -> 0L)
        val pq = scala.collection.mutable.PriorityQueue((0L, source))(
          Ordering.by(-_._1))
        while (pq.nonEmpty) {
          val (dd, n) = pq.dequeue()
          if (want(n) == dd) adj(n).foreach { case (m, w) =>
            if (want.getOrElse(m, Long.MaxValue) > dd + w) {
              want(m) = dd + w; pq.enqueue((dd + w, m))
            }
          }
        }
        val got = graft.queries.GraphQueries
          .ssspDistances(edges.toDF("src", "dst", "w"), source, maxRounds = nodes)
          .as[(Long, Long)].collect().toMap
        assert(got === want.toMap, s"trial $trial edges: $edges")
      }
    }
  }

  test("LOCF gap-fill equals driver-side carry-forward on random series (6 trials)") {
    val r = new Random(31)
    for (trial <- 1 to 6) {
      val nUsers = 1 + r.nextInt(4)
      val rows = List.fill(8 + r.nextInt(25))(
        (r.nextInt(nUsers).toLong,
          ts(r.nextInt(12) * 86400L + r.nextInt(86400)), // within 12 days
          (r.nextInt(10000) + 1) / 100.0))
      val got = graft.queries.EventQueries
        .gapFillDaily(rows.toDF("user_id", "ts", "value"))
        .collect()
        .map(x => (x.getAs[Long]("user_id"), x.getAs[Timestamp]("day").getTime,
          x.getAs[Double]("filled_value"))).toSet
      // driver-side reference: daily cent-sums, full day list, carry per user
      def dayOf(t: Timestamp) = t.getTime - Math.floorMod(t.getTime, 86400000L)
      val daily = rows.groupBy(x => (x._1, dayOf(x._2))).map { case (k, vs) =>
        k -> vs.map(v => math.rint(v._3 * 100).toLong).sum / 100.0
      }
      val allDays = rows.map(x => dayOf(x._2)).distinct.sorted
      val want = rows.map(_._1).distinct.flatMap { u =>
        val first = rows.filter(_._1 == u).map(x => dayOf(x._2)).min
        var carried = 0.0
        allDays.filter(_ >= first).map { day =>
          daily.get((u, day)).foreach(v => carried = v)
          (u, day, carried)
        }
      }.toSet
      assert(got === want, s"trial $trial")
    }
  }

  test("TWAP equals the driver-side weighted mean on random series (6 trials)") {
    val r = new Random(41)
    for (trial <- 1 to 6) {
      val rows = List.fill(6 + r.nextInt(20))(
        ((100 + r.nextInt(3)).toLong, // event_id also orders ties
          ts(r.nextInt(500000).toLong),
          (r.nextInt(50000) + 1) / 100.0))
        .zipWithIndex.map { case ((t, time, v), i) =>
          (s"t${t % 3}", i.toLong, time, v)
        }
      val got = graft.queries.EventQueries
        .twapByType(rows.toDF("event_type", "event_id", "ts", "value"))
        .collect()
        .map(x => x.getAs[String]("event_type") -> x.getAs[Double]("twap_r")).toMap
      val want = rows.groupBy(_._1).flatMap { case (t, rs) =>
        val sorted = rs.sortBy(x => (x._3.getTime, x._2))
        val spans = sorted.zip(sorted.tail).map { case (a, b) =>
          (math.rint(a._4 * 100).toLong, (b._3.getTime - a._3.getTime) * 1000L)
        }
        if (spans.isEmpty) None
        else {
          val num = spans.map { case (c, dUs) => c * dUs }.sum
          val den = spans.map(_._2).sum
          if (den == 0) None // all same timestamp: zero total span
          else Some(t -> BigDecimal(num.toDouble / den / 100.0)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      want.foreach { case (t, w) =>
        assert(math.abs(got(t) - w) < 1e-9, s"trial $trial type $t")
      }
    }
  }

  test("itemset rules: confidence in (0,1], support ordered, lift consistent") {
    val rows = graft.queries.GraphQueries.qItemsets(spark, sf).collect()
    assert(rows.nonEmpty)
    val supports = rows.map(_.getAs[Long]("pair_orders"))
    assert(supports.toSeq === supports.sortBy(-_).toSeq) // descending
    rows.foreach { r =>
      val c = r.getAs[Double]("confidence_r")
      assert(c > 0.0 && c <= 1.0)
      assert(r.getAs[Double]("lift_r") > 0.0)
    }
  }

  test("component histogram: sizes >= 2 and nodes conserved") {
    import org.apache.spark.sql.functions._
    val hist = graft.queries.GraphQueries.qComponents(spark, sf).collect()
    assert(hist.nonEmpty)
    // every node in the thresholded graph has an edge → no singletons
    hist.foreach(r => assert(r.getAs[Long]("component_size") >= 2L))
    // Σ size × count == number of labeled nodes (nothing lost or doubled):
    // recompute the thresholded graph's node count independently
    val nodes = Tables.lineitem(spark, sf)
      .groupBy($"l_orderkey")
      .agg(array_distinct(sort_array(collect_list($"l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))")).as("p"))
      .groupBy($"p.src", $"p.dst").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .select(explode(array($"src", $"dst")).as("node"))
      .distinct().count()
    val total = hist.map(r =>
      r.getAs[Long]("component_size") * r.getAs[Long]("n_components")).sum
    assert(total === nodes)
  }

  test("chunking covers every document: counts, bounds, and overlap agree") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = graft.queries.TextQueries.qChunk(spark, sf).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === docs.keySet)
    byDoc.foreach { case (id, cs) =>
      val len = docs(id).length
      val wantChunks = math.max(0, (len - 1) / 300) + 1
      assert(cs.length === wantChunks, s"doc $id len $len")
      val ordered = cs.sortBy(_.getAs[Long]("chunk_no"))
      // chunk_no dense from 0; starts advance by the stride
      ordered.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Long]("chunk_no") === i.toLong)
        assert(c.getAs[Long]("start_pos") === i.toLong * 300 + 1)
        assert(c.getAs[Long]("chunk_len") <= 400L)
      }
      // every chunk except possibly the last is full-size when the doc
      // extends past its window
      ordered.dropRight(1).foreach { c =>
        val start = c.getAs[Long]("start_pos")
        if (len >= start + 400 - 1) assert(c.getAs[Long]("chunk_len") === 400L)
      }
    }
  }

  test("inverted index postings equal a driver-side index on the fixture docs") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // driver-side ground truth: tf per (term, doc), df per term,
    // postings ranked by (tf desc, doc_id asc) and capped at 5
    val tf = docs.flatMap { case (id, t) =>
      TextFunctions.tokenize(t).groupBy(identity).map {
        case (term, hits) => (term, id, hits.length.toLong)
      }
    }
    val want = tf.groupBy(_._1).toSeq.flatMap { case (term, ps) =>
      val ranked = ps.sortBy(p => (-p._3, p._2)).take(5)
      ranked.zipWithIndex.map { case ((_, id, n), i) =>
        (term, ps.length.toLong, (i + 1).toLong, id, n)
      }
    }.toSet
    val got = graft.queries.TextQueries.qInvertedIndex(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("bigram LM scores match a driver-side model fit + scoring") {
    val got = graft.queries.TextQueries.qLmScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("lm_score")))).toMap
    assert(got.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) ->
        graft.functions.TextFunctions.tokenize(r.getString(1)).toSeq)
    val bigrams = docs.flatMap(_._2.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
    val c2 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = c2.groupBy(_._1.split(" ")(0)).view.mapValues(_.values.sum).toMap
    def micro(bg: String): Long =
      math.rint(math.log(c2(bg).toDouble / c1(bg.split(" ")(0))) * 1e6).toLong
    docs.filter(_._2.length >= 2).foreach { case (id, ts) =>
      val bgs = ts.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val (n, score) = got(id)
      assert(n === bgs.length.toLong)
      val want = bgs.map(micro).sum.toDouble / bgs.length / 1e6
      assert(math.abs(score - want) < 1e-5, s"doc $id")
      assert(score <= 0.0) // log-probs are never positive
    }
  }

  test("skyline equals brute force on random point sets with ties (10 trials)") {
    val r = new Random(41)
    for (trial <- 1 to 10) {
      val n = 5 + r.nextInt(60)
      // small value domains force x-ties, y-ties, and exact duplicates —
      // the cases the strict-domination definition must handle
      val pts = (0 until n).map(i =>
        (i.toLong, (r.nextInt(12) * 10).toDouble, r.nextInt(12).toLong))
      val df = pts.toDF("id", "x", "y")
      val got = graft.queries.Relational.skyline(df, "x", "y", 25.0)
        .select($"id").as[Long].collect().toSet
      val want = pts.filter { b =>
        !pts.exists(a => a._2 > b._2 && a._3 > b._3)
      }.map(_._1).toSet
      assert(got === want, s"trial $trial points: $pts")
    }
  }

  test("weighted Bernoulli sampling matches the driver-side hash rule exactly") {
    val got = graft.queries.TextQueries.qSampleWeighted(spark, sf).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept")))).toMap
    assert(got.nonEmpty)
    val bps = Map("en" -> 8000L, "de" -> 5000L, "fr" -> 5000L).withDefaultValue(2000L)
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._2).foreach { case (lang, rs) =>
      val kept = rs.count { case (id, l) =>
        graft.functions.Md5Bits.hash60(s"ws:$id") % 10000 < bps(l)
      }
      assert(got(lang) === ((rs.length.toLong, kept.toLong)), s"lang $lang")
    }
    // higher-rate strata keep proportionally more (the weighting is real)
    val en = got.get("en"); val rest = (got - "en").values
    en.foreach { case (n, k) =>
      assert(rest.forall { case (n2, k2) =>
        k.toDouble / n > k2.toDouble / n2 })
    }
  }

  test("PMI pairs match a driver-side co-occurrence recomputation") {
    val got = graft.queries.TextQueries.qPmi(spark, sf).collect()
    assert(got.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) ->
        graft.functions.TextFunctions.tokenize(r.getString(1)).toSet)
    val nd = docs.length.toDouble
    val dfreq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    got.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(w1 < w2) // canonical pair order
      val c12 = docs.count { case (_, ws) => ws(w1) && ws(w2) }
      assert(r.getAs[Long]("c12") === c12.toLong)
      val want = math.log(nd * c12 / (dfreq(w1).toDouble * dfreq(w2)))
      assert(math.abs(r.getAs[Double]("pmi") - want) < 1e-5)
    }
  }

  test("vocab coverage: top-100 by count, cumulative share monotone and consistent") {
    val rows = graft.queries.TextQueries.qVocab(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to rows.length.toLong))
    // counts non-increasing down the ranking; shares strictly increasing
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cnt") >= b.getAs[Long]("cnt"))
        assert(a.getAs[Double]("cum_share") < b.getAs[Double]("cum_share"))
      case _ =>
    }
    // the driver-side word count agrees on the head of the distribution
    val wc = graft.queries.Relational.qWordCount(spark, sf).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt"))
    val wantTop = wc.sortBy { case (w, c) => (-c, w) }.take(rows.length)
    assert(rows.map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toSeq
      === wantTop.toSeq)
    val total = wc.map(_._2).sum.toDouble
    val lastShare = rows.last.getAs[Double]("cum_share")
    assert(math.abs(lastShare - wantTop.map(_._2).sum / total) < 1e-5)
    assert(lastShare > 0.0 && lastShare <= 1.0)
  }

  test("drawdown: peak is the running max, dd non-negative, zero at peaks") {
    val rows = graft.queries.Relational.qDrawdown(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    var peak = Long.MinValue
    rows.foreach { r =>
      val cents = r.getAs[Long]("cents")
      peak = math.max(peak, cents)
      assert(r.getAs[Long]("peak_cents") === peak)
      assert(r.getAs[Long]("dd_cents") === peak - cents)
      assert(r.getAs[Long]("dd_cents") >= 0L)
    }
    // the max-revenue day has zero drawdown by construction
    assert(rows.exists(r => r.getAs[Long]("dd_cents") == 0L))
  }

  test("degree-dist: histogram covers all nodes and the fit reproduces OLS") {
    val rows = graft.queries.GraphQueries.qDegreeDist(spark, sf).collect()
    assert(rows.nonEmpty)
    // one slope/intercept broadcast onto every row
    assert(rows.map(_.getAs[Double]("slope_r")).distinct.length === 1)
    // driver-side OLS on the same micro-nat points reproduces the fit
    val pts = rows.map { r =>
      (math.round(math.log(r.getAs[Long]("deg").toDouble) * 1e6),
        math.round(math.log(r.getAs[Long]("n_nodes").toDouble) * 1e6))
    }
    val k = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (k * sxy - sx * sy).toDouble / (k * sxx - sx * sx).toDouble
    assert(math.abs(rows.head.getAs[Double]("slope_r") - slope) < 1e-5)
  }

  test("inter-arrival histogram: gap count is events minus active users") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.EventQueries.qInterarrival(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val g = r.getAs[Long]("gap_min"); g >= 0L && g <= 240L
    })
    // each user with n events contributes exactly n-1 gaps
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum === total - users)
  }

  test("psi terms are individually non-negative and reconcile with counts") {
    val rows = graft.queries.EventQueries.qPsi(spark, sf).collect()
    assert(rows.nonEmpty)
    // (p2-p1) and ln(p2/p1) always share a sign, so every term is ≥ 0
    rows.foreach { r =>
      assert(r.getAs[Double]("psi_term_r") >= 0.0, r.toString)
      assert(r.getAs[Long]("n1") > 0L && r.getAs[Long]("n2") > 0L)
    }
  }

  test("rolling 7-day distinct equals a driver-side window recount") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.EventQueries.qRollingDistinct(spark, sf)
      .collect().map(r => r.getAs[java.sql.Date]("day").toLocalDate ->
        r.getAs[Long]("wau7")).toMap
    val pairs = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date]("day").toLocalDate))
    val d1 = pairs.map(_._2).max
    val want = pairs.flatMap { case (u, day) =>
      (0 to 6).map(i => day.plusDays(i.toLong)).filter(!_.isAfter(d1)).map(_ -> u)
    }.groupBy(_._1).map { case (day, us) => day -> us.map(_._2).distinct.length.toLong }
    assert(got === want)
  }

  test("autocorrelation equals a driver-side Pearson recomputation per lag") {
    import org.apache.spark.sql.functions._
    val daily = Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
      .collect().map(r => r.getAs[java.sql.Date]("day").toLocalDate ->
        r.getAs[Long]("cents")).toMap
    val got = graft.queries.Relational.qAutocorr(spark, sf).collect()
      .map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf_r")).toMap
    assert(got.keySet === Set(1, 7, 14))
    got.foreach { case (lag, acf) =>
      val pairs = daily.toSeq.flatMap { case (day, x) =>
        daily.get(day.plusDays(lag.toLong)).map(y => (x.toDouble, y.toDouble))
      }
      val n = pairs.length.toDouble
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val want = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      assert(math.abs(acf - want) < 1e-5, s"lag $lag")
      assert(acf >= -1.0 && acf <= 1.0)
    }
  }

  test("mmr: first pick is the top neighbor, rest trade relevance for diversity") {
    import org.apache.spark.sql.functions.col
    val mmr = graft.queries.SimilarityQueries.qMmr(spark, sf)
      .orderBy("rank").collect()
    assert(mmr.length === 5)
    val ids = mmr.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length === 5)
    assert(!ids.contains(0L)) // the query itself is never a result
    // rank 1 is pure relevance — must equal query 0's top-1 from knn
    val knn1 = graft.queries.SimilarityQueries.qKnnBrute(spark, sf)
      .filter(col("qid") === 0 && col("rnk") === 1).collect().head
    assert(mmr.head.getAs[Long]("vec_id") === knn1.getAs[Long]("nid"))
    assert(mmr.head.getAs[Double]("sim_r") === knn1.getAs[Double]("sim_r"))
    // relevance of later picks never exceeds the first (greedy invariant)
    assert(mmr.forall(_.getAs[Double]("sim_r") <= mmr.head.getAs[Double]("sim_r")))
  }

  test("decontamination flags only eval-side docs with bounded fractions") {
    val rows = graft.queries.DedupQueries.qDecontaminate(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // the flagged doc really is on the eval side of the salted split
      assert(graft.functions.Md5Bits.hash60(s"dc:$id") % 2 === 1L, s"doc $id")
      val n = r.getAs[Long]("n_shingles"); val c = r.getAs[Long]("n_collisions")
      assert(c >= 1L && c <= n)
      val f = r.getAs[Double]("contam_r")
      assert(f > 0.0 && f <= 1.0)
    }
  }

  test("incremental dedup equals a driver-side digest recount") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (hist, incoming) = docs.partition { case (id, _) =>
      graft.functions.Md5Bits.hash60(s"inc:$id") % 2 == 0L
    }
    val histDigests = hist.map(p => md5hex(p._2)).toSet
    val want = incoming.map { case (id, t) => (md5hex(t), id) }
      .groupBy(_._1).removedAll(histDigests)
      .map { case (dg, xs) => dg -> ((xs.map(_._2).min, xs.length.toLong)) }
    val got = graft.queries.DedupQueries.qDedupIncremental(spark, sf)
      .collect().map(r => r.getAs[String]("digest") ->
        ((r.getAs[Long]("accept_id"), r.getAs[Long]("n_batch_copies")))).toMap
    assert(got === want)
  }

  test("entropy per event type is bounded by ln of the cell count") {
    val rows = graft.queries.EventQueries.qEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy_r")
      val cells = r.getAs[Long]("n_cells")
      assert(h >= 0.0 && h <= math.log(cells.toDouble) + 1e-6, r.toString)
    }
  }

  test("zipf fit reproduces a driver-side OLS on the ranked counts") {
    val rows = graft.queries.TextQueries.qZipf(spark, sf)
      .orderBy("rank").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to rows.length.toLong))
    // counts non-increasing down the ranking
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("cnt") >= b.getAs[Long]("cnt"))
      case _ =>
    }
    val pts = rows.map { r =>
      (math.round(math.log(r.getAs[Long]("rank").toDouble) * 1e6),
        math.round(math.log(r.getAs[Long]("cnt").toDouble) * 1e6))
    }
    val k = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (k * sxy - sx * sy).toDouble / (k * sxx - sx * sx).toDouble
    assert(math.abs(rows.head.getAs[Double]("slope_r") - slope) < 1e-5)
    assert(slope < 0.0) // frequencies decay with rank
  }

  test("changepoint: scaled CUSUM telescopes to zero and flags the argmax") {
    val rows = graft.queries.Relational.qChangepoint(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    // S_n = n*total - n*total = 0 exactly at the last day
    assert(rows.last.getAs[Long]("s_scaled") === 0L)
    // the flagged day holds the max |S_t|, earliest on ties
    val flagged = rows.filter(_.getAs[Boolean]("is_changepoint"))
    assert(flagged.length === 1)
    val maxAbs = rows.map(r => math.abs(r.getAs[Long]("s_scaled"))).max
    assert(math.abs(flagged.head.getAs[Long]("s_scaled")) === maxAbs)
    val firstAtMax = rows.find(r =>
      math.abs(r.getAs[Long]("s_scaled")) == maxAbs).get
    assert(firstAtMax.getAs[java.sql.Date]("day") ===
      flagged.head.getAs[java.sql.Date]("day"))
  }

  test("kaplan-meier equals a driver-side product-limit recomputation") {
    import org.apache.spark.sql.functions._
    val hz = Tables.events(spark, sf).agg(max(col("ts")))
      .collect().head.getTimestamp(0).getTime * 1000L
    val durs = graft.queries.EventQueries.qSessionize(spark, sf)
      .select(col("session_start"), col("session_end")).collect()
      .map { r =>
        val st = r.getTimestamp(0).getTime * 1000L
        val en = r.getTimestamp(1).getTime * 1000L
        ((en - st) / 60000000L, en > hz - 30L * 60L * 1000000L)
      }
    val total = durs.length.toLong
    val byT = durs.groupBy(_._1).toSeq.sortBy(_._1)
    var seen = 0L
    var surv = 1.0
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long, Double)]
    byT.foreach { case (t, xs) =>
      val m = xs.length.toLong
      val d = xs.count(!_._2).toLong
      val nRisk = total - seen
      seen += m
      if (d > 0) {
        surv *= (nRisk - d).toDouble / nRisk
        want(t) = (nRisk, d, surv)
      }
    }
    val got = graft.queries.EventQueries.qKaplanMeier(spark, sf).collect()
      .map(r => r.getAs[Long]("t") ->
        ((r.getAs[Long]("n_risk"), r.getAs[Long]("d"), r.getAs[Double]("surv_r"))))
      .toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (t, (n, d, s)) =>
      val (wn, wd, ws) = want(t)
      assert(n === wn && d === wd, s"t=$t")
      assert(math.abs(s - ws) < 1e-4, s"t=$t got $s want $ws")
    }
    // survival is monotone non-increasing in t and within [0, 1]
    val ordered = got.toSeq.sortBy(_._1).map(_._2._3)
    assert(ordered.forall(v => v >= 0.0 && v <= 1.0))
    ordered.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9)
      case _ =>
    }
  }

  test("k-truss equals driver-side edge peel on random graphs (8 trials)") {
    val r = new Random(61)
    for (trial <- 1 to 8) {
      val nodes = 4 + r.nextInt(20)
      val k = 3 + r.nextInt(2)
      val edges = List.fill(8 + r.nextInt(60)) {
        val a = r.nextInt(nodes); val b = r.nextInt(nodes)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        // driver-side peel ground truth
        var cur = edges.toSet
        var changed = true
        while (changed) {
          val adj = cur.toList.flatMap(e => List(e, e.swap))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          val bad = cur.filter { case (a, b) =>
            (adj(a) & adj(b)).size < k - 2 }
          changed = bad.nonEmpty
          cur --= bad
        }
        val adjF = cur.toList.flatMap(e => List(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val want = cur.map { case (a, b) =>
          (a, b) -> (adjF(a) & adjF(b)).size.toLong }.toMap
        val got = graft.operators.KTruss
          .trussEdges(edges.toDF("src", "dst"), k, maxIterations = edges.length)
          .collect().map(row =>
            (row.getLong(0), row.getLong(1)) -> row.getLong(2)).toMap
        assert(got === want, s"trial $trial k=$k edges=$edges")
      }
    }
  }

  test("label propagation equals driver-side synchronous spreading (8 trials)") {
    val r = new Random(23)
    for (trial <- 1 to 8) {
      val nodes = 4 + r.nextInt(25)
      val edges = List.fill(5 + r.nextInt(50)) {
        val a = r.nextInt(nodes); val b = r.nextInt(nodes)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val present = edges.flatMap(e => List(e._1, e._2)).distinct
        val seeds = present.filter(_ => r.nextBoolean() && r.nextBoolean())
          .map(n => n -> s"L${r.nextInt(3)}")
        val rounds = 1 + r.nextInt(4)
        // driver-side synchronous clamped spreading
        val adj = edges.flatMap(e => List(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var lab: Map[Long, String] = seeds.toMap
        for (_ <- 1 to rounds) {
          val next = present.filterNot(lab.contains).flatMap { n =>
            val vs = adj.getOrElse(n, Nil).flatMap(lab.get)
            if (vs.isEmpty) None
            else {
              val best = vs.groupBy(identity).view.mapValues(_.size).toSeq
                .minBy { case (l, c) => (-c, l) }._1
              Some(n -> best)
            }
          }
          lab = lab ++ next
        }
        val want = present.map(n => n -> lab.get(n)).toMap
        val got = graft.operators.LabelPropagation
          .spread(edges.toDF("src", "dst"),
            seeds.toDF("node", "lab"), rounds)
          .collect().map(row => row.getLong(0) ->
            Option(row.getString(1))).toMap
        assert(got === want, s"trial $trial rounds=$rounds edges=$edges seeds=$seeds")
      }
    }
  }

  test("k-core equals driver-side peel on random graphs (10 trials)") {
    val r = new Random(41)
    for (trial <- 1 to 10) {
      val nodes = 4 + r.nextInt(30)
      val k = 2 + r.nextInt(2)
      val edges = List.fill(r.nextInt(60))(
        (r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (edges.nonEmpty) {
        // driver-side peel ground truth
        val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
        edges.foreach { case (a, b) =>
          adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
          adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
        }
        var changed = true
        while (changed) {
          val bad = adj.collect { case (n, nb) if nb.size < k => n }.toList
          changed = bad.nonEmpty
          bad.foreach { n => adj(n).foreach(adj(_) -= n); adj -= n }
        }
        val want = adj.map { case (n, nb) => n -> nb.size.toLong }.toMap
        val got = bothPaths(KCore
          .coreEdges(edges.toDF("src", "dst"), k, maxIterations = nodes))
          .groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
        assert(got === want, s"trial $trial k=$k edges: $edges")
      }
    }
  }

  test("k-core keeps multiset degrees (duplicates, self-loops) and a hit cap on both paths") {
    val r = new Random(43)
    for (trial <- 1 to 6) {
      val nodes = 4 + r.nextInt(12)
      val k = 2 + r.nextInt(3)
      // raw draws: duplicate edges and self-loops stay in
      val edges = List.fill(10 + r.nextInt(30))(
        (r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
      // driver-side synchronous peel over the symmetrised multiset
      var live = edges.flatMap { case (a, b) => List((a, b), (b, a)) }
      var done = false
      while (!done) {
        val deg = live.groupBy(_._1).map { case (n, es) => n -> es.size }
        val next = live.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        done = next.size == live.size
        live = next
      }
      val got = bothPaths(KCore.coreEdges(edges.toDF("src", "dst"), k, maxIterations = 50))
      assert(got === live.sorted, s"trial $trial k=$k edges: $edges")
    }
    // a path's 2-core is empty, but each peel only strips its two ends:
    // one or two peels leave partial edges
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    for (cap <- 1 to 2)
      assert(bothPaths(KCore.coreEdges(path, 2, maxIterations = cap)).size === 2 * (30 - 2 * cap))
  }

  test("jaro-winkler expression matches known values and a driver reference") {
    // canonical published values (Winkler 1990 examples, DuckDB-verified)
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("abcdefgh", "abxxxxxx", 0.5)) // jaro ≤ 0.7: no prefix boost
    cases.foreach { case (a, b, want) =>
      assert(math.abs(graft.functions.JaroWinklerExpression.jw(a, b) - want) < 1e-12,
        s"($a, $b)")
    }
    // the codegen path agrees with the static helper on table data
    val rows = spark.sql(
      "SELECT p_name, graft_jaro_winkler(p_name, 'small ring') AS jw " +
        s"FROM parquet.`$sf/part.parquet`").collect()
    rows.foreach { row =>
      assert(row.getDouble(1) ===
        graft.functions.JaroWinklerExpression.jw(row.getString(0), "small ring"))
    }
    // symmetry + range on random word pairs
    val words = rows.map(_.getString(0)).distinct.take(20)
    for (a <- words; b <- words) {
      val v = graft.functions.JaroWinklerExpression.jw(a, b)
      assert(v >= 0.0 && v <= 1.0)
      assert(v === graft.functions.JaroWinklerExpression.jw(b, a))
      if (a == b) assert(v === 1.0)
    }
  }

  test("chi-square cells: contributions reconcile with marginals and dof") {
    val rows = graft.queries.EventQueries.qChiSquare(spark, sf).collect()
    assert(rows.nonEmpty)
    val obsTotal = rows.map(_.getAs[Long]("obs")).sum
    // expected counts sum back to N (within rounding of 6dp per cell)
    val expTotal = rows.map(_.getAs[Double]("exp_r")).sum
    assert(math.abs(expTotal - obsTotal) < 1e-3 * rows.length)
    // every contribution is non-negative and finite; chi2 is their sum
    val chi2 = rows.map(_.getAs[Double]("contrib_r")).sum
    assert(chi2 >= 0.0 && java.lang.Double.isFinite(chi2))
    // dow domain is the mod-7 residue
    assert(rows.map(_.getAs[Long]("dow")).forall(d => d >= 0 && d <= 6))
  }

  test("bm25 matches a driver-side recomputation of the rational formula") {
    val got = graft.queries.TextQueries.qBm25(spark, sf)
      .orderBy("rnk").collect()
    assert(got.nonEmpty)
    val terms = Seq("join", "scan", "window")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), "[^a-z0-9]+".r.split(r.getString(1).toLowerCase)
        .filter(_.nonEmpty).toSeq))
      .filter(_._2.nonEmpty)
    val n = docs.length.toLong
    val sTok = docs.map(_._2.length.toLong).sum
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val scored = docs.map { case (id, toks) =>
      val dl = toks.length.toLong
      val micro = terms.map { t =>
        val tf = toks.count(_ == t).toLong
        if (tf == 0) 0L
        else math.round(
          ((2 * n - 2 * df(t) + 1).toDouble / (2 * df(t) + 1)) *
            ((22 * sTok * tf).toDouble /
              (10 * sTok * tf + 3 * sTok + 9 * dl * n)) * 1e6)
      }.sum
      (id, micro)
    }.filter(_._2 > 0).sortBy { case (id, m) => (-m, id) }.take(10)
    assert(got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
      .toSeq === scored.toSeq)
    // ranking is 1..k and scores are non-increasing
    assert(got.map(_.getAs[Long]("rnk")).toSeq === (1L to got.length.toLong))
  }

  test("forecast backtest reproduces a driver-side seasonal-naive scoring") {
    val row = graft.queries.Relational.qForecastEval(spark, sf).collect().head
    val daily = Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.datediff($"o_orderdate",
        org.apache.spark.sql.functions.lit("1970-01-01").cast("date"))
        .cast("long"), $"o_totalprice")
      .collect()
      .groupBy(r => r.getLong(0))
      .map { case (day, rs) =>
        day -> rs.map(r => new java.math.BigDecimal(r.getDouble(1))
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).longValueExact()).sum
      }
    val pairs = daily.toSeq.flatMap { case (day, cents) =>
      daily.get(day - 7).map(fc => (cents, fc))
    }
    assert(row.getAs[Long]("n_days") === pairs.length.toLong)
    val sumAbs = pairs.map { case (c, f) => math.abs(c - f) }.sum
    val sumErr = pairs.map { case (c, f) => c - f }.sum
    val sumApe = pairs.map { case (c, f) =>
      math.round(math.abs(c - f) * 1e6 / c) }.sum
    def r6(x: Double) = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(row.getAs[Double]("mae_cents_r") === r6(sumAbs.toDouble / pairs.length))
    assert(row.getAs[Double]("bias_cents_r") === r6(sumErr.toDouble / pairs.length))
    assert(row.getAs[Double]("mape_r") === r6(sumApe.toDouble / pairs.length / 1e6))
  }

  test("tpch q1: groups partition the filtered fact and ratios reconcile") {
    val rows = graft.queries.Relational.qTpchQ1(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6) // 3 flags × 2 statuses
    val filtered = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" <= org.apache.spark.sql.functions.lit("1998-09-02").cast("date"))
      .count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === filtered)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_rows")
      assert(r.getAs[Double]("avg_qty_r") >= 1.0 && r.getAs[Double]("avg_qty_r") <= 50.0)
      // discounted price can't exceed base; charge adds tax on top of it
      assert(r.getAs[Double]("sum_disc_price_r") <= r.getAs[Double]("sum_base_r"))
      assert(r.getAs[Double]("sum_charge_r") >= r.getAs[Double]("sum_disc_price_r"))
      assert(math.abs(r.getAs[Double]("avg_price_r") -
        r.getAs[Double]("sum_base_r") / n) < 1e-5)
    }
  }

  test("key-skew report: shares reconcile and the ratio is >= 1") {
    val rows = graft.queries.Relational.qKeySkew(spark, sf)
      .orderBy("rnk").collect()
    assert(rows.length === 20)
    val counts = Tables.lineitem(spark, sf)
      .groupBy($"l_partkey").count().as[(Long, Long)].collect()
    val total = counts.map(_._2).sum
    // reported heavy keys are exactly the true top-20 under (cnt, key) order
    val want = counts.sortBy { case (k, c) => (-c, k) }.take(20)
    assert(rows.map(r => (r.getAs[Long]("key"), r.getAs[Long]("cnt"))).toSeq
      === want.toSeq)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("share_r") -
        r.getAs[Long]("cnt").toDouble / total) < 1e-5)
      assert(r.getAs[Double]("skew_r") >= 1.0)
    }
  }

  test("split manifest: hash-deterministic assignment, shares sum to one") {
    val rows = graft.queries.TextQueries.qSplit(spark, sf).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // recompute the whole manifest from ids on the driver
    val want = Tables.documents(spark, sf).select($"doc_id", $"lang").collect()
      .map { r =>
        val b = graft.functions.Md5Bits.hash60(s"split:${r.getLong(0)}") % 10
        (r.getString(1), if (b <= 7) "train" else if (b == 8) "val" else "test")
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => (r.getAs[String]("lang"), r.getAs[String]("split")) ->
      r.getAs[Long]("n_docs")).toMap === want)
    // within every language the shares sum to 1 (up to 6dp rounding)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("share_r")).sum - 1.0) < 1e-4)
    }
  }

  test("winsorize: clip counts and mean match a driver-side recomputation") {
    val rows = graft.queries.Relational.qWinsorize(spark, sf).collect()
    assert(rows.nonEmpty)
    val byPrio = Tables.orders(spark, sf)
      .select($"o_orderpriority", $"o_totalprice").collect()
      .map(r => (r.getString(0), new java.math.BigDecimal(r.getDouble(1))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // Spark's exact percentile: linear interpolation at p*(n-1)
    def pct(v: IndexedSeq[Long], p: Double): Double = {
      val pos = p * (v.length - 1)
      val i = pos.toInt
      if (i >= v.length - 1) v.last.toDouble
      else v(i) + (pos - i) * (v(i + 1) - v(i))
    }
    rows.foreach { r =>
      val v = byPrio(r.getAs[String]("prio")).toIndexedSeq
      val (lo, hi) = (pct(v, 0.01), pct(v, 0.99))
      assert(r.getAs[Long]("n") === v.length.toLong)
      assert(r.getAs[Long]("n_clip_lo") === v.count(_.toDouble < lo).toLong)
      assert(r.getAs[Long]("n_clip_hi") === v.count(_.toDouble > hi).toLong)
      val sumU = v.map(c => math.round(math.min(math.max(c.toDouble, lo), hi) * 1e3)).sum
      def r6(x: Double) = new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r.getAs[Double]("wmean_cents_r") === r6(sumU.toDouble / 1e3 / v.length))
      // clipping is inside the observed range and ordered
      assert(lo <= hi)
    }
  }

  test("mixture sampling: quotas, binding source, and the exact hash rule") {
    val rows = graft.queries.TextQueries.qMixture(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet ===
      Set("en", "zh", "es", "de", "fr"))
    assert(rows.map(_.getAs[Long]("target_pct")).sum === 100L)
    val ppm = rows.map(_.getAs[Long]("rate_ppm"))
    // rates are probabilities, and SOME source must be binding (its
    // whole corpus is kept, modulo the integer-div floor)
    assert(ppm.forall(p => p >= 0L && p <= 1000000L))
    assert(ppm.max >= 999000L, s"no binding source in ${ppm.toList}")
    // the kept token mass can never exceed the corpus of its source
    val docs = graft.queries.TextQueries.qTokenCount(spark, sf)
      .join(Tables.documents(spark, sf).select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("toks"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("toks")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("toks_kept") <= docs(r.getAs[String]("lang")))
      assert(r.getAs[Long]("n_kept") > 0L, s"${r.getAs[String]("lang")} kept 0 docs")
    }
  }

  test("schema evolution: merged read null-fills the legacy generation") {
    val row = graft.queries.KvQueries.qSchemaEvolution(spark, sf).collect().head
    val orders = Tables.orders(spark, sf)
    assert(row.getAs[Long]("n_rows") === orders.count())
    assert(row.getAs[Long]("n_with_price") ===
      orders.filter($"o_orderkey" % 2 === 1).count())
    // the price sum comes only from the evolved generation
    val wantPrice = orders.filter($"o_orderkey" % 2 === 1)
      .agg(graft.queries.Relational.dsum($"o_totalprice")).as[Double].collect().head
    assert(row.getAs[Double]("sum_price") === wantPrice)
  }

  test("dup-span fractions equal a driver-side recount on random corpora (8 trials)") {
    val r = new Random(1234)
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    for (_ <- 1 to 8) {
      val nDocs = 4 + r.nextInt(8)
      val docs = (0L until nDocs.toLong).map { id =>
        val len = r.nextInt(14) // includes < SpanW-token docs
        (id, Array.fill(len)(vocab(r.nextInt(vocab.length))).mkString(" "))
      }
      val got = graft.queries.DedupQueries.dupSpans(docs.toDF("doc_id", "text"))
        .collect()
        .map(x => x.getAs[Long]("doc_id") ->
          (x.getAs[Long]("n_spans"), x.getAs[Long]("dup_spans"),
            Option(x.getAs[java.lang.Double]("dup_frac")))).toMap
      // naive recount: every 5-token span of every doc, global multiset
      val spansOf = docs.map { case (id, t) =>
        val w = graft.functions.TextFunctions.tokenize(t)
        id -> (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" "))
      }.toMap
      val global = spansOf.values.flatten
        .groupBy(identity).map { case (k, v) => k -> v.size }
      assert(got.size === nDocs)
      docs.foreach { case (id, _) =>
        val sp = spansOf(id)
        val dup = sp.count(global(_) > 1).toLong
        assert(got(id)._1 === sp.length.toLong)
        assert(got(id)._2 === dup)
        val wantFrac = if (sp.isEmpty) None
          else Some(BigDecimal(dup.toDouble / sp.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        assert(got(id)._3 === wantFrac)
      }
    }
  }
}
