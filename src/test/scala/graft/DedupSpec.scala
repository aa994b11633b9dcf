package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimHash
import graft.queries.DedupQueries

class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest to hide from the loud hunters"

  // doc 1/2 near-dups of 0; docs 10.. unrelated
  private lazy val docs = Seq(
    (0L, base),
    (1L, base.replace("lazy", "sleepy")),
    (2L, base + " tonight"),
    (10L, "completely different content about query engines and shuffles " +
      "partitions joins aggregates and columnar execution plans at scale"),
    (11L, "yet another unrelated piece of text mentioning benchmarks " +
      "latency throughput caching and storage formats for analytics"),
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps min doc_id") {
    val dup = docs.union(Seq((99L, base)).toDF("doc_id", "text"))
    val out = DedupQueries.qDedupExact _
    // run the same plan shape directly over the fixture frame
    val grouped = dup.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n"))
    val row = grouped.filter($"n" > 1).collect()
    assert(row.length === 1)
    assert(row(0).getAs[Long]("keep_id") === 0L)
    assert(row(0).getAs[Long]("n") === 2L)
    // and the registered query runs on real data with full coverage
    val real = out(spark, sf)
    assert(real.agg(sum($"n_copies")).head().getLong(0) ===
      Tables.documents(spark, sf).count())
  }

  test("canonical dedup unites case/punct/whitespace variants exact dedup misses") {
    val variants = Seq(
      (0L, "The quick brown fox."),
      (1L, "the  QUICK   brown-fox"), // same canonical form
      (2L, "a different document"))
      .toDF("doc_id", "text")
    val canon = trim(regexp_replace(lower($"text"), "[^a-z0-9]+", " "))
    val grouped = variants
      .groupBy(md5(canon).as("h"))
      .agg(min($"doc_id").as("survivor"), count(lit(1)).as("n"))
      .collect()
    assert(grouped.length === 2)
    val dup = grouped.find(_.getAs[Long]("n") === 2L).get
    assert(dup.getAs[Long]("survivor") === 0L)
    // exact byte-dedup would NOT unite them
    assert(variants.select(md5($"text")).distinct().count() === 3)
    // full coverage on the fixture
    val real = DedupQueries.qDedupCanonical(spark, sf)
    assert(real.agg(sum($"n_members")).head().getLong(0) ===
      Tables.documents(spark, sf).count())
  }

  test("LSH finds all high-Jaccard pairs the exact oracle finds") {
    val lsh = DedupQueries.lshPairs(docs, numHashes = 32, bands = 16, threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.contains((0L, 1L)), s"missing (0,1) in $lsh")
    assert(lsh.contains((0L, 2L)), s"missing (0,2) in $lsh")
    assert(lsh.contains((1L, 2L)), s"missing (1,2) in $lsh")
    assert(!lsh.exists { case (a, b) => a >= 10L || b >= 10L },
      s"unrelated docs paired: $lsh")
  }

  test("prefix-filtered jaccard equals the naive all-pairs join exactly") {
    val sh = Tables.documents(spark, sf)
      .select($"doc_id",
        explode(graft.functions.Shingles.shingles($"text", 3)).as("sh"))
    for (t <- Seq(0.5, 0.8)) {
      val fast = DedupQueries.ngramJaccardPrefix(sh, t)
        .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
        .collect().toSet
      val naive = SetSimNaive.jaccard(sh, t)
        .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
        .collect().toSet
      assert(fast === naive, s"threshold $t")
      assert(fast.nonEmpty, s"threshold $t found nothing")
    }
  }

  test("PartEnum jaccard equals the prefix-filtered and naive joins exactly") {
    val sh = Tables.documents(spark, sf)
      .select($"doc_id",
        explode(graft.functions.Shingles.shingles($"text", 3)).as("sh"))
    val pe = DedupQueries.jaccardPartEnum(sh, num = 4, den = 5)
      .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
      .collect().toSet
    val naive = SetSimNaive.jaccard(sh, 0.8)
      .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
      .collect().toSet
    assert(pe === naive)
    assert(pe.nonEmpty)
  }

  test("PartEnum pigeonhole: diff-bounded pairs always share a part subset") {
    // property form of the completeness argument: random set pairs with
    // symmetric difference <= floor((1-t)/t * min) must collide on at
    // least one (part, subset-hash) key when p > maxdiff
    val r = new scala.util.Random(11)
    (1 to 100).foreach { _ =>
      val base = (1 to 40 + r.nextInt(20)).map(_ => r.nextInt(100000)).distinct
      val nDrop = r.nextInt(1 + base.size / 8)
      val b = base.drop(nDrop) ++ (1 to r.nextInt(4)).map(_ => 100000 + r.nextInt(100))
      val diff = (base.toSet -- b.toSet).size + (b.toSet -- base.toSet).size
      val p = diff + 1 + r.nextInt(4)
      def parts(xs: Set[Int]) =
        (0 until p).map(k => k -> xs.filter(x => math.floorMod(x, p) == k)).toMap
      val (pa, pb) = (parts(base.toSet), parts(b.toSet))
      assert((0 until p).exists(k => pa(k) == pb(k)),
        s"no equal part: diff=$diff p=$p")
    }
  }

  test("ngram jaccard on real data only reports pairs above threshold") {
    val out = DedupQueries.qNgramJaccard(spark, sf).collect()
    assert(out.nonEmpty) // testdata plants near-duplicates
    out.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.8))
  }

  test("codegen shingles equal the column-algebra spelling") {
    val both = docs.select(
      graft.functions.Shingles.shingles($"text", 3).as("fast"),
      array_distinct(graft.functions.TextFunctions.shingles($"text", 3)).as("slow"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
    // short text → empty, not null
    val short = Seq((1L, "only two")).toDF("doc_id", "text")
      .select(graft.functions.Shingles.shingles($"text", 3)).head()
    assert(short.getSeq[String](0).isEmpty)
    // the positional (non-distinct) form keeps every occurrence in order
    val all = docs.select(
      graft.functions.Shingles.shinglesAll($"text", 3).as("fast"),
      graft.functions.TextFunctions.shingles($"text", 3).as("slow"))
      .collect()
    all.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("winnowing: shared passage guarantees shared fingerprints") {
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val docA = passage + " and then some completely different trailing content here"
    val docB = "unrelated preamble text about query engines first " + passage
    val docC = "nothing in common with the others at all just noise tokens"
    val fp = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
      .select($"doc_id", graft.functions.Winnow.winnow($"text", 5, 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    // determinism
    assert(fp(1L) === Seq((1L, docA)).toDF("doc_id", "text")
      .select(graft.functions.Winnow.winnow($"text", 5, 4))
      .head().getSeq[Long](0))
    // winnowing guarantee: a shared substring >= w+k-1 chars shares >= 1
    // fingerprint; a full shared sentence shares many
    val sharedAB = fp(1L).toSet.intersect(fp(2L).toSet)
    val sharedAC = fp(1L).toSet.intersect(fp(3L).toSet)
    assert(sharedAB.size >= 5, s"expected heavy overlap, got ${sharedAB.size}")
    assert(sharedAC.size < sharedAB.size / 2)
  }

  test("winnow overlap query finds planted near-dup pairs") {
    val out = DedupQueries.qWinnowOverlap(spark, sf)
    assert(out.count() > 0)
    out.collect().foreach(r => assert(r.getAs[Double]("overlap") >= 0.5))
  }

  test("prefix-filtered winnow overlap equals the naive print self-join") {
    // the naive spelling the oracle replays: count shared prints per
    // ordered pair, threshold on the smaller doc's print count
    val fp = Tables.documents(spark, sf)
      .select($"doc_id",
        explode(graft.functions.Winnow.winnow($"text", 12, 8)).as("h"))
    val naive = SetSimNaive.overlap(fp, 0.5)
      .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
      .collect().toSet
    val fast = DedupQueries.winnowOverlapPrefix(fp, threshold = 0.5)
      .select($"doc_a", $"doc_b", $"shared").as[(Long, Long, Long)]
      .collect().toSet
    assert(fast === naive)
    assert(fast.nonEmpty)
  }

  test("simhash: deterministic, near-dup-stable, codegen-evaluable") {
    val fp = docs.select($"doc_id", SimHash.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) === SimHash.compute(base)) // expression == direct call
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(0L), fp(1L)) <= 6, "near-dups should be close")
    assert(hamming(fp(0L), fp(10L)) > 6, "unrelated should be far")
  }

  test("portable HLL estimate is within 15% of exact distinct shingles") {
    val exact = Tables.documents(spark, sf)
      .select(explode(graft.functions.Shingles.shingles($"text", 3)).as("v"))
      .select(countDistinct($"v")).head().getLong(0)
    val est = DedupQueries.qHllDistinct(spark, sf)
      .head().getAs[Double]("est_distinct")
    assert(exact > 0)
    assert(math.abs(est / exact - 1.0) <= 0.15,
      s"HLL est $est vs exact $exact (m=128 should be ~9% error)")
  }

  test("blocked fuzzy match equals the unblocked all-pairs comparison") {
    // blocking on the last token loses no pairs on this fixture: any
    // cross-block pair differs in the noun, whose edit distance alone
    // already exceeds the threshold — the spec proves the recall claim
    // rather than assuming it.
    val got = DedupQueries.qFuzzyMatch(spark, sf)
      .select($"name_a", $"name_b", $"lev").as[(String, String, Long)]
      .collect().toSet
    val names = Tables.part(spark, sf)
      .select($"p_name").distinct().as[String].collect()
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("entity resolution clusters are transitively closed with max-support survivors") {
    val golden = DedupQueries.qEntityResolution(spark, sf).collect()
    val pairs = DedupQueries.qFuzzyMatch(spark, sf)
      .select($"name_a", $"name_b").as[(String, String)].collect()
    val support = Tables.part(spark, sf).groupBy($"p_name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    // driver-side union-find over the fuzzy pairs
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val clusters = support.keys.groupBy(find).values.map(_.toSet).toSet
    // one golden record per cluster; survivor maximizes (support, -name)
    assert(golden.length === clusters.size)
    val gotSurvivors = golden.map(_.getAs[String]("survivor")).toSet
    val wantSurvivors = clusters.map(c =>
      c.maxBy(n => (support(n), n.map(ch => (255 - ch).toChar).mkString)))
    assert(gotSurvivors === wantSurvivors)
    // pooled support adds up to the whole table
    assert(golden.map(_.getAs[Long]("total_parts")).sum ===
      Tables.part(spark, sf).count())
  }

  test("simhash block-banding is a complete candidate generator for d<=3") {
    // pigeonhole: hamming<=3 over 6 blocks of 10 bits → >=3 blocks equal,
    // so at least one of the C(6,3) block-triple bucket keys matches
    def blockEq(a: Long, b: Long, i: Int): Boolean =
      ((a >>> (i * SimHash.BlockBits)) & SimHash.BlockMask) ==
        ((b >>> (i * SimHash.BlockBits)) & SimHash.BlockMask)
    val r = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = r.nextLong() & ((1L << SimHash.Bits) - 1)
      var b = a
      val flips = r.nextInt(4) // 0..3 bit flips
      (1 to flips).foreach(_ => b ^= (1L << r.nextInt(SimHash.Bits)))
      val tripleMatches = SimHash.BlockCombos.count(c =>
        c.forall(i => blockEq(a, b, i)))
      assert(tripleMatches >= 1)
    }
    assert(SimHash.BlockCombos.size === 20)
  }

  test("dup-span fraction: planted duplicates score 1, unique text scores 0") {
    val fixture = Seq(
      (0L, base),                     // exact twin of 99 → every span dup
      (99L, base),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three"),          // < SpanW tokens → 0 spans, null frac
      // shares its last 5-token span with doc 1's head nowhere; but
      // contains base's opening span verbatim → exactly one dup position
      (3L, "the quick brown fox jumps completely elsewhere after that"),
    ).toDF("doc_id", "text")
    val out = DedupQueries.dupSpans(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans"),
          Option(r.getAs[java.lang.Double]("dup_frac")))).toMap
    assert(out.size === 5) // a verdict row per document, span-less included
    assert(out(0L)._3 === Some(1.0) && out(99L)._3 === Some(1.0))
    assert(out(1L) === ((6L, 0L, Some(0.0))))
    assert(out(2L) === ((0L, 0L, None)))
    // doc 3: 9 tokens → 5 spans; only "the quick brown fox jumps" is dup
    assert(out(3L)._1 === 5L && out(3L)._2 === 1L)

    // registered query on real data: one verdict per document, and
    // n_spans is exactly max(tokens - (SpanW-1), 0) for every doc
    val real = DedupQueries.qDupSpans(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(real.count() === docs.count())
    val expected = docs.select($"doc_id",
      greatest(graft.functions.TextFunctions.tokenCount($"text") - 4, lit(0L))
        .as("want"))
    assert(real.join(expected, "doc_id")
      .filter($"n_spans" =!= $"want").count() === 0)
  }

  test("dedup-spans apply: owner keeps, later occurrences trimmed, clean text conserved") {
    val fixture = Seq(
      (1L, "a b c d e f g h"),   // owner of every span → conserved
      (2L, "a b c d e f g h"),   // exact twin → fully trimmed
      (3L, "p q r a b c d e"),   // shares only its last span with doc 1
      (4L, "u w m n o"),         // unique → conserved
    ).toDF("doc_id", "text")
    val out = DedupQueries.dedupSpansApply(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_kept"),
          r.getAs[String]("kept_text"))).toMap
    assert(out(1L) === ((8L, 8L, "a b c d e f g h")))
    assert(out(2L) === ((8L, 0L, "")))
    // doc 3's drop span "a b c d e" (owner: doc 1, pos 1) covers its
    // token positions 4-8; the first three tokens survive
    assert(out(3L) === ((8L, 3L, "p q r")))
    assert(out(4L) === ((5L, 5L, "u w m n o")))
    // the survivor corpus is span-clean at the audited width
    val survivors = out.toSeq.map { case (id, (_, _, t)) => (id, t) }
      .toDF("doc_id", "text")
    val residual = DedupQueries.dupSpans(survivors)
      .agg(sum($"dup_spans")).head().getLong(0)
    assert(residual === 0L, s"survivor corpus still has $residual dup spans")

    // registered query on real data: every doc keeps a row; docs that
    // q_dup_spans scores 0 are conserved token-for-token, and the apply
    // strictly reduces the corpus-wide dup-span count
    val applied = DedupQueries.qDedupSpansApply(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(applied.count() === docs.count())
    val clean = DedupQueries.qDupSpans(spark, sf)
      .filter(coalesce($"dup_frac", lit(0.0)) === 0.0).select($"doc_id")
    val conserved = applied.join(clean, "doc_id")
      .filter($"n_kept" =!= $"n_tok").count()
    assert(conserved === 0L, "a doc with no dup spans lost tokens")
    val before = DedupQueries.qDupSpans(spark, sf)
      .agg(sum($"dup_spans")).head().getLong(0)
    val after = DedupQueries.dupSpans(
      applied.select($"doc_id", $"kept_text".as("text")))
      .agg(sum($"dup_spans")).head().getLong(0)
    assert(before > 0L, "fixture should contain dup spans to trim")
    assert(after < before, s"apply must reduce dup spans: $before -> $after")
  }
}
