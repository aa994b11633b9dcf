package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents
import graft.queries.PipelineQueries

class PipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("connected components labels each cluster with its min node") {
    // two clusters {1,2,3,4} (chain) and {10,11}; 20 isolated via self-pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("src", "dst")
    val comp = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L && comp(4L) === 1L)
    assert(comp(10L) === 10L && comp(11L) === 10L)
    assert(comp(20L) === 20L)
  }

  test("keepSurvivors drops all but the min id of each cluster") {
    val corpus = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L)).toDF("src", "dst")
    val out = ConnectedComponents.keepSurvivors(corpus, "doc_id", pairs)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    // cluster {1,2,5} → 1; cluster {3,4} → 3; 6 untouched
    assert(out === Seq(1L, 3L, 6L))
  }

  test("full pipeline output is a subset of the exact-stage output") {
    val exact = PipelineQueries.cleanExact(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val full = PipelineQueries.cleanNearDup(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(full.subsetOf(exact))
    assert(full.nonEmpty)
    // near-dup clustering must actually remove something at this sf
    // (the fixture plants near-duplicates) or at minimum not add rows
    assert(full.size <= exact.size)
  }

  test("reported quality score equals the shared pipeline-gate formula") {
    import graft.functions.TextFunctions
    val reported = graft.queries.TextQueries.qQualityScore(spark, sf)
      .select($"doc_id", $"quality").as[(Long, Double)].collect().toMap
    val shared = Tables.documents(spark, sf)
      .select($"doc_id",
        TextFunctions.qualityScore(
          TextFunctions.tokens($"text"), $"n_chars").as("q"))
      .as[(Long, Double)].collect().toMap
    reported.foreach { case (id, q) =>
      assert(math.abs(q - shared(id)) < 1e-12, s"doc $id")
    }
  }

  test("pipeline keeps only english docs above the quality floor") {
    val out = PipelineQueries.cleanExact(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("lang") === "en")
      assert(r.getAs[Double]("quality") >= 0.5)
    }
  }

  test("bpe merge ranking equals a driver-side pair count of the corpus") {
    val rows = graft.queries.TextQueries.qBpeMerges(spark, sf).collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("p"), r.getAs[Long]("n")))
    assert(rows.length === 20 && rows.map(_._1).toSeq === (1L to 20L))
    // recount from scratch: every adjacent char pair of every token
    // occurrence in the raw text
    val counts = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      graft.functions.TextFunctions.tokenize(r.getString(0)).foreach { w =>
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      }
    }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(rows.map(r => (r._2, r._3)).toSeq === want)
  }

  test("bpe training loop equals a driver-side reference trainer") {
    val got = graft.queries.TextQueries.qBpeTrain(spark, sf).collect()
      .sortBy(_.getAs[Int]("step"))
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("a"),
        r.getAs[String]("b"), r.getAs[Long]("n")))
    assert(got.map(_._1).toSeq === Seq(1, 2, 3))
    // independent reference: freq-weighted vocab, K rounds of
    // count-argmax-apply with leftmost-non-overlapping merge application
    val vocab = scala.collection.mutable.Map.empty[List[String], Long]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      graft.functions.TextFunctions.tokenize(r.getString(0)).foreach { w =>
        val syms = w.map(_.toString).toList
        vocab(syms) = vocab.getOrElse(syms, 0L) + 1L
      }
    }
    var state = vocab.toMap
    val want = (1 to 3).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p.head, p(1))) = counts.getOrElse((p.head, p(1)), 0L) + f
        }
      }
      val ((a, b), n) = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
      def merge(syms: List[String]): List[String] = syms match {
        case x :: y :: rest if x == a && y == b => (a + b) :: merge(rest)
        case x :: rest => x :: merge(rest)
        case Nil => Nil
      }
      state = state.groupBy { case (syms, _) => merge(syms) }
        .map { case (m, g) => m -> g.values.sum }
      (step, a, b, n)
    }
    assert(got.toSeq === want,
      s"engine merges ${got.toSeq} != reference ${want}")
  }

  test("unigram-LM trainer equals a driver-side reference (Viterbi hard-EM)") {
    val got = graft.queries.TextQueries.qUnigramLm(spark, sf).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("n_uses"),
        r.getAs[Long]("lp_micro"))).toSeq
    // independent reference: seed substring vocab, 2 Viterbi hard-EM
    // rounds with the cost*16+s tie-break encoding, floor for unused
    val Inf = 1000000000000000L
    def q(c: Long, tot: Long): Long =
      BigDecimal(-math.log(c.toDouble / tot.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val wfreq = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      graft.functions.TextFunctions.tokenize(r.getString(0))
        .filter(_.length <= 12).foreach(w => wfreq(w) += 1L)
    }
    val seed = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, f) <- wfreq; s <- 0 until w.length;
         e <- (s + 1) to math.min(s + 4, w.length))
      seed(w.substring(s, e)) += f
    val vsel = seed.iterator.filter(_._1.length == 1).toSeq ++
      seed.iterator.filter(_._1.length >= 2).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(64)
    val tot0 = vsel.map(_._2).sum
    var vocab: Map[String, Long] =
      vsel.map { case (p, c) => p -> q(c, tot0) }.toMap
    var counts: Map[String, Long] = Map.empty
    for (_ <- 1 to 2) {
      val cnt = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, f) <- wfreq) {
        val L = w.length
        val best = Array.fill(L + 1)(Inf); best(0) = 0L
        for (p <- 1 to L) {
          val opts = (math.max(0, p - 4) until p).flatMap(s =>
            vocab.get(w.substring(s, p)).map(c => best(s) + c))
          if (opts.nonEmpty) best(p) = opts.min
        }
        var pos = L
        while (pos > 0) {
          val k = (math.max(0, pos - 4) until pos).flatMap(s =>
            vocab.get(w.substring(s, pos))
              .map(c => (best(s) + c) * 16 + s)).min
          val s = (k % 16).toInt
          cnt(w.substring(s, pos)) += f
          pos = s
        }
      }
      counts = cnt.toMap
      val tot = counts.values.sum
      vocab = vocab.keysIterator
        .map(p => p -> counts.get(p).map(c => q(c, tot)).getOrElse(30000000L))
        .toMap
    }
    val tot2 = counts.values.sum
    val want = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(40)
      .map { case (p, c) => (p, c, q(c, tot2)) }
    assert(got === want, s"engine top-40 != reference")
    // structural sanity: pieces cover more than single chars
    assert(got.exists(_._1.length >= 2), "trained vocab should use multi-char pieces")
  }

  test("tokenizer apply equals driver-side encoding with the learned merges") {
    val merges = graft.queries.TextQueries.qBpeTrain(spark, sf).collect()
      .sortBy(_.getAs[Int]("step"))
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    def encode(w: String): Int = {
      var syms = w.map(_.toString).toList
      merges.foreach { case (a, b) =>
        def m(l: List[String]): List[String] = l match {
          case x :: y :: rest if x == a && y == b => (a + b) :: m(rest)
          case x :: rest => x :: m(rest)
          case Nil => Nil
        }
        syms = m(syms)
      }
      syms.size
    }
    val want = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    Tables.documents(spark, sf).select("source", "text").collect().foreach { r =>
      graft.functions.TextFunctions.tokenize(r.getString(1)).foreach { w =>
        val (n, c, sy) = want.getOrElse(r.getString(0), (0L, 0L, 0L))
        want(r.getString(0)) = (n + 1, c + w.length, sy + encode(w))
      }
    }
    val got = graft.queries.TextQueries.qBpeApply(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_chars"),
          r.getAs[Long]("sum_symbols"))).toMap
    assert(got === want.toMap)
    // merges must actually compress: fewer symbols than characters
    got.values.foreach { case (_, c, sy) => assert(sy < c) }
  }

  test("two-space replace applies merges leftmost-non-overlapping") {
    // the representation invariant the BPE state relies on
    def apply1(r: String, a: String, b: String): String =
      r.replace(s" $a  $b ", s" $a$b ")
    assert(apply1(" a  a  a ", "a", "a") === " aa  a ")
    assert(apply1(" a  b  a  b ", "a", "b") === " ab  ab ")
    assert(apply1(" x  a  b  y ", "a", "b") === " x  ab  y ")
    assert(apply1(" a  b ", "a", "b") === " ab ")
  }

  test("boilerplate report equals a driver-side per-source span census") {
    val rows = graft.queries.TextQueries.qBoilerplate(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[String]("top_span"), r.getAs[Long]("n_top"),
          r.getAs[Long]("n_spans"))).toMap
    // recount: every 5-token span per source, argmax by (count, span)
    val census = scala.collection.mutable
      .Map.empty[String, scala.collection.mutable.Map[String, Long]]
    Tables.documents(spark, sf).select("source", "text").collect().foreach { r =>
      val m = census.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.Map.empty)
      val w = graft.functions.TextFunctions.tokenize(r.getString(1))
      (0 to w.length - 5).foreach { i =>
        val p = w.slice(i, i + 5).mkString(" ")
        m(p) = m.getOrElse(p, 0L) + 1L
      }
    }
    val want = census.collect { case (src, m) if m.nonEmpty =>
      val (span, n) = m.maxBy { case (p, c) => (c, p) }
      src -> (span, n, m.values.sum)
    }.toMap
    assert(rows === want)
    assert(rows.nonEmpty)
  }

  test("lang confusion matrix partitions the corpus and shares sum to 1 per class") {
    val rows = graft.queries.TextQueries.qLangConfusion(spark, sf).collect()
      .map(r => (r.getAs[String]("lang_label"), r.getAs[String]("lang_guess"),
        r.getAs[Long]("n"), r.getAs[Long]("n_actual"),
        r.getAs[Double]("frac_of_actual")))
    // cells partition the corpus exactly
    assert(rows.map(_._3).sum === Tables.documents(spark, sf).count())
    // per true class: cell counts sum to the class total, shares to ~1
    rows.groupBy(_._1).values.foreach { cells =>
      assert(cells.map(_._3).sum === cells.head._4)
      assert(math.abs(cells.map(_._5).sum - 1.0) < 1e-4)
    }
    // the guess column only emits the four supported codes
    assert(rows.map(_._2).toSet.subsetOf(Set("en", "de", "fr", "es")))
  }

  test("t-closeness equals a driver-side total-variation recompute") {
    val r = graft.queries.PipelineQueries.qTCloseness(spark, sf).head()
    val rows = Tables.customer(spark, sf)
      .selectExpr("c_nationkey",
        "CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) / 100000.0) AS BIGINT)",
        "c_mktsegment").collect()
      .map(x => ((x.getInt(0), x.getLong(1)), x.getString(2)))
    val n = rows.length.toLong
    val global = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val segs = global.keySet
    val tvds = rows.groupBy(_._1).toSeq.map { case (_, members) =>
      val ng = members.length.toLong
      val local = members.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val numer = segs.toSeq
        .map(sg => math.abs(n * local.getOrElse(sg, 0L) - ng * global(sg))).sum
      val tvd = BigDecimal(numer.toDouble / (2.0 * ng * n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (ng, tvd)
    }.toSeq
    assert(r.getAs[Long]("n_groups") === tvds.size.toLong)
    assert(r.getAs[Double]("t_max_r") === tvds.map(_._2).max)
    val violating = tvds.filter(_._2 > 0.4)
    assert(r.getAs[Long]("n_violating") === violating.size.toLong)
    assert(r.getAs[Long]("rows_at_risk") === violating.map(_._1).sum)
    // a TVD is a distance: in [0, 1]
    assert(tvds.forall(t => t._2 >= 0.0 && t._2 <= 1.0))
  }

  test("UnigramSegment handles 17+-char words (no nibble collision) and matches a two-key DP") {
    // The retired (best+cost)*16+s encoding decoded start = k%16, so any
    // chosen s >= 16 produced a bogus piece boundary. Craft a 20-char word
    // whose optimal final piece starts at s = 17.
    import graft.functions.UnigramSegmentExpression
    val word = "abcdefghijklmnopqrst" // len 20
    val vocab = new java.util.HashMap[String, java.lang.Long]()
    word.foreach(c => vocab.put(c.toString, 10L))
    vocab.put(word.substring(17, 20), 5L) // "rst", cheaper than r+s+t
    val got = UnigramSegmentExpression.compute(word, vocab, maxPiece = 4)
    val pieces = (0 until got.numElements())
      .map(i => got.getUTF8String(i).toString)
    // backtrace order is end -> start; every piece must be a real vocab
    // entry and reassemble the word
    assert(pieces.forall(vocab.containsKey), s"non-vocab piece in $pieces")
    assert(pieces.reverse.mkString === word)
    assert(pieces.head === "rst", s"optimal tail piece lost: $pieces")
    // reference: explicit (cost, smallest-s) DP over the same vocab
    def ref(w: String): Seq[String] = {
      val Inf = Long.MaxValue / 4
      val L = w.length
      val best = Array.fill(L + 1)(Inf); best(0) = 0L
      for (p <- 1 to L; s <- math.max(0, p - 4) until p)
        Option(vocab.get(w.substring(s, p))).foreach { c =>
          best(p) = math.min(best(p), best(s) + c)
        }
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = L
      while (pos > 0) {
        val s = (math.max(0, pos - 4) until pos)
          .filter(s => vocab.get(w.substring(s, pos)) != null)
          .minBy(s => (best(s) + vocab.get(w.substring(s, pos)).longValue, s))
        out += w.substring(s, pos); pos = s
      }
      out.toSeq
    }
    assert(pieces === ref(word))
  }

  test("UnigramSegment codegen path equals the interpreted DP") {
    import graft.functions.{UnigramSegment, UnigramSegmentExpression}
    // no CodegenFallback: the expression must implement doGenCode itself
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[UnigramSegmentExpression]))
    val vocab = Map("a" -> 10L, "b" -> 10L, "c" -> 10L, "ab" -> 15L,
      "bc" -> 12L, "abc" -> 40L)
    val words = Seq("abcabc", "aabbcc", "cab", "", "abcdefghijklmnopqrst")
      .toDF("word")
    val viaPlan = words
      .select($"word", UnigramSegment.segment($"word", vocab, 3).as("p"))
      .as[(String, Seq[String])].collect().toMap
    val jm = new java.util.HashMap[String, java.lang.Long]()
    vocab.foreach { case (k, v) => jm.put(k, v) }
    words.as[String].collect().foreach { w =>
      val direct = UnigramSegmentExpression.compute(w, jm, 3)
      val ds = (0 until direct.numElements())
        .map(i => direct.getUTF8String(i).toString)
      assert(viaPlan(w) === ds, s"codegen != interpreted for '$w'")
    }
  }
}
