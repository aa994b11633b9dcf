package graft.datagen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ConfValue, Tuning}

/** Deterministic synthetic-fixture generator for scale factors the driver
  * does not ship (TESTDATA.md tops out at sf0.1) — the tool that turns the
  * repo's "100 TB-safe" plan audits into measured scale curves (sf0.01 →
  * 0.1 → 1 → …) without touching the read-only `/root/testdata`.
  *
  * Same schemas and row-count rules as the driver's fixtures (FIXTURES.md
  * / TESTDATA.md; distributions probed from the sf0.1 parquet): TPC-H-ish
  * `region nation customer supplier part orders lineitem` + an `events`
  * stream table + `documents`/`embeddings` for the LLM-pipeline
  * operators. Value distributions match the driver's EXCEPT
  * `documents.text`, which deliberately upgrades the driver's closed
  * 31-word vocabulary to an open Zipf/Heaps one (see the HeadWords note)
  * — the closed vocabulary made every exact-dedup scale slope quadratic
  * by construction. The byte stream is NOT identical to the driver's
  * (different RNG), and does not need to be: every oracle is dual-engine
  * over whatever files both engines read, so correctness checks stay
  * engine-independent on generated data too.
  *
  * Generation is itself scale-shaped: every column is a pure Catalyst
  * expression over `spark.range(n)` (xxhash64-derived uniforms — a
  * splittable counter-based RNG, the Philox/Threefry discipline), so
  * generating sf100 on a 1000-executor cluster is the same code with no
  * driver-side loop, no RNG object, and no shuffle. The only
  * non-parallel step is the final `coalesce(1)` that matches the
  * driver's one-file-per-table layout (DuckDB's oracle views read single
  * files); row groups are capped at 16 MB so a single file still fans
  * out across 32 scan tasks.
  */
object DataGen {

  /** Counter-based uniform in [0, 1): xxhash64 of (tag, keys…) — fully
    * deterministic, per-field independent streams via the tag. */
  private def u(tag: String, keys: Column*): Column =
    pmod(xxhash64((lit(tag) +: keys): _*), lit(1000000000L)).cast("double") / 1e9

  /** Uniform integer in [0, n). */
  private def ui(tag: String, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(tag) +: keys): _*), lit(n))

  private def pick(arr: Seq[String], idx: Column): Column =
    element_at(array(arr.map(lit): _*), (idx + 1).cast("int"))

  private val Epoch1995Days = lit("1995-01-01").cast("date")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val PAdjs = Seq("large", "hot", "blue", "red", "green", "small", "dark", "light")
  private val PNouns = Seq("ring", "bolt", "screw", "nut", "washer", "gear", "cap", "rod")
  private val RegionNames = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  // ── Open-vocabulary document text ─────────────────────────────────────
  // The driver fixture draws doc tokens from a CLOSED 31-word vocabulary.
  // That is fine for the oracle gate (dual-engine — any text checks) but
  // poisonous for dedup scale measurement: with a closed vocabulary every
  // shingle's document frequency grows linearly with the corpus, so the
  // candidate floor Σ df² of ANY exact inverted-index join is quadratic
  // BY CONSTRUCTION — the measured sf3 slopes said nothing about real
  // corpora (round-10 verdict, top finding). Generated fixtures instead
  // use the empirical shape of real text:
  //  - Zipf(1) token ranks via inverse CDF (rank = floor(V^u));
  //  - a vocabulary that GROWS with the corpus (Heaps' law,
  //    V = 20·sqrt(expected tokens)), so tail words — and therefore most
  //    shingles — stay rare at every scale;
  //  - the top 32 ranks are language-specific function words (the head
  //    mass real corpora put on stopwords), keyed to the doc's lang label
  //    so the language-ID and quality-gate operators see real signal;
  //  - open-tail words spell their rank in base 36 ("x0" + digits) —
  //    pure-alphanumeric, ≤ 8 chars, inside every tokenizer's word cap.
  //    The "x0" prefix keeps tails DISJOINT from every head word: with a
  //    bare "x" prefix, zh heads "xia"/"xiao"/"xiang" aliased tail ranks
  //    658/23712/853612 ("ia"/"iao"/"iang" are valid base36 numerals), so
  //    non-zh docs emitted zh marker words at tail-rank frequency and
  //    diluted the language-ID head signal (round-11 advice). No head
  //    word starts with "x0" (asserted below), and no tail word can ever
  //    equal a head word.
  // Planted exact duplicates (the ~1/625 dupOf rule) are unchanged.
  private val HeadWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "for", "on",
      "it", "as", "at", "by", "be", "or", "an", "we", "you", "this",
      "that", "with", "from", "data", "query", "table", "row", "join",
      "key", "value", "stream", "batch", "spark"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "den", "von", "mit", "auf", "im", "sich", "des", "dem", "er",
      "sie", "es", "auch", "an", "werden", "aus", "bei", "nach", "wie",
      "wir", "nur", "oder", "um", "aber"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "du",
      "de", "en", "que", "qui", "dans", "pour", "il", "au", "sur", "se",
      "pas", "plus", "par", "avec", "son", "ne", "ce", "vous", "sont",
      "mais", "nous", "comme", "ou"),
    "es" -> Seq("el", "los", "que", "de", "y", "es", "la", "en", "un",
      "una", "del", "las", "se", "por", "con", "no", "su", "para", "al",
      "lo", "como", "mas", "pero", "sus", "le", "ya", "o", "este", "si",
      "porque", "esta", "entre"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "ta", "men", "zhe", "na", "hao",
      "ma", "ge", "zai", "you", "mei", "hen", "dou", "le", "he", "ren",
      "shang", "zhong", "xia", "da", "xiao", "lai", "qu", "shuo", "kan",
      "xiang", "dui", "hui", "neng"))
  private val HeadSize = 32
  require(HeadWords.values.forall(_.size == HeadSize))
  // tail words are "x0" + base36(rank); heads must never collide
  require(HeadWords.values.flatten.forall(!_.startsWith("x0")),
    "head words must be disjoint from the x0-prefixed open tail")

  /** Heaps-law vocabulary size for a corpus of `docs` documents
    * (avg 55 tokens/doc): V = max(512, ceil(20·sqrt(tokens))). */
  private[graft] def vocabSize(docs: Long): Long =
    math.max(512L, math.ceil(20.0 * math.sqrt(docs * 55.0)).toLong)

  /** Row-count rules per scale factor (probed across sf0.001/0.01/0.1). */
  final case class Sizes(sf: Double) {
    val lineitem: Long = (6000000L * sf).toLong
    val orders: Long = (1500000L * sf).toLong
    val customer: Long = (150000L * sf).toLong
    val part: Long = (200000L * sf).toLong
    val supplier: Long = (10000L * sf).toLong
    val events: Long = (1000000L * sf).toLong
    val users: Long = (15000L * sf).toLong
    val documents: Long = math.max(500L, (50000L * sf).toLong)
    val embeddings: Long = math.max(500L, (20000L * sf).toLong)
  }

  def region(s: SparkSession): DataFrame =
    s.range(5).select(col("id").cast("int").as("r_regionkey"),
      pick(RegionNames, col("id")).as("r_name"))

  def nation(s: SparkSession): DataFrame =
    s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(s: SparkSession, sz: Sizes): DataFrame =
    s.range(sz.customer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("c_nat", 25, col("id")).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("c_bal", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick(Segments, ui("c_seg", 5, col("id"))).as("c_mktsegment"))

  def supplier(s: SparkSession, sz: Sizes): DataFrame =
    s.range(sz.supplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("s_nat", 25, col("id")).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("s_bal", col("id")) * 11000.0, 2).as("s_acctbal"))

  def part(s: SparkSession, sz: Sizes): DataFrame =
    s.range(sz.part).select(
      col("id").as("p_partkey"),
      concat(pick(PAdjs, ui("p_adj", 8, col("id"))), lit(" "),
        pick(PNouns, ui("p_noun", 8, col("id")))).as("p_name"),
      concat(lit("Brand#"), ui("p_brand", 25, col("id"))).as("p_brand"),
      pick(PTypes, ui("p_type", 6, col("id"))).as("p_type"),
      (ui("p_size", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000).cast("double") * 0.1, 1)
        .as("p_retailprice"))

  def orders(s: SparkSession, sz: Sizes): DataFrame =
    s.range(sz.orders).select(
      col("id").as("o_orderkey"),
      ui("o_cust", sz.customer, col("id")).as("o_custkey"),
      pick(Seq("F", "O", "P"), ui("o_stat", 3, col("id"))).as("o_orderstatus"),
      round(lit(1000.0) + u("o_total", col("id")) * 499000.0, 2).as("o_totalprice"),
      date_add(Epoch1995Days, ui("o_date", 2404, col("id")).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(Priorities, ui("o_prio", 5, col("id"))).as("o_orderpriority"))

  def lineitem(s: SparkSession, sz: Sizes): DataFrame =
    s.range(sz.lineitem).select(
      ui("l_ord", sz.orders, col("id")).as("l_orderkey"),
      ui("l_part", sz.part, col("id")).as("l_partkey"),
      ui("l_supp", sz.supplier, col("id")).as("l_suppkey"),
      (ui("l_ln", 7, col("id")) + 1).cast("int").as("l_linenumber"),
      (ui("l_qty", 50, col("id")) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("l_price", col("id")) * 104100.0, 2).as("l_extendedprice"),
      (ui("l_disc", 11, col("id")).cast("double") / 100.0).as("l_discount"),
      (ui("l_tax", 9, col("id")).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), ui("l_rf", 3, col("id"))).as("l_returnflag"),
      pick(Seq("F", "O"), ui("l_ls", 2, col("id"))).as("l_linestatus"),
      // independent of o_orderdate, like the driver's fixture (probed:
      // ship−order deltas span ±6.5 years)
      date_add(Epoch1995Days, (ui("l_ship", 2499, col("id")) + 1).cast("int"))
        .cast("timestamp").as("l_shipdate"))

  /** 30 fixed days from 2024-01-01 at any sf (density scales, span does
    * not — matching the driver); ts is monotone in event_id: each event
    * owns a slot of span/n µs and jitters inside it. */
  def events(s: SparkSession, sz: Sizes): DataFrame = {
    val spanMicros = 30L * 86400L * 1000000L
    val slot = math.max(1L, spanMicros / sz.events)
    val base = lit(1704067200000000L) // 2024-01-01T00:00:00Z in µs
    s.range(sz.events).select(
      col("id").as("event_id"),
      timestamp_micros(base + col("id") * slot + ui("e_jit", slot, col("id")))
        .as("ts"),
      ui("e_user", sz.users, col("id")).as("user_id"),
      pick(Seq("view", "click", "purchase", "signup", "error"),
        ui("e_type", 5, col("id"))).as("event_type"),
      // exponential with mean 50 (probed: median 34.8 ≈ 50·ln 2)
      round(lit(-50.0) * log(lit(1.0) - u("e_val", col("id"))), 2).as("value"),
      concat(lit("{\"k\": "), ui("e_k", 100, col("id")), lit("}")).as("props"))
  }

  /** 10–100 Zipf-drawn tokens over the Heaps-growing open vocabulary (see
    * the header note above HeadWords); ~1/625 of docs are planted exact
    * duplicates of an earlier doc (probed: 8 dup texts per 5000), which
    * the dedup family needs at every sf. Every random stream is keyed on
    * `dupOf`, so a planted duplicate reproduces its source byte-for-byte. */
  def documents(s: SparkSession, sz: Sizes): DataFrame = {
    val dupOf = when(
      ui("d_dup", 625, col("id")) === 0 && col("id") >= 317, col("id") - 317)
      .otherwise(col("id"))
    val ntok = (ui("d_ntok", 91, dupOf) + 10).cast("int")
    val langIdx = ui("d_lang", 100, dupOf)
    val lang = when(langIdx < 40, "en").when(langIdx < 55, "fr")
      .when(langIdx < 70, "es").when(langIdx < 85, "de")
      .otherwise("zh")
    val v = vocabSize(sz.documents)
    // Zipf(1) rank by inverse CDF: rank = floor(V^u) ∈ [1, V); P(rank=r)
    // ≈ ln((r+1)/r)/ln V ∝ 1/r. Head mass P(rank ≤ 32) = ln(33)/ln V —
    // ~43% function words at sf0.01, ~33% at sf1 (realistic stopword load)
    def word(p: Column): Column = {
      val r = floor(pow(lit(v.toDouble), u("d_zipf", dupOf, p))).cast("long")
      val tail = concat(lit("x0"), lower(conv(r.cast("string"), 10, 36)))
      val head = HeadWords.toSeq.foldLeft(lit(null).cast("string")) {
        case (acc, (lg, ws)) =>
          when(lang === lg,
            element_at(array(ws.map(lit): _*), r.cast("int"))).otherwise(acc)
      }
      when(r <= HeadSize, head).otherwise(tail)
    }
    val text = array_join(transform(sequence(lit(1), ntok), p => word(p)), " ")
    s.range(sz.documents).select(
      col("id").as("doc_id"),
      text.as("text"),
      lang.as("lang"),
      concat(lit("src"), col("id") % 20).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** 64-dim unit-normalized gaussian vectors (probed: ‖v‖ ≡ 1), label
    * uniform 0–9, independent of the vector (the corpus is deliberately
    * structureless — ANN specs measure recall, not clusterability). */
  def embeddings(s: SparkSession, sz: Sizes): DataFrame = {
    val raw = transform(sequence(lit(0), lit(63)),
      j => sqrt(lit(-2.0) * log(u("v_u1", col("id"), j) + lit(1e-12))) *
        cos(lit(2.0 * math.Pi) * u("v_u2", col("id"), j)))
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    s.range(sz.embeddings).select(
      col("id").as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"),
      ui("v_lab", 10, col("id")).cast("int").as("label"))
  }

  def tables(s: SparkSession, sz: Sizes): Map[String, DataFrame] = Map(
    "region" -> region(s), "nation" -> nation(s),
    "customer" -> customer(s, sz), "supplier" -> supplier(s, sz),
    "part" -> part(s, sz), "orders" -> orders(s, sz),
    "lineitem" -> lineitem(s, sz), "events" -> events(s, sz),
    "documents" -> documents(s, sz), "embeddings" -> embeddings(s, sz))

  /** Write every table as a single `<outDir>/<name>.parquet` FILE (the
    * driver's layout — DuckDB oracle views read files, not directories),
    * with 16 MB row groups so scans still parallelize. */
  def generate(s: SparkSession, sf: Double, outDir: String,
      only: Set[String] = Set.empty): Unit = {
    val sz = Sizes(sf)
    val all = tables(s, sz)
    // a misspelled `only` name must FAIL, not silently generate nothing
    val unknown = only -- all.keySet
    require(unknown.isEmpty,
      s"unknown table(s) ${unknown.mkString(", ")}; " +
        s"valid: ${all.keys.toSeq.sorted.mkString(", ")}")
    val out = new java.io.File(outDir)
    out.mkdirs()
    all
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, df) =>
      val tmp = s"$outDir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 16 * 1024 * 1024)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dest = new java.io.File(out, s"$name.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  /** `DataGen <sf> <outDir> [table,table,…]` — e.g.
    * `DataGen 1.0 bench-data/sf1` or `DataGen 3.0 bench-data/sf3 documents`. */
  def main(args: Array[String]): Unit = {
    val (Array(sf, outDir), only) = (args.take(2), args.drop(2))
    val cpus = ConfValue.positiveInt(Tuning.CpusEnv, sys.env.getOrElse(Tuning.CpusEnv, "8"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .appName("graft-datagen")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, sf.toDouble, outDir,
      only.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet)
    spark.stop()
  }
}
