package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.mr.MRPipeline

/** Queries expressed through the `graft.mr` fluent API (the reference's
  * own programming model, SURVEY.md §2A) rather than DataFrame ops —
  * proving the parity layer produces oracle-identical results.
  */
object MRQueries {

  /** Word count exactly as the reference writes it: flatMap-shaped map
    * emitting (token, 1), combiner summing map-side, reduce summing —
    * reference `word_count/map.py:4-13` + `word_count/reduce.py:2-12`,
    * run here over the `documents` table. */
  def qMrWordCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id".cast("string"), $"text").as[(String, String)]
    val sum = (k: String, vs: Seq[Long]) => Iterator.single((k, vs.sum))
    MRPipeline.fromDataset(docs)
      .map { (_, text) =>
        graft.functions.TextFunctions.tokenize(text).iterator.map(w => (w, 1L))
      }
      .reduceWithCombine(sum, numReducers = 8)
      .toDS.toDF("word", "cnt")
  }

  // Same oracle as the DataFrame word count — both must agree with DuckDB.
  val qMrWordCountSql: String = Relational.qWordCountSql

  /** AMPLab Q2 through the MR API: map emits (key-prefix, acctbal),
    * reduce sums — reference `performance_functions/query_2.py:20-38`.
    * Cents-as-long arithmetic keeps the sum exact and order-independent
    * (the MR layer has no Catalyst decimal types). */
  def qMrSubstrAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_name", $"c_acctbal").as[(String, Double)]
    val sum = (k: String, vs: Seq[Long]) => Iterator.single((k, vs.sum))
    MRPipeline.fromDataset(cust)
      .map { (name, bal) =>
        // SQL-substr semantics (total on short strings), not Java
        // substring (which throws below 16 chars)
        val prefix = name.slice(14, 16)
        // half-AWAY-FROM-ZERO to match DuckDB/Spark round();
        // math.round alone is half-up (floor(x+0.5)), which disagrees
        // on negative exact half-cent values (-2.5 → -2 vs -3)
        val cents = if (bal < 0) -math.round(-bal * 100) else math.round(bal * 100)
        Iterator.single((prefix, cents))
      }
      .reduceWithCombine(sum, numReducers = 8)
      .map { (k, cents) => Iterator.single((k, cents / 100.0)) }
      .toDS.toDF("key_prefix", "sum_bal")
  }

  val qMrSubstrAggSql: String =
    "SELECT substr(c_name, 15, 2) AS key_prefix, " +
      "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal " +
      "FROM customer GROUP BY substr(c_name, 15, 2)"

  /** AMPLab Q3 exactly as the reference stages it (`query_3_phase_1.py`
    * tagged-union join + stitch, `query_3_phase_2.py` per-key sum,
    * `query_3_phase_3.py` single-reducer global argmax) — expressed 1:1
    * through the MR verbs to prove the parity layer can host the
    * reference's hardest job shape. Values are tagged strings, mimicking
    * the reference's dynamic JSON records; money is cents-as-long so the
    * MR layer needs no decimal types. */
  def qMrQ3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoff = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    // phase-1 map side: tag both sources by join key (reference tags with
    // a recordType dict; here "o|" / "l|" string prefixes)
    val orders = Tables.orders(s, d)
      .filter($"o_orderdate" < cutoff)
      .select($"o_orderkey".cast("string"), concat(lit("o|"), $"o_custkey")).as[(String, String)]
    val lines = Tables.lineitem(s, d)
      .select($"l_orderkey".cast("string"),
        // Canon.qlong (floor(x·100 + 0.5)), NOT round(x·100): the
        // 4-decimal price*(1-disc) product times 100 lands EXACTLY on .5
        // half-cents where the engines' round() legally disagree; prices
        // are positive, so it is HALF_UP exactly (r16 float-canon audit)
        concat(lit("l|"), Canon.qlong($"l_extendedprice" * (lit(1.0) - $"l_discount"), 100)))
      .as[(String, String)]
    // phase-1 reduce: stitch the unique order record with its line items
    val stitched = MRPipeline.fromDataset(orders)
      .merge(MRPipeline.fromDataset(lines))
      .reduce({ (_: String, vs: Seq[String]) =>
        val cust = vs.collectFirst { case v if v.startsWith("o|") => v.drop(2) }
        cust match {
          case None => Iterator.empty // line items with no (date-filtered) order
          case Some(c) => vs.iterator
            .filter(_.startsWith("l|"))
            .map(v => (c, v.drop(2).toLong))
        }
      }, numReducers = 8)
    // phase 2: sum cents per customer (combiner = reducer, algebraic)
    val totals = stitched.reduceWithCombine(
      (k: String, vs: Seq[Long]) => Iterator.single((k, vs.sum)), numReducers = 8)
    // phase 3: single-reducer global argmax (reference uses reduce(r, 1))
    val top1 = totals
      .map { (c, cents) => Iterator.single(("all", (c, cents))) }
      .reduce({ (_: String, vs: Seq[(String, Long)]) =>
        Iterator.single(vs.maxBy { case (c, cents) => (cents, -c.toLong) })
      }, numReducers = 1)
    // the argmax reducer emits the winning (custkey, cents) as the pair
    top1.toDS.map { case (c, cents) => (c.toLong, cents / 100.0) }
      .toDF("o_custkey", "total_rev")
  }

  // cents arithmetic spelled identically for the oracle
  val qMrQ3Sql: String =
    "SELECT o_custkey, " +
      "CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_rev " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
      "GROUP BY o_custkey ORDER BY total_rev DESC, o_custkey ASC LIMIT 1"

  /** A8 end-to-end under the gate: the CONFIG surface builds the input
    * stage — `input.format=kv` routes through the `graft-kv` DSv2
    * connector exactly as the reference's `config({"inputSourceType":
    * "dynamodb"})` routes to its DynamoDB input handler
    * (`driver/driver.py:240-251`). The nation dim rides as (key, JSON
    * item) pairs — a 3-attribute item is serialized whole, never
    * truncated — and the map stage extracts the region from the item,
    * reduce counts per region. Oracle recomputes from the nation
    * parquet. */
  def qMrConfig(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val table = "kv_mr_nation"
    MRQueries.synchronized {
      if (!graft.sources.kv.KvStore.exists(table)) {
        val df = Tables.nation(s, d)
        graft.sources.kv.KvStore.register(table, "n_nationkey", df.schema)
        graft.sources.kv.KvStore.put(table, df.collect().map(_.toSeq).toSeq)
      }
    }
    val sum = (k: String, vs: Seq[Long]) => Iterator.single((k, vs.sum))
    val rkPattern = """"n_regionkey":(-?\d+)""".r
    MRPipeline.fromConfig(s,
        Map("input.format" -> "kv", "input.table" -> table))
      .map { (_, item) =>
        val rk = rkPattern.findFirstMatchIn(item).map(_.group(1)).getOrElse("?")
        Iterator.single((rk, 1L))
      }
      .reduceWithCombine(sum, numReducers = 4)
      .toDS.toDF("region", "n_nations")
  }

  val qMrConfigSql: String =
    "SELECT CAST(n_regionkey AS VARCHAR) AS region, count(*) AS n_nations " +
      "FROM nation GROUP BY 1"

  val queries: Seq[(String, Query)] = Seq(
    "q_mr_wordcount"  -> Query(qMrWordCount, qMrWordCountSql),
    "q_mr_substr_agg" -> Query(qMrSubstrAgg, qMrSubstrAggSql),
    "q_mr_config"     -> Query(qMrConfig, qMrConfigSql),
    "q_mr_q3"         -> Query(qMrQ3, qMrQ3Sql),
  )
}
