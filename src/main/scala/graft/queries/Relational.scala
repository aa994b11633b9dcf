package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The reference's relational workload (AMPLab Q1/Q2/Q3, word count, global
  * sort, in-link count, pipeline merge — SURVEY.md §2B) re-hosted on the
  * `/root/testdata` TPC-H-ish tables, expressed Spark-first: declarative
  * DataFrame plans so Catalyst does predicate pushdown, column pruning,
  * partial aggregation and join-strategy selection (broadcast for dims).
  *
  * Reference provenance: queries stated declaratively in
  * `hive/Query1.q`, `hive/Query2.q`, `hive/Query3.q`; hand-rolled MapReduce
  * forms under `src/python/performance_functions/`.
  *
  * Oracle-parity note: every DOUBLE aggregate is computed through
  * decimal(18,2) — per-element cast is deterministic, decimal summation is
  * exact and order-independent, and the final cast back to double is the
  * same IEEE value in Spark and DuckDB. A raw double sum would differ in the
  * last bits between engines depending on reduction order.
  */
object Relational {

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  /** Exact mean of a double column, returned as double. */
  def davg(c: Column): Column = dsum(c) / count(c)
  /** Same trick spelled in DuckDB SQL. */
  def sqlDsum(e: String): String = s"CAST(sum(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
  def sqlDavg(e: String): String = s"${sqlDsum(e)} / count($e)"

  // ── AMPLab Q1: scan + filter + project ─────────────────────────────────
  // Reference: hive/Query1.q:12 (`WHERE pageRank > 10`);
  // performance_functions/query_1.py:10-17. Filter + both-column pruning
  // reach the parquet scan (PushedFilters / ReadSchema).
  def q1FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  val q1Sql: String =
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 30"

  // ── AMPLab Q2: substring key + grouped sum ─────────────────────────────
  // Reference: hive/Query2.q:19 (`SUBSTR(sourceIP,1,7), SUM(adRevenue)`);
  // performance_functions/query_2.py:20-38. Map-side partial aggregation
  // (the reference's combiner, map_shuffle_handler.py:145-162) is automatic
  // in Spark's partial→final hash aggregate.
  def q2SubstrAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(substring(col("c_name"), 15, 2).as("key_prefix"))
      .agg(dsum(col("c_acctbal")).as("sum_bal"))

  val q2Sql: String =
    s"SELECT substr(c_name, 15, 2) AS key_prefix, ${sqlDsum("c_acctbal")} AS sum_bal " +
      "FROM customer GROUP BY substr(c_name, 15, 2)"

  // ── AMPLab Q2b: substring key + grouped sum over a join ────────────────
  // Same shape at fact-table volume: customer ⋈ orders. customer is the
  // small build side → Catalyst broadcasts it (no shuffle of orders on the
  // join key at scale; only the group-by shuffle remains).
  def q2bJoinAgg(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"), substring(col("c_name"), 16, 2).as("cust_prefix"))
    Tables.orders(s, d)
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("cust_prefix"))
      .agg(dsum(col("o_totalprice")).as("sum_price"))
  }

  val q2bSql: String =
    s"SELECT substr(c_name, 16, 2) AS cust_prefix, ${sqlDsum("o_totalprice")} AS sum_price " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY substr(c_name, 16, 2)"

  // ── AMPLab Q3: filter → join → aggregate → top-1 ───────────────────────
  // Reference: hive/Query3.q:24-31; three chained MapReduce jobs
  // (query_3_phase_{1,2,3}.py) collapse to one declarative plan. The date
  // filter sits before the join (Catalyst pushes it into the orders scan);
  // the argmax trick of phase 2/3 becomes TakeOrderedAndProject
  // (orderBy + limit), no single-reducer stage.
  def q3JoinTop1(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(col("rev")).as("total_rev"))
      .orderBy(col("total_rev").desc, col("o_custkey").asc)
      .limit(1)
  }

  val q3Sql: String =
    s"SELECT o_custkey, ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS total_rev " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
      "GROUP BY o_custkey ORDER BY total_rev DESC, o_custkey ASC LIMIT 1"

  // ── Word count: regex tokenize + count ─────────────────────────────────
  // Reference: word_count/map.py:10-13 (split on `'; |, |\*|\n| |:|\.'`),
  // word_count/reduce.py:2-12 (sum of 1s). explode(split(...)) + groupBy
  // keeps the tokenizer inside WholeStageCodegen.
  def qWordCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  val qWordCountSql: String =
    "SELECT word, count(*) AS cnt FROM (" +
      "SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM documents" +
      ") t WHERE length(word) > 0 GROUP BY word"

  // ── Global sort (TeraSort-style) ───────────────────────────────────────
  // Reference: performance_functions/sorting.py + range_partition.py
  // (hand range-partition into 100 bins, per-bin sort). Spark's orderBy is
  // the same physical plan — sampled range partitioning + in-partition
  // sort — chosen automatically.
  def qSortGlobal(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc, col("l_linenumber").asc)

  val qSortGlobalSql: String =
    "SELECT l_extendedprice, l_orderkey, l_linenumber FROM lineitem " +
      "ORDER BY l_extendedprice, l_orderkey, l_linenumber"

  // ── PageRank-simplified: in-link degree count ──────────────────────────
  // Reference: performance_functions/simplified_page_rank.py:25-43
  // (URL → in-link count). Same shape: key → count over a fact table.
  def qInlinkCount(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_links"))

  val qInlinkCountSql: String =
    "SELECT l_partkey, count(*) AS n_links FROM lineitem GROUP BY l_partkey"

  // ── Pipeline merge: UNION ALL of heterogeneous sources ─────────────────
  // Reference: ServerlessMR.merge (main.py:178-180) — a dependent pipeline
  // reads the union of its parents' outputs. Spark: unionByName on aligned
  // projections; the DAG is native, no coordinator.
  def qUnionMerge(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("val"))
    val b = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("id"), col("value").as("val"))
    a.unionByName(b)
  }

  val qUnionMergeSql: String =
    "SELECT o_orderkey AS id, o_totalprice AS val FROM orders WHERE o_orderstatus = 'O' " +
      "UNION ALL SELECT event_id, value FROM events WHERE event_type = 'purchase'"

  // ── Projected KV read analog ───────────────────────────────────────────
  // Reference: DynamoDB ProjectionExpression column pruning
  // (input_handler_dynamodb.py:173-179). Parquet: ReadSchema carries only
  // the two columns.
  def qProjectPrune(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))

  val qProjectPruneSql: String = "SELECT c_custkey, c_acctbal FROM customer"

  // ── Distinct (beyond reference; free in Spark) ─────────────────────────
  def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus")).distinct()

  val qDistinctSql: String =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  // ── Top-k (TakeOrderedAndProject) ──────────────────────────────────────
  // Reference: single-reducer global argmax (query_3_phase_3.py:17-36).
  def qTopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  val qTopKSql: String =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"

  // ── Grouped multi-aggregate (TPC-H Q1 shape) ───────────────────────────
  def qAggStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        davg(col("l_discount")).as("avg_disc"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  val qAggStatsSql: String =
    "SELECT l_returnflag, l_linestatus, " +
      s"${sqlDsum("l_quantity")} AS sum_qty, " +
      s"${sqlDsum("l_extendedprice")} AS sum_price, " +
      s"${sqlDavg("l_discount")} AS avg_disc, " +
      "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
      "count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus"

  // ── Semi / anti joins (beyond reference; Spark built-ins) ──────────────
  def qSemiJoin(s: SparkSession, d: String): DataFrame = {
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
      .select(col("o_custkey"))
    Tables.customer(s, d)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  val qSemiJoinSql: String =
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN " +
      "(SELECT o_custkey FROM orders WHERE o_totalprice > 200000)"

  def qAntiJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"))
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"))
  }

  val qAntiJoinSql: String =
    "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey NOT IN " +
      "(SELECT o_custkey FROM orders WHERE o_totalprice > 400000)"

  // ── Date filter + grouped count ────────────────────────────────────────
  // Reference: visitDate < '2000-01-01' filter (query_3_phase_1.py:31-33).
  def qDateFilter(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

  val qDateFilterSql: String =
    "SELECT o_orderpriority, count(*) AS n FROM orders " +
      "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
      "AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00' " +
      "GROUP BY o_orderpriority"

  // ── Rollup (beyond reference) ──────────────────────────────────────────
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))

  val qRollupSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem " +
      "GROUP BY ROLLUP (l_returnflag, l_linestatus)"

  // ── Multi-way join with dimension broadcast ────────────────────────────
  // customer ⋈ nation ⋈ region: both dims broadcast; only the agg shuffles.
  def qStarJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))

  val qStarJoinSql: String =
    "SELECT r_name, n_name, count(*) AS n_cust, " +
      s"${sqlDsum("c_acctbal")} AS sum_bal " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name"

  // ── Set ops: INTERSECT / EXCEPT (SURVEY §2B gap, free in Spark) ────────
  def qIntersect(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
      .intersect(
        Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey")))

  val qIntersectSql: String =
    "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
      "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"

  def qExcept(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
      .except(
        Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey")))

  val qExceptSql: String =
    "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
      "EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"

  // ── CUBE: all grouping-set combinations in one shuffle ────────────────
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val qCubeSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      s"${sqlDsum("l_quantity")} AS sum_qty " +
      "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"

  // ── HLL approximate distinct (sketch-based — the 100 TB spelling of
  // countDistinct: mergeable fixed-size state instead of a full shuffle
  // of distinct values). HLL implementations differ per engine → no SQL
  // oracle; accuracy vs exact is asserted in RelationalSpec.
  // Audit shape (round 15): Spark's native HLL++ sketch cannot be
  // replayed engine-agnostically (q_hll_distinct is the portable md5-HLL
  // twin with full oracle parity), so the registered output pins what IS
  // exact — the per-group distinct count — plus the 5%-accuracy verdict
  // on the HLL++ estimate. That makes the row hash-checkable (an
  // estimate drifting past 5% flips the boolean and breaks the hash)
  // instead of the registry's one rows-only declaration; the same
  // candidates-anchored audit shape the seven sketch-accuracy audits use.
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("approx") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).as("hllpp_within_5pct"))

  val qApproxDistinctSql: String =
    "SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact, " +
      "TRUE AS hllpp_within_5pct FROM lineitem GROUP BY 1"

  // ── CPU-bound kernel (reference tasks 9-11: fib inside a Q2 shape) ─────
  // graft_fib is a codegen Expression — the kernel stays inside
  // WholeStageCodegen with no per-row UDF serialization boundary.
  def qCpuFib(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(pmod(col("o_orderkey"), lit(40)).as("n"))
      .withColumn("f", graft.functions.Fib.fib(col("n")))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("cnt"), max(col("f")).as("fib_n"))
  }

  val qCpuFibSql: String =
    "WITH RECURSIVE f(i, a, b) AS (" +
      "SELECT 0, CAST(0 AS BIGINT), CAST(1 AS BIGINT) " +
      "UNION ALL SELECT i + 1, b, a + b FROM f WHERE i < 39) " +
      "SELECT n, count(*) AS cnt, max(a) AS fib_n " +
      "FROM (SELECT o_orderkey % 40 AS n FROM orders) o " +
      "JOIN f ON f.i = o.n GROUP BY n"

  // ── Pivot: per-user event counts, one column per event type ────────────
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .count()
      .na.fill(0L) // absent combinations read 0, matching count_if

  val qPivotSql: String =
    "SELECT user_id, " +
      EventTypes.map(t => s"count(*) FILTER (event_type = '$t') AS \"$t\"")
        .mkString(", ") +
      " FROM events GROUP BY user_id"

  // ── Iterative PageRank ─────────────────────────────────────────────────
  // Oracle = the same 3 damped iterations unrolled as DuckDB CTEs over the
  // same edge projection. Ranks are doubles summed in engine-specific
  // order, so both sides round to 6 decimals (sum-order noise is ~1e-12
  // relative; convergence itself is spec-tested on a known graph).
  def qPagerank(s: SparkSession, d: String): DataFrame =
    graft.operators.PageRank.pagerank(
      Tables.lineitem(s, d).select(col("l_suppkey").as("src"),
        col("l_partkey").as("dst")),
      iterations = 3)
      .select(col("node"), round(col("rank"), 6).as("rank_r"))

  // (1 - CAST(0.85 AS DOUBLE)) reproduces Scala's `1 - 0.85` bit-exactly
  // (0.15000000000000002); a literal 0.15 is a DIFFERENT double.
  private def prIter(prev: String): String =
    s"SELECT n.node, (1 - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * " +
      "coalesce(s.s, CAST(0 AS DOUBLE)) AS rank FROM nodes n LEFT JOIN " +
      s"(SELECT w.dst AS node, sum($prev.rank / w.deg) AS s " +
      s"FROM w JOIN $prev ON w.src = $prev.node GROUP BY 1) s USING (node)"

  val qPagerankSql: String =
    "WITH e AS (SELECT l_suppkey AS src, l_partkey AS dst FROM lineitem), " +
      "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
      "w AS (SELECT e.src, e.dst, d.deg FROM e JOIN " +
      "(SELECT src, count(*) AS deg FROM e GROUP BY src) d USING (src)), " +
      "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes), " +
      s"r1 AS (${prIter("r0")}), " +
      s"r2 AS (${prIter("r1")}), " +
      s"r3 AS (${prIter("r2")}) " +
      "SELECT node, round(rank, 6) AS rank_r FROM r3"

  // ── Personalized PageRank (seed-restart walk) ──────────────────────────
  // The "related to THESE items" recommender score: restart mass pinned
  // to seeds {1,2,3}, 3 damped rounds, untouched nodes stay exactly 0.0
  // and are pruned — so the output is the seeds' 3-hop neighborhood with
  // proximity scores. Oracle = the same rounds unrolled with the seeded
  // CASE restart; doubles round to 6 like q_pagerank.
  private val PprSeeds = Seq(1L, 2L, 3L)

  def qPagerankPersonalized(s: SparkSession, d: String): DataFrame =
    graft.operators.PageRank.personalized(
      Tables.lineitem(s, d).select(col("l_suppkey").as("src"),
        col("l_partkey").as("dst")),
      seeds = PprSeeds, iterations = 3)
      .filter(col("rank") > 0.0)
      .select(col("node"), round(col("rank"), 6).as("rank_r"))

  private def pprIter(prev: String): String = {
    val seedCase = s"CASE WHEN n.node IN (${PprSeeds.mkString(", ")}) " +
      "THEN (1 - CAST(0.85 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END"
    s"SELECT n.node, $seedCase + CAST(0.85 AS DOUBLE) * " +
      "coalesce(s.s, CAST(0 AS DOUBLE)) AS rank FROM nodes n LEFT JOIN " +
      s"(SELECT w.dst AS node, sum($prev.rank / w.deg) AS s " +
      s"FROM w JOIN $prev ON w.src = $prev.node GROUP BY 1) s USING (node)"
  }

  val qPagerankPersonalizedSql: String =
    "WITH e AS (SELECT l_suppkey AS src, l_partkey AS dst FROM lineitem), " +
      "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
      "w AS (SELECT e.src, e.dst, d.deg FROM e JOIN " +
      "(SELECT src, count(*) AS deg FROM e GROUP BY src) d USING (src)), " +
      s"r0 AS (SELECT node, CASE WHEN node IN (${PprSeeds.mkString(", ")}) " +
      "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS rank FROM nodes), " +
      s"r1 AS (${pprIter("r0")}), " +
      s"r2 AS (${pprIter("r1")}), " +
      s"r3 AS (${pprIter("r2")}) " +
      "SELECT node, round(rank, 6) AS rank_r FROM r3 WHERE rank > 0.0"

  // ── SQL-text entry with a correlated-free scalar subquery ──────────────
  // The engine's spark.sql surface is first-class: the same Catalyst plan
  // serves SQL text and the DataFrame API. (The reference has no SQL
  // interface at all — its Hive files are documentation only.)
  def qScalarSubq(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      "SELECT c_custkey, c_acctbal FROM customer_v " +
        "WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "/ count(*) FROM customer_v)")
  }

  val qScalarSubqSql: String =
    "SELECT c_custkey, c_acctbal FROM customer " +
      "WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
      "/ count(*) FROM customer)"

  // ── Exact percentiles (interpolated) per group ─────────────────────────
  // Spark `percentile` and DuckDB `quantile_cont` both do exact linear
  // interpolation over the sorted group → identical doubles (rounded to
  // tame last-ulp interpolation arithmetic). The approximate analog at
  // 100 TB is percentile_approx (t-digest) — engine-specific, so the
  // exact form is the oracle-checked one.
  // Exact, via the rank kernel — NOT the `percentile()` aggregate, which
  // buffers every group's values inside one task (the exact-quantile OOM
  // at 100 TB). Same interpolation formula, same answers.
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    kernelPercentileCont(
      Tables.orders(s, d).select(col("o_orderpriority"), col("o_totalprice")),
      "o_orderpriority", "o_totalprice", Seq(0.5, 0.95))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(max(when(col("p") === 0.5, col("pv"))), 6).as("p50"),
        round(max(when(col("p") === 0.95, col("pv"))), 6).as("p95"))

  val qPercentilesSql: String =
    "SELECT o_orderpriority, " +
      "round(quantile_cont(o_totalprice, 0.5), 6) AS p50, " +
      "round(quantile_cont(o_totalprice, 0.95), 6) AS p95 " +
      "FROM orders GROUP BY o_orderpriority"

  // ── Exact grouped percentile_cont via the distributed rank kernel ──────
  // The interpolating sibling of qPercentileDisc, as a reusable helper:
  // rank each group once, keep only the two bracketing elements per
  // (group, percent), interpolate with the SAME formula Spark's
  // `percentile()` and DuckDB's `quantile_cont` use — pos = p·(n−1),
  // v[k] + frac·(v[k+1] − v[k]) — so results match the aggregate
  // spelling to the last ulp (and exactly when frac = 0), without ever
  // buffering a group's values in one task. Tie order among equal
  // values is irrelevant: the VALUE at any rank inside a tie run is the
  // tied value itself.
  private[queries] def kernelPercentileCont(df: DataFrame, group: String,
      valueCol: String, ps: Seq[Double]): DataFrame = {
    val ranked = graft.operators.DistributedRank.withRowNumber(
      df.select(col(group), col(valueCol)),
      Seq(group), Seq(col(valueCol).asc), "rk", nGroupCol = Some("n_g"))
    val withP = ranked
      .select(col(group), col(valueCol), col("rk"), col("n_g"),
        explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("d", (col("n_g") - 1L).cast("double") * col("p"))
      .withColumn("k", floor(col("d")).cast("long"))
    val lo = withP.filter(col("rk") === col("k") + 1L)
      .select(col(group), col("p"),
        col(valueCol).cast("double").as("vlo"), col("d"), col("k"))
    val hi = withP.filter(col("rk") === least(col("k") + 2L, col("n_g")))
      .select(col(group).as("g2"), col("p").as("p2"),
        col(valueCol).cast("double").as("vhi"))
    lo.join(hi, col(group) === col("g2") && col("p") === col("p2"))
      .select(col(group), col("p"),
        (col("vlo") + (col("d") - col("k")) * (col("vhi") - col("vlo"))).as("pv"))
  }

  // ── Exact grouped percentile_disc via the distributed rank kernel ──────
  // q_percentiles' `percentile()` aggregate is exact but buffers every
  // group's values in one task's memory — the classic exact-quantile OOM
  // at 100 TB. This is the scale-safe exact spelling: DistributedRank
  // gives each row its (group, rank, group-size), and percentile_disc is
  // then a pure filter rk == ceil(p·n/100) — SQL-standard semantics
  // (smallest value with cume_dist ≥ p), integer arithmetic, no value
  // buffering anywhere. Integer cents keep the comparison exact; the
  // oracle replays the identical window formula rather than DuckDB's
  // quantile_disc so tie/indexing rules can't diverge.
  private val DiscPcts = Seq(50L, 90L, 99L)

  def qPercentileDisc(s: SparkSession, d: String): DataFrame = {
    val slim = Tables.events(s, d).select(col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
      col("event_id"))
    graft.operators.DistributedRank.withRowNumber(slim, Seq("event_type"),
        Seq(col("cents").asc, col("event_id").asc), "rk",
        nGroupCol = Some("n_g"))
      .select(col("event_type"), col("cents"), col("rk"), col("n_g"),
        explode(array(DiscPcts.map(lit): _*)).as("p"))
      .filter(col("rk") === expr("(p * n_g + 99) div 100"))
      .select(col("event_type"), col("p"),
        (col("cents").cast("double") / 100.0).as("pct_value"))
  }

  val qPercentileDiscSql: String =
    "WITH e AS (SELECT event_type, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, event_id " +
      "FROM events), " +
      "r AS (SELECT event_type, cents, " +
      "CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rk, " +
      "CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_g FROM e) " +
      s"SELECT event_type, p, CAST(cents AS DOUBLE) / 100.0 AS pct_value " +
      "FROM r, (VALUES " + DiscPcts.map(p => s"(CAST($p AS BIGINT))").mkString(", ") +
      ") t(p) WHERE rk = (p * n_g + 99) // 100"

  // ── Fixed-width histogram ──────────────────────────────────────────────
  def qHistogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))

  val qHistogramSql: String =
    "SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, " +
      s"count(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price " +
      "FROM orders GROUP BY 1"

  // ── Equi-depth histogram (quantile bucketing) ──────────────────────────
  // q_histogram's fixed-WIDTH buckets say nothing where the data is
  // dense; the equi-DEPTH form — 8 buckets of equal row count, with the
  // value range each one spans — is what optimizers and drift monitors
  // actually store. Bucket assignment is pure integer arithmetic on the
  // global rank from the DistributedRank kernel ((rk−1)·B div n), so no
  // Window node touches the fact table and no group's values ever buffer
  // in one task; the oracle replays the identical formula over a window
  // row_number.
  private val EquiDepthBuckets = 8

  def qEquidepth(s: SparkSession, d: String): DataFrame = {
    val slim = Tables.orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"),
      col("o_orderkey"))
    graft.operators.DistributedRank.withRowNumber(
        slim.withColumn("gk", lit(0)), Seq("gk"),
        Seq(col("c").asc, col("o_orderkey").asc), "rk",
        nGroupCol = Some("n_g"))
      .withColumn("bucket", expr(s"((rk - 1) * $EquiDepthBuckets) div n_g"))
      .groupBy(col("bucket"))
      .agg(min(col("c")).as("lo_cents"), max(col("c")).as("hi_cents"),
        count(lit(1)).as("n"))
  }

  val qEquidepthSql: String =
    "WITH r AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c, " +
      "CAST(row_number() OVER (ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), o_orderkey) AS BIGINT) AS rk, " +
      "CAST(count(*) OVER () AS BIGINT) AS n_g FROM orders) " +
      s"SELECT ((rk - 1) * $EquiDepthBuckets) // n_g AS bucket, " +
      "min(c) AS lo_cents, max(c) AS hi_cents, count(*) AS n " +
      "FROM r GROUP BY 1"

  // ── Bucketed co-located join (the repeated-join layout at 100 TB) ──────
  // Pays the shuffle ONCE at write time: both sides bucketed+sorted on the
  // join key, then the fact⋈fact join reads buckets directly (SourcesSpec
  // pins the no-Exchange SortMergeJoin plan). Registered so the full
  // write-bucketed → read → join → aggregate path sits under the DuckDB
  // gate, not only a plan assertion.
  def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    // table names carry a dataset-dir fingerprint: two suites (or two
    // dataset dirs) sharing one warehouse can't clobber each other's
    // bucket layout mid-read; same-dir runs within one warehouse are
    // still assumed serial (writeBucketed overwrites in place)
    val tag = f"${scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL}%08x"
    val lTab = s"b_gate_lineitem_$tag"
    val oTab = s"b_gate_orders_$tag"
    graft.sources.Sources.writeBucketed(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
      lTab, Seq("l_orderkey"), 8)
    graft.sources.Sources.writeBucketed(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
      oTab, Seq("o_orderkey"), 8)
    s.table(lTab)
      .join(s.table(oTab), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("total_qty"))
  }

  val qBucketedJoinSql: String =
    "SELECT o_custkey, count(*) AS n_items, " +
      s"${sqlDsum("l_quantity")} AS total_qty " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"

  // ── Salted skew join under the gate ────────────────────────────────────
  // operators/SkewJoin spreads a heavy-hitter key over `salts` reducers;
  // join CONTENT is salt-invariant (each left row matches exactly once
  // whatever salt it draws), so the plain join is the exact oracle — a
  // results-level proof that the mitigation never changes answers.
  def qSkewJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedJoin(fact, dim, "okey", salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("total_qty"))
  }

  val qSkewJoinSql: String =
    "SELECT o_orderpriority, count(*) AS n_items, " +
      s"${sqlDsum("l_quantity")} AS total_qty " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"

  // ── CDC upsert merge (latest-version-wins) ─────────────────────────────
  // The lakehouse MERGE INTO pattern as one shuffle: union the base table
  // with the change batch under a version tag, keep the max-version row
  // per key via a keyed window. At 100 TB the change batch is typically
  // tiny relative to base — the union shuffles on the SAME key the next
  // consumer joins/aggregates on, so the merge piggybacks the partition
  // layout. The change batch here is derived deterministically from
  // orders (every 10th key gets a re-priced row), so the oracle can state
  // the post-merge truth directly with a CASE — the semantic proof that
  // the window merge applies updates exactly once, drops nothing, and
  // duplicates nothing.
  def qUpsertMerge(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("ver", lit(0))
    val changes = Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice") + 100.0).as("o_totalprice"))
      .withColumn("ver", lit(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("ver").desc)
    base.unionByName(changes)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
  }

  val qUpsertMergeSql: String =
    "SELECT o_orderpriority, count(*) AS n_orders, " +
      s"${sqlDsum("p2")} AS total_price FROM (" +
      "SELECT o_orderpriority, CASE WHEN o_orderkey % 10 = 0 " +
      "THEN o_totalprice + 100.0 ELSE o_totalprice END AS p2 " +
      "FROM orders) m GROUP BY 1"

  // ── Skyline (Pareto frontier): best price × recency orders ─────────────
  // The multi-criteria "best offers" query: orders not STRICTLY dominated
  // on both price and date by any other. Naive skyline is a NOT EXISTS
  // self-join (the oracle spelling, quadratic); the distributed plan
  // prunes first: per price-BUCKET max dates (hundreds of rows) carry a
  // running max from strictly-higher buckets — any row older than its
  // bucket's carry is provably dominated (higher bucket ⇒ strictly higher
  // price) and is dropped BEFORE the precise pass, which then runs the
  // per-distinct-price cummax trick on the tiny candidate set. A chain
  // argument makes the prefilter lossless: any dominator of a surviving
  // candidate is itself a candidate. Expected skyline of random data is
  // O(log n) rows — the only unpartitioned window here sees candidates,
  // not the fact table.
  /** Reusable 2-D skyline core: rows of `df` not strictly dominated on
    * (x, y) by any other row. `bucketWidth` sizes the lossless prefilter
    * buckets on x. Factored out so the randomized spec can drive it over
    * arbitrary frames (ties included), not just the orders shape. */
  def skyline(df: DataFrame, x: String, y: String, bucketWidth: Double): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val bucketed = df.withColumn("bucket", floor(col(x) / bucketWidth).cast("long"))
    val bucketMax = bucketed.groupBy(col("bucket")).agg(max(col(y)).as("bmax"))
    val wB = W.orderBy(col("bucket").desc).rowsBetween(W.unboundedPreceding, -1)
    val carry = bucketMax.withColumn("hi_b", max(col("bmax")).over(wB))
      .select(col("bucket"), col("hi_b"))
    val candidates = bucketed.join(broadcast(carry), Seq("bucket"))
      .filter(col("hi_b").isNull || col(y) >= col("hi_b"))
    val byX = candidates.groupBy(col(x).as("px")).agg(max(col(y)).as("dmax"))
    val wP = W.orderBy(col("px").desc).rowsBetween(W.unboundedPreceding, -1)
    val hi = byX.withColumn("hi", max(col("dmax")).over(wP))
      .select(col("px"), col("hi"))
    candidates.join(hi, col(x) === col("px"))
      .filter(col("hi").isNull || col(y) >= col("hi"))
      .drop("bucket", "hi_b", "px", "hi")
  }

  // ── Maximum drawdown (running-peak analytics) ──────────────────────────
  // Daily revenue in exact integer cents → running peak → per-day
  // drawdown (peak − revenue). The prefix-max window is unpartitioned BY
  // DESIGN but runs on the calendar-grain AGGREGATE (~2.4k rows for the
  // fixture's 7-year span, bounded by days-elapsed at any fact volume) —
  // the same bounded-series discipline as q_running_distinct; the fact
  // table itself shuffles once into the daily rollup. All columns stay
  // BIGINT cents end-to-end, so both engines agree exactly.
  def qDrawdown(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("cents"))
    val w = W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, W.currentRow)
    daily.withColumn("peak_cents", max(col("cents")).over(w))
      .select(col("day"), col("cents"),
        col("peak_cents"), (col("peak_cents") - col("cents")).as("dd_cents"))
  }

  val qDrawdownSql: String =
    "WITH daily AS (SELECT o_orderdate AS day, " +
      "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents " +
      "FROM orders GROUP BY 1) " +
      "SELECT day, cents, " +
      "CAST(max(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak_cents, " +
      "CAST(max(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cents AS BIGINT) AS dd_cents " +
      "FROM daily"

  // ── CUSUM change-point detection on the daily revenue series ───────────
  // Where did the level shift? The classic CUSUM statistic, kept EXACT:
  // instead of Σ(x_i − mean) (a rational mean poisons float parity), use
  // the integer-scaled S_t = n·prefix_t − t·total — the same argmax, all
  // BIGINT in cents (n·prefix ≈ 5.8e15 at the fixture's 7-year span,
  // comfortable). The change point is the day maximizing |S_t| (ties →
  // earliest day). One fact shuffle into the daily rollup; prefix sums
  // and the argmax run on the bounded calendar series.
  def qChangepoint(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("cents"))
    val w = W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, W.currentRow)
    val tot = daily.agg(sum(col("cents")).as("total"), count(lit(1)).as("n"))
    val scored = daily.crossJoin(broadcast(tot))
      .withColumn("prefix", sum(col("cents")).over(w))
      .withColumn("t", row_number().over(W.orderBy(col("day"))).cast("long"))
      .withColumn("s_scaled", col("n") * col("prefix") - col("t") * col("total"))
    val peak = scored
      .select(col("day").as("peak_day"), col("s_scaled").as("peak_s"))
      .orderBy(abs(col("peak_s")).desc, col("peak_day").asc).limit(1)
    scored.crossJoin(broadcast(peak))
      .select(col("day"), col("cents"), col("s_scaled"),
        (col("day") === col("peak_day")).as("is_changepoint"))
  }

  val qChangepointSql: String =
    "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
      "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents " +
      "FROM orders GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n FROM daily), " +
      "scored AS (SELECT day, cents, " +
      "n * CAST(sum(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) " +
      "- CAST(row_number() OVER (ORDER BY day) AS BIGINT) * total AS s_scaled " +
      "FROM daily, tot), " +
      "peak AS (SELECT day AS peak_day FROM scored ORDER BY abs(s_scaled) DESC, day ASC LIMIT 1) " +
      "SELECT day, cents, s_scaled, day = peak_day AS is_changepoint FROM scored, peak"

  // ── Lag-k autocorrelation of the daily revenue series ──────────────────
  // Seasonality detector: Pearson correlation of (revenue_t, revenue_t+k)
  // for k ∈ {1, 7, 14}. The series is the calendar-bounded daily rollup
  // (one fact shuffle, then everything operates on ~2.4k rows at any
  // volume); each lag is one equi-join of the series against its shifted
  // self. Moment sums follow the q_corr discipline: products of integer
  // cents formed in DECIMAL (Spark) / HUGEINT (DuckDB), summed in
  // DECIMAL(38,0), doubles only in the final correlation, computed in
  // the same operation order on both engines and rounded at 6dp. The
  // PRODUCT itself must not run in BIGINT: daily cents reach ~1.5e10 at
  // sf1, so a squared term is ~2e20 — past Long range (this overflowed
  // in the round-12 sf1 sweep; sf0.1's ~2e18 squares only just fit).
  private val AutocorrLags = Seq(1, 7, 14)

  def qAutocorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("cents"))
    val lags = {
      import s.implicits._
      AutocorrLags.toDF("lag")
    }
    def d38(c: Column) = sum(c.cast(DecimalType(38, 0)))
    val joined = daily.crossJoin(broadcast(lags))
      .withColumn("shifted", expr("date_add(day, lag)"))
      .join(daily.select(col("day").as("day2"), col("cents").as("cents2")),
        col("shifted") === col("day2"))
    // widen BEFORE multiplying — the (19,0)×(19,0) decimal product lands
    // in (38,0) exactly; a long×long product overflows at sf≥1
    val xw = col("cents").cast(DecimalType(19, 0))
    val yw = col("cents2").cast(DecimalType(19, 0))
    val m = joined.groupBy(col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      d38(col("cents")).as("sx"), d38(col("cents2")).as("sy"),
      d38(xw * yw).as("sxy"),
      d38(xw * xw).as("sxx"),
      d38(yw * yw).as("syy"))
    def dd(c: Column) = c.cast("double")
    val num = dd(col("n_pairs")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    val den = sqrt((dd(col("n_pairs")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))) *
      (dd(col("n_pairs")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))))
    m.select(col("lag"), col("n_pairs"), round(num / den, 6).as("acf_r"))
  }

  val qAutocorrSql: String =
    "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
      "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents " +
      "FROM orders GROUP BY 1), " +
      s"lags AS (SELECT unnest([${AutocorrLags.mkString(", ")}]) AS lag), " +
      "j AS (SELECT l.lag, a.cents AS x, b.cents AS y FROM daily a CROSS JOIN lags l " +
      "JOIN daily b ON a.day + CAST(l.lag AS INTEGER) = b.day), " +
      "m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs, " +
      "sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy, " +
      "sum(CAST(CAST(x AS HUGEINT) * y AS DECIMAL(38,0))) AS sxy, " +
      "sum(CAST(CAST(x AS HUGEINT) * x AS DECIMAL(38,0))) AS sxx, " +
      "sum(CAST(CAST(y AS HUGEINT) * y AS DECIMAL(38,0))) AS syy FROM j GROUP BY 1) " +
      "SELECT lag, n_pairs, round(" +
      "(CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf_r " +
      "FROM m"

  // ── Winsorization (outlier clipping before aggregation/training) ───────
  // Clamp each group's values into its [P1, P99] band and report the
  // winsorized mean — the standard robustification before a feature
  // feeds a model. Two passes, both scale-safe: (1) per-group exact
  // percentile bounds (same interpolated-percentile parity as
  // q_percentiles, computed on integer cents); (2) broadcast the tiny
  // bounds table back onto the fact and clamp. Clamped values quantize
  // to integer MILLI-CENTS before the distributed sum (the bound itself
  // can be fractional), so the mean is an exact integer ratio.
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val c = Tables.orders(s, d)
      .select(col("o_orderpriority").as("prio"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    // bounds via the rank kernel, not percentile() — no per-group value
    // buffering; identical interpolation, identical clamping decisions
    // (integer cents never sit within an ulp of the bound unless the
    // bound IS an element, where both spellings are exact)
    val bounds = kernelPercentileCont(c, "prio", "cents", Seq(0.01, 0.99))
      .groupBy(col("prio"))
      .agg(max(when(col("p") === 0.01, col("pv"))).as("lo"),
        max(when(col("p") === 0.99, col("pv"))).as("hi"))
    val clamped = least(greatest(col("cents").cast("double"), col("lo")), col("hi"))
    c.join(broadcast(bounds), Seq("prio"))
      .select(col("prio"), col("lo"), col("hi"),
        round(clamped * lit(1e3), 0).cast("long").as("cl_u"),
        when(col("cents").cast("double") < col("lo"), 1L).otherwise(0L).as("clo"),
        when(col("cents").cast("double") > col("hi"), 1L).otherwise(0L).as("chi"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
        sum(col("clo")).as("n_clip_lo"), sum(col("chi")).as("n_clip_hi"),
        round(first(col("lo")), 6).as("lo_r"), round(first(col("hi")), 6).as("hi_r"),
        sum(col("cl_u")).as("sum_u"))
      .select(col("prio"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        col("lo_r"), col("hi_r"),
        round(col("sum_u").cast("double") / 1e3 / col("n"), 6).as("wmean_cents_r"))
  }

  val qWinsorizeSql: String =
    "WITH c AS (SELECT o_orderpriority AS prio, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders), " +
      "b AS (SELECT prio, quantile_cont(cents, 0.01) AS lo, " +
      "quantile_cont(cents, 0.99) AS hi FROM c GROUP BY 1), " +
      "j AS (SELECT c.prio, lo, hi, " +
      "CAST(round(least(greatest(CAST(cents AS DOUBLE), lo), hi) * 1e3, 0) AS BIGINT) AS cl_u, " +
      "CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 ELSE 0 END AS clo, " +
      "CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 ELSE 0 END AS chi " +
      "FROM c JOIN b ON c.prio = b.prio) " +
      "SELECT prio, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(clo) AS BIGINT) AS n_clip_lo, CAST(sum(chi) AS BIGINT) AS n_clip_hi, " +
      "round(any_value(lo), 6) AS lo_r, round(any_value(hi), 6) AS hi_r, " +
      "round(CAST(sum(cl_u) AS DOUBLE) / 1e3 / count(*), 6) AS wmean_cents_r " +
      "FROM j GROUP BY 1"

  // ── TPC-H Q1: pricing summary report ───────────────────────────────────
  // The canonical scan-heavy aggregation benchmark, exact end to end:
  // quantities/prices in integer cents, discount/tax in integer percent
  // (the TPC-H domain is hundredths by spec), so disc_price = cents·(100−d)
  // (10⁻⁴ dollars) and charge = cents·(100−d)·(100+t) (10⁻⁶ dollars) are
  // INTEGER products, summed in DECIMAL(38,0) (a 100 TB lineitem would
  // overflow a BIGINT charge sum). One partial-agg shuffle over the 6-ish
  // (flag, status) groups; doubles only at the final rounded divisions.
  def qTpchQ1(s: SparkSession, d: String): DataFrame = {
    def d38(c: Column) = sum(c.cast(DecimalType(38, 0)))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("l_quantity").cast(DecimalType(18, 2)) * 100).cast("long").as("qty_c"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("price_c"),
        (col("l_discount").cast(DecimalType(4, 2)) * 100).cast("long").as("disc_p"),
        (col("l_tax").cast(DecimalType(4, 2)) * 100).cast("long").as("tax_p"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qty_c")).as("sum_qty_c"),
        d38(col("price_c")).as("sum_base"),
        d38(col("price_c") * (lit(100L) - col("disc_p"))).as("sum_disc"),
        d38(col("price_c") * (lit(100L) - col("disc_p")) * (lit(100L) + col("tax_p")))
          .as("sum_charge"),
        sum(col("disc_p")).as("sum_disc_p"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        col("sum_qty_c"),
        round(col("sum_base").cast("double") / 100.0, 6).as("sum_base_r"),
        round(col("sum_disc").cast("double") / 1e4, 6).as("sum_disc_price_r"),
        round(col("sum_charge").cast("double") / 1e6, 6).as("sum_charge_r"),
        round(col("sum_qty_c").cast("double") / 100.0 / col("n_rows"), 6).as("avg_qty_r"),
        round(col("sum_base").cast("double") / 100.0 / col("n_rows"), 6).as("avg_price_r"),
        round(col("sum_disc_p").cast("double") / 100.0 / col("n_rows"), 6).as("avg_disc_r"))
  }

  val qTpchQ1Sql: String =
    "WITH li AS (SELECT l_returnflag, l_linestatus, " +
      "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c, " +
      "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc_p, " +
      "CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) AS tax_p " +
      "FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'), " +
      "m AS (SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(sum(qty_c) AS BIGINT) AS sum_qty_c, " +
      "sum(CAST(price_c AS DECIMAL(38,0))) AS sum_base, " +
      "sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS sum_disc, " +
      "sum(CAST(price_c * (100 - disc_p) * (100 + tax_p) AS DECIMAL(38,0))) AS sum_charge, " +
      "CAST(sum(disc_p) AS BIGINT) AS sum_disc_p " +
      "FROM li GROUP BY 1, 2) " +
      "SELECT l_returnflag, l_linestatus, n_rows, sum_qty_c, " +
      "round(CAST(sum_base AS DOUBLE) / 100.0, 6) AS sum_base_r, " +
      "round(CAST(sum_disc AS DOUBLE) / 1e4, 6) AS sum_disc_price_r, " +
      "round(CAST(sum_charge AS DOUBLE) / 1e6, 6) AS sum_charge_r, " +
      "round(CAST(sum_qty_c AS DOUBLE) / 100.0 / n_rows, 6) AS avg_qty_r, " +
      "round(CAST(sum_base AS DOUBLE) / 100.0 / n_rows, 6) AS avg_price_r, " +
      "round(CAST(sum_disc_p AS DOUBLE) / 100.0 / n_rows, 6) AS avg_disc_r " +
      "FROM m"

  // ── TPC-H Q5: local-supplier revenue by nation ─────────────────────────
  // The canonical multi-join benchmark: 6 tables, one fact-fact join
  // (orders⋈lineitem on orderkey), dimension chain region→nation
  // broadcast into both the customer and supplier sides, and the
  // same-nation constraint (c_nationkey = s_nationkey) applied inside
  // the supplier join. Revenue follows the Q1 discipline — integer cents
  // × integer percent summed in DECIMAL(38,0), doubles only at the final
  // rounded division — so a 100 TB lineitem can't overflow and both
  // engines agree to the bit. Plan shape at scale: the date filter
  // pushes into the orders scan, region/nation broadcast everywhere,
  // and only the two fact tables shuffle (on orderkey, then custkey).
  def qTpchQ5(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("price_c"),
      (col("l_discount").cast(DecimalType(4, 2)) * 100).cast("long").as("disc_p"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("price_c") * (lit(100L) - col("disc_p")))
          .cast(DecimalType(38, 0))).as("rev"),
        count(lit(1)).as("n_items"))
      .select(col("n_name"),
        round(col("rev").cast("double") / 1e4, 6).as("revenue_r"),
        col("n_items"))
  }

  val qTpchQ5Sql: String =
    "WITH li AS (SELECT l_orderkey, l_suppkey, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c, " +
      "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc_p FROM lineitem), " +
      "o AS (SELECT o_orderkey, o_custkey FROM orders " +
      "WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01' " +
      "AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'), " +
      "an AS (SELECT n_nationkey, n_name FROM nation " +
      "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA') " +
      "SELECT n_name, " +
      "round(CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS DOUBLE) / 1e4, 6) " +
      "AS revenue_r, CAST(count(*) AS BIGINT) AS n_items " +
      "FROM o JOIN li ON o_orderkey = l_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "JOIN an ON s_nationkey = n_nationkey GROUP BY 1"

  // ── TPC-H Q18: large-volume customers (group-filter, join back) ────────
  // The "HAVING on a fact aggregate drives the join" benchmark shape:
  // aggregate lineitem per order, keep orders whose total quantity
  // clears the threshold, then join those FEW keys back to orders,
  // customer, and the fact for the report. Plan at scale: the heavy
  // aggregation is partial→final on l_orderkey; the surviving key set
  // (a sliver) semi-joins the fact; TakeOrderedAndProject caps the
  // output without a global sort. Quantities in integer cents —
  // threshold comparison and the reported sum are exact.
  private val Q18QtyCentsFloor = 15000L // 150.00 units

  def qTpchQ18(s: SparkSession, d: String): DataFrame = {
    val qtyC = (col("l_quantity").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val big = Tables.lineitem(s, d)
      .select(col("l_orderkey"), qtyC.as("qc"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qc")).as("qty_c"))
      .filter(col("qty_c") > Q18QtyCentsFloor)
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("qty_c"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  val qTpchQ18Sql: String =
    "WITH big AS (SELECT l_orderkey, " +
      "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS qty_c " +
      "FROM lineitem GROUP BY 1 " +
      s"HAVING CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) > $Q18QtyCentsFloor) " +
      "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty_c " +
      "FROM big JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"

  // ── TPC-H Q3: shipping-priority top-10 ─────────────────────────────────
  // (TPC-H §2.4.3, adapted: o_orderpriority stands in for the schema's
  // o_shippriority.) Segment-filtered customers broadcast into orders;
  // both date filters push to the scans; revenue in integer cents; the
  // top-10 is a TakeOrdered with a full deterministic tie-break
  // (revenue DESC, orderdate ASC, orderkey ASC) so LIMIT selection
  // cannot flap between engines or runs.
  private val Q3Cutoff = "1998-06-01"

  def qTpchQ3(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(Q3Cutoff).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit(Q3Cutoff).cast("date"))
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("price_c"),
        (col("l_discount").cast(DecimalType(4, 2)) * 100).cast("long").as("disc_p"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("price_c") * (lit(100L) - col("disc_p")))
        .cast(DecimalType(38, 0))).as("rev"))
      .select(col("l_orderkey"),
        round(col("rev").cast("double") / 1e4, 6).as("revenue_r"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue_r").desc, col("o_orderdate").asc,
        col("l_orderkey").asc)
      .limit(10)
  }

  val qTpchQ3Sql: String =
    "WITH li AS (SELECT l_orderkey, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c, " +
      "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc_p " +
      s"FROM lineitem WHERE CAST(l_shipdate AS DATE) > DATE '$Q3Cutoff'), " +
      "o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority " +
      s"FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$Q3Cutoff'), " +
      "c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
      "SELECT l_orderkey, " +
      "round(CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS DOUBLE) / 1e4, 6) " +
      "AS revenue_r, o_orderdate, o_orderpriority " +
      "FROM li JOIN o ON l_orderkey = o_orderkey " +
      "JOIN c ON o_custkey = c_custkey " +
      "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
      "ORDER BY revenue_r DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10"

  // ── TPC-H Q6: forecast revenue change ──────────────────────────────────
  // The pure-scan query: every predicate (ship year, discount band,
  // quantity cap) pushes to the parquet scan, the plan is one
  // partial-aggregated scalar — at 100 TB this is the query whose entire
  // cost is I/O, which is exactly what the pushdown discipline buys.
  // Discounts compare as integer percent points (5..7), never as floats.
  def qTpchQ6(s: SparkSession, d: String): DataFrame = {
    val discP = (col("l_discount").cast(DecimalType(4, 2)) * 100).cast("long")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date") &&
        col("l_quantity") < 24)
      .select((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("price_c"), discP.as("disc_p"))
      .filter(col("disc_p") >= 5L && col("disc_p") <= 7L)
      .agg(sum((col("price_c") * col("disc_p")).cast(DecimalType(38, 0)))
        .as("rev"), count(lit(1)).as("n_items"))
      .select(round(col("rev").cast("double") / 1e4, 6).as("revenue_r"),
        col("n_items"))
  }

  val qTpchQ6Sql: String =
    "SELECT round(CAST(sum(CAST(price_c * disc_p AS DECIMAL(38,0))) AS DOUBLE) / 1e4, 6) " +
      "AS revenue_r, CAST(count(*) AS BIGINT) AS n_items FROM (" +
      "SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c, " +
      "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc_p " +
      "FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01' " +
      "AND CAST(l_shipdate AS DATE) < DATE '1998-01-01' AND l_quantity < 24) " +
      "WHERE disc_p BETWEEN 5 AND 7"

  // ── Key-skew diagnostic (pre-join health check) ────────────────────────
  // The operational report run before any big join: per-key frequencies,
  // the heaviest keys' share of the table, and a global skew ratio
  // (max key count ÷ mean key count — 1.0 means uniform). One partial-agg
  // shuffle for the counts; the report rows are a TakeOrdered top-20; the
  // scalar stats ride in on a broadcast. Exact integer ratios, rounded
  // once.
  private val SkewTopK = 20

  def qKeySkew(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("key").asc)
    counts.orderBy(col("cnt").desc, col("key").asc).limit(SkewTopK)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(stats))
      .select(col("rnk"), col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("share_r"),
        round((col("max_cnt") * col("n_keys")).cast("double") / col("total"), 6)
          .as("skew_r"))
  }

  val qKeySkewSql: String =
    "WITH counts AS (SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1), " +
      "stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys, " +
      "CAST(max(cnt) AS BIGINT) AS max_cnt FROM counts), " +
      s"top AS (SELECT key, cnt FROM counts ORDER BY cnt DESC, key ASC LIMIT $SkewTopK) " +
      "SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS rnk, " +
      "key, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share_r, " +
      "round(CAST(max_cnt * n_keys AS DOUBLE) / total, 6) AS skew_r " +
      "FROM top, stats"

  // ── Seasonal-naive forecast backtest ───────────────────────────────────
  // The forecasting sanity loop every pipeline needs BEFORE reaching for
  // a model: predict day t's revenue as day t−7's (same weekday last
  // week), then score the prediction over the whole history. One fact
  // shuffle into the daily rollup; the backtest is a self-join of the
  // bounded calendar series on eday = eday − 7 (epoch-day integers, no
  // named-weekday functions). Errors stay BIGINT cents; the per-day
  // percentage error is micro-quantized BEFORE the sum (the distributed-
  // sum discipline), so MAE / bias / MAPE are exact integer ratios with
  // doubles only at the final rounded division.
  def qForecastEval(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("eday"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("cents"))
    val fc = daily.select((col("eday") + 7L).as("eday"), col("cents").as("fc"))
    val scored = daily.join(fc, Seq("eday"))
      .select(col("eday"), col("cents"), col("fc"),
        abs(col("cents") - col("fc")).as("abs_err"),
        (col("cents") - col("fc")).as("err"))
      .withColumn("ape_micro",
        round(col("abs_err") * lit(1e6) / col("cents"), 0).cast("long"))
    scored.agg(
      count(lit(1)).as("n_days"),
      sum(col("abs_err")).as("sum_abs"),
      sum(col("err")).as("sum_err"),
      sum(col("ape_micro")).as("sum_ape"))
      .select(col("n_days"),
        round(col("sum_abs").cast("double") / col("n_days"), 6).as("mae_cents_r"),
        round(col("sum_err").cast("double") / col("n_days"), 6).as("bias_cents_r"),
        round(col("sum_ape").cast("double") / col("n_days") / lit(1e6), 6).as("mape_r"))
  }

  val qForecastEvalSql: String =
    "WITH daily AS (SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS eday, " +
      "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents " +
      "FROM orders GROUP BY 1), " +
      "j AS (SELECT a.eday, a.cents, f.cents AS fc FROM daily a " +
      "JOIN daily f ON f.eday = a.eday - 7), " +
      "e AS (SELECT eday, abs(cents - fc) AS abs_err, cents - fc AS err, " +
      "CAST(round(abs(cents - fc) * 1e6 / cents, 0) AS BIGINT) AS ape_micro FROM j), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n_days, " +
      "CAST(sum(abs_err) AS BIGINT) AS sum_abs, CAST(sum(err) AS BIGINT) AS sum_err, " +
      "CAST(sum(ape_micro) AS BIGINT) AS sum_ape FROM e) " +
      "SELECT n_days, round(CAST(sum_abs AS DOUBLE) / n_days, 6) AS mae_cents_r, " +
      "round(CAST(sum_err AS DOUBLE) / n_days, 6) AS bias_cents_r, " +
      "round(CAST(sum_ape AS DOUBLE) / n_days / 1e6, 6) AS mape_r FROM m"

  def qSkyline(s: SparkSession, d: String): DataFrame =
    skyline(
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
      "o_totalprice", "o_orderdate", 5000.0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))

  // Oracle: the reverse-cumulative-max equivalent of the NOT-EXISTS
  // spelling — b is dominated ⟺ max{a.date : a.price > b.price} > b.date,
  // so one price-grouped rollup + one descending-price running max
  // replaces the quadratic self-join (which DuckDB couldn't finish at
  // sf1: killed after 30 min over 1.5 M orders; this form runs in
  // seconds and was verified row-identical against NOT EXISTS at the
  // gate SFs — EventSpec keeps the brute-force cross-check).
  val qSkylineSql: String =
    "WITH px AS (SELECT o_totalprice AS p, max(o_orderdate) AS dmax " +
      "FROM orders GROUP BY 1), " +
      "hi AS (SELECT p, max(dmax) OVER (ORDER BY p DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS h FROM px) " +
      "SELECT o_orderkey, o_totalprice, o_orderdate " +
      "FROM orders b JOIN hi ON b.o_totalprice = hi.p " +
      "WHERE hi.h IS NULL OR b.o_orderdate >= hi.h"

  // ── Order-independent table checksum (replica reconciliation) ──────────
  // Compare two replicas of a table WITHOUT moving either: each row
  // canonicalizes to a typed string (decimals and epoch-days, never raw
  // double rendering — engine float formatting differs), hashes through
  // the shared md5 path, and the table fingerprint is the XOR of all row
  // hashes + the row count. XOR is commutative/associative, so the
  // checksum is identical under any partitioning, ordering, or engine —
  // two sides exchange 16 bytes instead of the table. The anti-entropy
  // primitive every cross-system migration check needs.
  def qTableChecksum(s: SparkSession, d: String): DataFrame = {
    val rowStr = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)),
      datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"),
      col("o_orderpriority"))
    Tables.orders(s, d)
      .select(graft.functions.Md5Bits.hash60(rowStr).as("h"))
      .agg(expr("bit_xor(h)").as("checksum"), count(lit(1)).as("n_rows"))
  }

  val qTableChecksumSql: String = {
    val rowStr = "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
      "CAST(o_totalprice AS DECIMAL(18,2)), " +
      "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)), " +
      "o_orderpriority)"
    val h = graft.functions.Md5Bits.sqlHash60(rowStr)
    s"SELECT bit_xor(h) AS checksum, count(*) AS n_rows " +
      s"FROM (SELECT $h AS h FROM orders) t"
  }

  // ── CDC apply with tombstones (I/U/D change feed → snapshot) ──────────
  // qUpsertMerge's missing third verb: DELETE. The change feed (orders
  // replayed as per-customer change events, sequenced by o_orderkey, with
  // a deterministic md5-assigned op so the oracle replays the same feed)
  // merges onto the customer snapshot: latest change per key wins, a
  // trailing tombstone drops the key entirely — base rows, updated rows,
  // and deleted keys all resolved by ONE per-key window over
  // base ∪ feed, the same single-shuffle shape a lakehouse MERGE
  // compiles to. At scale the base side arrives sorted from the previous
  // snapshot's layout and only the feed shuffles.
  def qCdcDelete(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("bal"),
        lit(0L).as("ver"), lit("U").as("op"))
    val feed = Tables.orders(s, d)
      .select(col("o_custkey").as("custkey"), col("o_totalprice").as("bal"),
        col("o_orderkey").as("ver"),
        when(graft.functions.Md5Bits.hash60(
          concat(lit("cdc:"), col("o_orderkey"))) % 10 === 0, "D")
          .otherwise("U").as("op"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("custkey")).orderBy(col("ver").desc)
    base.unionByName(feed)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("custkey"), col("bal"))
  }

  val qCdcDeleteSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60("'cdc:' || CAST(o_orderkey AS VARCHAR)")
    "WITH feed AS (SELECT o_custkey AS custkey, o_totalprice AS bal, " +
      s"o_orderkey AS ver, CASE WHEN $h % 10 = 0 THEN 'D' ELSE 'U' END AS op " +
      "FROM orders), " +
      "u AS (SELECT c_custkey AS custkey, c_acctbal AS bal, 0 AS ver, 'U' AS op " +
      "FROM customer UNION ALL SELECT custkey, bal, ver, op FROM feed), " +
      "r AS (SELECT custkey, bal, op, " +
      "row_number() OVER (PARTITION BY custkey ORDER BY ver DESC) AS rn FROM u) " +
      "SELECT custkey, bal FROM r WHERE rn = 1 AND op <> 'D'"
  }

  // ── Benford first-digit audit (fraud/DQ forensics) ─────────────────────
  // Does the amount column follow Benford's law? The classic forensic
  // screen for fabricated numbers. The leading digit comes from the
  // DECIMAL's string form (never double formatting, never log10 — both
  // are engine-divergent near powers of ten); observed shares are exact
  // count ratios and the expected Benford share log10(1+1/d) is one
  // rounded libm call per digit row. Single scan, nine-row output.
  def qBenford(s: SparkSession, d: String): DataFrame = {
    val total = Tables.orders(s, d).agg(count(lit(1)).as("tot"))
    Tables.orders(s, d)
      .select(substring(col("o_totalprice").cast(DecimalType(18, 2))
        .cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("observed"),
        round(log(10.0, lit(1.0) + lit(1.0) /
          col("digit").cast("double")), 6).as("benford"))
  }

  val qBenfordSql: String =
    "WITH tot AS (SELECT count(*) AS tot FROM orders), " +
      "d AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) " +
      "AS digit, count(*) AS n FROM orders GROUP BY 1) " +
      "SELECT digit, n, round(CAST(n AS DOUBLE) / tot, 6) AS observed, " +
      "round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford " +
      "FROM d, tot"

  // ── Mann–Whitney rank-sum (nonparametric A/B readout) ──────────────────
  // The distribution-free sibling of q_ab_test: compare the two md5
  // arms' value distributions by rank sum. Ranks are integers from one
  // value-ordered window (event_id tiebreak makes them unique and
  // engine-identical), so U = R₁ − n₁(n₁+1)/2 is exact integer algebra;
  // the normal-approximation z-score is assembled from those integers in
  // one rounded expression. Detects location shifts the t-test misses
  // under heavy tails — and the fixture IS heavy-tailed.
  def qRankSum(s: SparkSession, d: String): DataFrame = {
    val arm = graft.functions.Md5Bits.hash60(
      concat(lit("ab:"), col("user_id"))) % 2
    // Ranks within event_type (a handful of values) — a window would
    // push the whole fact table through ~|types| tasks, so the exact
    // rank comes from the range-partitioned two-pass kernel instead.
    val slim = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        arm.as("arm"))
    graft.operators.DistributedRank.withRowNumber(slim, Seq("event_type"),
        Seq(col("value").asc, col("event_id").asc), "rk")
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") =!= 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("rk"))).as("r0"))
      .filter(col("n0") > 0 && col("n1") > 0)
      .withColumn("u0", col("r0") - expr("(n0 * (n0 + 1)) div 2"))
      .select(col("event_type"), col("n0"), col("n1"), col("u0"),
        round((col("u0").cast("double") - col("n0") * col("n1") / 2.0) /
          sqrt(col("n0").cast("double") * col("n1") * (col("n0") + col("n1") + 1) / 12.0), 6)
          .as("z"))
  }

  val qRankSumSql: String = {
    val arm = graft.functions.Md5Bits.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)") + " % 2"
    "SELECT event_type, n0, n1, u0, " +
      "round((CAST(u0 AS DOUBLE) - n0 * n1 / 2.0) / " +
      "sqrt(CAST(n0 AS DOUBLE) * n1 * (n0 + n1 + 1) / 12.0), 6) AS z " +
      "FROM (SELECT event_type, n0, n1, r0 - (n0 * (n0 + 1)) // 2 AS u0 FROM (" +
      s"SELECT event_type, " +
      s"CAST(sum(CASE WHEN $arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
      s"CAST(sum(CASE WHEN $arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      s"CAST(sum(CASE WHEN $arm = 0 THEN rk END) AS BIGINT) AS r0 FROM (" +
      "SELECT event_type, user_id, " +
      "CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rk " +
      "FROM events) r GROUP BY 1) a WHERE n0 > 0 AND n1 > 0) b"
  }

  // ── Snapshot diff (audit of a CDC apply) ───────────────────────────────
  // What did the merge DO? Diff the post-CDC snapshot against the base:
  // full-outer on the key, classify added / removed / changed /
  // unchanged, count each. Composes directly over qCdcDelete — the audit
  // every pipeline wants after an apply, and at scale it's one key-join
  // of two snapshots (the fact volume of the change feed never appears).
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("bk"), col("c_acctbal").as("bbal"))
    val applied = qCdcDelete(s, d)
      .select(col("custkey").as("ak"), col("bal").as("abal"))
    base.join(applied, col("bk") === col("ak"), "full_outer")
      .select(
        when(col("bk").isNull, "added")
          .when(col("ak").isNull, "removed")
          .when(col("abal") =!= col("bbal"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"))
  }

  val qSnapshotDiffSql: String =
    s"WITH applied AS ($qCdcDeleteSql) " +
      "SELECT change_type, count(*) AS n FROM (" +
      "SELECT CASE WHEN b.c_custkey IS NULL THEN 'added' " +
      "WHEN a.custkey IS NULL THEN 'removed' " +
      "WHEN a.bal <> b.c_acctbal THEN 'changed' ELSE 'unchanged' END AS change_type " +
      "FROM customer b FULL OUTER JOIN applied a ON b.c_custkey = a.custkey) t " +
      "GROUP BY 1"

  // ── Z-order bit interleave (column-algebra helper) ─────────────────────
  // Interleaving helper kept for the bijection property spec; the
  // REGISTERED q_zorder query lives in LakehouseQueries (lineitem/Morton
  // version) — the old orders/custkey query that used to live here was
  // silently shadowed by the `++` registry merge and has been deleted
  // (round-10 registry hygiene; RegistrySpec now guards the class).
  private val ZBits = 16

  /** Interleave the low 16 bits: x → even positions, y → odd. */
  def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  // ── Incremental materialized-view refresh (algebraic state merge) ──────
  // The per-customer order summary maintained incrementally: a BASE state
  // (orders before the cutover, in production a stored table from the
  // previous refresh) is merged with a DELTA state computed only from new
  // orders. count/decimal-sum states are algebraic, so merge = re-sum —
  // the same partial-aggregate algebra Spark's own map-side combine uses,
  // lifted to the view level. At 100 TB the refresh scans ONLY the delta
  // partition; the oracle proves merged state == full recompute exactly
  // (decimal partial sums merge losslessly; double sums would not).
  private val MvCut = "1997-01-01"

  def qMvRefresh(s: SparkSession, d: String): DataFrame = {
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total_d"))
    val ord = Tables.orders(s, d)
    val base = state(ord.filter(col("o_orderdate") < lit(MvCut).cast("timestamp")))
    val delta = state(ord.filter(col("o_orderdate") >= lit(MvCut).cast("timestamp")))
    base.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("total_d")).cast("double").as("total_spent"))
  }

  val qMvRefreshSql: String =
    "SELECT o_custkey, count(*) AS n_orders, " +
      s"${sqlDsum("o_totalprice")} AS total_spent FROM orders GROUP BY 1"

  // ── Full-outer reconciliation ──────────────────────────────────────────
  // Daily order counts vs daily event counts, FULL OUTER joined on the
  // day — the reconciliation shape (rows exist for days seen by either
  // side only). The fixture's order and event date ranges barely overlap,
  // so both null-sides are exercised for real. Both inputs aggregate
  // before the join, so the join is dimension-sized however large the
  // fact tables are.
  def qFullOuter(s: SparkSession, d: String): DataFrame = {
    val od = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val ev = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    od.join(ev, Seq("day"), "full_outer")
      .select(col("day"), col("n_orders"), col("n_events"))
  }

  val qFullOuterSql: String =
    "SELECT coalesce(o.day, e.day) AS day, o.n_orders, e.n_events " +
      "FROM (SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n_orders " +
      "FROM orders GROUP BY 1) o " +
      "FULL OUTER JOIN (SELECT date_trunc('day', ts) AS day, count(*) AS n_events " +
      "FROM events GROUP BY 1) e ON o.day = e.day"

  // ── Unpivot (wide → long) ──────────────────────────────────────────────
  // The inverse of q_pivot: per-type stats melted into (type, metric,
  // value) rows via the native unpivot operator — the long form BI tools
  // and metric stores ingest. All measures cast to double so the value
  // column is homogeneous; the melt itself is a zero-shuffle projection.
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n_events"),
        dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .unpivot(Array(col("event_type")),
        Array(col("n_events"), col("sum_value"), col("min_value"), col("max_value")),
        "metric", "metric_value")

  val qUnpivotSql: String =
    "WITH w AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n_events, " +
      s"${sqlDsum("value")} AS sum_value, min(value) AS min_value, " +
      "max(value) AS max_value FROM events GROUP BY 1) " +
      "SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM w " +
      "UNION ALL SELECT event_type, 'sum_value', sum_value FROM w " +
      "UNION ALL SELECT event_type, 'min_value', min_value FROM w " +
      "UNION ALL SELECT event_type, 'max_value', max_value FROM w"

  // ── Data-quality audit ─────────────────────────────────────────────────
  // Constraint checks as one report: referential integrity (orphan
  // lineitems), key uniqueness (duplicate order keys), and domain checks
  // (non-positive quantity, out-of-domain status). Each check is an
  // independent aggregate over one scan — they run in parallel and union
  // into a fixed-shape report; `count` over an empty filter is 0, so a
  // clean dataset yields all-zero rows rather than missing rows. The
  // anti-join is the only shuffle (broadcast when the key side fits).
  def qDqReport(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    def row(name: String, n: Column): DataFrame => DataFrame =
      _.agg(n.as("n_violations")).select(lit(name).as("check_name"), col("n_violations"))
    val orphans = row("orphan_lineitems", count(lit(1)))(
      li.join(ord.select(col("o_orderkey")),
        li("l_orderkey") === col("o_orderkey"), "left_anti"))
    val dupKeys = row("duplicate_order_keys", count(lit(1)))(
      ord.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c")).filter(col("c") > 1))
    val negQty = row("nonpositive_quantity", count(lit(1)))(
      li.filter(col("l_quantity") <= 0))
    val badStatus = row("bad_order_status", count(lit(1)))(
      ord.filter(!col("o_orderstatus").isin("O", "F", "P")))
    orphans.unionByName(dupKeys).unionByName(negQty).unionByName(badStatus)
  }

  val qDqReportSql: String =
    "SELECT 'orphan_lineitems' AS check_name, count(*) AS n_violations FROM lineitem l " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) " +
      "UNION ALL SELECT 'duplicate_order_keys', count(*) FROM " +
      "(SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1) a " +
      "UNION ALL SELECT 'nonpositive_quantity', count(*) FROM lineitem WHERE l_quantity <= 0 " +
      "UNION ALL SELECT 'bad_order_status', count(*) FROM orders " +
      "WHERE o_orderstatus NOT IN ('O', 'F', 'P')"

  // ── Column profiler (data-catalog crawler shape) ───────────────────────
  // Per-column null count, exact distinct cardinality, and numeric
  // min/max over the whole fact table in ONE aggregation pass: Spark
  // plans the 11 count-distincts as a single Expand (×11) + one shuffle —
  // 11 separate scans would cost 11× the I/O the profiler exists to
  // avoid. Numerics report min/max as doubles (bit-identical inputs);
  // timestamps as epoch microseconds (exact integers < 2^53); strings
  // report cardinality only (cross-engine string formatting of min/max
  // is not hash-stable, cardinality is). At 100 TB the same plan holds —
  // the expand factor is column count, not data — with
  // approx_count_distinct as the documented cheaper knob.
  def qProfile(s: SparkSession, d: String): DataFrame = {
    // One pruned single-column scan per profiled column, unioned. The
    // alternative — all 11 exact count-distincts in ONE agg — plans as an
    // Expand(×12) carrying every column through a 12-key hash aggregate,
    // measured 6.4 s at sf0.1; per-column profiles read ONLY their own
    // parquet column (columnar pruning makes each scan ~1/11th the I/O)
    // and each distinct partial-aggregates to a narrow exchange: 1.1 s
    // for the identical result. At 100 TB the same holds: 11 narrow
    // column scans beat one 12×-amplified wide shuffle, and the scans
    // share the footer/row-group reads in the OS cache.
    def prof(c: String, kind: String) = {
      val mn = kind match {
        case "num" => min(col(c)).cast("double")
        case "ts"  => min(unix_micros(col(c))).cast("double")
        case _     => lit(null).cast("double")
      }
      val mx = kind match {
        case "num" => max(col(c)).cast("double")
        case "ts"  => max(unix_micros(col(c))).cast("double")
        case _     => lit(null).cast("double")
      }
      Tables.lineitem(s, d).select(col(c))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          mn.as("min_num"), mx.as("max_num"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"))
    }
    val nums = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strs = Seq("l_returnflag", "l_linestatus")
    (nums.map(prof(_, "num")) ++ strs.map(prof(_, "str")) :+
      prof("l_shipdate", "ts")).reduce(_ unionAll _)
  }

  val qProfileSql: String = {
    val nums = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows =
      nums.map(c =>
        s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(count(*) - count($c) AS BIGINT) AS n_nulls, " +
          s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
          s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num " +
          "FROM lineitem") ++
      Seq("l_returnflag", "l_linestatus").map(c =>
        s"SELECT '$c', CAST(count(*) AS BIGINT), " +
          s"CAST(count(*) - count($c) AS BIGINT), " +
          s"CAST(count(DISTINCT $c) AS BIGINT), " +
          "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM lineitem") :+
      ("SELECT 'l_shipdate', CAST(count(*) AS BIGINT), " +
        "CAST(count(*) - count(l_shipdate) AS BIGINT), " +
        "CAST(count(DISTINCT l_shipdate) AS BIGINT), " +
        "CAST(min(epoch_us(l_shipdate)) AS DOUBLE), " +
        "CAST(max(epoch_us(l_shipdate)) AS DOUBLE) FROM lineitem")
    rows.mkString(" UNION ALL ")
  }

  // ── Grouped string aggregation (LISTAGG shape) ─────────────────────────
  // Per-region sorted roster of nation names — the string_agg/listagg
  // surface. collect_list's arrival order is nondeterministic by design;
  // sort_array before joining makes the result total-order deterministic
  // (exactly what the ORDER BY inside DuckDB's string_agg does), which is
  // the only way a concatenation aggregate can be reproducible on a
  // cluster. Dimension-sized: grouped on the broadcast side's key.
  def qStringAgg(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
  }

  val qStringAggSql: String =
    "SELECT r_name, count(*) AS n_nations, " +
      "string_agg(n_name, ',' ORDER BY n_name) AS nations " +
      "FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY 1"

  // ── GROUPING SETS with grouping flags ──────────────────────────────────
  // The general form rollup/cube specialize: an explicit lattice of
  // grouping combinations in ONE pass (Spark expands the sets over a
  // single shuffle — no union of per-set scans), with grouping() flags
  // disambiguating aggregate NULLs from data NULLs. Runs through the
  // spark.sql text surface, same Catalyst plan as the DataFrame form.
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      "SELECT o_orderstatus, o_orderpriority, " +
        "CAST(grouping(o_orderstatus) AS INT) AS g_status, " +
        "CAST(grouping(o_orderpriority) AS INT) AS g_prio, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders_gs GROUP BY GROUPING SETS " +
        "((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())")
  }

  val qGroupingSetsSql: String =
    "SELECT o_orderstatus, o_orderpriority, " +
      "CAST(grouping(o_orderstatus) AS INT) AS g_status, " +
      "CAST(grouping(o_orderpriority) AS INT) AS g_prio, " +
      "count(*) AS n, " +
      s"${sqlDsum("o_totalprice")} AS sum_price " +
      "FROM orders GROUP BY GROUPING SETS " +
      "((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())"

  // ── Correlation / covariance from exact moments ────────────────────────
  // Pearson corr and sample covariance per group, derived from DECIMAL
  // sums (Σx, Σy, Σxy, Σx², Σy²) so both engines assemble the identical
  // doubles — the builtin corr()/covar_samp() stream in float and would
  // differ in the last bits by reduction order. One aggregate pass; the
  // five moments ride the same partial-agg shuffle.
  def qCorr(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 2))
    val y = col("l_extendedprice").cast(DecimalType(18, 2))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sx2"), sum(y * y).cast("double").as("sy2"))
      .withColumn("vx", col("n") * col("sx2") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("sy2") - col("sy") * col("sy"))
      // degenerate groups (n=1, or a constant column whose variance term
      // cancels to 0 or float-negative) would NaN in Spark but hard-error
      // DuckDB's sqrt; both engines hold identical doubles here, so the
      // guard drops the same rows on both sides
      .filter(col("n") > 1 && col("vx") > 0.0 && col("vy") > 0.0)
      .select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt(col("vx") * col("vy")), 6).as("corr_r"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * (col("n") - 1)), 6).as("covar_r"))
  }

  val qCorrSql: String = {
    val dx = "CAST(l_quantity AS DECIMAL(18,2))"
    val dy = "CAST(l_extendedprice AS DECIMAL(18,2))"
    "SELECT l_returnflag, n, " +
      "round((n * sxy - sx * sy) / sqrt(vx * vy), 6) AS corr_r, " +
      "round((n * sxy - sx * sy) / (n * (n - 1)), 6) AS covar_r " +
      "FROM (SELECT *, n * sx2 - sx * sx AS vx, n * sy2 - sy * sy AS vy " +
      "FROM (SELECT l_returnflag, count(*) AS n, " +
      s"CAST(sum($dx) AS DOUBLE) AS sx, CAST(sum($dy) AS DOUBLE) AS sy, " +
      s"CAST(sum($dx * $dy) AS DOUBLE) AS sxy, " +
      s"CAST(sum($dx * $dx) AS DOUBLE) AS sx2, CAST(sum($dy * $dy) AS DOUBLE) AS sy2 " +
      "FROM lineitem GROUP BY 1) a) b " +
      "WHERE n > 1 AND vx > 0 AND vy > 0"
  }

  // ── SCD Type-2 dimension build ─────────────────────────────────────────
  // Treat each customer's orders as a change feed and build the Type-2
  // slowly-changing-dimension table: one validity interval per version,
  // [valid_from, valid_to) with a NULL valid_to marking the current row —
  // the standard warehouse shape for reproducible point-in-time snapshots
  // (the reference has no temporal modeling at all; its closest feature is
  // the last-write-wins DynamoDB sink, output_handler_dynamodb.py:62-75,
  // which keeps only the newest version). ONE window over the business
  // key: version numbering and the interval close-out (lead) ride the
  // same sort, so the build is a single shuffle on o_custkey. At 100 TB
  // the change feed is date-partitioned and each key holds a handful of
  // versions — the window state is per-key-bounded, never corpus-sized.
  def qScd2(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"), col("o_orderdate"))
      // row_number is INT in Spark but BIGINT in DuckDB — align to long
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .withColumnRenamed("o_orderdate", "valid_from")
      .withColumn("is_current", col("valid_to").isNull)
  }

  val qScd2Sql: String =
    "SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority, " +
      "o_orderdate AS valid_from, " +
      "CAST(row_number() OVER w AS BIGINT) AS version, " +
      "lead(o_orderdate) OVER w AS valid_to, " +
      "lead(o_orderdate) OVER w IS NULL AS is_current " +
      "FROM orders WINDOW w AS " +
      "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"

  // ── Fact-to-versioned-dimension join (the SCD2 payoff query) ───────────
  // Attribute every line item to the customer VERSION that was current
  // when it shipped — the query Type-2 history exists to answer (facts
  // joined to point-in-time dimension state, not today's). Equi-join on
  // the business key carries the interval predicate alongside: each fact
  // lands on exactly ONE version because Type-2 intervals partition the
  // timeline once version 1 is backdated to −∞ — the standard
  // early-arriving-fact rule (the fixture ships ~half its items before
  // the order date, so "attribute to the earliest known state" is
  // load-bearing here, not a corner case).
  // At scale the dim side is versions (small multiple of keys), so this
  // is a fact⋈dim shuffle on the key — the interval check never widens
  // the join beyond the per-key version count.
  def qScd2Join(s: SparkSession, d: String): DataFrame = {
    val dim = qScd2(s, d).select(col("o_custkey"),
        when(col("version") === 1L, lit("1900-01-01").cast("timestamp"))
          .otherwise(col("valid_from")).as("eff_from"),
        col("valid_to"), col("o_orderpriority"))
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    fact.join(dim,
        fact("o_custkey") === dim("o_custkey") &&
          col("eff_from") <= col("l_shipdate") &&
          (col("valid_to").isNull || col("valid_to") > col("l_shipdate")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total_price"))
  }

  val qScd2JoinSql: String =
    s"WITH dim0 AS ($qScd2Sql), " +
      "dim AS (SELECT o_custkey, o_orderpriority, valid_to, " +
      "CASE WHEN version = 1 THEN TIMESTAMP '1900-01-01' ELSE valid_from END AS eff_from " +
      "FROM dim0), " +
      "f AS (SELECT o_custkey AS ck, l_shipdate AS sd, l_extendedprice AS px " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
      "SELECT d.o_orderpriority, count(*) AS n_items, " +
      s"${sqlDsum("px")} AS total_price " +
      "FROM f JOIN dim d ON f.ck = d.o_custkey " +
      "AND d.eff_from <= f.sd AND (d.valid_to IS NULL OR d.valid_to > f.sd) " +
      "GROUP BY 1"

  // ── Time travel: point-in-time snapshots from SCD2 intervals ───────────
  // Reconstruct the dimension AS OF each year-end snapshot date — the
  // whole point of keeping Type-2 history: a version is current at D iff
  // valid_from <= D < valid_to (open interval = still current). The
  // snapshot dates are a broadcast handful (that is always their shape —
  // a time-travel probe list never scales with the data), so the interval
  // condition rides a broadcast join against the SCD2 build's single
  // window shuffle; the output is the per-snapshot census of then-current
  // priority values. Reproducible training snapshots at 100 TB are
  // exactly this query with D = the training cut date.
  def qTimeTravel(s: SparkSession, d: String): DataFrame = {
    val snaps = s.range(1996, 2002)
      .select(make_date(col("id").cast("int"), lit(1), lit(1)).as("snap_date"))
    val snapTs = col("snap_date").cast("timestamp")
    qScd2(s, d)
      .join(broadcast(snaps),
        col("valid_from") <= snapTs &&
          (col("valid_to").isNull || col("valid_to") > snapTs))
      .groupBy(col("snap_date"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val qTimeTravelSql: String =
    s"WITH scd AS ($qScd2Sql), " +
      "snaps AS (SELECT make_date(CAST(y AS INT), 1, 1) AS snap_date " +
      "FROM generate_series(1996, 2001) t(y)) " +
      "SELECT snap_date, o_orderpriority, count(*) AS n_customers " +
      "FROM scd JOIN snaps ON valid_from <= CAST(snap_date AS TIMESTAMP) " +
      "AND (valid_to IS NULL OR valid_to > CAST(snap_date AS TIMESTAMP)) " +
      "GROUP BY 1, 2"

  // ── Per-group OLS regression from exact moments ────────────────────────
  // Least-squares slope/intercept/R² of order value over time, per
  // priority class — the trend-detection primitive (data drift, volume
  // forecasts) assembled from the same five decimal moments as qCorr:
  // Σx, Σy, Σxy, Σx², Σy² are exact and order-independent, so both
  // engines derive bit-identical doubles; the builtin regr_slope streams
  // in float and is reduction-order-dependent. One aggregate pass — the
  // moments ride a single partial-agg shuffle, state is 5 numbers per
  // group at any corpus size.
  def qRegression(s: SparkSession, d: String): DataFrame = {
    val x = datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
      .cast(DecimalType(18, 2))
    val y = col("o_totalprice").cast(DecimalType(18, 2))
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sx2"), sum(y * y).cast("double").as("sy2"))
      .withColumn("vx", col("n") * col("sx2") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("sy2") - col("sy") * col("sy"))
      .withColumn("cov", col("n") * col("sxy") - col("sx") * col("sy"))
      // same degenerate-group guard as qCorr: both engines hold identical
      // doubles, so the filter drops the same rows on both sides
      .filter(col("n") > 1 && col("vx") > 0.0 && col("vy") > 0.0)
      .select(col("o_orderpriority"), col("n"),
        round(col("cov") / col("vx"), 6).as("slope_r"),
        round((col("sy") * col("sx2") - col("sx") * col("sxy")) / col("vx"), 6)
          .as("intercept_r"),
        round(col("cov") * col("cov") / (col("vx") * col("vy")), 6).as("r2_r"))
  }

  val qRegressionSql: String = {
    val dx = "CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS DECIMAL(18,2))"
    val dy = "CAST(o_totalprice AS DECIMAL(18,2))"
    "SELECT o_orderpriority, n, " +
      "round(cov / vx, 6) AS slope_r, " +
      "round((sy * sx2 - sx * sxy) / vx, 6) AS intercept_r, " +
      "round(cov * cov / (vx * vy), 6) AS r2_r " +
      "FROM (SELECT *, n * sx2 - sx * sx AS vx, n * sy2 - sy * sy AS vy, " +
      "n * sxy - sx * sy AS cov " +
      "FROM (SELECT o_orderpriority, count(*) AS n, " +
      s"CAST(sum($dx) AS DOUBLE) AS sx, CAST(sum($dy) AS DOUBLE) AS sy, " +
      s"CAST(sum($dx * $dy) AS DOUBLE) AS sxy, " +
      s"CAST(sum($dx * $dx) AS DOUBLE) AS sx2, CAST(sum($dy * $dy) AS DOUBLE) AS sy2 " +
      "FROM orders GROUP BY 1) a) b " +
      "WHERE n > 1 AND vx > 0 AND vy > 0"
  }

  // ── Synthetic range source ─────────────────────────────────────────────
  // spark.range is the engine's built-in data generator (splittable,
  // no-I/O, the seed of every synthetic benchmark and backfill): prove
  // its parity with SQL generate_series via exact integer aggregates.
  // The dataset dir is unused — the source IS the generator.
  private val RangeN = 100000L

  def qRangeGen(s: SparkSession, d: String): DataFrame =
    s.range(1L, RangeN + 1)
      .agg(sum(col("id") * col("id")).cast("long").as("sum_sq"),
        count(lit(1)).as("n"))

  val qRangeGenSql: String =
    "SELECT CAST(sum(i * i) AS BIGINT) AS sum_sq, count(*) AS n " +
      s"FROM generate_series(1, $RangeN) t(i)"

  // ── Market concentration: Herfindahl–Hirschman index per nation ────────
  // Supplier revenue concentration of each nation's supply base — the
  // standard antitrust/market-structure readout. Revenue rides as exact
  // integer cents·pct (the TPC-H discipline above) rounded to whole
  // dollars per supplier, so the squared-share sum is INTEGER-exact on
  // both engines (share² sums of doubles would be addition-order-
  // dependent); HHI = 10000·Σ(revᵢ/Σrev)² = 10000·Σrevᵢ²/(Σrev)²
  // computed in one extra aggregation — no join-back of per-nation
  // totals. Plan: fact shuffles once on suppkey, the 400-row supplier
  // dim broadcasts, then 25 nation rows.
  def qHhi(s: SparkSession, d: String): DataFrame = {
    val revCp = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
      .cast("long") *
      (lit(100L) - (col("l_discount").cast(DecimalType(4, 2)) * 100)
        .cast("long"))
    val perSupp = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum(revCp.cast(DecimalType(38, 0))).as("rev_cp"))
      // whole-dollar revenue: exact integer, identical on both engines
      .select(col("l_suppkey"),
        floor(col("rev_cp") / lit(1000000L)).cast("long").as("rev_d"))
    perSupp
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))),
        Seq("l_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev_d")).as("tot_d"),
        sum(col("rev_d") * col("rev_d")).as("sum_sq"))
      .filter(col("tot_d") > 0L)
      .select(col("s_nationkey"), col("n_suppliers"),
        round(lit(10000.0) * col("sum_sq").cast("double") /
          (col("tot_d").cast("double") * col("tot_d").cast("double")), 6)
          .as("hhi"))
  }

  val qHhiSql: String =
    "WITH per_supp AS (SELECT l_suppkey, " +
      "CAST(floor(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * " +
      "(100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) " +
      "/ 1000000) AS BIGINT) AS rev_d " +
      "FROM lineitem GROUP BY 1) " +
      "SELECT s_nationkey, count(*) AS n_suppliers, " +
      "round(10000.0 * CAST(sum(rev_d * rev_d) AS DOUBLE) / " +
      "(CAST(sum(rev_d) AS DOUBLE) * CAST(sum(rev_d) AS DOUBLE)), 6) AS hhi " +
      "FROM per_supp JOIN supplier ON l_suppkey = s_suppkey " +
      "GROUP BY 1 HAVING sum(rev_d) > 0"

  // ── Hierarchical subtree rollup (BOM / org-chart aggregation) ──────────
  // Roll part retail value up a category tree where node p's parent is
  // p DIV 10 (a fixed-depth decimal trie — the shape of product-category
  // and org hierarchies). With BOUNDED depth the ancestor set is a CLOSED
  // FORM — each row explodes into its ≤8 ancestors in codegen and one
  // aggregation finishes the job: no iterative join, no recursion, and
  // the explode factor is the tree depth, never the tree size. (Unbounded
  // hierarchies would use the pointer-doubling loop of ssspPaths; a
  // 10-ary trie over 64-bit keys never needs it.) The DuckDB oracle runs
  // the same ancestor expansion via list_transform.
  def qTreeRollup(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
      .select(explode(expr(
        "array_distinct(transform(sequence(0, 7), " +
          "k -> p_partkey DIV CAST(power(10, k) AS BIGINT)))")).as("node"),
        col("cents"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("subtree_cents"))

  val qTreeRollupSql: String =
    "SELECT node, count(*) AS n_parts, " +
      "CAST(sum(cents) AS BIGINT) AS subtree_cents " +
      "FROM (SELECT unnest(list_distinct(list_transform(range(0, 8), " +
      "k -> p_partkey // CAST(power(10, k) AS BIGINT)))) AS node, " +
      "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents " +
      "FROM part) t GROUP BY 1"

  /** All (name → query, oracle) entries this module contributes. */
  val queries: Seq[(String, Query)] = Seq(
    "q_hhi"             -> Query(qHhi, qHhiSql),
    "q_tree_rollup"     -> Query(qTreeRollup, qTreeRollupSql),
    "q_table_checksum"  -> Query(qTableChecksum, qTableChecksumSql),
    "q_skyline"         -> Query(qSkyline, qSkylineSql),
    "q_drawdown"        -> Query(qDrawdown, qDrawdownSql),
    "q_autocorr"        -> Query(qAutocorr, qAutocorrSql),
    "q_forecast_eval"   -> Query(qForecastEval, qForecastEvalSql),
    "q_tpch_q1"         -> Query(qTpchQ1, qTpchQ1Sql),
    "q_tpch_q3"         -> Query(qTpchQ3, qTpchQ3Sql),
    "q_tpch_q5"         -> Query(qTpchQ5, qTpchQ5Sql),
    "q_tpch_q6"         -> Query(qTpchQ6, qTpchQ6Sql),
    "q_tpch_q18"        -> Query(qTpchQ18, qTpchQ18Sql),
    "q_winsorize"       -> Query(qWinsorize, qWinsorizeSql),
    "q_key_skew"        -> Query(qKeySkew, qKeySkewSql),
    "q_changepoint"     -> Query(qChangepoint, qChangepointSql),
    "q_snapshot_diff"   -> Query(qSnapshotDiff, qSnapshotDiffSql),
    "q_benford"         -> Query(qBenford, qBenfordSql),
    "q_rank_sum"        -> Query(qRankSum, qRankSumSql),
    "q_scd2_join"       -> Query(qScd2Join, qScd2JoinSql),
    "q_cdc_delete"      -> Query(qCdcDelete, qCdcDeleteSql),
    "q_scd2"            -> Query(qScd2, qScd2Sql),
    "q_time_travel"     -> Query(qTimeTravel, qTimeTravelSql),
    "q_regression"      -> Query(qRegression, qRegressionSql),
    "q_range_gen"       -> Query(qRangeGen, qRangeGenSql),
    "q_grouping_sets"   -> Query(qGroupingSets, qGroupingSetsSql),
    "q_corr"            -> Query(qCorr, qCorrSql),
    "q_string_agg"      -> Query(qStringAgg, qStringAggSql),
    "q_full_outer"      -> Query(qFullOuter, qFullOuterSql),
    "q_unpivot"         -> Query(qUnpivot, qUnpivotSql),
    "q_dq_report"       -> Query(qDqReport, qDqReportSql),
    "q_profile"         -> Query(qProfile, qProfileSql),
    "q_mv_refresh"      -> Query(qMvRefresh, qMvRefreshSql),
    "q_equidepth"       -> Query(qEquidepth, qEquidepthSql),
    "q_histogram"       -> Query(qHistogram, qHistogramSql),
    "q_percentiles"     -> Query(qPercentiles, qPercentilesSql),
    "q_percentile_disc" -> Query(qPercentileDisc, qPercentileDiscSql),
    "q_scalar_subq"     -> Query(qScalarSubq, qScalarSubqSql),
    "q_cpu_fib"         -> Query(qCpuFib, qCpuFibSql),
    "q_pivot"           -> Query(qPivot, qPivotSql),
    "q_pagerank"        -> Query(qPagerank, qPagerankSql),
    "q_pagerank_ppr"    -> Query(qPagerankPersonalized, qPagerankPersonalizedSql),
    "q_intersect"       -> Query(qIntersect, qIntersectSql),
    "q_except"          -> Query(qExcept, qExceptSql),
    "q_cube"            -> Query(qCube, qCubeSql),
    // q_approx_distinct (round 15): audit-shaped — the oracle pins the
    // exact counts + the expected within-5% verdict; the HLL++ estimate
    // itself stays engine-specific and is bounded, not replayed.
    "q_approx_distinct" -> Query(qApproxDistinct, qApproxDistinctSql),
    "q1_filter_project" -> Query(q1FilterProject, q1Sql),
    "q2_substr_agg"     -> Query(q2SubstrAgg, q2Sql),
    "q2b_join_agg"      -> Query(q2bJoinAgg, q2bSql),
    "q3_join_top1"      -> Query(q3JoinTop1, q3Sql),
    "q_wordcount"       -> Query(qWordCount, qWordCountSql),
    "q_sort_global"     -> Query(qSortGlobal, qSortGlobalSql),
    "q_inlink_count"    -> Query(qInlinkCount, qInlinkCountSql),
    "q_union_merge"     -> Query(qUnionMerge, qUnionMergeSql),
    "q_project_prune"   -> Query(qProjectPrune, qProjectPruneSql),
    "q_distinct"        -> Query(qDistinct, qDistinctSql),
    "q_topk"            -> Query(qTopK, qTopKSql),
    "q_agg_stats"       -> Query(qAggStats, qAggStatsSql),
    "q_semi_join"       -> Query(qSemiJoin, qSemiJoinSql),
    "q_anti_join"       -> Query(qAntiJoin, qAntiJoinSql),
    "q_date_filter"     -> Query(qDateFilter, qDateFilterSql),
    "q_rollup"          -> Query(qRollup, qRollupSql),
    "q_star_join"       -> Query(qStarJoin, qStarJoinSql),
    "q_bucketed_join"   -> Query(qBucketedJoin, qBucketedJoinSql),
    "q_skew_join"       -> Query(qSkewJoin, qSkewJoinSql),
    "q_upsert_merge"    -> Query(qUpsertMerge, qUpsertMergeSql),
  )
}
