package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** TPC-H correlated-subquery family (Q2/Q4/Q17/Q20/Q21/Q22 shapes), adapted
  * to the driver fixtures (TESTDATA.md): no `partsupp` table (a `ps` CTE
  * aggregated from lineitem stands in), no commit/receipt dates ("late" =
  * shipped more than N days after the order date), no `c_phone` (the
  * country code is `c_nationkey % 10`).
  *
  * This family exists to exercise Catalyst DECORRELATION — the one
  * relational capability class nothing else in the suite touches: EXISTS /
  * NOT EXISTS with outer references become left-semi / left-anti joins, and
  * correlated scalar aggregates become aggregate-then-join — never a
  * per-outer-row re-execution and never a cartesian product (PlanSpec pins
  * both). The reference engine has no subquery surface at all (SURVEY
  * §4.2 — its Hive files such as hive/Query3.q are documentation only), so
  * this is deliberate beyond-reference surface for a real analytics user.
  *
  * Numeric discipline matches the rest of the TPC-H family: money and
  * quantities as integer cents (`BIGINT`), threshold comparisons
  * cross-multiplied into exact integer form (`qty·5·cnt < sum` instead of
  * `qty < 0.2·avg`), doubles only at the final rounded report columns — so
  * DuckDB and Spark agree to the bit and a 100 TB fact table cannot drift
  * or overflow (sums that could exceed BIGINT ride in DECIMAL(38,0)).
  *
  * The Spark side is `spark.sql` over per-query temp views (suffix `_tpc`):
  * SQL text and DataFrame API share one Catalyst surface, and the SQL form
  * is the only way to express correlation for the optimizer to remove.
  */
object TpchQueries {

  /** Integer-cents helper fragments shared by the SQL texts. */
  private val qtyC   = "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"
  private val priceC = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
  private val balC   = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"

  private def views(s: SparkSession, d: String, names: String*): Unit =
    names.foreach { n =>
      Tables.load(s, d, n).createOrReplaceTempView(s"${n}_tpc")
    }

  // ── TPC-H Q4: order-priority checking (correlated EXISTS) ──────────────
  // One quarter of orders, kept only when EXISTS a lineitem of that order
  // shipped >60 days after the order date (the fixtures have no
  // commit/receipt dates, so lateness is ship-lag). Catalyst decorrelates
  // the EXISTS into a left-semi hash join on l_orderkey with the lag
  // predicate as the join's extra condition — at 100 TB that is one keyed
  // shuffle of the two date-pruned scans, no per-order probe.
  def qTpchQ4(s: SparkSession, d: String): DataFrame = {
    views(s, d, "orders", "lineitem")
    s.sql(
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count " +
        "FROM orders_tpc o " +
        "WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' " +
        "AND CAST(o_orderdate AS DATE) < DATE '1997-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem_tpc l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND CAST(l.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 60)) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
  }

  val qTpchQ4Sql: String =
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count " +
      "FROM orders o " +
      "WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' " +
      "AND CAST(o_orderdate AS DATE) < DATE '1997-04-01' " +
      "AND EXISTS (SELECT 1 FROM lineitem l " +
      "WHERE l.l_orderkey = o.o_orderkey " +
      "AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60) " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"

  // ── TPC-H Q17: small-quantity-order revenue (correlated scalar agg) ────
  // Lineitems of one brand's small parts, kept when the quantity is below
  // 20% of that part's average. The float threshold is cross-multiplied
  // exact: qty·5·count(part) < sum(qty over part) — two correlated scalar
  // aggregates over the same per-part group, which Catalyst rewrites into
  // ONE aggregate-then-join (the per-part stats are computed once in a
  // partial→final aggregation, then hash-joined back; never re-run per
  // outer row). The part filter broadcast-prunes the fact side first.
  def qTpchQ17(s: SparkSession, d: String): DataFrame = {
    views(s, d, "lineitem", "part")
    s.sql(
      s"WITH li AS (SELECT l_partkey, $qtyC AS qty_c, $priceC AS price_c " +
        "FROM lineitem_tpc) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_items, " +
        "round(CAST(sum(price_c) AS DOUBLE) / 100.0 / 7.0, 6) AS avg_yearly_r " +
        "FROM li JOIN part_tpc ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#1' AND p_size < 15 " +
        "AND qty_c * 5 * (SELECT CAST(count(*) AS BIGINT) FROM li l2 " +
        "WHERE l2.l_partkey = p_partkey) " +
        "< (SELECT CAST(sum(l2.qty_c) AS BIGINT) FROM li l2 " +
        "WHERE l2.l_partkey = p_partkey)")
  }

  val qTpchQ17Sql: String =
    s"WITH li AS (SELECT l_partkey, $qtyC AS qty_c, $priceC AS price_c " +
      "FROM lineitem) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_items, " +
      "round(CAST(sum(price_c) AS DOUBLE) / 100.0 / 7.0, 6) AS avg_yearly_r " +
      "FROM li JOIN part ON p_partkey = l_partkey " +
      "WHERE p_brand = 'Brand#1' AND p_size < 15 " +
      "AND qty_c * 5 * (SELECT CAST(count(*) AS BIGINT) FROM li l2 " +
      "WHERE l2.l_partkey = p_partkey) " +
      "< (SELECT CAST(sum(l2.qty_c) AS BIGINT) FROM li l2 " +
      "WHERE l2.l_partkey = p_partkey)"

  // ── TPC-H Q20: potential part promotion (nested IN + correlated agg) ───
  // Suppliers who dominate a PROMO part: their all-time shipped quantity
  // of some promo part exceeds 3× that part's total 1997 volume
  // (ps_qty·10 > sum·30, exact integers; the partsupp availability of the
  // official query becomes the per-(part,supplier) lineitem rollup `ps`).
  // Decorrelated shape at scale: the 1997 per-part volumes are ONE
  // filtered aggregation joined into `ps` (sum of an empty group is NULL →
  // comparison false, identically in both engines); the promo-part IN is
  // a broadcast semi join; the outer supplier IN a semi join on suppkey.
  def qTpchQ20(s: SparkSession, d: String): DataFrame = {
    views(s, d, "lineitem", "part", "supplier")
    s.sql(
      s"WITH li AS (SELECT l_partkey, l_suppkey, l_shipdate, $qtyC AS qty_c " +
        "FROM lineitem_tpc), " +
        "ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
        "CAST(sum(qty_c) AS BIGINT) AS ps_qty FROM li GROUP BY 1, 2) " +
        "SELECT s_suppkey, s_name FROM supplier_tpc " +
        "WHERE s_suppkey IN (SELECT ps_suppkey FROM ps " +
        "WHERE ps_partkey IN (SELECT p_partkey FROM part_tpc WHERE p_type = 'PROMO') " +
        "AND ps_qty * 10 > (SELECT CAST(sum(qty_c) AS BIGINT) * 30 FROM li " +
        "WHERE l_partkey = ps_partkey " +
        "AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01' " +
        "AND CAST(l_shipdate AS DATE) < DATE '1998-01-01')) " +
        "ORDER BY s_suppkey")
  }

  val qTpchQ20Sql: String =
    s"WITH li AS (SELECT l_partkey, l_suppkey, l_shipdate, $qtyC AS qty_c " +
      "FROM lineitem), " +
      "ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
      "CAST(sum(qty_c) AS BIGINT) AS ps_qty FROM li GROUP BY 1, 2) " +
      "SELECT s_suppkey, s_name FROM supplier " +
      "WHERE s_suppkey IN (SELECT ps_suppkey FROM ps " +
      "WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO') " +
      "AND ps_qty * 10 > (SELECT CAST(sum(qty_c) AS BIGINT) * 30 FROM li " +
      "WHERE l_partkey = ps_partkey " +
      "AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01' " +
      "AND CAST(l_shipdate AS DATE) < DATE '1998-01-01')) " +
      "ORDER BY s_suppkey"

  // ── TPC-H Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS) ─
  // The double-correlation benchmark: a supplier's lineitem shipped >90
  // days late on a finished multi-supplier order, where NO other supplier
  // on that order was also late. EXISTS → left-semi, NOT EXISTS →
  // left-anti, both hash joins keyed on l_orderkey with the supplier
  // inequality / lateness predicates as residual conditions (the anti
  // side's correlation reaches TWO outer tables: l1.l_orderkey and
  // o.o_orderdate). Top-20 with a full tie-break so LIMIT cannot flap.
  def qTpchQ21(s: SparkSession, d: String): DataFrame = {
    views(s, d, "supplier", "lineitem", "orders")
    s.sql(
      "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait " +
        "FROM supplier_tpc, lineitem_tpc l1, orders_tpc o " +
        "WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey " +
        "AND o.o_orderstatus = 'F' " +
        "AND CAST(l1.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 90) " +
        "AND EXISTS (SELECT 1 FROM lineitem_tpc l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem_tpc l3 " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND CAST(l3.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 90)) " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20")
  }

  val qTpchQ21Sql: String =
    "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait " +
      "FROM supplier, lineitem l1, orders o " +
      "WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey " +
      "AND o.o_orderstatus = 'F' " +
      "AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90 " +
      "AND EXISTS (SELECT 1 FROM lineitem l2 " +
      "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
      "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
      "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
      "AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90) " +
      "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"

  // ── TPC-H Q22: global sales opportunity (anti join + scalar avg) ───────
  // Dormant rich customers: country code = c_nationkey % 10 (the fixtures
  // have no c_phone), balance above the positive-balance average of the
  // candidate codes, and NOT EXISTS any order since 2000. The average
  // comparison is cross-multiplied exact (bal·count > sum, integer cents,
  // both scalars uncorrelated → computed ONCE and broadcast as subquery
  // results); the NOT EXISTS is a left-anti hash join against the
  // date-pruned orders scan. Report is a 5-row rollup by country code.
  def qTpchQ22(s: SparkSession, d: String): DataFrame = {
    views(s, d, "customer", "orders")
    s.sql(
      "WITH pool AS (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, " +
        s"c_custkey, $balC AS bal_c, c_acctbal FROM customer_tpc " +
        "WHERE c_nationkey % 10 IN (0, 1, 2, 3, 4)), " +
        "pos AS (SELECT bal_c FROM pool WHERE c_acctbal > 0) " +
        "SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust, " +
        "round(CAST(sum(bal_c) AS DOUBLE) / 100.0, 2) AS totacctbal " +
        "FROM pool " +
        "WHERE bal_c * (SELECT CAST(count(*) AS BIGINT) FROM pos) " +
        "> (SELECT CAST(sum(bal_c) AS BIGINT) FROM pos) " +
        "AND NOT EXISTS (SELECT 1 FROM orders_tpc " +
        "WHERE o_custkey = c_custkey " +
        "AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01') " +
        "GROUP BY cntrycode ORDER BY cntrycode")
  }

  val qTpchQ22Sql: String =
    "WITH pool AS (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, " +
      s"c_custkey, $balC AS bal_c, c_acctbal FROM customer " +
      "WHERE c_nationkey % 10 IN (0, 1, 2, 3, 4)), " +
      "pos AS (SELECT bal_c FROM pool WHERE c_acctbal > 0) " +
      "SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust, " +
      "round(CAST(sum(bal_c) AS DOUBLE) / 100.0, 2) AS totacctbal " +
      "FROM pool " +
      "WHERE bal_c * (SELECT CAST(count(*) AS BIGINT) FROM pos) " +
      "> (SELECT CAST(sum(bal_c) AS BIGINT) FROM pos) " +
      "AND NOT EXISTS (SELECT 1 FROM orders " +
      "WHERE o_custkey = c_custkey " +
      "AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01') " +
      "GROUP BY cntrycode ORDER BY cntrycode"

  // ── TPC-H Q2: minimum-cost supplier (correlated scalar min over dims) ──
  // For every size-15 part, the EUROPE supplier(s) achieving the global
  // minimum cost, where cost = the cheapest observed extended price per
  // (part, supplier) (the `ps` rollup — fixtures have no partsupp). The
  // correlated `min` re-states the whole supplier→nation→region dimension
  // chain inside the subquery, exactly as the official Q2 does; Catalyst
  // computes the per-part minimum ONCE (aggregate over the already-built
  // `eps`, dims broadcast) and hash-joins it back on partkey. Costs stay
  // integer cents through the equality; doubles only in the report column.
  def qTpchQ2(s: SparkSession, d: String): DataFrame = {
    views(s, d, "lineitem", "supplier", "nation", "region", "part")
    s.sql(
      s"WITH ps AS (SELECT l_partkey, l_suppkey, CAST(min($priceC) AS BIGINT) " +
        "AS ps_cost FROM lineitem_tpc GROUP BY 1, 2), " +
        "eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier_tpc " +
        "JOIN nation_tpc ON s_nationkey = n_nationkey " +
        "JOIN region_tpc ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "eps AS (SELECT ps.l_partkey, ps.ps_cost, eu.s_name, eu.s_acctbal, " +
        "eu.n_name FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey) " +
        "SELECT p_partkey, p_brand, s_name, n_name, s_acctbal, " +
        "round(CAST(ps_cost AS DOUBLE) / 100.0, 2) AS cost_r " +
        "FROM part_tpc JOIN eps ON p_partkey = l_partkey " +
        "WHERE p_size = 15 " +
        "AND ps_cost = (SELECT min(e2.ps_cost) FROM eps e2 " +
        "WHERE e2.l_partkey = p_partkey) " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey")
  }

  val qTpchQ2Sql: String =
    s"WITH ps AS (SELECT l_partkey, l_suppkey, CAST(min($priceC) AS BIGINT) " +
      "AS ps_cost FROM lineitem GROUP BY 1, 2), " +
      "eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
      "eps AS (SELECT ps.l_partkey, ps.ps_cost, eu.s_name, eu.s_acctbal, " +
      "eu.n_name FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey) " +
      "SELECT p_partkey, p_brand, s_name, n_name, s_acctbal, " +
      "round(CAST(ps_cost AS DOUBLE) / 100.0, 2) AS cost_r " +
      "FROM part JOIN eps ON p_partkey = l_partkey " +
      "WHERE p_size = 15 " +
      "AND ps_cost = (SELECT min(e2.ps_cost) FROM eps e2 " +
      "WHERE e2.l_partkey = p_partkey) " +
      "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"

  val queries: Seq[(String, Query)] = Seq(
    "q_tpch_q2"  -> Query(qTpchQ2, qTpchQ2Sql),
    "q_tpch_q4"  -> Query(qTpchQ4, qTpchQ4Sql),
    "q_tpch_q17" -> Query(qTpchQ17, qTpchQ17Sql),
    "q_tpch_q20" -> Query(qTpchQ20, qTpchQ20Sql),
    "q_tpch_q21" -> Query(qTpchQ21, qTpchQ21Sql),
    "q_tpch_q22" -> Query(qTpchQ22, qTpchQ22Sql),
  )
}
