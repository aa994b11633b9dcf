package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** TPC-H bulk Q7–Q16 + Q19, adapted to the driver fixtures (TESTDATA.md).
  * Schema adaptations, kept consistent across the family:
  *  - no `partsupp` → the per-(part,supplier) lineitem rollup stands in
  *    (Q16 counts suppliers straight off lineitem);
  *  - no `ps_supplycost` → Q9's cost side is `p_retailprice · quantity`;
  *  - no `l_shipmode` / commit/receipt dates → Q12 buckets ship-lag days;
  *  - no comment columns → Q13 excludes an order-priority class and Q16
  *    excludes negative-balance suppliers instead of comment regexes;
  *  - nation names are synthetic and their supplier assignment varies by
  *    scale factor → Q7 trades between even/odd-nationkey BLOCs, which
  *    exist at every sf, instead of two hard-coded nations.
  *
  * Numeric discipline is the family's (see TpchQueries): integer cents ×
  * integer percent, sums in DECIMAL(38,0) where a 100 TB fact could pass
  * 2^63, ratios/thresholds cross-multiplied exact where both sides are
  * integers, doubles only at the final rounded report columns.
  *
  * Scale shape: every query keeps the fixed-point rule — dimensions
  * (nation/region/part-slices/supplier) broadcast, only fact tables
  * shuffle, and they shuffle at most once per aggregation key change.
  * Global scalars (Q11's average part value, Q15's max revenue) ride a
  * broadcast single-row crossJoin, never a re-scan per row.
  */
object TpchBulkQueries {

  // integer-cents projections (see TpchQueries for the unit algebra)
  private def qtyC: Column =
    (col("l_quantity").cast(DecimalType(18, 2)) * 100).cast("long")
  private def priceC: Column =
    (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long")
  private def discP: Column =
    (col("l_discount").cast(DecimalType(4, 2)) * 100).cast("long")
  /** revenue in 10⁻⁴ dollars: cents × (100 − percent). */
  private def rev4: Column = col("price_c") * (lit(100L) - col("disc_p"))

  private val sqlQtyC   = "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"
  private val sqlPriceC = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
  private val sqlDiscP  = "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"

  /** li projection shared by the money queries. */
  private def li(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_shipdate"), col("l_quantity"),
      col("l_returnflag"), qtyC.as("qty_c"), priceC.as("price_c"),
      discP.as("disc_p"))

  private val sqlLi =
    "SELECT l_orderkey, l_partkey, l_suppkey, l_shipdate, l_quantity, " +
      s"l_returnflag, $sqlQtyC AS qty_c, $sqlPriceC AS price_c, " +
      s"$sqlDiscP AS disc_p FROM lineitem"

  // ── TPC-H Q7: volume shipping between trade blocs ──────────────────────
  // Cross-bloc revenue by (supplier bloc, customer bloc, ship year): the
  // canonical two-dimension-chain query. Both nation lookups broadcast
  // (25 rows); the only shuffles are the two fact joins (orderkey, then
  // custkey) and the 4-group aggregate. BLOC_A = even n_nationkey — a
  // partition of nations that exists at every scale factor, unlike any
  // hard-coded nation pair.
  def qTpchQ7(s: SparkSession, d: String): DataFrame = {
    val bloc = (nk: Column) =>
      when(nk % 2 === 0, "BLOC_A").otherwise("BLOC_B")
    val n = Tables.nation(s, d).select(col("n_nationkey"),
      bloc(col("n_nationkey")).as("bloc"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("bloc").as("supp_bloc"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("bloc").as("cust_bloc"))
    val fact = li(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        rev4.as("rev"))
    fact
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_bloc") =!= col("cust_bloc"))
      .groupBy(col("supp_bloc"), col("cust_bloc"), col("l_year"))
      .agg(sum(col("rev").cast(DecimalType(38, 0))).as("rev_sum"),
        count(lit(1)).as("n_items"))
      .select(col("supp_bloc"), col("cust_bloc"), col("l_year"),
        round(col("rev_sum").cast("double") / 1e4, 6).as("revenue_r"),
        col("n_items"))
  }

  val qTpchQ7Sql: String =
    s"WITH li AS ($sqlLi), " +
      "n AS (SELECT n_nationkey, CASE WHEN n_nationkey % 2 = 0 " +
      "THEN 'BLOC_A' ELSE 'BLOC_B' END AS bloc FROM nation) " +
      "SELECT sn.bloc AS supp_bloc, cn.bloc AS cust_bloc, " +
      "CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year, " +
      "round(CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS DOUBLE) / 1e4, 6) AS revenue_r, " +
      "CAST(count(*) AS BIGINT) AS n_items " +
      "FROM li JOIN orders ON o_orderkey = l_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN supplier ON s_suppkey = l_suppkey " +
      "JOIN n sn ON s_nationkey = sn.n_nationkey " +
      "JOIN n cn ON c_nationkey = cn.n_nationkey " +
      "WHERE sn.bloc <> cn.bloc " +
      "AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01' " +
      "AND CAST(l_shipdate AS DATE) < DATE '1998-01-01' " +
      "GROUP BY 1, 2, 3"

  // ── TPC-H Q8: national market share ────────────────────────────────────
  // NATION_9's share of widget revenue sold to ASIA customers, by order
  // year. The share is a conditional aggregation over ONE pass (no
  // second scan for the denominator); cents keep both sums exact, the
  // ratio is the only double. Part and region-nation slices broadcast.
  def qTpchQ8(s: SparkSession, d: String): DataFrame = {
    val widgets = Tables.part(s, d)
      .filter(col("p_name").like("%widget%")).select(col("p_partkey"))
    val asiaCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-01-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    li(s, d).select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        rev4.as("rev"))
      .join(broadcast(widgets), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_9", col("rev")).otherwise(0L)
          .cast(DecimalType(38, 0))).as("nation_rev"),
        sum(col("rev").cast(DecimalType(38, 0))).as("total_rev"))
      .select(col("o_year"),
        round(col("nation_rev").cast("double") /
          col("total_rev").cast("double"), 6).as("mkt_share_r"))
  }

  val qTpchQ8Sql: String =
    s"WITH li AS ($sqlLi), " +
      "an AS (SELECT n_nationkey FROM nation JOIN region " +
      "ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
      "sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier " +
      "JOIN nation ON s_nationkey = n_nationkey) " +
      "SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year, " +
      "round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_9' " +
      "THEN price_c * (100 - disc_p) ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) " +
      "/ CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS DOUBLE), 6) " +
      "AS mkt_share_r " +
      "FROM li JOIN part ON l_partkey = p_partkey " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN an ON c_nationkey = an.n_nationkey " +
      "JOIN sn ON l_suppkey = sn.s_suppkey " +
      "WHERE p_name LIKE '%widget%' " +
      "AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01' " +
      "AND CAST(o_orderdate AS DATE) < DATE '1998-01-01' " +
      "GROUP BY 1"

  // ── TPC-H Q9: product-type profit ──────────────────────────────────────
  // Profit on 'red %' parts by (supplier nation, order year), where
  // profit = revenue − retailprice·quantity (the fixtures' stand-in for
  // ps_supplycost). Both sides of the subtraction live in 10⁻⁴ dollars as
  // exact integers: price_c·(100−disc_p) and retail_c·qty_c/100 — the
  // latter kept as retail_c·qty_c over a /100-scaled report divisor
  // would reintroduce a fraction, so qty stays in hundredths and the
  // subtraction is scaled once at report time.
  def qTpchQ9(s: SparkSession, d: String): DataFrame = {
    val redParts = Tables.part(s, d).filter(col("p_name").like("red %"))
      .select(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("retail_c"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    // amount in 10⁻⁶ dollars: price_c·(100−disc_p)·100 − retail_c·qty_c
    // (qty_c carries a factor 100, so the revenue term is scaled to match)
    val amount = (rev4 * 100 - col("retail_c") * col("qty_c"))
      .cast(DecimalType(38, 0))
    li(s, d)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(amount).as("amount"), count(lit(1)).as("n_items"))
      .select(col("n_name"), col("o_year"),
        round(col("amount").cast("double") / 1e6, 6).as("profit_r"),
        col("n_items"))
  }

  val qTpchQ9Sql: String =
    s"WITH li AS ($sqlLi), " +
      "rp AS (SELECT p_partkey, CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
      "AS retail_c FROM part WHERE p_name LIKE 'red %'), " +
      "sn AS (SELECT s_suppkey, n_name FROM supplier " +
      "JOIN nation ON s_nationkey = n_nationkey) " +
      "SELECT n_name, CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year, " +
      "round(CAST(sum(CAST(price_c * (100 - disc_p) * 100 - retail_c * qty_c " +
      "AS DECIMAL(38,0))) AS DOUBLE) / 1e6, 6) AS profit_r, " +
      "CAST(count(*) AS BIGINT) AS n_items " +
      "FROM li JOIN rp ON l_partkey = rp.p_partkey " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN sn ON l_suppkey = sn.s_suppkey " +
      "GROUP BY 1, 2"

  // ── TPC-H Q10: returned-item reporting ─────────────────────────────────
  // Top-20 customers by revenue lost to returns in 1997Q1. The heavy
  // aggregation keys on custkey; customer + nation dimensions join AFTER
  // the rollup (20M customers at scale, but the rollup output is what
  // joins, not the fact); top-20 is TakeOrdered with full tie-break.
  def qTpchQ10(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-04-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    val custRev = li(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev4.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev").cast(DecimalType(38, 0))).as("rev_sum"))
    custRev
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        round(col("rev_sum").cast("double") / 1e4, 6).as("revenue_r"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue_r").desc, col("c_custkey").asc)
      .limit(20)
  }

  val qTpchQ10Sql: String =
    s"WITH li AS ($sqlLi), " +
      "cr AS (SELECT o_custkey, sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS rev_sum " +
      "FROM li JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE l_returnflag = 'R' " +
      "AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01' " +
      "AND CAST(o_orderdate AS DATE) < DATE '1997-04-01' GROUP BY 1) " +
      "SELECT c_custkey, c_name, " +
      "round(CAST(rev_sum AS DOUBLE) / 1e4, 6) AS revenue_r, " +
      "c_acctbal, n_name " +
      "FROM cr JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "ORDER BY revenue_r DESC, c_custkey ASC LIMIT 20"

  // ── TPC-H Q11: important stock identification ──────────────────────────
  // Parts whose total line value exceeds 1.25× the average part's — the
  // original's fixed-fraction threshold is scale-dependent (every part
  // clears it at small sf), so the adapted gate is relative to the mean,
  // which discriminates at any corpus size (22 / 240 / 2353 parts at
  // sf 0.001 / 0.01 / 0.1). The global (count, total) pair is ONE
  // single-row aggregate broadcast back over the per-part rollup; the
  // comparison is cross-multiplied exact: val·n·4 > total·5.
  def qTpchQ11(s: SparkSession, d: String): DataFrame = {
    val v = li(s, d).groupBy(col("l_partkey"))
      .agg(sum(col("price_c")).as("val_c"))
    val stats = v.agg(count(lit(1)).as("n_parts"),
      sum(col("val_c").cast(DecimalType(38, 0))).as("total_c"))
    v.crossJoin(broadcast(stats))
      .filter(col("val_c").cast(DecimalType(38, 0)) * col("n_parts") * 4 >
        col("total_c") * 5)
      .select(col("l_partkey"),
        round(col("val_c").cast("double") / 100.0, 2).as("value_r"))
      .orderBy(col("value_r").desc, col("l_partkey").asc)
  }

  val qTpchQ11Sql: String =
    s"WITH li AS ($sqlLi), " +
      "v AS (SELECT l_partkey, CAST(sum(price_c) AS BIGINT) AS val_c " +
      "FROM li GROUP BY 1) " +
      "SELECT l_partkey, round(CAST(val_c AS DOUBLE) / 100.0, 2) AS value_r " +
      "FROM v WHERE CAST(val_c AS DECIMAL(38,0)) * (SELECT CAST(count(*) AS BIGINT) FROM v) * 4 " +
      "> (SELECT sum(CAST(val_c AS DECIMAL(38,0))) FROM v) * 5 " +
      "ORDER BY value_r DESC, l_partkey ASC"

  // ── TPC-H Q12: shipping-lag classes vs order priority ──────────────────
  // The original buckets by ship mode; the fixtures have none, so the
  // buckets are ship-lag bands (OK ≤30 < SLOW ≤90 < LATE) — same
  // conditional-aggregation shape: per bucket, how many critical
  // (1-URGENT/2-HIGH) vs non-critical orders. One fact join, one
  // 3-group aggregate; the CASE runs inside codegen.
  def qTpchQ12(s: SparkSession, d: String): DataFrame = {
    val lag = datediff(col("l_shipdate").cast("date"),
      col("o_orderdate").cast("date"))
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(
        when(lag > 90, "LATE").when(lag > 30, "SLOW").otherwise("OK")
          .as("lag_class"),
        critical.as("crit"))
      .groupBy(col("lag_class"))
      .agg(sum(when(col("crit"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("crit"), 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("lag_class"))
  }

  val qTpchQ12Sql: String =
    "SELECT CASE WHEN lag > 90 THEN 'LATE' WHEN lag > 30 THEN 'SLOW' " +
      "ELSE 'OK' END AS lag_class, " +
      "CAST(sum(CASE WHEN crit THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
      "CAST(sum(CASE WHEN crit THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
      "FROM (SELECT CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS INT) AS lag, " +
      "o_orderpriority IN ('1-URGENT', '2-HIGH') AS crit " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01' " +
      "AND CAST(l_shipdate AS DATE) < DATE '1998-01-01') " +
      "GROUP BY 1 ORDER BY 1"

  // ── TPC-H Q13: customer order-count distribution ───────────────────────
  // Two chained aggregations: orders-per-customer (LEFT join so silent
  // customers count as 0 — the original's whole point), then customers-
  // per-order-count. The priority filter stands in for the comment
  // regex. First aggregate keys on custkey; the second is tiny (≤ max
  // order count groups) and re-shuffles only the rollup.
  def qTpchQ13(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val qTpchQ13Sql: String =
    "WITH co AS (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count " +
      "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
      "AND o_orderpriority <> '5-LOW' GROUP BY 1) " +
      "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist " +
      "FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC"

  // ── TPC-H Q14: promotion effect ────────────────────────────────────────
  // Share of March-1997 revenue from PROMO parts: one scan month (both
  // date predicates reach the parquet scan), parts broadcast, numerator
  // and denominator in the same pass as a conditional aggregate.
  def qTpchQ14(s: SparkSession, d: String): DataFrame = {
    val promoParts = Tables.part(s, d)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    li(s, d)
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("date") &&
        col("l_shipdate") < lit("1997-04-01").cast("date"))
      .select(col("l_partkey"), rev4.as("rev"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo"), col("rev")).otherwise(0L)
          .cast(DecimalType(38, 0))).as("promo_rev"),
        sum(col("rev").cast(DecimalType(38, 0))).as("total_rev"))
      .select(round(col("promo_rev").cast("double") * 100.0 /
        col("total_rev").cast("double"), 6).as("promo_share_r"))
  }

  val qTpchQ14Sql: String =
    s"WITH li AS ($sqlLi) " +
      "SELECT round(CAST(sum(CAST(CASE WHEN p_type = 'PROMO' " +
      "THEN price_c * (100 - disc_p) ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) * 100.0 " +
      "/ CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS DOUBLE), 6) " +
      "AS promo_share_r " +
      "FROM li JOIN part ON l_partkey = p_partkey " +
      "WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01' " +
      "AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'"

  // ── TPC-H Q15: top supplier ────────────────────────────────────────────
  // Supplier(s) achieving the maximum 1997Q1 revenue — the original's
  // revenue view + scalar max. The max is a single-row aggregate over
  // the per-supplier rollup, broadcast back for an EXACT decimal
  // equality (doubles would make "equals the max" flap); ties all
  // surface, deterministically ordered.
  def qTpchQ15(s: SparkSession, d: String): DataFrame = {
    val revs = li(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-04-01").cast("date"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev4.cast(DecimalType(38, 0))).as("total_rev"))
    val top = revs.agg(max(col("total_rev")).as("max_rev"))
    revs.crossJoin(broadcast(top))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev").cast("double") / 1e4, 6).as("total_revenue_r"))
      .orderBy(col("s_suppkey"))
  }

  val qTpchQ15Sql: String =
    s"WITH li AS ($sqlLi), " +
      "r AS (SELECT l_suppkey, sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS total_rev " +
      "FROM li WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01' " +
      "AND CAST(l_shipdate AS DATE) < DATE '1997-04-01' GROUP BY 1) " +
      "SELECT s_suppkey, s_name, " +
      "round(CAST(total_rev AS DOUBLE) / 1e4, 6) AS total_revenue_r " +
      "FROM r JOIN supplier ON l_suppkey = s_suppkey " +
      "WHERE total_rev = (SELECT max(total_rev) FROM r) " +
      "ORDER BY s_suppkey"

  // ── TPC-H Q16: parts/supplier relationship ─────────────────────────────
  // Distinct suppliers per (brand, type, size) slice, excluding one brand
  // and the negative-balance suppliers (the fixtures' stand-in for the
  // complaint-comment regex). Supplier exclusion is a broadcast anti
  // join BEFORE the distinct aggregation; the count-distinct is Spark's
  // two-phase partial distinct, keyed on the 3-column slice.
  def qTpchQ16(s: SparkSession, d: String): DataFrame = {
    val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)
    val parts = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(sizes.map(Integer.valueOf): _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val badSupp = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val qTpchQ16Sql: String =
    "SELECT p_brand, p_type, p_size, " +
      "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "WHERE p_brand <> 'Brand#1' " +
      "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) " +
      "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
      "GROUP BY 1, 2, 3 " +
      "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"

  // ── TPC-H Q19: disjunctive bracket predicates ──────────────────────────
  // Three OR'd (brand, size band, quantity band) brackets — the classic
  // test that a disjunction over join columns still plans as ONE hash
  // join with the OR as a post-join filter (and partial pushdown of the
  // shared l_quantity bounds), not three scans or a nested loop.
  def qTpchQ19(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bracket = (
      col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 15)) || (
      col("p_brand") === "Brand#2" && col("p_size").between(11, 25) &&
        col("l_quantity").between(10, 25)) || (
      col("p_brand") === "Brand#3" && col("p_size").between(26, 50) &&
        col("l_quantity").between(20, 35))
    li(s, d)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(sum(rev4.cast(DecimalType(38, 0))).as("rev"),
        count(lit(1)).as("n_items"))
      .select(round(col("rev").cast("double") / 1e4, 6).as("revenue_r"),
        col("n_items"))
  }

  val qTpchQ19Sql: String =
    s"WITH li AS ($sqlLi) " +
      "SELECT round(CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38,0))) AS DOUBLE) / 1e4, 6) " +
      "AS revenue_r, CAST(count(*) AS BIGINT) AS n_items " +
      "FROM li JOIN part ON l_partkey = p_partkey " +
      "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15) " +
      "OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 25) " +
      "OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 35)"

  val queries: Seq[(String, Query)] = Seq(
    "q_tpch_q7"  -> Query(qTpchQ7, qTpchQ7Sql),
    "q_tpch_q8"  -> Query(qTpchQ8, qTpchQ8Sql),
    "q_tpch_q9"  -> Query(qTpchQ9, qTpchQ9Sql),
    "q_tpch_q10" -> Query(qTpchQ10, qTpchQ10Sql),
    "q_tpch_q11" -> Query(qTpchQ11, qTpchQ11Sql),
    "q_tpch_q12" -> Query(qTpchQ12, qTpchQ12Sql),
    "q_tpch_q13" -> Query(qTpchQ13, qTpchQ13Sql),
    "q_tpch_q14" -> Query(qTpchQ14, qTpchQ14Sql),
    "q_tpch_q15" -> Query(qTpchQ15, qTpchQ15Sql),
    "q_tpch_q16" -> Query(qTpchQ16, qTpchQ16Sql),
    "q_tpch_q19" -> Query(qTpchQ19, qTpchQ19Sql),
  )
}
