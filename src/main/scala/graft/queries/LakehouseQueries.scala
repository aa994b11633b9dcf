package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ZOrder

/** Lakehouse table-maintenance operators: multi-dimensional data layout
  * (Z-order clustering), batch MERGE/upsert, incremental aggregate
  * maintenance, and referential-integrity auditing. All beyond the
  * reference (whose only layout control is the sha256 hash partitioner,
  * `default/partition.py:4-12`), and all core to operating a 100 TB
  * curated table: layout decides how much a filter reads, MERGE is how a
  * snapshot absorbs a day of changes without rewriting history, partial
  * aggregates are how yesterday's totals absorb today's partition without
  * rescanning the year, and the FK audit is the gate that catches a bad
  * ingest before it poisons downstream joins.
  */
object LakehouseQueries {

  // ── Z-order layout ─────────────────────────────────────────────────────

  /** Morton-curve clustering report: lineitem keys are mapped onto a
    * 1024×1024 grid, z-ordered with the codegen [[ZOrder]] expression, and
    * rolled up into the 64 top-level curve buckets (top 3 bits of each
    * dimension). Each bucket's min/max span in BOTH dimensions is ≤ 1/8 of
    * the domain — the zone-map property that makes z-ordered parquet skip
    * row groups on either column's predicate. Sorting by `z` IS the
    * physical layout step at scale (`repartitionByRange(z).sortWithin…`);
    * the report is the audit a layout job emits to prove locality. */
  def qZorder(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.lineitem(s, d).select(
      pmod(col("l_partkey"), lit(1024)).as("x"),
      pmod(col("l_suppkey"), lit(1024)).as("y"))
    keys
      .withColumn("z", ZOrder.zorder(col("x"), col("y"), 10))
      .withColumn("bucket", shiftright(col("z"), 14))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
        min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
      .select(col("bucket"), col("n_rows"),
        col("x_lo"), col("x_hi"), col("y_lo"), col("y_hi"),
        (col("x_hi") - col("x_lo")).as("x_span"),
        (col("y_hi") - col("y_lo")).as("y_span"))
  }

  val qZorderSql: String = {
    val z = ZOrder.duckdbSql("x", "y", 10)
    "WITH k AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem), " +
      s"zb AS (SELECT x, y, $z AS z FROM k) " +
      "SELECT z >> 14 AS bucket, count(*) AS n_rows, " +
      "min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi, " +
      "max(x) - min(x) AS x_span, max(y) - min(y) AS y_span " +
      "FROM zb GROUP BY 1"
  }

  // ── Batch MERGE / upsert ───────────────────────────────────────────────

  /** MERGE INTO semantics over the customer dimension: the change set is
    * the per-customer order-revenue delta (exact integer cents), with a
    * deterministic slice of keys remapped to +1,000,000 to exercise the
    * NOT-MATCHED insert path. One full-outer join on the business key —
    * WHEN MATCHED → update (balance += delta), WHEN NOT MATCHED BY SOURCE
    * → keep, WHEN NOT MATCHED BY TARGET → insert. At 100 TB both sides
    * hash-shuffle on the key once; nothing is collected, and the change
    * set (key-aggregated) is orders of magnitude smaller than the fact
    * stream that produced it. */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val target = Tables.customer(s, d).select(col("c_custkey").as("custkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("bal_cents"))
    val source = Tables.orders(s, d)
      .select(
        when(pmod(col("o_custkey"), lit(3)) === 1, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("delta"))
      .groupBy(col("custkey")).agg(sum(col("delta")).as("delta_cents"))
    target.join(source, Seq("custkey"), "full_outer")
      .select(col("custkey"),
        when(col("bal_cents").isNotNull && col("delta_cents").isNotNull, "update")
          .when(col("bal_cents").isNotNull, "keep")
          .otherwise("insert").as("action"),
        (coalesce(col("bal_cents"), lit(0L)) +
          coalesce(col("delta_cents"), lit(0L))).as("new_bal_cents"))
  }

  val qMergeUpsertSql: String =
    "WITH t AS (SELECT c_custkey AS custkey, " +
      "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents FROM customer), " +
      "src AS (SELECT CASE WHEN o_custkey % 3 = 1 THEN o_custkey + 1000000 " +
      "ELSE o_custkey END AS custkey, " +
      "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) " +
      "AS delta_cents FROM orders GROUP BY 1) " +
      "SELECT custkey, CASE WHEN bal_cents IS NOT NULL AND delta_cents IS NOT NULL " +
      "THEN 'update' WHEN bal_cents IS NOT NULL THEN 'keep' ELSE 'insert' END AS action, " +
      "coalesce(bal_cents, 0) + coalesce(delta_cents, 0) AS new_bal_cents " +
      "FROM t FULL OUTER JOIN src USING (custkey)"

  // ── Incremental aggregate maintenance ──────────────────────────────────

  /** Mergeable partial-aggregate maintenance: per-(day, type) partials —
    * the granularity a daily job would persist — merged into per-type
    * totals. Hash-equality with the direct single-pass oracle proves the
    * partial state is lossless (sum-of-sums, count-of-counts, max-of-
    * maxes), which is the contract that lets a 100 TB pipeline absorb a
    * new day by scanning ONE day partition and re-merging |days|×|types|
    * tiny partial rows instead of the year of raw events. */
  def qIncrAgg(s: SparkSession, d: String): DataFrame = {
    val partials = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("cents")).as("p_sum"), count(lit(1)).as("p_n"),
        max(col("cents")).as("p_max"))
    partials.groupBy(col("event_type"))
      .agg(sum(col("p_sum")).as("total_cents"), sum(col("p_n")).as("n_events"),
        max(col("p_max")).as("max_cents"),
        count(lit(1)).as("n_day_partials"))
  }

  val qIncrAggSql: String =
    "WITH p AS (SELECT CAST(ts AS DATE) AS day, event_type, " +
      "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS p_sum, " +
      "count(*) AS p_n, " +
      "max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS p_max " +
      "FROM events GROUP BY 1, 2) " +
      "SELECT event_type, CAST(sum(p_sum) AS BIGINT) AS total_cents, " +
      "CAST(sum(p_n) AS BIGINT) AS n_events, max(p_max) AS max_cents, " +
      "count(*) AS n_day_partials FROM p GROUP BY 1"

  // ── Incremental JOIN-view maintenance (delta algebra) ──────────────────
  // The join sibling of qIncrAgg: keep an enriched view V = orders ⋈
  // customer current without re-joining the world. With batch deltas ΔO
  // and ΔC, the standard delta algebra is
  //   ΔV = (ΔO ⋈ C_old) ∪ (O_old ⋈ ΔC) ∪ (ΔO ⋈ ΔC),
  // and V_new = V_old ∪ ΔV — three joins whose LEFT sides are
  // delta-sized (two of them) instead of one full re-join. Deltas here
  // are deterministic key slices (every 10th order, every 20th
  // customer); the oracle computes the DIRECT full join, so hash
  // equality proves the three-way delta decomposition covers every row
  // exactly once (no dupes at the ΔO⋈ΔC corner, no omissions). The
  // registered result also counts the delta-contributed rows per
  // nation — the monitoring number an incremental pipeline reports.
  def qIncrJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val (oB, oD) = (o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0),
      o.filter(pmod(col("o_orderkey"), lit(10)) === 0))
    val (cB, cD) = (c.filter(pmod(col("c_custkey"), lit(20)) =!= 0),
      c.filter(pmod(col("c_custkey"), lit(20)) === 0))
    def j(a: DataFrame, b: DataFrame) =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("cents"))
    val vOld = j(oB, cB).withColumn("from_delta", lit(0L))
    val dV = j(oD, cB).unionAll(j(oB, cD)).unionAll(j(oD, cD))
      .withColumn("from_delta", lit(1L))
    vOld.unionAll(dV)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"),
        sum(col("from_delta")).as("n_from_delta"))
  }

  val qIncrJoinSql: String =
    "SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) " +
      "AS total_cents, " +
      "CAST(sum(CASE WHEN o_orderkey % 10 = 0 OR c_custkey % 20 = 0 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"

  // ── Partition-skew diagnostics (the pre-shuffle sizing report) ─────────
  // The report run before sizing any skew-sensitive job: per-key counts
  // of the join column, the hottest key's share, the top-10 keys' share,
  // AND the load distribution over the md5-hash buckets an actual
  // shuffle would produce (32 here) — max-bucket/mean-bucket is the
  // straggler factor AQE or salting has to absorb. One keyed count
  // shuffle; everything after is |keys|-row arithmetic with a 32-row
  // bucket rollup and a TakeOrdered top-10, never a global sort.
  private val SkewBuckets = 32

  def qSkewMetrics(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val top10 = counts.orderBy(col("cnt").desc, col("l_partkey").asc).limit(10)
      .agg(sum(col("cnt")).as("top10_rows"))
    val buckets = counts
      .groupBy((graft.functions.Md5Bits.hash60(
        concat(lit("skew:"), col("l_partkey"))) % SkewBuckets).as("bucket"))
      .agg(sum(col("cnt")).as("load"))
      .agg(max(col("load")).as("max_bucket_load"),
        count(lit(1)).as("n_buckets"))
    totals.crossJoin(broadcast(top10)).crossJoin(broadcast(buckets))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        round(col("max_cnt") * col("n_keys") / col("n_rows").cast("double"), 6)
          .as("key_skew_factor_r"),
        round(col("top10_rows").cast("double") / col("n_rows"), 6)
          .as("top10_share_r"),
        col("max_bucket_load"),
        round(col("max_bucket_load") * col("n_buckets") /
          col("n_rows").cast("double"), 6).as("bucket_skew_factor_r"))
  }

  val qSkewMetricsSql: String = {
    val h = graft.functions.Md5Bits.sqlHash60("'skew:' || CAST(l_partkey AS VARCHAR)")
    "WITH c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM lineitem GROUP BY 1), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, " +
      "CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt FROM c), " +
      "tp AS (SELECT CAST(sum(cnt) AS BIGINT) AS top10_rows FROM " +
      "(SELECT cnt FROM c ORDER BY cnt DESC, l_partkey ASC LIMIT 10)), " +
      s"b AS (SELECT $h % $SkewBuckets AS bucket, " +
      "CAST(sum(cnt) AS BIGINT) AS load FROM c GROUP BY 1), " +
      "bb AS (SELECT max(load) AS max_bucket_load, " +
      "CAST(count(*) AS BIGINT) AS n_buckets FROM b) " +
      "SELECT n_keys, n_rows, max_cnt, " +
      "round(CAST(max_cnt * n_keys AS DOUBLE) / n_rows, 6) AS key_skew_factor_r, " +
      "round(CAST(top10_rows AS DOUBLE) / n_rows, 6) AS top10_share_r, " +
      "max_bucket_load, " +
      "round(CAST(max_bucket_load * n_buckets AS DOUBLE) / n_rows, 6) " +
      "AS bucket_skew_factor_r " +
      "FROM t, tp, bb"
  }

  // ── Referential-integrity audit ────────────────────────────────────────

  /** FK audit across the star schema's spine: orphan facts (lineitem
    * without its order), orphan orders (no customer), orphan customers
    * (no nation), and childless orders (no lineitem) — the ingest gate
    * that runs before downstream joins silently drop rows. Anti-joins
    * shuffle each table once on its key (the dimension sides broadcast);
    * output is one row of counters. */
  def qRefIntegrity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val orphanLi = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v")).select(col("v").as("orphan_lineitems"))
    val orphanO = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v")).select(col("v").as("orphan_orders"))
    val orphanC = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left_anti")
      .agg(count(lit(1)).as("v")).select(col("v").as("orphan_customers"))
    val childless = o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v")).select(col("v").as("childless_orders"))
    orphanLi.crossJoin(orphanO).crossJoin(orphanC).crossJoin(childless)
  }

  val qRefIntegritySql: String =
    "SELECT " +
      "(SELECT count(*) FROM lineitem l WHERE NOT EXISTS " +
      "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems, " +
      "(SELECT count(*) FROM orders o WHERE NOT EXISTS " +
      "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orphan_orders, " +
      "(SELECT count(*) FROM customer c WHERE NOT EXISTS " +
      "(SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS orphan_customers, " +
      "(SELECT count(*) FROM orders o WHERE NOT EXISTS " +
      "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS childless_orders"

  // ── Attribute-change history build (event-grain SCD2 sibling) ──────────
  // The companion to Relational.qScd2 (which versions the customer
  // dimension per order): collapse a raw EVENT stream into versioned
  // attribute rows (valid_from / valid_to / version / is_current), one
  // row per VALUE CHANGE rather than per event — the consecutive-dedup
  // step qScd2 doesn't need (orders are already one version each) but a
  // high-frequency attribute feed does. Here: each user's event_type. Two windows, both partitioned by the
  // high-cardinality user key (never a global ordering): the first
  // drops runs of the unchanged value (lag), the second stitches the
  // surviving change points into intervals (lead + row_number). At
  // 100 TB this is one shuffle on the dimension key — the history table
  // is change-sized, not event-sized.
  def qAttrHistory(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val w2 = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(w2))
      .withColumn("version_no", row_number().over(w2).cast("long"))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("version_no"),
        col("valid_to").isNull.as("is_current"))
  }

  val qAttrHistorySql: String =
    "WITH c AS (SELECT user_id, ts, event_id, event_type, " +
      "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
      "FROM events), " +
      "ch AS (SELECT user_id, ts, event_id, event_type FROM c " +
      "WHERE prev IS NULL OR prev <> event_type) " +
      "SELECT user_id, event_type, ts AS valid_from, " +
      "lead(ts) OVER w AS valid_to, " +
      "CAST(row_number() OVER w AS BIGINT) AS version_no, " +
      "lead(ts) OVER w IS NULL AS is_current " +
      "FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"

  // ── Compaction planner (small-file bin packing) ────────────────────────
  // The maintenance job behind every OPTIMIZE/compact command: given a
  // file manifest (simulated here as lineitem's (ship-month, returnflag,
  // linestatus) fragments with a bytes estimate), pack files into
  // target-sized output bins. The packing rule is Spark's own split
  // packing (linear scan in manifest order, bin = prefix-bytes div
  // target) — deterministic, one-pass, and ORDER-PRESERVING, so each
  // bin's files are contiguous in partition order and the rewrite keeps
  // clustering. The manifest is file-COUNT-sized (thousands of rows for
  // petabytes of data), so the single ordered window here is the
  // documented bounded-frame discipline — the plan that never touches
  // the data files themselves.
  private val CompactTargetBytes = 1L << 20

  def qCompactionPlan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val manifest = Tables.lineitem(s, d)
      .groupBy(date_trunc("month", col("l_shipdate")).as("part_month"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg((count(lit(1)) * 100L).as("bytes"))
    val w = W.orderBy(col("part_month"), col("rf"), col("ls"))
      .rowsBetween(W.unboundedPreceding, -1)
    manifest
      .withColumn("prefix", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prefix") / CompactTargetBytes).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        min(col("part_month")).as("first_month"),
        max(col("part_month")).as("last_month"))
  }

  val qCompactionPlanSql: String =
    "WITH m AS (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS part_month, " +
      "l_returnflag AS rf, l_linestatus AS ls, " +
      "CAST(count(*) * 100 AS BIGINT) AS bytes FROM lineitem GROUP BY 1, 2, 3), " +
      "p AS (SELECT part_month, rf, ls, bytes, " +
      "coalesce(CAST(sum(bytes) OVER (ORDER BY part_month, rf, ls " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prefix " +
      "FROM m) " +
      s"SELECT CAST(prefix // $CompactTargetBytes AS BIGINT) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes, " +
      "CAST(min(part_month) AS TIMESTAMP) AS first_month, " +
      "CAST(max(part_month) AS TIMESTAMP) AS last_month " +
      "FROM p GROUP BY 1"

  // ── Zone-map pruning estimator (data-skipping audit) ───────────────────
  // "How much would these predicates skip?" — the question asked before
  // paying for a Z-order rewrite. Zone maps (per-fragment min/max of the
  // filter columns, the stats parquet footers keep) come from one
  // manifest-grain aggregation; each candidate predicate then scores
  // n_files_skipped / rows_skipped in one pass over the manifest via
  // conditional counters (a fragment is skippable iff its [min,max]
  // cannot intersect the predicate), unpivoted to a row per predicate.
  // Fragments = the compaction manifest's (month, rf, ls) — aligned
  // fragments make the two maintenance reports directly comparable.
  def qZonePruning(s: SparkSession, d: String): DataFrame = {
    val zones = Tables.lineitem(s, d)
      .groupBy(date_trunc("month", col("l_shipdate")).as("part_month"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("qty_min"), max(col("l_quantity")).as("qty_max"),
        min(col("l_extendedprice")).as("pr_min"),
        max(col("l_extendedprice")).as("pr_max"))
    // (name, skippable-when) — min/max cannot satisfy the predicate
    val preds: Seq[(String, Column)] = Seq(
      ("qty_gt_45", col("qty_max") <= 45.0),
      ("qty_le_5", col("qty_min") > 5.0),
      ("price_lt_2000", col("pr_min") >= 2000.0),
      ("price_ge_100000", col("pr_max") < 100000.0),
      ("qty_20_to_25", col("qty_max") < 20.0 || col("qty_min") > 25.0))
    val aggs = preds.zipWithIndex.flatMap { case ((_, skip), i) =>
      Seq(sum(when(skip, 1L).otherwise(0L)).as(s"f_$i"),
        sum(when(skip, col("n_rows")).otherwise(0L)).as(s"r_$i"))
    } ++ Seq(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows_tot"))
    zones.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(preds.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("predicate"), col("n_files"),
          col(s"f_$i").as("files_skipped"), col("n_rows_tot"),
          col(s"r_$i").as("rows_skipped"))
      }: _*)).as("p"))
      .select(col("p.predicate"), col("p.n_files"), col("p.files_skipped"),
        col("p.n_rows_tot"), col("p.rows_skipped"),
        round(col("p.files_skipped").cast("double") / col("p.n_files"), 6)
          .as("file_skip_ratio_r"))
  }

  val qZonePruningSql: String = {
    val preds = Seq(
      ("qty_gt_45", "qty_max <= 45.0"),
      ("qty_le_5", "qty_min > 5.0"),
      ("price_lt_2000", "pr_min >= 2000.0"),
      ("price_ge_100000", "pr_max < 100000.0"),
      ("qty_20_to_25", "qty_max < 20.0 OR qty_min > 25.0"))
    "WITH z AS (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS part_month, " +
      "l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows, " +
      "min(l_quantity) AS qty_min, max(l_quantity) AS qty_max, " +
      "min(l_extendedprice) AS pr_min, max(l_extendedprice) AS pr_max " +
      "FROM lineitem GROUP BY 1, 2, 3), " +
      "c AS (SELECT CAST(count(*) AS BIGINT) AS n_files, " +
      "CAST(sum(n_rows) AS BIGINT) AS n_rows_tot, " +
      preds.zipWithIndex.map { case ((_, cond), i) =>
        s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS f_$i, " +
          s"CAST(sum(CASE WHEN $cond THEN n_rows ELSE 0 END) AS BIGINT) AS r_$i"
      }.mkString(", ") + " FROM z) " +
      preds.zipWithIndex.map { case ((name, _), i) =>
        s"SELECT '$name' AS predicate, n_files, f_$i AS files_skipped, " +
          s"n_rows_tot, r_$i AS rows_skipped, " +
          s"round(CAST(f_$i AS DOUBLE) / n_files, 6) AS file_skip_ratio_r FROM c"
      }.mkString(" UNION ALL ")
  }

  // ── Registration ───────────────────────────────────────────────────────

  val queries: Seq[(String, Query)] = Seq(
    "q_zorder"          -> Query(qZorder, qZorderSql),
    "q_merge_upsert"    -> Query(qMergeUpsert, qMergeUpsertSql),
    "q_incr_agg"        -> Query(qIncrAgg, qIncrAggSql),
    "q_ref_integrity"   -> Query(qRefIntegrity, qRefIntegritySql),
    "q_attr_history"    -> Query(qAttrHistory, qAttrHistorySql),
    "q_compaction_plan" -> Query(qCompactionPlan, qCompactionPlanSql),
    "q_zone_pruning"    -> Query(qZonePruning, qZonePruningSql),
    "q_incr_join"       -> Query(qIncrJoin, qIncrJoinSql),
    "q_skew_metrics"    -> Query(qSkewMetrics, qSkewMetricsSql),
  )
}
