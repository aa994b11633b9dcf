package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.kv.KvStore

/** Queries routed through the `graft-kv` DataSource V2 connector
  * (SURVEY.md §2A A14) — proving the KV read path end-to-end: the planner
  * pushes projection into the provider and the scan parallelizes over key
  * segments, exactly how the reference reads its DynamoDB input table
  * (`data_sources/input_handler_dynamodb.py:135-213`).
  */
object KvQueries {

  /** Load the `nation` dim into the KV store once. 25 rows — the
    * dim-table regime the reference actually keeps in DynamoDB; the
    * driver-side collect is the one-time fixture load, not a query-path
    * collect. */
  private def ensureNation(s: SparkSession, d: String): Unit = synchronized {
    if (!KvStore.exists("kv_nation")) {
      val df = Tables.nation(s, d)
      KvStore.register("kv_nation", "n_nationkey", df.schema)
      KvStore.put("kv_nation", df.collect().map(_.toSeq).toSeq)
    }
  }

  /** Grouped rollup read THROUGH the connector with a 2-column projection
    * (the provider materializes only those attributes — PlanSpec/
    * KvSourceSpec assert the pushdown). */
  def qKvScan(s: SparkSession, d: String): DataFrame = {
    ensureNation(s, d)
    s.read.format("graft-kv").option("table", "kv_nation").load()
      .select(col("n_regionkey"), col("n_name"))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
  }

  // oracle reads the same rows from the nation parquet directly
  val qKvScanSql: String =
    "SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS max_name " +
      "FROM nation GROUP BY 1"

  /** Index nested-loop enrichment through KvLookupJoinStrategy: the
    * supplier fact probes the KV nation dim ON ITS KEY, so the injected
    * planner strategy replaces the scan+join with per-row point lookups
    * (PlanSpec pins `KvLookupJoin` / no `BatchScan` in this plan). The
    * oracle is the plain parquet join — the lookup path must be
    * result-identical to the relational spelling. */
  def qKvLookupJoin(s: SparkSession, d: String): DataFrame = {
    ensureNation(s, d)
    val probe = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
    val dim = s.read.format("graft-kv").option("table", "kv_nation").load()
    probe.join(dim, probe("s_nationkey") === dim("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_supp"),
        Relational.dsum(col("s_acctbal")).as("sum_bal"))
  }

  val qKvLookupJoinSql: String =
    "SELECT n_name, count(*) AS n_supp, " +
      s"${Relational.sqlDsum("s_acctbal")} AS sum_bal " +
      "FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1"

  /** Write path end-to-end: aggregate supplier per nation, WRITE the
    * result through the DSv2 sink (`mode("overwrite")` → truncate +
    * last-write-wins puts at commit — the reference's output-to-DynamoDB
    * shape, `output_handler_dynamodb.py:62-112`), then READ it back
    * through the connector. The oracle recomputes the aggregate from
    * parquet, so a bug anywhere in writer buffering, commit, store
    * round-tripping, or the read path breaks the hash. */
  def qKvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.supplier(s, d)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("s_suppkey")).cast("bigint").as("sum_suppkey"))
    KvStore.register("kv_supp_agg", "s_nationkey", agg.schema) // idempotent
    agg.write.format("graft-kv").option("table", "kv_supp_agg")
      .mode("overwrite").save()
    s.read.format("graft-kv").option("table", "kv_supp_agg").load()
  }

  val qKvRoundtripSql: String =
    "SELECT s_nationkey, count(*) AS n_supp, " +
      "CAST(sum(s_suppkey) AS BIGINT) AS sum_suppkey FROM supplier GROUP BY 1"

  // ── CSV sink → source round-trip (A13/A15 as a correctness row) ────────
  // The text-format analog of q_kv_roundtrip: write a typed frame through
  // the CSV sink, read it back with a declared schema, aggregate — the
  // oracle aggregates the original parquet, so any type lost or mangled
  // in the text round-trip (long/string/double here) breaks the hash.
  // Doubles survive because Spark writes the shortest-round-trip decimal
  // form, and the aggregate goes through decimal(18,2) anyway.
  /** One reusable sink dir per (query, dataset) per JVM — every sink here
    * writes mode("overwrite"), so repeated bench/verify runs replace the
    * same directory instead of leaking a full table copy per invocation. */
  private val rtDirs = new java.util.concurrent.ConcurrentHashMap[String, String]
  // round-trip sinks are scratch: delete at JVM exit so repeated
  // Verify/Bench runs don't accumulate multi-MB /tmp litter (observed:
  // 27 leaked dirs × 78 MB after a round of sf1 sweeps). ONE hook for
  // all entries (not one thread per dir), and the walk stream is closed
  // via try/finally — an unclosed Files.walk leaks a directory handle
  // for every dir swept during JVM shutdown.
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      rtDirs.values.forEach { dir =>
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
          finally walk.close()
        }
      }
    }))
  private def rtDir(tag: String, d: String): String =
    rtDirs.computeIfAbsent(s"$tag|$d", _ => {
      cleanupHook
      java.nio.file.Files.createTempDirectory(s"graft_${tag}_rt").toString
    })

  /** Plain-text sink → source round-trip — the A13 text-object path
    * under the gate (reference S3 line-oriented reads,
    * `input_handler_s3.py:66-70`): one newline-free line per document
    * (its md5 fingerprint), written with the text sink, read back with
    * the line source, re-aggregated. The oracle recomputes the digest
    * histogram from the parquet table, so loss, duplication, or
    * corruption anywhere in the text path breaks the hash. */
  def qTextRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = rtDir("text", d)
    Tables.documents(s, d).select(md5(col("text")).as("value"))
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .groupBy(col("value").as("fp"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val qTextRoundtripSql: String =
    "SELECT md5(text) AS fp, count(*) AS n_docs FROM documents GROUP BY 1"

  def qCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = rtDir("csv", d)
    val supp = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    graft.sources.Sources.writeCsv(supp, out)
    graft.sources.Sources.readCsv(s, out, supp.schema,
        Map("header" -> "true"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"),
        Relational.dsum(col("s_acctbal")).as("sum_bal"))
  }

  val qCsvRoundtripSql: String =
    "SELECT s_nationkey, count(*) AS n_supp, " +
      s"${Relational.sqlDsum("s_acctbal")} AS sum_bal FROM supplier GROUP BY 1"

  // ── JSON-lines sink → source round-trip ────────────────────────────────
  // Timestamps ride as integer epoch-micros: the JSON text format's
  // default timestamp rendering is millisecond-lossy, and an engine that
  // silently drops microseconds would corrupt event-time semantics — the
  // integer spelling makes the round-trip exact and the loss impossible.
  def qJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = rtDir("json", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    graft.sources.Sources.writeJsonLines(ev, out)
    graft.sources.Sources.readJsonLines(s, out, ev.schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("sum_value"),
        max(col("ts_us")).as("last_ts_us"))
  }

  val qJsonRoundtripSql: String =
    "SELECT event_type, count(*) AS n_events, " +
      s"${Relational.sqlDsum("value")} AS sum_value, " +
      "max(epoch_us(ts)) AS last_ts_us FROM events GROUP BY 1"

  // ── ORC sink → source round-trip ───────────────────────────────────────
  // The columnar alternative to parquet, supported natively by Spark —
  // warehouses migrating from Hive arrive with ORC layouts, so the
  // engine proves it reads/writes them losslessly (typed columns,
  // predicate-capable stripes) with the same aggregate oracle as the
  // other format round-trips.
  def qOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = rtDir("orc", d)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
    li.write.mode("overwrite").orc(out)
    s.read.schema(li.schema).orc(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Relational.dsum(col("l_quantity")).as("sum_qty"),
        Relational.dsum(col("l_extendedprice")).as("sum_price"))
  }

  val qOrcRoundtripSql: String =
    "SELECT l_returnflag, count(*) AS n_items, " +
      s"${Relational.sqlDsum("l_quantity")} AS sum_qty, " +
      s"${Relational.sqlDsum("l_extendedprice")} AS sum_price " +
      "FROM lineitem GROUP BY 1"

  // ── Small-file compaction (the streaming-ingest hygiene pass) ──────────
  // Continuous ingest leaves thousands of KB-scale files; at 100 TB the
  // resulting task storm and NameNode/listing pressure dominate scan cost,
  // so periodic compaction into scan-sized files is a first-class
  // maintenance operator. Here: deliberately fragment a table into 64
  // splinter files, compact with coalesce(4) — a NARROW rewrite, no
  // shuffle: each output task concatenates 16 inputs; at scale the target
  // count comes from bytes/maxPartitionBytes — then prove from the
  // COMPACTED layout that (a) the file count actually dropped to the
  // target and (b) content survived bit-exactly (row-hash XOR checksum
  // recomputed by the oracle from the source table).
  private val CompactFrom = 64
  private val CompactTo = 4

  def qCompact(s: SparkSession, d: String): DataFrame = {
    val small = rtDir("compact_small", d)
    val packed = rtDir("compact_packed", d)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"))
    li.repartition(CompactFrom).write.mode("overwrite").parquet(small)
    s.read.parquet(small).coalesce(CompactTo)
      .write.mode("overwrite").parquet(packed)
    def nParts(dir: String): Long =
      new java.io.File(dir).listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .toLong
    val rowStr = concat_ws("|", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_quantity").cast(
        org.apache.spark.sql.types.DecimalType(18, 2)))
    s.read.parquet(packed)
      .select(graft.functions.Md5Bits.hash60(rowStr).as("h"))
      .agg(expr("bit_xor(h)").as("checksum"), count(lit(1)).as("n_rows"))
      .select(lit(nParts(small)).as("n_files_small"),
        lit(nParts(packed)).as("n_files_packed"),
        col("n_rows"), col("checksum"))
  }

  val qCompactSql: String = {
    val rowStr = "concat_ws('|', l_orderkey, l_linenumber, l_partkey, " +
      "CAST(l_quantity AS DECIMAL(18,2)))"
    val h = graft.functions.Md5Bits.sqlHash60(rowStr)
    s"SELECT CAST($CompactFrom AS BIGINT) AS n_files_small, " +
      s"CAST($CompactTo AS BIGINT) AS n_files_packed, " +
      "count(*) AS n_rows, bit_xor(h) AS checksum " +
      s"FROM (SELECT $h AS h FROM lineitem) t"
  }

  // ── Parquet schema evolution (mergeSchema read over mixed layouts) ─────
  // Long-lived tables gain columns; the files written before the change
  // never get rewritten. Write the same table in two generations — v1
  // (key, custkey) for even order keys, v2 adding o_totalprice for odd —
  // into one directory, then read with mergeSchema: the unified schema
  // must surface the new column and null-fill the legacy files. The
  // oracle recomputes the aggregate from the source table with the same
  // even/odd rule, so a dropped column, a wrong null-fill, or a file
  // lost in the merge breaks the hash. At scale this is the no-rewrite
  // evolution path: only footers are read to merge schemas.
  def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val out = rtDir("evolve", d)
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite").parquet(s"$out/gen=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/gen=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_with_price"),
        sum(col("o_custkey")).cast("bigint").as("sum_cust"),
        Relational.dsum(col("o_totalprice")).as("sum_price"))
  }

  val qSchemaEvolutionSql: String =
    "SELECT count(*) AS n_rows, " +
      "CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_price, " +
      "CAST(sum(o_custkey) AS BIGINT) AS sum_cust, " +
      "CAST(sum(CASE WHEN o_orderkey % 2 = 1 " +
      "THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price " +
      "FROM orders"

  // ── Partitioned-parquet write → pruned read ────────────────────────────
  // The 100 TB table layout as a correctness row: write events
  // partitioned by event_type, read back filtering one partition — the
  // filter must resolve to directory-level PartitionFilters (PlanSpec
  // asserts it), so the engine lists and scans ONE partition's files no
  // matter how many the table has. The aggregate is checked against the
  // unpartitioned oracle, proving the layout round-trip loses nothing.
  def qPartitionPrune(s: SparkSession, d: String): DataFrame = {
    val out = rtDir("part", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    graft.sources.Sources.writeParquetPartitioned(ev, out, Seq("event_type"))
    s.read.parquet(out)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), Relational.dsum(col("value")).as("sum_value"))
  }

  val qPartitionPruneSql: String =
    "SELECT user_id, count(*) AS n, " +
      s"${Relational.sqlDsum("value")} AS sum_value FROM events " +
      "WHERE event_type = 'purchase' GROUP BY 1"

  /** Ungrouped COUNT/MIN/MAX pushed COMPLETELY into the connector
    * (SupportsPushDownAggregates): the scan returns one pre-aggregated
    * row — the table never leaves the provider (KvSourceSpec pins the
    * `aggPushed=` scan and the fallback for unsupported shapes). Oracle
    * recomputes the same aggregates from the nation parquet. */
  def qKvAggPushdown(s: SparkSession, d: String): DataFrame = {
    ensureNation(s, d)
    s.read.format("graft-kv").option("table", "kv_nation").load()
      .agg(count(lit(1)).as("n_rows"),
        min(col("n_nationkey")).as("min_key"),
        max(col("n_nationkey")).as("max_key"),
        max(col("n_name")).as("max_name"),
        count(col("n_regionkey")).as("n_regions"))
  }

  val qKvAggPushdownSql: String =
    "SELECT count(*) AS n_rows, CAST(min(n_nationkey) AS BIGINT) AS min_key, " +
      "CAST(max(n_nationkey) AS BIGINT) AS max_key, max(n_name) AS max_name, " +
      "count(n_regionkey) AS n_regions FROM nation"

  val queries: Seq[(String, Query)] = Seq(
    "q_kv_agg_pushdown"  -> Query(qKvAggPushdown, qKvAggPushdownSql),
    "q_partition_prune"  -> Query(qPartitionPrune, qPartitionPruneSql),
    "q_kv_scan"          -> Query(qKvScan, qKvScanSql),
    "q_kv_lookup_join"   -> Query(qKvLookupJoin, qKvLookupJoinSql),
    "q_kv_roundtrip"     -> Query(qKvRoundtrip, qKvRoundtripSql),
    "q_csv_roundtrip"    -> Query(qCsvRoundtrip, qCsvRoundtripSql),
    "q_text_roundtrip"   -> Query(qTextRoundtrip, qTextRoundtripSql),
    "q_json_roundtrip"   -> Query(qJsonRoundtrip, qJsonRoundtripSql),
    "q_orc_roundtrip"    -> Query(qOrcRoundtrip, qOrcRoundtripSql),
    "q_compact"          -> Query(qCompact, qCompactSql),
    "q_schema_evolution" -> Query(qSchemaEvolution, qSchemaEvolutionSql),
  )
}
