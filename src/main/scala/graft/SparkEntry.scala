package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every query module's one table of (name → plan builder and
  * matching DuckDB oracle SQL). The driver runs `queries` via Verify at sf0.01 and
  * compares each result against `oracleSql` executed by DuckDB on the same
  * parquet tables (column names must match — every computed column is
  * aliased identically on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * AMPLab Q3 shape: filter → join → aggregate → top-1
    * (reference: hive/Query3.q:24-31). */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3JoinTop1(spark, "/root/testdata/sf0.001")

  /** Every query module, listed once; each owns one `name -> Query`
    * table (builder + oracle SQL). */
  private[graft] val modules: Seq[(String, Seq[(String, Query)])] = Seq(
    "Relational" -> Relational.queries, "MRQueries" -> MRQueries.queries,
    "TextQueries" -> TextQueries.queries, "DedupQueries" -> DedupQueries.queries,
    "SimilarityQueries" -> SimilarityQueries.queries,
    "EventQueries" -> EventQueries.queries, "MediaQueries" -> MediaQueries.queries,
    "PipelineQueries" -> PipelineQueries.queries, "KvQueries" -> KvQueries.queries,
    "StreamQueries" -> StreamQueries.queries, "SketchQueries" -> SketchQueries.queries,
    "GraphQueries" -> GraphQueries.queries, "TpchQueries" -> TpchQueries.queries,
    "TpchBulkQueries" -> TpchBulkQueries.queries,
    "LakehouseQueries" -> LakehouseQueries.queries)

  /** name → Query over the given modules. A name registered twice, within
    * one module or across two, is an error naming it and its modules —
    * never a silently shadowed entry. */
  private[graft] def registry(
      modules: Seq[(String, Seq[(String, Query)])]): Map[String, Query] = {
    val entries = for ((module, table) <- modules; (name, q) <- table)
      yield (name, module, q)
    val dups = entries.groupBy(_._1).collect {
      case (name, es) if es.size > 1 => s"$name (${es.map(_._2).mkString(", ")})"
    }
    require(dups.isEmpty,
      s"query registered more than once: ${dups.toSeq.sorted.mkString("; ")}")
    entries.map { case (name, _, q) => name -> q }.toMap
  }

  private val registered: Map[String, Query] = registry(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (name, q) => name -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    registered.map { case (name, q) => name -> q.oracle }

  /** `oracleSql` with the fixture-dependent registrations respelled for
    * the given data directory: SemDeDup's k auto-scales with the corpus
    * (semK), so its replay SQL must be generated at the same k. Equal to
    * `oracleSql` at every tier whose vector count keeps semK at its
    * demo value (all gate tiers through sf3). Verify writes THIS map. */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] =
    oracleSql ++ SimilarityQueries.fixtureOracles(spark, sfDir)

  /** Dev-only subset selector for Verify and Bench: a comma-separated list
    * of query names. Unset, both run every query. */
  val OnlyEnv = "SPARK_GRAFT_ONLY"

  /** The queries Verify and Bench run, in name order: all of them, or the
    * ones `SPARK_GRAFT_ONLY` names. A name that is not registered is an
    * error naming the variable, not a silently smaller run. */
  def selected(env: Map[String, String] = sys.env)
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = env.get(OnlyEnv).map(_.split(",", -1).map(_.trim).toSet)
      .getOrElse(queries.keySet)
    val unknown = names -- queries.keySet
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"$OnlyEnv names unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
    names.toSeq.sorted.map(n => n -> queries(n))
  }
}
