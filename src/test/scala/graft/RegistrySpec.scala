package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.queries.Query

/** One registration per query and per native function. Each query module
  * lists `name -> Query(builder, oracle)` once and SparkEntry derives
  * `queries` and `oracleSql` from its one module list, raising on a name
  * registered twice — so a shadowed query (the `++` landmine that bit
  * q_scd2 and q_zorder in rounds 8–9) or an oracle-free one cannot be
  * written. Every native function resolves from `GraftFunctions.all`
  * through the session extension alone.
  */
class RegistrySpec extends AnyFunSuite {

  private val q = Query((s, _) => s.range(1).toDF(), "SELECT 1")

  test("no query name is registered by two families (queries map)") {
    val names = SparkEntry.modules.flatMap(_._2.map(_._1))
    assert(SparkEntry.queries.size === names.size)
    val across = intercept[IllegalArgumentException](SparkEntry.registry(Seq(
      "A" -> Seq("q_x" -> q), "B" -> Seq("q_y" -> q, "q_x" -> q))))
    assert(across.getMessage.contains("q_x (A, B)"), across.getMessage)
    assert(!across.getMessage.contains("q_y"), across.getMessage)
  }

  test("a name registered twice within one module raises naming it") {
    val within = intercept[IllegalArgumentException](SparkEntry.registry(Seq(
      "A" -> Seq("q_x" -> q, "q_y" -> q, "q_x" -> q))))
    assert(within.getMessage.contains("q_x (A, A)"), within.getMessage)
    assert(!within.getMessage.contains("q_y"), within.getMessage)
    assert(SparkEntry.registry(Seq("A" -> Seq("q_x" -> q), "B" -> Seq("q_y" -> q)))
      .keySet === Set("q_x", "q_y"))
  }

  /** Queries DECLARED oracle-free. EMPTY since round 15, and since every
    * registration is a `Query(builder, oracle)` pair it can only stay so. */
  private val declaredRowsOnly = Set.empty[String]

  test("queries without an oracle are exactly the declared rows-only set") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing === declaredRowsOnly,
      s"undeclared oracle-free queries: ${missing -- declaredRowsOnly}; " +
        s"stale declarations: ${declaredRowsOnly -- missing}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("the spec's family list is the full SparkEntry merge chain") {
    // a module dropped from SparkEntry.modules would silently shrink every
    // run — pin the family list and the union of its keys
    val families = Seq("Relational", "MRQueries", "TextQueries", "DedupQueries",
      "SimilarityQueries", "EventQueries", "MediaQueries", "PipelineQueries",
      "KvQueries", "StreamQueries", "SketchQueries", "GraphQueries", "TpchQueries",
      "TpchBulkQueries", "LakehouseQueries")
    assert(SparkEntry.modules.map(_._1) === families)
    val unionKeys = SparkEntry.modules.iterator.flatMap(_._2.iterator.map(_._1)).toSet
    assert(unionKeys === SparkEntry.queries.keySet)
    assert(unionKeys === SparkEntry.oracleSql.keySet)
  }

  test("SPARK_GRAFT_ONLY selects registered queries in name order") {
    assert(SparkEntry.selected(Map.empty).map(_._1) === SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selected(Map(SparkEntry.OnlyEnv -> "q_scc, q_bfs")).map(_._1) ===
      Seq("q_bfs", "q_scc"))
    val ex = intercept[IllegalArgumentException](
      SparkEntry.selected(Map(SparkEntry.OnlyEnv -> "q_scc,q_sccc,q_bfss")))
    assert(ex.getMessage.contains("SPARK_GRAFT_ONLY") &&
      ex.getMessage.contains("q_bfss, q_sccc"), ex.getMessage)
  }

  test("every GraftFunctions.all name resolves through its column builder in a fresh session") {
    // a new session carries the extensions but none of the shared
    // session's temp functions
    val s = TestSpark.spark.newSession()
    import s.implicits._
    val text = "the cat saw the cat"
    val row = Seq((text, Seq(1.0, 2.0), Seq(3.0, 4.0), 10L, "martha", "marhta", 5L, 3L, "abab"))
      .toDF("text", "a", "b", "n", "s1", "s2", "x", "y", "word")
    val builders: Seq[(String, Column)] = Seq(
      "graft_simhash" -> SimHash.simhash(col("text")),
      "graft_dot" -> DotProduct.dot(col("a"), col("b")),
      "graft_shingles" -> Shingles.shingles(col("text"), 2),
      "graft_shingles_all" -> Shingles.shinglesAll(col("text"), 2),
      "graft_winnow" -> Winnow.winnow(col("text"), 2, 2),
      "graft_fib" -> Fib.fib(col("n")),
      "graft_jaro_winkler" -> JaroWinkler.jw(col("s1"), col("s2")),
      "graft_zorder" -> ZOrder.zorder(col("x"), col("y"), 8),
      "graft_ulm_segment" ->
        UnigramSegment.segment(col("word"), Map("a" -> 1L, "b" -> 1L, "ab" -> 1L), 2))
    assert(builders.map(_._1).sorted === GraftFunctions.all.map(_._1).sorted)
    val got = row.select(builders.map { case (n, c) => c.as(n) }: _*).head()
    assert(got.getAs[Long]("graft_simhash") === SimHash.compute(text))
    assert(got.getAs[Double]("graft_dot") === 11.0)
    assert(got.getAs[Seq[String]]("graft_shingles") === Seq("the cat", "cat saw", "saw the"))
    assert(got.getAs[Seq[String]]("graft_shingles_all") ===
      Seq("the cat", "cat saw", "saw the", "the cat"))
    assert(got.getAs[Seq[Long]]("graft_winnow") ===
      WinnowExpression.compute(text, 2, 2).toLongArray().toSeq)
    assert(got.getAs[Long]("graft_fib") === 55L)
    assert(got.getAs[Double]("graft_jaro_winkler") === JaroWinklerExpression.jw("martha", "marhta"))
    assert(got.getAs[Long]("graft_zorder") === ZOrder.interleave(5L, 3L, 8))
    assert(got.getAs[Seq[String]]("graft_ulm_segment") === Seq("ab", "ab"))
  }
}
