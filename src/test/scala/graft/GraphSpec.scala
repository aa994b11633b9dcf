package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** The graph value's local-finish gate: a symmetric edge frame finishes in
  * one task only when it fits one advisory partition, its ids are LONG or
  * INT, and no endpoint is null.
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private val pairs = Seq((1, 2), (2, 3), (3, 1), (4, 5))

  test("the gate passes a small LONG graph and a small INT graph") {
    val long = Graph(pairs.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"))
    assert(long.edges.count() === 8)
    assert(long.fitsLocally)
    assert(Graph(pairs.toDF("src", "dst")).fitsLocally)
  }

  test("the gate fails on a null endpoint") {
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (3L, null)).toDF("src", "dst")
    assert(!Graph(withNull).fitsLocally)
  }

  test("the gate fails on STRING ids") {
    assert(!Graph(pairs.map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst"))
      .fitsLocally)
  }

  test("the gate fails when the frame exceeds a 1-byte advisory partition") {
    val saved = spark.conf.getOption(AdvisoryKey)
    spark.conf.set(AdvisoryKey, "1")
    try assert(!Graph(pairs.toDF("src", "dst")).fitsLocally)
    finally saved.fold(spark.conf.unset(AdvisoryKey))(spark.conf.set(AdvisoryKey, _))
  }
}
