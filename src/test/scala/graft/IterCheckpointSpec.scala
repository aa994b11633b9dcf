package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConnectedComponents, IterCheckpoint, KCore}
import graft.queries.GraphQueries

/** The reliable-checkpoint opt-in (`graft.iter.checkpointDir`): unset, the
  * iterative family materializes via localCheckpoint exactly as before the
  * option existed; set, rounds checkpoint to the reliable directory (and
  * so survive executor loss on a real cluster), with identical results.
  */
class IterCheckpointSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val edges = Seq(
    (1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L), (7L, 8L), (8L, 9L), (9L, 7L))
    .toDF("src", "dst")

  private def componentsMap(): Map[Long, Long] =
    ConnectedComponents.components(edges, maxIterations = 10)
      .as[(Long, Long)].collect().toMap

  test("unset: localCheckpoint path — no reliable checkpoint files written") {
    assert(spark.conf.getOption(IterCheckpoint.ConfKey).forall(_.isEmpty))
    val df = IterCheckpoint(edges)
    // localCheckpoint plans as a scan of the cached RDD
    assert(df.queryExecution.executedPlan.toString.contains("ExistingRDD") ||
      df.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    assert(df.count() === 7)
  }

  test("set: rounds checkpoint reliably, results identical to the local path") {
    val expected = componentsMap()
    assert(expected(3L) === 1L && expected(5L) === 4L && expected(9L) === 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft_iter_ckpt")
    spark.conf.set(IterCheckpoint.ConfKey, dir.toString)
    try {
      val reliable = componentsMap()
      assert(reliable === expected)
      // reliable checkpoint files actually landed under the directory
      def filesUnder(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(filesUnder(dir) > 0, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset(IterCheckpoint.ConfKey)
      graft.sources.LocalFs.deleteRecursively(dir)
    }
  }

  test("measure counts rows and null rows in the materializing job, on both paths") {
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (3L, null)).toDF("src", "dst")
    val local = IterCheckpoint.measure(withNull)
    assert((local.rows, local.nullRows) === (2L, 1L))
    assert(local.bytes === 2 * 24) // 8-byte row overhead + two longs
    val dir = java.nio.file.Files.createTempDirectory("graft_iter_measure")
    spark.conf.set(IterCheckpoint.ConfKey, dir.toString)
    try {
      val reliable = IterCheckpoint.measure(withNull)
      assert((reliable.rows, reliable.nullRows) === (2L, 1L))
    } finally {
      spark.conf.unset(IterCheckpoint.ConfKey)
      graft.sources.LocalFs.deleteRecursively(dir)
    }
  }

  test("a bad keyedScratchReleaseBytes value raises an error naming the key") {
    spark.conf.set(IterCheckpoint.ReleaseBytesKey, "512MB")
    try {
      val ex = intercept[IllegalArgumentException](
        IterCheckpoint.keyedForReuse(edges.filter(col("src") > 0L), col("src")))
      assert(ex.getMessage.contains(IterCheckpoint.ReleaseBytesKey))
    } finally spark.conf.unset(IterCheckpoint.ReleaseBytesKey)
  }

  test("release threshold 0: the distributed loop drops its scratch copy, results unchanged") {
    val expected = componentsMap()
    spark.conf.set(IterCheckpoint.ReleaseBytesKey, "0")
    spark.conf.set(AdvisoryKey, "1") // force the distributed loop
    try assert(componentsMap() === expected)
    finally {
      spark.conf.unset(IterCheckpoint.ReleaseBytesKey)
      spark.conf.unset(AdvisoryKey)
    }
  }

  test("set, release threshold 0: the keyed frame's scratch is a reliable checkpoint, rows unchanged") {
    val input = edges.filter(col("src") > 0L)
    val expected = input.as[(Long, Long)].collect().sorted
    val dir = java.nio.file.Files.createTempDirectory("graft_iter_keyed")
    spark.conf.set(IterCheckpoint.ConfKey, dir.toString)
    spark.conf.set(IterCheckpoint.ReleaseBytesKey, "0")
    try {
      val keyed = IterCheckpoint.keyedForReuse(input, col("src"))
      val scratch = keyed.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      assert(scratch.size === 1)
      assert(scratch.head.getCheckpointFile.exists(_.contains(dir.toString)),
        s"scratch checkpoint ${scratch.head.getCheckpointFile} is not under $dir")
      assert(keyed.as[(Long, Long)].collect().sorted === expected)
      keyed.unpersist()
    } finally {
      spark.conf.unset(IterCheckpoint.ConfKey)
      spark.conf.unset(IterCheckpoint.ReleaseBytesKey)
      graft.sources.LocalFs.deleteRecursively(dir)
    }
  }

  test("components and coreEdges finish a small graph locally: at most 2 jobs in the builder") {
    val r = new scala.util.Random(3)
    val graph = Seq.fill(120)((r.nextInt(60).toLong, r.nextInt(60).toLong)).toDF("src", "dst")
    assert(jobsDuring(ConnectedComponents.components(graph)) <= 2)
    assert(jobsDuring(KCore.coreEdges(graph, 2)) <= 2)
  }

  test("BFS, SSSP and the seed relaxation run a pinned number of builder jobs") {
    // counts of the hand-written loops the one relaxation operator
    // replaced: a per-round job added to the shared loop shows here
    val w = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (2L, 5L, 3L), (5L, 6L, 1L),
      (4L, 6L, 1L), (7L, 8L, 1L)).toDF("src", "dst", "w")
    val e = w.select(col("src"), col("dst"))
    assert(jobsDuring(GraphQueries.bfsDistances(e, 1L, 10)) === 35)
    assert(jobsDuring(GraphQueries.ssspDistances(w, 1L, 10)) === 35)
    assert(jobsDuring(GraphQueries.seedDistances(e, 2, 10)) === 39)
  }

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Jobs started while `body` runs. Listener delivery is asynchronous: a
    * marker job submitted afterwards is delivered after every earlier job,
    * so the count is read once the marker has been seen. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      val seen = started.asScala.toSeq
      assert(seen.contains("marker"), "listener bus did not deliver the marker job")
      seen.indexOf("marker")
    } finally sc.removeSparkListener(listener)
  }
}
