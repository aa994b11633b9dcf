package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamQueries
import graft.streaming.EventStreams.Event

/** Nothing fails silently: bad settings name their key, failed queries
  * and streams are reported and clean up after themselves, and a capped
  * k-truss, connected components or SCC min-reach says so. */
class FailureReportingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def assertNamesKey(key: String)(body: => Any): Unit = {
    val ex = intercept[IllegalArgumentException](body)
    assert(ex.getMessage.contains(key), ex.getMessage)
  }

  test("graft.stream.statePartitions must be a positive integer") {
    val key = "graft.stream.statePartitions"
    for (bad <- Seq("eight", "0", "-2", "1.5"))
      withConf(key, bad)(assertNamesKey(key)(StreamQueries.statePartitions(spark, Map.empty)))
    withConf(key, " 3 ")(assert(StreamQueries.statePartitions(spark, Map.empty) === 3))
    assert(StreamQueries.statePartitions(spark, Map.empty) === 8)
  }

  test("SPARK_GRAFT_STREAM_SHUFFLE must be a positive integer and overrides the conf") {
    val key = "SPARK_GRAFT_STREAM_SHUFFLE"
    for (bad <- Seq("", "x", "0"))
      assertNamesKey(key)(StreamQueries.statePartitions(spark, Map(key -> bad)))
    withConf("graft.stream.statePartitions", "5")(
      assert(StreamQueries.statePartitions(spark, Map(key -> "2")) === 2))
  }

  // (key, what it must be, bad values, good values, a parse of one value)
  private val parsedKeys: Seq[(String, String, Seq[String], Seq[String], String => Any)] = Seq(
    ("graft.mr.combine.maxBuffered", "a positive integer", Seq("lots", "0", "-1"), Nil, { (v: String) =>
      val sum = (k: String, vs: Seq[Int]) => Iterator.single((k, vs.sum))
      withConf("graft.mr.combine.maxBuffered", v)(
        mr.MRPipeline.fromPairs(spark, spark.sparkContext.parallelize(Seq("a" -> 1, "b" -> 2)))
          .combineReduce(sum, sum, 2))
    }),
    (Tuning.CpusEnv, "a positive integer", Seq("", "four", "0", "-4"), Seq("1", " 8 "),
      (v: String) => Tuning.localSession(Map(Tuning.CpusEnv -> v))),
    ("SPARK_GRAFT_BENCH_RUNS", "a positive integer", Seq("three", "0", "2.5"), Seq("3"),
      ConfValue.positiveInt("SPARK_GRAFT_BENCH_RUNS", _)),
    (SparkEntry.OnlyEnv, "a list of registered query names", Seq("q_sccc", "q_scc,q_sccc", ""),
      Seq("q_scc", "q_bfs,q_scc"), (v: String) => SparkEntry.selected(Map(SparkEntry.OnlyEnv -> v))),
    ("SPARK_GRAFT_STREAM_FILES_PER_TRIGGER", "a positive integer", Seq("x", "0"), Seq("16"),
      ConfValue.positiveInt("SPARK_GRAFT_STREAM_FILES_PER_TRIGGER", _)),
    ("SPARK_GRAFT_STREAM_PAD_BYTES", "a non-negative integer", Seq("-1", "1k", ""), Seq("0", "1024"),
      ConfValue.nonNegativeLong("SPARK_GRAFT_STREAM_PAD_BYTES", _)),
    ("SPARK_GRAFT_STREAM_CHANGELOG", "true or false", Seq("yes", "1", ""), Seq("TRUE", "false"),
      ConfValue.boolean("SPARK_GRAFT_STREAM_CHANGELOG", _)))

  for ((key, what, bad, good, parse) <- parsedKeys)
    test(s"$key must be $what") {
      for (v <- bad) assertNamesKey(key)(parse(v))
      good.foreach(parse)
    }

  private def ckptDirs(): Set[String] =
    Option(Paths.get(System.getProperty("java.io.tmpdir")).toFile.list()).toSet.flatten
      .filter(n => n.startsWith("graft_stream_ckpt") || n.startsWith("graft_upsert_ckpt"))

  test("a stream that throws leaves no checkpoint dir and restores shuffle partitions") {
    implicit val sqlCtx = spark.sqlContext
    val boom = udf((v: Double) => if (v > 0) throw new IllegalStateException("boom") else v)
    val before = ckptDirs()
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val ev = Event(0L, new Timestamp(1700000000000L), 1L, "click", 1.0, "{}")

    val agg = MemoryStream[Event]
    agg.addData(ev)
    intercept[StreamingQueryException](StreamQueries.runToMemory(spark,
      agg.toDF().groupBy(boom($"value").as("v")).count()))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)

    val upsert = MemoryStream[Event]
    upsert.addData(ev)
    intercept[StreamingQueryException](StreamQueries.applyLatestPerUser(spark,
      upsert.toDF().withColumn("value", boom($"value")), "kv_failing_upsert_spec"))

    assert(ckptDirs() -- before === Set.empty)
  }

  test("Verify.dump reports a throwing builder in failures.json and runs the rest") {
    val out = Files.createTempDirectory("graft_verify_spec").resolve("out").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("builder \"boom\"\tfailed")
    val failures = Verify.dump(spark, sf, out, Seq("q_ok" -> ok, "q_boom" -> boom))
    assert(failures.keySet === Set("q_boom"))
    assert(failures("q_boom").contains("IllegalStateException"))
    assert(spark.read.parquet(s"$out/q_ok").count() === 3)
    assert(Files.readString(Paths.get(s"$out/failures.json")) ===
      """{"q_boom": "java.lang.IllegalStateException: builder \"boom\"\tfailed"}""")

    assert(Verify.dump(spark, sf, out, Seq("q_ok" -> ok)).isEmpty)
    assert(Files.readString(Paths.get(s"$out/failures.json")) === "{}")
    // a fatal error is not swallowed as a per-query failure
    intercept[LinkageError](Verify.dump(spark, sf, out,
      Seq("q_fatal" -> ((_, _) => throw new LinkageError("fatal")))))
  }

  // (label, operator, full warning of the capped run, a capped run, an uncapped run)
  private val cappedRuns: Seq[(String, AnyRef, String, () => Unit, () => Unit)] = {
    // K4: every edge has support 2, so k = 4 keeps all six edges; one
    // round cannot tell that from a still-shrinking set
    val k4 = (for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)).toDF("src", "dst")
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    // 1-byte advisory partitions: CC takes its distributed loop
    def distributedCc(cap: Int): Unit =
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")(
        assert(operators.ConnectedComponents.components(chain, cap).count() === 13))
    Seq(
      ("k-truss", operators.KTruss, "k-truss did not converge in 1 rounds " +
          "— the peel depth exceeds the cap; edges are partial",
        () => assert(operators.KTruss.trussEdges(k4, 4, maxIterations = 1).count() === 6),
        () => assert(operators.KTruss.trussEdges(k4, 4).count() === 6)),
      ("connected components", operators.ConnectedComponents,
        "connected components did not converge in 1 rounds " +
          "— some cluster's diameter exceeds the cap; labels are partial",
        () => distributedCc(1), () => distributedCc(10)),
      ("scc min-reach", operators.StronglyConnectedComponents,
        "scc min-reach did not converge in 1 rounds; labels partial",
        () => operators.StronglyConnectedComponents.components(cycle, maxPropRounds = 1).count(),
        () => assert(operators.StronglyConnectedComponents.components(cycle)
          .filter($"scc" === 0L).count() === 6)))
  }

  for ((label, owner, message, capped, uncapped) <- cappedRuns)
    test(s"$label logs a not-converged warning when the round cap is hit") {
      val name = owner.getClass.getName
      val logger = LogManager.getContext(false).asInstanceOf[LoggerContext].getLogger(name)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
      val appender = new AbstractAppender(s"$label-capture", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          seen.add(e.getLoggerName -> e.getMessage.getFormattedMessage)
      }
      appender.start()
      logger.addAppender(appender)
      try {
        capped()
        assert(seen.contains(name -> message), seen)
        seen.clear()
        uncapped()
        assert(!seen.stream().anyMatch(_._2.contains("did not converge")), seen)
      } finally {
        logger.removeAppender(appender)
        appender.stop()
      }
    }
}
