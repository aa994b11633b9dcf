package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col

import graft.{ArtifactCache, CostAccounting, SparkEntry}
import graft.sources.kv.KvStore

/** One benchmark run of one workload in a fresh JVM, driven by run.py.
  *
  * Usage: `perfbench.Main <dataDir> <outDir> <q1,q2,...> <seconds> <trace 0|1> <cores> <warmup query>`
  *
  * The program is reached only through its public surface: the query
  * builders in `SparkEntry.queries`, `df.queryExecution`, a materialising
  * action, `CostAccounting.measure`, `ArtifactCache.coldFits`, the
  * `KvStore` meters, and the listeners registered here. The run:
  *
  *  1. set-up: process start → session up → one warm-up query done;
  *  2. the first pass over the workload's queries, as a one-shot batch
  *     job runs them: cold JIT and codegen included;
  *  3. two untimed passes, so the window starts where JIT compilation
  *     has mostly settled. The first writes each result as parquet, and
  *     run.py checks those results against the oracle SQL written next
  *     to them;
  *  4. the measured window: warm passes until `seconds` have elapsed
  *     (at least two), priced by `CostAccounting.measure`. With
  *     tracing on, eight or more passes in the order untraced, traced,
  *     traced, untraced, ... so the record carries its own tracing
  *     overhead: eight, because the first window pass can still be on
  *     the warm-up slope, and a median over four passes a side is not
  *     moved by it. The listeners are registered for the traced passes
  *     only, so that overhead includes theirs;
  *  5. traced runs only: each `graft.functions` kernel alone over
  *     `documents.text`.
  *
  * The record goes to `<outDir>/result.json`, spans to `trace.json`.
  */
object Main {

  def session(cores: Int): SparkSession = {
    val spark = graft.Tuning.withClusterDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Computes every output column of the frame's own planned physical
    * plan — the work of a `noop` write, without planning the query a
    * second time inside a write command. */
  def materialise(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.foreach(_ => ()))
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** VmHWM of this process in MB: its resident-memory high-water mark. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDirArg, queryList, secondsArg, traceArg, coresArg, warmup) = args
    val outDir = Paths.get(outDirArg)
    val queries = queryList.split(',').toSeq
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    Files.createDirectories(outDir)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = session(cores)
    materialise(SparkEntry.queries(warmup)(spark, dataDir))
    val setupS = System.currentTimeMillis() / 1e3 - jvmStart

    val failures = mutable.LinkedHashMap.empty[String, String]
    val meter = new Meter
    val tracer = new Tracer(spark, meter)
    val passSpans = ArrayBuffer.empty[Int]

    val resultsDir = outDir.resolve("results")

    /** One execution of one query; its wall seconds, or NaN if it threw. */
    def execute(name: String, trace: Option[Int], write: Boolean = false): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = now()
      try {
        trace match {
          case None if write => fn(spark, dataDir).write.parquet(resultsDir.resolve(name).toString)
          case None => materialise(fn(spark, dataDir))
          case Some(pass) => tracer.span(name, pass) { q =>
            val df = tracer.span("build", q)(_ => fn(spark, dataDir))
            tracer.span("plan", q) { p =>
              val qe = df.queryExecution
              val planStart = now()
              qe.optimizedPlan
              val t1 = now()
              qe.executedPlan
              // Analysis ran eagerly inside the builder; the tracker kept
              // its duration, in whole milliseconds.
              val analysis = qe.tracker.phases.get("analysis").map(_.durationMs / 1e3)
              tracer.annotate(p, Map("analysis_s" -> analysis.getOrElse(0.0),
                "optimizer_s" -> (t1 - planStart), "physical_s" -> (now() - t1)))
            }
            tracer.span("exec", q)(_ => materialise(df))
          }
        }
        now() - t0
      } catch {
        case NonFatal(e) =>
          failures.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          Double.NaN
      }
    }

    def pass(trace: Boolean, write: Boolean = false): Map[String, Double] =
      if (!trace) queries.map(q => q -> execute(q, None, write)).toMap
      else {
        spark.sparkContext.addSparkListener(meter)
        spark.streams.addListener(meter.streaming)
        try tracer.span("pass", Meter.NoSpan) { p =>
          passSpans += p
          val kv = (KvStore.readOps, KvStore.writeOps)
          val times = queries.map(q => q -> execute(q, Some(p))).toMap
          tracer.annotate(p, Map("kv_reads" -> (KvStore.readOps - kv._1).toDouble,
            "kv_writes" -> (KvStore.writeOps - kv._2).toDouble))
          times
        } finally {
          // Events still on the bus are dropped when a listener is removed.
          meter.drain()
          spark.streams.removeListener(meter.streaming)
          spark.sparkContext.removeSparkListener(meter)
        }
      }

    val firstPass = pass(trace = false)
    pass(trace = false, write = true)
    pass(trace = false)
    val oracles = SparkEntry.oracleSqlFor(spark, dataDir)
    Files.write(outDir.resolve("oracle_sql.json"), Json.obj(queries.map { q =>
      q -> oracles.get(q).map(Json.str).getOrElse("null")
    }).getBytes("UTF-8"))

    // The measured window. Fits paid here would mean a cached artifact
    // was cold inside the window: reported as a window delta.
    val fits0 = ArtifactCache.coldFits
    val windowPasses = ArrayBuffer.empty[(Boolean, Map[String, Double])]
    val (_, cost) = CostAccounting.measure(spark) {
      val start = now()
      val minPasses = if (traced) 8 else 2
      while (windowPasses.size < minPasses || now() - start < seconds) {
        val t = traced && windowPasses.size % 4 % 3 != 0
        windowPasses += (t -> pass(t))
      }
    }
    val coldFits = ArtifactCache.coldFits - fits0

    val kernels = if (traced) functionKernels(spark, dataDir) else Seq.empty
    val rssMb = peakRssMb()

    if (traced) Files.write(outDir.resolve("trace.json"), tracer.toJson.getBytes("UTF-8"))
    spark.stop()

    def times(m: Map[String, Double]) = Json.obj(queries.map(q => q -> Json.num(m(q))))
    val layers = passSpans.toSeq.map(p => passLayers(tracer, p, cores))
    val record = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "first_pass" -> times(firstPass),
      "passes" -> Json.arr(windowPasses.toSeq.map { case (t, m) =>
        Json.obj(Seq("traced" -> t.toString, "times" -> times(m)))
      }),
      "cost_usd_per_pass" -> Json.num(cost.totalUsd / windowPasses.size),
      "cost_drained" -> cost.drained.toString,
      "cold_fits" -> coldFits.toString,
      "peak_rss_mb" -> Json.num(rssMb),
      "failures" -> Json.obj(failures.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> Json.arr(layers.map(m => Json.obj(m.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(v) }))),
      "query_layers" -> Json.obj(queries.map { q =>
        q -> Json.obj(queryLayers(tracer, q).toSeq.sortBy(_._1).map {
          case (k, v) => k -> Json.num(v) })
      }),
      "functions" -> Json.obj(kernels.map { case (k, v) => k -> Json.num(v) })))
    Files.write(outDir.resolve("result.json"), record.getBytes("UTF-8"))
  }

  /** Layer metrics of one traced pass, from its spans and counters. */
  def passLayers(tr: Tracer, pass: Int, cores: Int): Map[String, Double] = {
    val qs = tr.children(pass)
    val phase = (name: String) => qs.flatMap(q => tr.children(q.id).filter(_.name == name))
    val c = tr.counters(pass)
    val wall = tr.seconds(pass)
    def g(k: String) = c.getOrElse(k, 0.0)
    val mr = qs.filter(_.name.startsWith("q_mr_")).map(q => tr.counters(q.id))
      .foldLeft(Map.empty[String, Double])(Tracer.sum)
    def m(k: String) = mr.getOrElse(k, 0.0)
    val build = phase("build")
    val plan = phase("plan")
    Map(
      "pass_s" -> wall,
      "queries.build_s" -> build.map(s => tr.seconds(s.id)).sum,
      "queries.build_jobs" -> build.map(s => tr.counters(s.id).getOrElse("jobs", 0.0)).sum,
      "plans.plan_s" -> plan.map(s => tr.seconds(s.id)).sum,
      "plans.analysis_s" -> plan.map(_.attrs.getOrElse("analysis_s", 0.0)).sum,
      "plans.optimizer_s" -> plan.map(_.attrs.getOrElse("optimizer_s", 0.0)).sum,
      "plans.physical_s" -> plan.map(_.attrs.getOrElse("physical_s", 0.0)).sum,
      "spark.exec_s" -> phase("exec").map(s => tr.seconds(s.id)).sum,
      "spark.jobs" -> g("jobs"),
      "spark.stages" -> g("stages"),
      "spark.tasks" -> g("tasks"),
      "spark.task_s" -> g("task_s"),
      "spark.task_cpu_s" -> g("task_cpu_s"),
      "spark.gc_s" -> g("gc_s"),
      "spark.sched_delay_s" -> g("sched_delay_s"),
      "spark.util" -> g("task_s") / (wall * cores),
      "spark.shuffle_write_bytes" -> g("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> g("shuffle_read_bytes"),
      "spark.spill_bytes" -> g("spill_bytes"),
      "mr.shuffle_bytes" -> m("shuffle_write_bytes"),
      "mr.shuffle_records" -> m("shuffle_write_records"),
      "mr.combine_ratio" ->
        (if (m("input_rows") > 0) m("shuffle_write_records") / m("input_rows") else 0.0),
      "sources.input_rows" -> g("input_rows"),
      "sources.input_bytes" -> g("input_bytes"),
      "sources.kv_reads" -> tr.spans(pass).attrs.getOrElse("kv_reads", 0.0),
      "sources.kv_writes" -> tr.spans(pass).attrs.getOrElse("kv_writes", 0.0),
      "streaming.batches" -> g("batches"),
      "streaming.add_batch_s" -> g("add_batch_s"),
      "streaming.wal_commit_s" -> g("wal_commit_s"),
      "streaming.state_rows" -> g("state_rows"),
      "streaming.cpu_frac" ->
        (if (g("stream_task_s") > 0) g("stream_task_cpu_s") / g("stream_task_s") else 0.0))
  }

  /** Per-query attribution: medians over the traced passes. */
  def queryLayers(tr: Tracer, query: String): Map[String, Double] = {
    val runs = tr.spans.toSeq.filter(s => s.name == query && s.parent != Meter.NoSpan)
    if (runs.isEmpty) Map.empty else {
      val per = runs.map { q =>
        val kids = tr.children(q.id)
        def sec(n: String) = kids.filter(_.name == n).map(k => tr.seconds(k.id)).sum
        val c = tr.counters(q.id)
        Map("wall_s" -> tr.seconds(q.id), "build_s" -> sec("build"),
          "plan_s" -> sec("plan"), "exec_s" -> sec("exec"),
          "build_jobs" -> kids.filter(_.name == "build")
            .map(k => tr.counters(k.id).getOrElse("jobs", 0.0)).sum) ++
          Seq("jobs", "stages", "tasks", "task_s", "task_cpu_s", "shuffle_write_bytes",
            "spill_bytes", "input_rows", "batches").map(k => k -> c.getOrElse(k, 0.0))
      }
      per.head.keys.map(k => k -> median(per.map(_(k)))).toMap
    }
  }

  /** Rows per second of each public `graft.functions` kernel applied
    * alone to `documents.text`, replicated to at least 10k rows so the
    * kernel, not job latency, dominates. Median of three. */
  def functionKernels(spark: SparkSession, dataDir: String): Seq[(String, Double)] = {
    import graft.functions._
    val docs = graft.Tables.documents(spark, dataDir).select("text")
    val n = docs.count()
    val copies = math.max(1L, (10000L + n - 1) / n)
    val text = docs.crossJoin(spark.range(copies)).select(col("text")).cache()
    val rows = text.count()
    val kernels = Seq[(String, org.apache.spark.sql.Column)](
      "functions.shingles_rows_per_s" -> Shingles.shingles(col("text"), 3),
      "functions.simhash_rows_per_s" -> SimHash.simhash(col("text")),
      "functions.winnow_rows_per_s" -> Winnow.winnow(col("text")),
      "functions.hash60_rows_per_s" -> Md5Bits.hash60(col("text")))
    val out = kernels.map { case (name, k) =>
      val secs = (1 to 3).map { _ =>
        val t0 = now()
        materialise(text.select(k))
        now() - t0
      }
      name -> rows / median(secs)
    }
    text.unpersist()
    out
  }
}
