package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // n>=3 runs per query, report the per-query MIN: the minimum is the
    // least-contended observation and the only number comparable across
    // rounds in a shared sandbox (round-2 showed 4-39x swings on
    // byte-identical code from external contention).
    val runs = ConfValue.positiveInt("SPARK_GRAFT_BENCH_RUNS",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3"))
    // deterministic name order → per-query timings comparable across
    // rounds; SPARK_GRAFT_ONLY=q_a,q_b profiles a subset
    val ordered = SparkEntry.selected()
    val spark = Tuning.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup so the first measured query doesn't absorb JVM
    // startup; standard steady-state measurement practice.
    SparkEntry.entry(spark).count()
    // Unrecorded throwaway pass over the first few queries: whoever runs
    // first in name order otherwise absorbs the remaining JIT/codegen
    // warmup (r15 driver re-runs read q1/q2 at ~3x their isolated floors
    // even under min-of-3 — all three runs land inside the young-JVM
    // window). entry() alone doesn't exercise their exact codegen paths.
    // NonFatal only: an OOM/LinkageError in warmup leaves the JVM in an
    // undefined state — recording a window after one would be a lie
    ordered.take(3).foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // cold_fits is reported as a WINDOW DELTA: fits paid during warmup
    // (or any earlier work in this JVM) are excluded, so the field means
    // "training runs the measured window actually paid".
    val coldFitsAtOpen = graft.ArtifactCache.coldFits
    val results = ordered
      .map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      val good = times.filter(_ >= 0)
      // failures report -1, never a fake small duration
      val best = if (good.isEmpty) -1.0 else good.min
      val worst = if (good.isEmpty) -1.0 else good.max
      (name, best, worst)
    }
    def r3(v: Double) = if (v < 0) -1.0 else math.rint(v * 1000) / 1000
    def jmap(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // total excludes failed queries (a -1 sentinel must never shrink the
    // total); they are visible as -1 in "queries" and counted in "failed".
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    val failed = results.count(_._2 < 0)
    // Full per-query mins + contention spreads (max-min) go to a FILE:
    // the harness captures only the LAST ~3 KB of stdout, and at 150+
    // registered queries one all-inclusive JSON line is ~5 KB — its head
    // (with "metric"/"value") gets cut and the line never parses
    // (BENCH_r04.json: parsed=null). The stdout contract line stays small
    // enough to survive the tail capture intact.
    // cold_fits: training runs actually executed inside this measured
    // window (0 = every ArtifactCache-backed query served a warm
    // persisted artifact; >0 = the window paid that many fits — not
    // comparable to a warm one). Delta from the window-open snapshot.
    val coldFits = graft.ArtifactCache.coldFits - coldFitsAtOpen
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"failed":$failed,"cold_fits":$coldFits,"sf":"$sfDir","queries":${jmap(results.map(r => r._1 -> r._2))},"spread":${jmap(results.map(r => r._1 -> (if (r._2 < 0) -1.0 else r._3 - r._2)))},"total_sec":$total}"""
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json")
    java.nio.file.Files.write(fullPath, (fullJson + "\n").getBytes("UTF-8"))
    // stdout line: headline totals + the heaviest queries, greedily added
    // until the serialized map would push the line past ~1800 bytes.
    val byCost = results.filter(_._2 >= 0).sortBy(-_._2) ++ results.filter(_._2 < 0)
    val budget = 1800
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var len = 0
    byCost.foreach { r =>
      val entryLen = r._1.length + 12
      if (len + entryLen <= budget) { kept += (r._1 -> r._2); len += entryLen }
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"failed":$failed,"cold_fits":$coldFits,"sf":"$sfDir","n_queries":${results.size},"queries_full":"${fullPath.toAbsolutePath}","queries":${jmap(kept.toSeq)},"total_sec":$total}"""
    println(line)
    spark.stop()
  }
}
