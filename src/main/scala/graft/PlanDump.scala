package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.ExplainMode

import graft.operators.IterRoundExplain

/** Dev tool: dump `.explain("formatted")` for named registry queries to
  * files (the optimization-round evidence format — plans/rNN/<q>_before
  * .txt / _after.txt). This object is not part of the shipped library
  * (its per-round capture hook, graft.operators.IterRoundExplain, is).
  *
  * Usage: runMain graft.PlanDump <names-csv> <outDir> <suffix>
  *
  * Builds the SAME session as Bench (`Tuning.localSession`) so the
  * captured plans are the plans the bench actually runs. For the iterative operators the returned frame
  * only shows the final stage; set `graft.iter.explainTo` (see
  * IterCheckpoint) to also capture every per-round plan as it is
  * materialized.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(',').toSeq
    val outDir = Paths.get(args(1))
    val suffix = if (args.length > 2) args(2) else ""
    Files.createDirectories(outDir)
    val spark = Tuning.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val target = outDir.resolve(s"$n$suffix.txt")
      // per-round capture (IterCheckpoint hook) appends to the same file
      spark.conf.set(IterRoundExplain.ConfKey, target.toString)
      Files.write(target, Array.emptyByteArray) // truncate
      val df = SparkEntry.queries(n)(spark, sfDir)
      spark.conf.set(IterRoundExplain.ConfKey, "")
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(target,
        (s"===== $n: returned plan =====\n" + txt).getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      println(s"[plandump] wrote $target")
    }
    spark.stop()
  }
}
