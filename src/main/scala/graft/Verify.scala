package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is listed in failures.json and makes the run exit non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subset (SPARK_GRAFT_ONLY=q_a,q_b): the driver never sets
    // it, so its runs always dump the full suite.
    val selected = SparkEntry.selected()
    val spark = Tuning.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = selected.map(_._1).toSet
    val failures = dump(spark, sfDir, outDir, selected)
    val json = jsonObject(SparkEntry.oracleSqlFor(spark, sfDir)
      .filter(kv => names(kv._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }

  /** Write each query's result as parquet to `outDir/<name>`, then
    * `outDir/failures.json` mapping every query that threw to its error
    * (`{}` when none did). One failing query does not stop the others;
    * a fatal error (OOM, linkage) is not caught, since the JVM is then in
    * an undefined state. Returns the failures. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, String] = {
    Files.createDirectories(Paths.get(outDir))
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString)
      }
    }.toMap
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObject(failures))
    failures
  }

  /** A flat JSON object of strings, keys sorted. */
  private def jsonObject(kv: Map[String, String]): String =
    kv.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
