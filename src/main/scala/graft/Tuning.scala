package graft

import org.apache.spark.sql.SparkSession

/** The session configuration the 100 TB deployment runs with — one place
  * so Verify, Bench, tests, and a production submit all agree. Local runs
  * exercise the same settings (they are scale-safe at any size).
  *
  * Rationale per knob:
  *  - AQE + coalescing: runtime re-planning fixes misestimated shuffle
  *    partition counts — the static `spark.sql.shuffle.partitions` is a
  *    ceiling, not a bet.
  *  - AQE skew-join: splits oversized partitions of a skewed join key
  *    (the reference's sha256-mod sharding simply stalls on them —
  *    SURVEY §7.2); manual salting (`operators/SkewJoin`) remains for
  *    aggregation-side skew AQE cannot see.
  *  - 256 MiB splits: big enough to amortize task overhead on a
  *    1000-executor scan, small enough to rebalance; the reference's
  *    analog heuristic was 60% of Lambda memory (`lambda_utils.py:9`).
  *  - zstd parquet: ~30% smaller than snappy at comparable scan speed.
  *  - 64 MiB broadcast threshold: dimensions of the star schema stay
  *    broadcast even as they grow past the 10 MiB default; the planner
  *    still falls back to shuffle joins beyond it.
  *
  * Streaming checkpoint-mode dial (per-query, not a session default —
  * set `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
  * .enabled`): prefer CHANGELOG checkpointing once buffered state
  * exceeds ~100 MB per state partition; below that the modes measure at
  * parity. Measured basis, both on the sf3 interval join under identical
  * interleaved runs: at tens-of-MB total state the two modes are within
  * noise (BENCH_STREAM_SF3_r15.json), while at ~1.3 GB of incompressible
  * buffered join state (1 KiB payloads both sides) changelog commits
  * per-batch deltas instead of re-uploading full snapshots and wins
  * +30% rows/s with -20% p95 batch latency (BENCH_STREAM_WIDE_r16.json).
  * Snapshot mode's one advantage — fewer files to replay on restart —
  * only matters for very long-lived queries with tiny state, exactly the
  * regime where it costs nothing anyway.
  *
  * The `file:` scheme is remapped (`sources/LocalFs.scala`) because
  * Hadoop's local filesystem, on a host without `libhadoop`, forks a
  * `chmod` process for every file it creates and every directory it
  * makes, and a `readlink` process for every FileContext link-status
  * check; a streaming checkpoint (offset and commit logs, state-store
  * deltas, metadata) is a stream of exactly those calls. A JFR recording
  * of `graft.Bench` running `q_stream_dedup` 16 times at sf0.001 counted
  * 6,677 `jdk.ProcessStart` events with the stock classes (5,120
  * `readlink`, 1,536 `chmod`: about 417 per execution) and 20 with the
  * remapped ones (18 of them Spark's own `rm -rf` on recursive deletes).
  * The remapped classes make the same system calls through
  * `java.nio.file`: permission bits, `.crc` checksums and atomic rename
  * are unchanged, and HDFS/S3 paths are not touched.
  */
object Tuning {

  val clusterDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (256L * 1024 * 1024).toString,
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Parquet timestamps without the UTC-adjusted flag must read as
    // instants (TIMESTAMP_LTZ in the UTC session above), not NTZ —
    // `unix_micros`/`to_utc_timestamp` arithmetic requires instants, and
    // the DuckDB oracle reads the same files as naive-in-UTC values.
    // Spark 4's NTZ inference would otherwise flip the whole events
    // table's type with the writer's metadata whims.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // The local `file:` scheme without a process fork per chmod/readlink
    // (see the scaladoc above), for both Hadoop filesystem APIs.
    "spark.hadoop.fs.file.impl" -> classOf[sources.ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[sources.ForkFreeLocalFs].getName,
  )

  /** Apply the defaults to a session builder (caller config wins if set
    * after). */
  def withClusterDefaults(b: SparkSession.Builder): SparkSession.Builder =
    clusterDefaults.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Environment variable: cores of the local master (default 4). */
  val CpusEnv = "SPARK_GRAFT_CPUS"

  /** The builder of the one local session Bench, Verify, PlanDump and
    * StreamBench run: the defaults above on `local[$SPARK_GRAFT_CPUS]`,
    * one shuffle partition per core, nanosecond parquet timestamps read as
    * longs, no UI, and the Graft extensions. Callers may add config before
    * `getOrCreate()`. */
  def localSession(env: Map[String, String] = sys.env): SparkSession.Builder = {
    val cpus = ConfValue.positiveInt(CpusEnv, env.getOrElse(CpusEnv, "4"))
    withClusterDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
  }
}
