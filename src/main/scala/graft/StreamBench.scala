package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.LocalFs
import graft.streaming.{EventStreams, StreamMetrics}

/** Streaming THROUGHPUT bench — the rate evidence behind the 100 TB
  * streaming claim (correctness parity is the 18 oracle-checked
  * `q_stream_*` backfills; this measures rows/s and batch latency).
  *
  * Shape: the fixture's events table is split into `NFiles` time-ordered
  * parquet files in a temp dir; each stateful query streams them under a
  * `Trigger.ProcessingTime(0)` live trigger with `maxFilesPerTrigger`
  * rate-limiting, on the RocksDB state store (the production provider),
  * writing to the noop sink so only source+state+plan cost is measured.
  * Per-batch trigger durations come from the StreamMetrics listener —
  * one progress record per micro-batch, cost independent of volume.
  *
  * Queries: the heaviest custom-keyed-state op (SCD2 attribute history),
  * the per-window top-k leaderboard, and a watermarked stream-stream
  * interval join — the three stateful families with materially different
  * state shapes (record-per-key, map-per-window, buffered-both-sides).
  *
  * Prints ONE JSON line:
  * {"metric":"stream_rows_per_sec", "value":<min over queries>, ...,
  *  "queries":{name:{rows,batches,rows_per_sec,p95_batch_ms}}}
  */
object StreamBench {

  private val NFiles = 32
  // batch-size dial (SPARK_GRAFT_STREAM_FILES_PER_TRIGGER): rows/s rises
  // with batch size as the fixed per-batch state-commit cost amortizes —
  // measure at 4 (default, 8 batches) and 16 (2 batches) to see the curve
  private val FilesPerTrigger =
    ConfValue.positiveInt("SPARK_GRAFT_STREAM_FILES_PER_TRIGGER",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES_PER_TRIGGER", "4"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stateParts = ConfValue.positiveInt("SPARK_GRAFT_STREAM_SHUFFLE",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
    // checkpoint-mode dial (SPARK_GRAFT_STREAM_CHANGELOG=true): RocksDB
    // changelog checkpointing commits per-batch delta files instead of
    // full snapshot uploads — the large-state deployment default, whose
    // commit cost stops scaling with state size. StreamingSpec pins the
    // two modes result- and metering-identical; this dial measures the
    // RATE side of the trade on the same three stateful families.
    val changelog = ConfValue.boolean("SPARK_GRAFT_STREAM_CHANGELOG",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_CHANGELOG", "false"))
    val spark = Tuning.localSession()
      .config("spark.sql.shuffle.partitions", stateParts.toLong)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", changelog.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // time-ordered multi-file source: range-partitioned by (ts, event_id)
    // so file path order tracks event time (the file source breaks mtime
    // ties by path) — the live-feed shape the backfills symlink away
    val srcDir = java.nio.file.Files.createTempDirectory("graft_streambench")
    Tables.events(spark, sfDir)
      .repartitionByRange(NFiles, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(srcDir.toString)

    def stream(): DataFrame = EventStreams.readEventStream(
      spark, srcDir.toString, maxFilesPerTrigger = Some(FilesPerTrigger))

    def measure(name: String, plan: DataFrame, mode: OutputMode): StreamMetrics.QueryStats = {
      val metrics = StreamMetrics.attach(spark)
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_sb_ckpt_$name")
      val q = plan.writeStream.format("noop").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", ckpt.toString)
        .start()
      try { q.processAllAvailable() } finally { q.stop(); q.awaitTermination() }
      // listener events ride an ASYNC bus: the final micro-batch's
      // progress (or, on a fast run, all of them) may not be delivered
      // yet when stop() returns. The bus is ordered, so the terminate
      // event — posted after every progress event — doubles as the
      // all-progress-delivered barrier: poll for it before reading.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!metrics.statsFor(name).exists(_.terminated) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      spark.streams.removeListener(metrics)
      val st = metrics.statsFor(name)
        .getOrElse(sys.error(s"no progress recorded for $name"))
      require(st.terminated, s"listener bus never delivered $name's " +
        "terminate event within 30 s — stats would be partial")
      Try(LocalFs.deleteRecursively(ckpt)) // best effort
      st
    }

    // wide-state dial (SPARK_GRAFT_STREAM_PAD_BYTES=N): carry an N-byte
    // deterministic payload through BOTH buffered sides of the interval
    // join (wide rows survive pruning because they ride the output), so
    // RocksDB state reaches the GB scale where changelog vs snapshot
    // checkpointing can actually diverge — at the default narrow rows the
    // two modes measure at parity (BENCH_STREAM_SF3_r15) because
    // tens-of-MB snapshots never bottleneck the commit. This is the
    // "join full event payloads" production profile, not an artificial
    // shape. When set, only the wide join runs.
    val padBytes = Math.toIntExact(ConfValue.nonNegativeLong("SPARK_GRAFT_STREAM_PAD_BYTES",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PAD_BYTES", "0")))
    // pad = CONCATENATED DISTINCT md5 blocks, not one block repeated:
    // RocksDB block compression flattens repetitive payloads ~8x, which
    // silently shrinks the on-disk state the dial exists to grow. The
    // concat is truncated to EXACTLY padBytes so the per-side payload is
    // the length the JSON contract line reports (the untrimmed ceil-block
    // concat ran up to 31 bytes over what pad_bytes claimed).
    def padded(df: DataFrame, side: String): DataFrame =
      df.withColumn("pad", substring(concat_ws("", transform(
        sequence(lit(1), lit((padBytes + 31) / 32)),
        i => md5(concat(col("event_id").cast("string"), lit(side), i)))),
        1, padBytes))

    val wideJoin: (String, () => (DataFrame, OutputMode))  =
      ("join_wide", () => {
        val wm = "40 days"
        val c = padded(stream().filter(col("event_type") === "click"), "c")
          .withWatermark("ts", wm)
          .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
            col("event_id").as("click_id"), col("pad").as("c_pad"))
        val p = padded(stream().filter(col("event_type") === "purchase"), "p")
          .withWatermark("ts", wm)
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"), col("pad").as("p_pad"))
        (c.join(p,
          col("c_user") === col("p_user") &&
            col("click_ts") <= col("purchase_ts") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 60 MINUTES"),
          "inner")
          .select(col("c_user"), col("click_id"), col("purchase_id"),
            (length(col("c_pad")) + length(col("p_pad"))).as("pad_len")),
          OutputMode.Append())
      })

    val runs: Seq[(String, () => (DataFrame, OutputMode))] =
      if (padBytes > 0) Seq(wideJoin)
      else Seq(
        ("scd", () => (EventStreams.attrHistory(
          stream().as[EventStreams.Event]).toDF(), OutputMode.Update())),
        ("topk", () => (EventStreams.hourlyTopK(stream(), 3).toDF(),
          OutputMode.Update())),
        ("join", () => {
          val s1 = stream().filter(col("event_type") === "click")
          val s2 = stream().filter(col("event_type") === "purchase")
          (EventStreams.clickToPurchase(s1, s2,
            withinMinutes = 60, watermark = "40 days"), OutputMode.Append())
        }))

    val results = runs.map { case (name, mk) =>
      val (plan, mode) = mk()
      val st = measure(name, plan, mode)
      (name, st)
    }
    def r1(v: Double) = math.rint(v * 10) / 10
    val qjson = results.map { case (n, st) =>
      s""""$n":{"rows":${st.inputRows},"batches":${st.nBatches},""" +
        s""""rows_per_sec":${r1(st.rowsPerSec)},"p95_batch_ms":${st.p95BatchMs},""" +
        s""""state_rows":${st.stateRows},"state_mb":${r1(st.stateBytes / 1e6)},""" +
        s""""peak_state_rows":${st.peakStateRows},""" +
        s""""peak_state_mb":${r1(st.peakStateBytes / 1e6)}}"""
    }.mkString("{", ",", "}")
    val headline = r1(results.map(_._2.rowsPerSec).min)
    println(s"""{"metric":"stream_rows_per_sec","value":$headline,""" +
      s""""unit":"rows/s","sf":"$sfDir","state_store":"rocksdb",""" +
      s""""changelog_checkpointing":$changelog,"pad_bytes":$padBytes,""" +
      s""""files_per_trigger":$FilesPerTrigger,"queries":$qjson}""")
    spark.stop()
    Try(LocalFs.deleteRecursively(srcDir)) // best effort: multi-MB /tmp litter otherwise
  }
}
