package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

import graft.sources.LocalFs
import graft.streaming.EventStreams

/** Oracle-checked Structured Streaming: the SAME streaming plans the
  * specs exercise, run end-to-end as a bounded backfill — `readStream`
  * over the events parquet, windowed aggregation, `writeStream` into a
  * memory sink under `Trigger.AvailableNow` (process everything
  * available, then stop: the production backfill/catch-up shape). The
  * result table is handed to the driver's DuckDB gate under the same
  * oracle SQL as the equivalent batch query — streaming == batch becomes
  * a hash-checked correctness row, not only a ScalaTest property.
  *
  * Decimal sums inside the streaming aggregations make results exact and
  * order-independent, so micro-batch boundaries cannot perturb the hash.
  *
  * Scale shape: AvailableNow chunks the backlog into bounded micro-
  * batches (state + watermark semantics identical to a live run); the
  * memory sink here is the verification harness — production uses
  * `EventStreams.writeParquetSink` (checkpointed, exactly-once).
  */
object StreamQueries {

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger

  /** Run a bounded streaming aggregation to completion, return the sink
    * table. Complete mode: every window is emitted at end-of-input (in
    * append mode the windows newer than the final watermark would be
    * withheld — correct for an unbounded run, wrong for a backfill
    * compare). */
  private[graft] def runToMemory(s: SparkSession, df: DataFrame,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val name = s"graft_stream_sink_${sinkCounter.incrementAndGet()}"
    // State-partition knob: a stateful op's partition count is fixed from
    // spark.sql.shuffle.partitions at FIRST start and pays a per-batch
    // per-partition state-store commit. A bounded backfill of one input
    // file doesn't need the full cluster width — graft.stream
    // .statePartitions (or SPARK_GRAFT_STREAM_SHUFFLE) sizes it to the
    // STATE, and a live deployment sizes it up. Scoped set/restore: the
    // fixed count rides the checkpoint, not the session.
    // Default 8: measured 2.6× faster than 32 on the sf0.1 backfills
    // (stream-stream joins 6.9 s → 2.4 s). Each commit writes and renames
    // a handful of checkpoint files per partition; much of that per-file
    // cost was a forked chmod/readlink process per call, which the
    // fork-free `file:` scheme (Tuning, sources/LocalFs) now removes.
    // A live deployment overrides via the conf.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions(s).toString)
    try {
      runAvailableNow("graft_stream_ckpt",
        df.writeStream.format("memory").queryName(name).outputMode(mode))
      s.table(name) // resolves to the sink's rows — keep the plan,
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.catalog.dropTempView(name) // drop the name (repeated runs must not
    } //                               accumulate views in one JVM)
  }

  /** The state-partition count for [[runToMemory]]: the environment
    * override, else the session conf, else 8. A value that is not a
    * positive integer fails naming its key. */
  private[graft] def statePartitions(s: SparkSession,
      env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_STREAM_SHUFFLE")
      .map(graft.ConfValue.positiveInt("SPARK_GRAFT_STREAM_SHUFFLE", _))
      .orElse(s.conf.getOption("graft.stream.statePartitions")
        .map(graft.ConfValue.positiveInt("graft.stream.statePartitions", _)))
      .getOrElse(8)

  /** Run `writer` to completion under `Trigger.AvailableNow`, checkpointed
    * to a fresh temp dir (`prefix*` under java.io.tmpdir). The query is
    * stopped and the dir deleted whether it finishes or throws, so
    * repeated and failed runs leave no checkpoints behind. */
  private def runAvailableNow(prefix: String, writer: DataStreamWriter[Row]): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory(prefix)
    var q: StreamingQuery = null
    try {
      q = writer.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString).start()
      q.awaitTermination()
    } finally {
      if (q != null) q.stop()
      LocalFs.deleteRecursively(ckpt)
    }
  }

  /** The streaming file source wants a DIRECTORY to watch; the fixture
    * events table is a single parquet file — expose it through a temp-dir
    * symlink (no copy; a production events feed is a directory already).
    * One symlink dir per (sfDir), cached — repeated bench runs reuse it. */
  private val srcDirs = new java.util.concurrent.ConcurrentHashMap[String, String]
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    val dir = srcDirs.computeIfAbsent(d, _ => {
      val t = java.nio.file.Files.createTempDirectory("graft_stream_src")
      java.nio.file.Files.createSymbolicLink(t.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet").toAbsolutePath)
      t.toString
    })
    EventStreams.readEventStream(s, dir)
  }

  /** Streaming hourly tumbling windows == batch q_tumbling_hourly. */
  def qStreamTumbling(s: SparkSession, d: String): DataFrame =
    runToMemory(s, EventStreams.hourlyCounts(eventStream(s, d)))

  /** Streaming native session windows == batch q_session_window. */
  def qStreamSessions(s: SparkSession, d: String): DataFrame =
    runToMemory(s, EventStreams.sessionWindows(eventStream(s, d)))

  /** Custom keyed state (flatMapGroupsWithState) run as a backfill: the
    * update-mode sink logs one row per (user, micro-batch); the FINAL
    * state per user is the row with the highest n_events (running counts
    * are strictly increasing). Integer-cents accumulation makes the final
    * state equal the batch decimal sum exactly — see
    * EventStreams.runningUserCents. */
  def qStreamRunning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val totals = EventStreams.runningUserCents(
      eventStream(s, d).as[EventStreams.Event])
    runToMemory(s, totals.toDF(), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("value_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.value_cents").as("value_cents"))
  }

  val qStreamRunningSql: String =
    "SELECT user_id, count(*) AS n_events, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents " +
      "FROM events GROUP BY 1"

  /** Stream-stream inner join run as a backfill: clicks joined to
    * purchases by user within 60 minutes (EventStreams.clickToPurchase —
    * both sides watermarked, the time-bound condition lets Spark expire
    * buffered state). Inner-join results emit as matched, so Append mode
    * yields the complete join at end-of-input; the batch join over the
    * same events IS the oracle. */
  def qStreamJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // horizon-sized watermark (like qStreamDedup): with the default 2 h,
    // a backlog spanning several micro-batches would expire join state
    // between batches and silently drop cross-batch matches the batch
    // oracle returns
    val joined = EventStreams.clickToPurchase(
      eventStream(s, d).filter(col("event_type") === "click"),
      eventStream(s, d).filter(col("event_type") === "purchase"),
      withinMinutes = 60, watermark = "40 days")
    runToMemory(s, joined, OutputMode.Append())
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("purchase_value"))
  }

  /** KV change-feed backfill through the connector's MicroBatchStream:
    * rebuild a dedicated feed table via the DSv2 overwrite path (truncate
    * starts a fresh put log), then stream the log with AvailableNow —
    * the DynamoDB-Streams shape end-to-end: batch write → change feed →
    * streaming read, all through `format("graft-kv")`. The feed replays
    * exactly the rows written (unique keys, one put each), so the batch
    * customer slice is the oracle. */
  def qKvChangefeed(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val table = "kv_feed_gate"
    val src = graft.Tables.customer(s, d)
      .filter(col("c_custkey") <= 40)
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
    graft.sources.kv.KvStore.register(table, "custkey", src.schema)
    src.write.format("graft-kv").option("table", table)
      .mode("overwrite").save()
    val feed = s.readStream.format("graft-kv").option("table", table).load()
    runToMemory(s, feed, OutputMode.Append())
  }

  val qKvChangefeedSql: String =
    "SELECT c_custkey AS custkey, c_name AS name FROM customer WHERE c_custkey <= 40"

  /** Streaming LEFT OUTER interval join backfill. Null-side emission is
    * watermark-gated: an unmatched click emits only once the global
    * watermark (min over both inputs of max-event-time − delay) passes
    * the end of its join window — clicks in the final window+delay of
    * the horizon stay open when the backfill stops, exactly as a live
    * deployment would leave them pending. The batch oracle applies the
    * SAME closure rule, so parity holds without pretending the stream
    * saw the end of time. A 1-minute delay keeps the open tail short;
    * matches are unaffected (the fixture arrives in one micro-batch,
    * and matched rows emit immediately in any case). */
  def qStreamLeftJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickToPurchaseLeft(
      eventStream(s, d).filter(col("event_type") === "click"),
      eventStream(s, d).filter(col("event_type") === "purchase"),
      withinMinutes = 60, watermark = "1 minute")
    runToMemory(s, joined, OutputMode.Append())
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("purchase_value"))
  }

  val qStreamLeftJoinSql: String =
    "WITH c AS (SELECT * FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT * FROM events WHERE event_type = 'purchase'), " +
      "wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) " +
      "- INTERVAL 1 MINUTE AS w), " +
      "j AS (SELECT c.event_id AS click_id, p.event_id AS purchase_id, " +
      "c.user_id AS user_id, p.value AS purchase_value, c.ts AS click_ts " +
      "FROM c LEFT JOIN p ON c.user_id = p.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE) " +
      "SELECT click_id, purchase_id, user_id, purchase_value FROM j, wm " +
      "WHERE purchase_id IS NOT NULL OR click_ts + INTERVAL 60 MINUTE < w"

  /** Chained stateful aggregation backfill: hourly → daily rollup in one
    * streaming query (two window aggregates, append mode). A day emits
    * once the final watermark passes its end — the oracle applies the
    * same closure rule, and closed days contain only closed hours, so
    * their totals equal the batch rollup exactly. */
  /** Streaming per-window top-3 leaderboard (EventStreams.hourlyTopK,
    * custom keyed ranking state). Update-mode snapshots log every time a
    * window's counts change; the FINAL snapshot per bucket is the one
    * whose `w_total` marker is highest (strictly increasing), exactly the
    * qStreamRunning last-write-wins discipline. The batch hourly rank is
    * the oracle. */
  def qStreamTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ranked = EventStreams.hourlyTopK(eventStream(s, d), k = 3)
    val sink = runToMemory(s, ranked.toDF(), OutputMode.Update())
    // fresh aliases on the max side: the memory-sink view self-join would
    // otherwise carry identical attribute ids on both inputs
    val last = sink.select(col("bucket").as("b2"), col("w_total").as("t2"))
      .groupBy(col("b2")).agg(max(col("t2")).as("t2"))
    sink.join(last, col("bucket") === col("b2") && col("w_total") === col("t2"))
      .select(col("bucket"), col("event_type"), col("n"))
  }

  val qStreamTopkSql: String =
    "WITH c AS (SELECT date_trunc('hour', ts) AS bucket, event_type, " +
      "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
      "r AS (SELECT bucket, event_type, n, row_number() OVER " +
      "(PARTITION BY bucket ORDER BY n DESC, event_type) AS rk FROM c) " +
      "SELECT bucket, event_type, n FROM r WHERE rk <= 3"

  def qStreamChain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    runToMemory(s,
      EventStreams.hourlyThenDaily(eventStream(s, d), watermark = "1 minute"),
      OutputMode.Append())
  }

  val qStreamChainSql: String =
    "WITH wm AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events) " +
      "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, " +
      "CAST(count(*) AS BIGINT) AS n_events, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
      "FROM events, wm " +
      "WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w " +
      "GROUP BY 1"

  /** FULL OUTER stream-stream interval join backfill — the remaining
    * join verb (inner: q_stream_join, left: q_stream_left_join). The
    * oracle gates each null side on the final global watermark exactly
    * as the streaming runtime does: unmatched clicks need the watermark
    * past click_ts + 60 min, unmatched purchases past purchase_ts (the
    * latest click time their window admits). */
  def qStreamFullJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickToPurchaseFull(
      eventStream(s, d).filter(col("event_type") === "click"),
      eventStream(s, d).filter(col("event_type") === "purchase"),
      withinMinutes = 60, watermark = "1 minute")
    runToMemory(s, joined, OutputMode.Append())
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("purchase_value"))
  }

  val qStreamFullJoinSql: String =
    "WITH c AS (SELECT * FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT * FROM events WHERE event_type = 'purchase'), " +
      "wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) " +
      "- INTERVAL 1 MINUTE AS w) " +
      "SELECT c.event_id AS click_id, p.event_id AS purchase_id, " +
      "c.user_id AS user_id, p.value AS purchase_value " +
      "FROM c JOIN p ON c.user_id = p.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE " +
      "UNION ALL " +
      "SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id, CAST(NULL AS DOUBLE) " +
      "FROM c, wm WHERE c.ts + INTERVAL 60 MINUTE < w AND NOT EXISTS (" +
      "SELECT 1 FROM p WHERE p.user_id = c.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE) " +
      "UNION ALL " +
      "SELECT CAST(NULL AS BIGINT), p.event_id, p.user_id, p.value " +
      "FROM p, wm WHERE p.ts < w AND NOT EXISTS (" +
      "SELECT 1 FROM c WHERE c.user_id = p.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE)"

  /** RIGHT OUTER stream-stream interval join backfill — with inner,
    * left, and full above this completes the verb set. Unmatched
    * purchases are watermark-gated on purchase_ts itself (the latest
    * admissible click time for their window); matched rows emit
    * immediately. The oracle applies the identical closure rule. */
  def qStreamRightJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickToPurchaseRight(
      eventStream(s, d).filter(col("event_type") === "click"),
      eventStream(s, d).filter(col("event_type") === "purchase"),
      withinMinutes = 60, watermark = "1 minute")
    runToMemory(s, joined, OutputMode.Append())
      .select(col("click_id"), col("purchase_id"),
        col("p_user").as("user_id"), col("purchase_value"))
  }

  val qStreamRightJoinSql: String =
    "WITH c AS (SELECT * FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT * FROM events WHERE event_type = 'purchase'), " +
      "wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) " +
      "- INTERVAL 1 MINUTE AS w) " +
      "SELECT c.event_id AS click_id, p.event_id AS purchase_id, " +
      "p.user_id AS user_id, p.value AS purchase_value " +
      "FROM c JOIN p ON c.user_id = p.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE " +
      "UNION ALL " +
      "SELECT CAST(NULL AS BIGINT), p.event_id, p.user_id, p.value " +
      "FROM p, wm WHERE p.ts < w AND NOT EXISTS (" +
      "SELECT 1 FROM c WHERE c.user_id = p.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE)"

  val qStreamJoinSql: String =
    "SELECT c.event_id AS click_id, p.event_id AS purchase_id, " +
      "c.user_id AS user_id, p.value AS purchase_value " +
      "FROM events c JOIN events p ON c.user_id = p.user_id " +
      "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE"

  /** Streaming LEFT SEMI interval join backfill: each converted click
    * exactly once, left columns only — the streaming `WHERE EXISTS`.
    * Matched emission needs no watermark gating (a semi row emits when
    * its first matching purchase arrives), so the horizon-sized
    * watermark only keeps cross-batch state alive, as in the inner
    * join. */
  def qStreamSemiJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickToPurchaseSemi(
      eventStream(s, d).filter(col("event_type") === "click"),
      eventStream(s, d).filter(col("event_type") === "purchase"),
      withinMinutes = 60, watermark = "40 days")
    runToMemory(s, joined, OutputMode.Append())
      .select(col("click_id"), col("c_user").as("user_id"))
  }

  val qStreamSemiJoinSql: String =
    "SELECT c.event_id AS click_id, c.user_id AS user_id " +
      "FROM events c WHERE c.event_type = 'click' AND EXISTS (" +
      "SELECT 1 FROM events p WHERE p.event_type = 'purchase' " +
      "AND p.user_id = c.user_id " +
      "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE)"

  /** Streaming exact dedup (dropDuplicatesWithinWatermark) run as a
    * backfill: one row per distinct (user, event_type) key. Only the KEY
    * columns are emitted — which concrete row wins the first-seen race
    * is micro-batch-order-dependent, the key set is not. The watermark
    * is set beyond the fixture's 30-day span so no dedup state expires
    * mid-backfill and the result is exactly DISTINCT; a live deployment
    * uses a horizon-sized watermark to bound state and catches
    * horizon-crossing duplicates in the downstream batch dedup
    * (q_dedup_exact) — the standard lambda split, documented at
    * EventStreams.dedupStream. */
  def qStreamDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    runToMemory(s,
      EventStreams.dedupStream(eventStream(s, d),
          Seq("user_id", "event_type"), watermark = "40 days")
        .select(col("user_id"), col("event_type")),
      OutputMode.Append())
  }

  val qStreamDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Streaming CDC apply: the event stream upserted into the KV store
    * through foreachBatch — inside each micro-batch the rows reduce to
    * the LATEST row per key (max_by on (ts, event_id)), then flow through
    * the DSv2 sink whose append mode is last-write-wins puts.
    * AvailableNow processes micro-batches in arrival order, so the final
    * store state is the global latest per key: the standard streaming
    * merge (dedupe within batch, upsert across batches — the streaming
    * twin of the batch q_upsert_merge). The timestamp rides as epoch
    * micros so the store round-trip is integer-exact. Oracle = batch
    * argmax per key. Scale: per batch one partial-agg shuffle of keys,
    * and the store receives one put per key per batch, not per event. */
  def qStreamUpsert(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val table = "kv_user_latest"
    applyLatestPerUser(s, eventStream(s, d), table)
    s.read.format("graft-kv").option("table", table).load()
  }

  /** Run the upsert-apply stream to completion against `table` —
    * factored out so the spec can drive it from a MemoryStream with
    * controlled micro-batch boundaries. */
  def applyLatestPerUser(s: SparkSession, stream: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions._
    def latestPerKey(batch: DataFrame): DataFrame = batch
      .groupBy(col("user_id"))
      .agg(max(struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts_us").as("last_ts_us"),
        col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"), col("m.value").as("last_value"))
    graft.sources.kv.KvStore.register(table, "user_id",
      latestPerKey(s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)).schema)
    runAvailableNow("graft_upsert_ckpt",
      stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        latestPerKey(batch).write.format("graft-kv")
          .option("table", table).mode("append").save()
      })
  }

  val qStreamUpsertSql: String =
    "WITH ranked AS (SELECT user_id, epoch_us(ts) AS last_ts_us, " +
      "event_id AS last_event_id, event_type AS last_type, value AS last_value, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk " +
      "FROM events) " +
      "SELECT user_id, last_ts_us, last_event_id, last_type, last_value " +
      "FROM ranked WHERE rk = 1"

  /** Stream-static enrichment join run as a backfill: the event stream
    * LEFT-joined to the customer dimension (EventStreams.enrich — the
    * static side is a plain DataFrame Spark re-reads per micro-batch and
    * broadcasts, the production pattern for slowly-refreshed dims), then
    * aggregated per (segment, event type). The left join keeps events
    * whose user has no dimension row — the same rows the batch LEFT JOIN
    * oracle produces. Decimal sums make the aggregation exact across
    * micro-batch boundaries. */
  def qStreamEnrich(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = EventStreams.enrich(
      eventStream(s, d), dim, "user_id", "c_custkey")
    runToMemory(s, enriched
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("sum_value")))
  }

  val qStreamEnrichSql: String =
    "SELECT c_mktsegment, event_type, count(*) AS n_events, " +
      s"${Relational.sqlDsum("value")} AS sum_value " +
      "FROM events LEFT JOIN customer ON user_id = c_custkey " +
      "GROUP BY 1, 2"

  /** Streaming hopping (sliding) windows == batch q_sliding_window: each
    * event lands in 4 overlapping hour windows hopping every 15 minutes —
    * overlapping-window state multiplies by the overlap factor (4×),
    * which is the production sizing concern this plan carries. The
    * watermark mirrors the production (Append-mode) plan but is inert
    * under this backfill's Complete mode, where every window re-emits at
    * end-of-input — what the oracle checks is the window assignment and
    * aggregation, not state expiry (StreamingSpec's watermark test covers
    * lateness semantics). */
  def qStreamSliding(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    runToMemory(s,
      eventStream(s, d)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n")))
  }

  /** Streaming SCD2 / attribute history == batch q_attr_history: the
    * custom keyed state (EventStreams.attrHistory) emits closed version
    * rows once and re-emits the open version per touching micro-batch;
    * the assembly keeps, per (user, version), the closed row when one
    * exists (max over the has-valid_to struct — closed rows are unique,
    * open re-emissions identical), then derives is_current — exactly
    * the batch builder's output, so qAttrHistorySql is the oracle. */
  def qStreamScd(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val versions = graft.streaming.EventStreams.attrHistory(
      eventStream(s, d).as[EventStreams.Event])
    runToMemory(s, versions.toDF(), OutputMode.Update())
      .groupBy(col("user_id"), col("version_no"))
      .agg(max(struct(col("valid_to").isNotNull.as("closed"),
        col("valid_to"), col("event_type"), col("valid_from"))).as("m"))
      .select(col("user_id"), col("m.event_type").as("event_type"),
        col("m.valid_from").as("valid_from"), col("m.valid_to").as("valid_to"),
        col("version_no"), col("m.valid_to").isNull.as("is_current"))
  }

  /** Each stream form replays its batch twin's oracle: same ground truth
    * as the batch forms — that is the point. */
  val queries: Seq[(String, Query)] = Seq(
    "q_stream_scd"        -> Query(qStreamScd, LakehouseQueries.qAttrHistorySql),
    "q_stream_upsert"     -> Query(qStreamUpsert, qStreamUpsertSql),
    "q_stream_enrich"     -> Query(qStreamEnrich, qStreamEnrichSql),
    "q_stream_sliding"    -> Query(qStreamSliding, EventQueries.qSlidingWindowSql),
    "q_stream_dedup"      -> Query(qStreamDedup, qStreamDedupSql),
    "q_stream_tumbling"   -> Query(qStreamTumbling, EventQueries.qTumblingHourlySql),
    "q_stream_sessions"   -> Query(qStreamSessions, EventQueries.qSessionWindowSql),
    "q_stream_running"    -> Query(qStreamRunning, qStreamRunningSql),
    "q_stream_join"       -> Query(qStreamJoin, qStreamJoinSql),
    "q_stream_semi_join"  -> Query(qStreamSemiJoin, qStreamSemiJoinSql),
    "q_stream_left_join"  -> Query(qStreamLeftJoin, qStreamLeftJoinSql),
    "q_stream_full_join"  -> Query(qStreamFullJoin, qStreamFullJoinSql),
    "q_stream_right_join" -> Query(qStreamRightJoin, qStreamRightJoinSql),
    "q_stream_chain"      -> Query(qStreamChain, qStreamChainSql),
    "q_stream_topk"       -> Query(qStreamTopk, qStreamTopkSql),
    "q_kv_changefeed"     -> Query(qKvChangefeed, qKvChangefeedSql),
  )
}
