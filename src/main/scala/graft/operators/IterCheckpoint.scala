package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Per-round materialization for the iterative family (PageRank, HITS,
  * TextRank, connected and strongly connected components, BFS/SSSP,
  * closeness and betweenness, k-core, k-truss, label propagation and
  * Louvain/Leiden), and the one materialization of each [[Graph]].
  *
  * Default: eager `localCheckpoint` — blocks live on executor local disk/
  * memory, which is the fastest way to truncate a growing iterative
  * lineage, but those blocks DIE WITH THE EXECUTOR. On a real cluster a
  * lost executor mid-iteration would need the whole computation restarted.
  *
  * Opt-in durability: set `graft.iter.checkpointDir` (session conf) to a
  * reliable path (HDFS/S3) and every round checkpoints there via Spark's
  * reliable `checkpoint()` instead — executor loss then recovers from the
  * checkpoint files, at the cost of a write per round. Unset (the local
  * test default) the behavior and plans are byte-identical to before the
  * option existed (IterCheckpointSpec pins both).
  *
  * [[observed]] materializes a frame and reads aggregates over its rows
  * from the same job — the convergence probe of every iterative loop.
  * [[Fixpoint]] is the loop itself: it composes the rounds, checkpoints
  * through here and stops at the fixed point or the cap.
  */
object IterCheckpoint {
  /** Session-conf key; value = reliable checkpoint directory. */
  val ConfKey = "graft.iter.checkpointDir"

  /** Eagerly materialize `df` and truncate its lineage — locally by
    * default, reliably when [[ConfKey]] is set. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    IterRoundExplain.maybeDump(df)
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** A frame materialized by [[measure]] with the row counts its
    * materializing job observed — read synchronously from that job, unlike
    * the block manager's storage info, which fills asynchronously and can
    * read 0 right after the job. */
  final case class Measured(df: DataFrame, rows: Long, nullRows: Long) {
    /** Estimated size: rows × the planner's own per-row estimate for the
      * frame's columns. */
    def bytes: BigInt =
      BigInt(rows) * EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output)

    /** True when the frame fits one advisory partition
      * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), i.e. AQE would
      * give it a single task anyway — the gate for finishing a fixpoint in
      * one in-memory task. No knob of its own, and independent of cluster
      * size. */
    def fitsOnePartition: Boolean =
      bytes <= df.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  /** Materialize `df` through [[apply]] (so the reliable conf applies) and
    * count its rows, and the rows holding any null, in the same job. */
  def measure(df: DataFrame): Measured = {
    val anyNull = df.columns
      .map(c => col("`" + c.replace("`", "``") + "`").isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val (ck, m) = observed(df,
      count(lit(1)).as("rows"), count(when(anyNull, 1)).as("null_rows"))
    Measured(ck, m.getAs[Long]("rows"), m.getAs[Long]("null_rows"))
  }

  /** Materialize `df` through [[apply]] and read `metrics` — aggregates
    * over its rows, observed by the materializing job itself, so a probe
    * costs no action of its own. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = new Observation()
    val ck = apply(df.observe(obs, metrics.head, metrics.tail: _*))
    (ck, Await.result(obs.future, Duration.Inf))
  }

  /** Prepare a LOOP-INVARIANT frame for per-round joins on `keys`:
    * materialize it once, then cache (and eagerly fill) a copy
    * hash-partitioned by `keys` at a SIZE-DERIVED width. Cached that way,
    * every round's join reuses the layout and only the per-round
    * (label/frontier) side ever shuffles — the invariant-sized exchange
    * or rebroadcast the naive plan pays per round is gone (guide §2.4).
    * The caller unpersists the returned frame when the loop is done. */
  def keyedForReuse(df: DataFrame, keys: Column*): DataFrame = {
    // Materialize first: AQE coalesces the frame to its advisory
    // partition size, and that MEASURED count — not the static
    // spark.sql.shuffle.partitions — becomes the keyed width. A handful
    // of partitions on a toy graph (a pinned-width spelling measured
    // q_bfs +23% / q_closeness +37% at sf0.1 purely from dozens of
    // per-round stages fanning out to near-empty tasks), bytes /
    // advisoryPartitionSizeInBytes at 100 TB. The explicit width also
    // keeps AQE from re-coalescing the cache build, so the cached layout
    // is an exact HashPartitioning(keys, n) the planner lines every
    // round's join up against. Persist, never localCheckpoint, for the
    // keyed copy: the checkpoint rebuild reports UnknownPartitioning
    // under AQE (measured on 4.1.2 — every consumer would re-exchange),
    // while InMemoryTableScan preserves the cached plan's partitioning
    // exactly.
    //
    // The scratch copy is materialized through [[measure]], so under the
    // durability conf it is a reliable checkpoint like every round: the
    // keyed cache is rebuilt from it after an executor loss, and a
    // released scratch (see below) only drops blocks the checkpoint files
    // back. An input that is already a materialized RDD scan (an
    // iterCheckpoint'd frame, possibly under projections) skips the
    // scratch copy entirely — its partition count is already the
    // AQE-coalesced one.
    if (materializedScan(df.queryExecution.analyzed)) {
      IterRoundExplain.maybeDump(df)
      keyedCopy(df, keys: _*)
    } else keyedForReuse(measure(df), keys: _*)
  }

  /** [[keyedForReuse]] over a frame [[measure]] materialized for this
    * call alone (under the durability conf), which therefore acts as the
    * scratch copy. */
  def keyedForReuse(scratch: Measured, keys: Column*): DataFrame = {
    val keyed = keyedCopy(scratch.df, keys: _*)
    // Scratch release is SIZE-GATED: below the threshold the cache fills
    // lazily on the first consumer (r17 behavior — an extra eager fill
    // job measured +8-13% on the sf0.1 graph family, pure action latency
    // on MB-sized caches) and the scratch copy lingers until GC,
    // harmless at that size. At or above it — the 100 TB regime, where a
    // second E-sized resident copy is real memory — fill the cache now
    // and drop the scratch immediately; the one extra job is amortized
    // by the frame size that triggered it.
    if (scratch.bytes >= releaseThreshold(scratch.df)) {
      keyed.count()
      releaseMaterialized(scratch.df)
    }
    keyed
  }

  /** Session-conf override for the scratch-release gate (bytes). */
  val ReleaseBytesKey = "graft.iter.keyedScratchReleaseBytes"
  private val ReleaseBytesDefault = 512L * 1024 * 1024

  private def releaseThreshold(df: DataFrame): Long =
    df.sparkSession.conf.getOption(ReleaseBytesKey)
      .map(graft.ConfValue.nonNegativeLong(ReleaseBytesKey, _))
      .getOrElse(ReleaseBytesDefault)

  /** Keyed copy of an ALREADY-materialized frame (a checkpoint, or a
    * filled cache) at its own partition count: the last step of
    * [[keyedForReuse]], and the second keyed copy of a cached invariant
    * frame on a different key (HITS joins the edge set on opposite
    * endpoints; betweenness's backward phase mirrors the forward copy) —
    * no fresh scratch materialization of the upstream derivation. */
  def keyedCopy(cached: DataFrame, keys: Column*): DataFrame = {
    val n = math.max(1, cached.rdd.getNumPartitions)
    // lazy fill: the first consumer's job repartitions straight off the
    // materialized source
    cached.repartition(n, keys: _*).persist(StorageLevel.MEMORY_AND_DISK)
  }

  @scala.annotation.tailrec
  private def materializedScan(p: LogicalPlan): Boolean = p match {
    case prj: Project     => materializedScan(prj.child)
    case a: SubqueryAlias => materializedScan(a.child)
    case _: LogicalRDD    => true
    case _                => false
  }

  /** Drop the blocks of a materialized scratch frame. Safe here because
    * its only consumer (the keyed cache) is filled at MEMORY_AND_DISK
    * before this is called. A localCheckpoint'd scratch then carries the
    * executor-loss caveat localCheckpoint itself carries (see class doc);
    * a reliably checkpointed one keeps its checkpoint files, which are
    * not blocks. */
  private def releaseMaterialized(ck: DataFrame): Unit =
    ck.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => ()
    }

  /** Postfix spelling so call sites read like the `localCheckpoint` they
    * replace: `frame.iterCheckpoint()`. */
  implicit class IterCheckpointOps(private val df: DataFrame) extends AnyVal {
    def iterCheckpoint(): DataFrame = IterCheckpoint(df)
    def keyedForReuse(keys: Column*): DataFrame =
      IterCheckpoint.keyedForReuse(df, keys: _*)
    def keyedCopy(keys: Column*): DataFrame =
      IterCheckpoint.keyedCopy(df, keys: _*)
  }
}
