package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener-side counters for the traced run, attributed to spans.
  *
  * The harness tags every Spark job it causes with the local property
  * [[Meter.SpanKey]] (the id of the innermost open span). Jobs carry the
  * property to their stages and tasks, so each task's metrics land on the
  * span whose code caused it, even though listener events arrive later
  * on the bus thread. Streaming queries started inside a span inherit the
  * property through their execution thread; their progress events are
  * mapped to the span that was open when the query started.
  */
final class Meter extends SparkListener {
  import Meter._

  private val counters = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val streamingStage = mutable.HashSet.empty[Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val querySpan = mutable.HashMap.empty[java.util.UUID, Int]
  @volatile private var events = 0L
  /** Span open on the harness thread; read when a streaming query starts. */
  @volatile var current: Int = NoSpan

  private def add(span: Int, key: String, v: Double): Unit =
    if (span != NoSpan) {
      val c = counters.getOrElseUpdate(span, mutable.HashMap.empty)
      c(key) = c.getOrElse(key, 0.0) + v
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      .getOrElse(NoSpan)
    val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
    e.stageIds.foreach { s =>
      stageSpan(s) = span
      if (streaming) streamingStage += s
    }
    add(span, "jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    val id = e.stageInfo.stageId
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis)
    add(stageSpan.getOrElse(id, NoSpan), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    val span = stageSpan.getOrElse(e.stageId, NoSpan)
    if (m != null && span != NoSpan) {
      add(span, "tasks", 1)
      add(span, "task_s", m.executorRunTime / 1e3)
      add(span, "task_cpu_s", m.executorCpuTime / 1e9)
      add(span, "gc_s", m.jvmGCTime / 1e3)
      stageSubmitMs.get(e.stageId).foreach { t =>
        add(span, "sched_delay_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3)
      }
      add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(span, "input_rows", m.inputMetrics.recordsRead.toDouble)
      add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      if (streamingStage(e.stageId)) {
        add(span, "stream_task_s", m.executorRunTime / 1e3)
        add(span, "stream_task_cpu_s", m.executorCpuTime / 1e9)
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Meter.this.synchronized { events += 1; querySpan(e.id) = current }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized {
        events += 1
        val p = e.progress
        val span = querySpan.getOrElse(p.id, NoSpan)
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        if (p.numInputRows > 0 || p.stateOperators.nonEmpty) add(span, "batches", 1)
        add(span, "add_batch_s", ms("addBatch"))
        add(span, "wal_commit_s", ms("walCommit"))
        add(span, "state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Meter.this.synchronized { events += 1 }
  }

  /** Blocks until no listener event has arrived for two consecutive polls
    * (the bus is asynchronous), at most ten seconds. */
  def drain(): Unit = {
    var prev = -1L
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 100) {
      Thread.sleep(100)
      val cur = events
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      waited += 1
    }
  }

  def of(span: Int): Map[String, Double] = synchronized {
    counters.get(span).map(_.toMap).getOrElse(Map.empty)
  }
}

object Meter {
  val SpanKey = "perfbench.span"
  val NoSpan: Int = -1
}
