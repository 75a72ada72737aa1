package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing: everything here hangs off Spark's public listener
  * interfaces, registered by the benchmark. Nothing in the engine knows it
  * is being traced.
  *
  * Listeners stay registered for the whole traced run and record only
  * while `on` is set, so the benchmark can alternate traced and untraced
  * slices inside one run and measure the tracing overhead.
  *
  * Records are plain maps, kept in memory and written out with the rest
  * of the run's record when the run ends.
  */
final class Trace(tenantOf: SparkSession => String) {
  @volatile var on = false
  /** Incremented on every `on` flip; an op that sees two epochs is
    * neither traced nor untraced and is left out of the comparison. */
  @volatile var epoch = 0

  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageAcc = mutable.Map[Int, mutable.Map[String, Double]]()
  /** The stage that last started computing each RDD: a cached block is
    * written by the stage that computes it first. */
  private val rddStage = mutable.Map[Int, Int]()
  private val blockSizes = mutable.Map[String, Long]()
  var peakStorageBytes = 0L

  def set(traced: Boolean): Unit = { on = traced; epoch += 1 }

  def span(name: String, start: Double, end: Double, attrs: (String, Any)*): Unit =
    if (on) spans.add(Map("name" -> name, "start" -> start, "end" -> end) ++ attrs)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (on) {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(Main.OpProperty)))
        e.stageIds.foreach(stageJob(_) = e.jobId)
        spans.add(Map("name" -> "exec.job.start", "job" -> e.jobId, "start" -> e.time.toDouble,
          "end" -> e.time.toDouble, "op" -> op.getOrElse("")))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (on) spans.add(Map("name" -> "exec.job.end", "job" -> e.jobId,
        "start" -> e.time.toDouble, "end" -> e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.rddInfos.foreach(r => rddStage(r.id) = e.stageInfo.stageId)
    }
    private def acc(stage: Int) =
      stageAcc.getOrElseUpdate(stage, mutable.Map[String, Double]().withDefaultValue(0.0))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (on) {
        val acc = this.acc(e.stageId)
        acc("tasks") += 1
        if (e.reason != org.apache.spark.Success) acc("task_failures") += 1
        Option(e.taskMetrics).foreach { m =>
          acc("task_run_ms") += m.executorRunTime
          acc("task_cpu_ms") += m.executorCpuTime / 1e6
          acc("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          acc("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          acc("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          acc("read_bytes") += m.inputMetrics.bytesRead
          acc("read_rows") += m.inputMetrics.recordsRead
          acc("write_bytes") += m.outputMetrics.bytesWritten
          acc("write_rows") += m.outputMetrics.recordsWritten
          if (m.outputMetrics.bytesWritten > 0) acc("write_tasks") += 1
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val acc = stageAcc.remove(info.stageId).map(_.toMap).getOrElse(Map.empty)
      info.rddInfos.foreach(r => if (rddStage.get(r.id).contains(info.stageId)) rddStage.remove(r.id))
      if (on) spans.add(Map("name" -> "exec.stage", "stage" -> info.stageId,
        "job" -> stageJob.getOrElse(info.stageId, -1),
        "start" -> info.submissionTime.getOrElse(0L).toDouble,
        "end" -> info.completionTime.getOrElse(0L).toDouble,
        "num_tasks" -> info.numTasks) ++ acc)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        if (b.storageLevel.isValid) {
          blockSizes(b.blockId.name) = size
          if (on) b.blockId.asRDDId.flatMap(id => rddStage.get(id.rddId))
            .foreach(stage => acc(stage)("blocks_written") += 1)
        } else blockSizes.remove(b.blockId.name)
        if (on) peakStorageBytes = peakStorageBytes max blockSizes.values.sum
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe, 0L, failed = true)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long, failed: Boolean): Unit =
      if (on) {
        val tenant = tenantOf(qe.sparkSession)
        // a point at the end of planning, where execution starts, so the
        // action links to the op or micro-batch that ran it; its duration
        // is an attribute, not an interval
        val at = qe.tracker.phases.values.map(_.endTimeMs.toDouble).maxOption.getOrElse(0.0)
        spans.add(Map("name" -> "catalyst.action", "func" -> funcName, "tenant" -> tenant,
          "plan" -> qe.logical.nodeName,
          "duration_ms" -> durationNs / 1e6, "failed" -> failed,
          "start" -> at, "end" -> at))
        qe.tracker.phases.foreach { case (phase, s) =>
          spans.add(Map("name" -> s"catalyst.$phase", "tenant" -> tenant,
            "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble))
        }
      }
  }

  /** Streaming progress is always recorded by [[StreamLog]]; this turns
    * the traced part of it into spans. */
  def batchSpan(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = if (on) {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
    val state = p.stateOperators.headOption
    spans.add(Map("name" -> "streaming.batch", "batch" -> p.batchId, "start" -> start,
      "end" -> (start + d.getOrElse("triggerExecution", 0.0)),
      "rows" -> p.numInputRows,
      "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
      "state_mem_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
      "late_rows" -> state.map(_.numRowsDroppedByWatermark).getOrElse(0L)) ++
      d.map { case (k, v) => s"d_$k" -> v })
  }

  def install(spark: SparkSession, sessions: Seq[SparkSession]): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    sessions.distinct.foreach(_.listenerManager.register(queryListener))
  }
}

/** Stream progress as the user sees it: one record per micro-batch, with
  * the wall-clock time the progress event arrived. Always registered in
  * the streaming workload — batch latency is measured from it. */
final class StreamLog(trace: Trace) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Double, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add((Clock.nowMs, e.progress))
    trace.batchSpan(e.progress)
  }
  def dataBatches(query: String): Int =
    progress.asScala.count(p => p._2.name == query && p._2.numInputRows > 0)
}

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as the times Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
