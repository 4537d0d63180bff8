package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the times Spark's listener events carry. */
object Clock {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Listeners for the traced run: Spark jobs and stages, query planning
  * phases and streaming progress, recorded raw in memory and attributed to
  * operations afterwards (by job group, else by time window). Every event
  * is recorded: the listener bus delivers events after they happen, so
  * switching recording on and off per operation would drop late events of
  * one operation and admit late events of another. */
final class Trace(spark: SparkSession) {
  private final class StageAgg {
    var job = -1
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var inputBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
  }

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sentinelJobs = mutable.Set.empty[Int]
  @volatile private var sentinelSeen = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group == "pb:sentinel") sentinelJobs += e.jobId
      else {
        jobStart(e.jobId) = (e.time.toDouble, group, e.stageIds)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId) match {
        case Some((t0, group, stageIds)) =>
          val ok = e.jobResult == JobSucceeded
          jobs.add(Map("job" -> e.jobId, "group" -> group, "start_ms" -> t0,
            "end_ms" -> e.time.toDouble, "ok" -> ok,
            "stages" -> stageIds.flatMap(s => stages.get(s).filter(_.job == e.jobId)
              .map(a => Map("stage" -> s, "tasks" -> a.tasks,
                "failed_tasks" -> a.failedTasks, "task_ms" -> a.taskMs,
                "input_bytes" -> a.inputBytes, "shuffle_write" -> a.shuffleWrite,
                "shuffle_read" -> a.shuffleRead, "fetch_wait_ms" -> a.fetchWaitMs,
                "spill_bytes" -> a.spillBytes)))))
          stageIds.foreach { s => if (stageJob.get(s).contains(e.jobId)) stages.remove(s) }
        case None =>
          if (sentinelJobs.remove(e.jobId)) sentinelSeen = true
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val a = stages.getOrElseUpdate(e.stageId, { val n = new StageAgg; n.job = j; n })
        a.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      queries.add(Map("func" -> func, "duration_ms" -> ns / 1e6, "ok" -> ok,
        "end_ms" -> Clock.nowMs, "phases" -> phases))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ns, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, 0L, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress.add(Map("ts_ms" -> ts, "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted before this call has been delivered:
    * a tiny tagged job is submitted and its end observed, and listener
    * queues deliver in order. */
  def drain(timeoutMs: Long = 10000): Unit = {
    sentinelSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup("pb:sentinel", "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // streaming progress and planning events travel on their own queues
    Thread.sleep(200)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "queries" -> queries.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}
