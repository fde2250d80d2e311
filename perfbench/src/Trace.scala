package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for a traced run. The listeners below feed it
  * from Spark's listener bus; the runner adds pass / query / call / plan /
  * execute spans from the client thread. Times are epoch milliseconds
  * (fractional for the client-side spans). Nothing is written until
  * [[Runner]] renders it at the end of the run.
  *
  * Listener events carry no query id: the load is a closed loop, so a job,
  * a Catalyst execution or a streaming batch belongs to the query whose
  * wall interval holds its start time. The attribution happens offline.
  */
final class Trace {
  /** Traced wall windows [start, end] in epoch ms (end -1 while open).
    * Listener events are delivered late, on the bus thread, so each one is
    * kept or dropped by its own timestamp; outside the windows a callback
    * does nothing but this check. The runner opens a window per traced
    * pass, which is how untraced passes measure the tracing overhead.
    */
  private val windows = mutable.ArrayBuffer.empty[Array[Long]]
  def begin(): Unit = synchronized { windows += Array(System.currentTimeMillis(), -1L) }
  def end(): Unit = synchronized { windows.last(1) = System.currentTimeMillis() }
  private def on(t: Long): Boolean = windows.exists(w => t >= w(0) && (w(1) < 0 || t <= w(1)))

  final class Job(val id: Int, val start: Long, val stages: Seq[Int]) { var end = -1L }
  final class Stage(val id: Int) {
    var start = -1L; var end = -1L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spillDisk = 0L; var spillMem = 0L; var input = 0L
  }
  final case class Phases(start: Long, analysis: Long, optimization: Long, planning: Long)
  final case class Batch(start: Long, durationMs: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val phases = mutable.ArrayBuffer.empty[Phases]
  val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile private var sentinelJob = -1
  @volatile private var sentinelSeen = false

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (e.properties != null && e.properties.getProperty(Trace.SentinelKey) != null)
        sentinelJob = e.jobId
      else if (on(e.time)) jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      if (e.jobId == sentinelJob) sentinelSeen = true
      else jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.start = e.stageInfo.submissionTime.getOrElse(-1L)
        s.end = e.stageInfo.completionTime.getOrElse(-1L)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      if (on(e.stageInfo.submissionTime.getOrElse(0L)))
        stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillDisk += m.diskBytesSpilled
        s.spillMem += m.memoryBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min(_, _))
      if (start != Long.MaxValue) Trace.this.synchronized {
        if (on(start)) phases += Phases(start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Trace.this.synchronized { if (on(start)) batches += Batch(start, p.batchDuration) }
    }
  }

  /** Runs one tagged job and waits until the listener has seen it end:
    * every event posted before it has then been delivered.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    sentinelSeen = false
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.SentinelKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
    // streaming progress and execution events travel on their own queues
    Thread.sleep(300)
  }
}

object Trace {
  val SentinelKey = "perfbench.sentinel"
}
