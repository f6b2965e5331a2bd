package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What one Spark job did, as the listener bus reported it. */
final case class JobRec(id: Int, group: Option[String],
    batchId: Option[Long], queryId: Option[String], start: Double,
    var end: Double = Double.NaN, var stages: Int = 0,
    var taskRunMs: Long = 0, var shuffleBytes: Long = 0,
    var spillBytes: Long = 0, var inputBytes: Long = 0,
    var inputRows: Long = 0)

/** Collects job, stage and streaming-termination events through Spark's
  * public listener interfaces. Every collection is written and read under
  * this object's monitor; `awaitJobs` blocks on the same monitor until the
  * listener bus has delivered the end of every job the status tracker
  * knows for a group, so no reader depends on a sleep. */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val terminated = mutable.Set.empty[String]

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Recorder.this.synchronized {
        terminated += e.runId.toString; Recorder.this.notifyAll()
      }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId").map(_.toLong),
      prop("sql.streaming.queryId"), e.time.toDouble)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid)) {
      j.stages += 1
      val m = info.taskMetrics
      if (m != null) {
        j.taskRunMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Waits until every job of `group` (null: jobs without a group) that
    * the status tracker lists has ended here. */
  def awaitJobs(group: String, timeoutMs: Long = 60000): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!ids.forall(id => jobs.get(id).exists(!_.end.isNaN)) &&
          System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
  }

  /** Waits for the terminated event of a stopped streaming query, so no
    * event of that query is still in flight. */
  def awaitTerminated(runId: String, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!terminated(runId) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
  }

  def jobList: Vector[JobRec] = synchronized(jobs.values.map(_.copy()).toVector)
}
