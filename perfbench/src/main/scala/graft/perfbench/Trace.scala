package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one benchmark JVM: spans the harness opens around
  * its calls into the program, plus per-job and per-stage counts from a
  * SparkListener. Nothing is written until [[Json.result]] renders it at
  * exit. Times are epoch milliseconds so they line up with the listener's
  * event timestamps. */
final class Trace(val runId: String) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  /** Jobs are attached to spans afterwards, by job start time: listener
    * events arrive on another thread, after the span may have closed. */
  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.length + 1, if (stack.isEmpty) 0 else stack.top.id,
        name, System.currentTimeMillis(), -1L)
      spans += sp; stack.push(sp); sp
    }
    try body
    finally synchronized { s.end = System.currentTimeMillis(); stack.pop(); () }
  }

  def spanRows: Seq[Span] = synchronized(spans.toList)

  // ---- listener side (called on the listener-bus thread)

  final class JobRec(val id: Int, val start: Long,
      val group: String, val site: String) {
    @volatile var end: Long = -1L
  }
  final class StageRec(val id: Int, val job: Int) {
    var tasks = 0; var failed = 0
    var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var result = 0L; var input = 0L
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id → call-site long form captured on the calling
    * thread; jobs of broadcast and AQE threads inherit the execution id
    * but not the caller's stack. */
  private val execSite = new ConcurrentHashMap[String, String]()
  /** streaming run id → start time from the query-started event; the
    * query's jobs carry the run id as their job group. */
  val queryStarts = new ConcurrentHashMap[String, Long]()

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId.toString, s.description + "\n" + s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val execId = prop("spark.sql.execution.id")
      val result = e.stageInfos.maxByOption(_.stageId)
      val stageSite = result.map(si => si.name + "\n" + si.details).getOrElse("")
      val site = Option(execSite.get(execId)).getOrElse(stageSite)
      e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
      jobs.put(e.jobId,
        new JobRec(e.jobId, e.time, prop("spark.jobGroup.id"), site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val st = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new StageRec(e.stageId, job))
      st.synchronized {
        st.tasks += 1
        if (e.reason != org.apache.spark.Success) st.failed += 1
        Option(e.taskMetrics).foreach { m =>
          st.runMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.result += m.resultSize
          st.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      queryStarts.put(e.runId.toString, java.time.Instant.parse(e.timestamp).toEpochMilli); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def jobRows: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageRows: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(s => (s.id, s.job))
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)
}
