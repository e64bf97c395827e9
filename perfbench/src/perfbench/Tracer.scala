package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfBenchPhases, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener-side half of the traced run. The harness tags every job and SQL
  * execution it causes with `pb|<query>|<phase>` (a Spark job tag, which
  * threads started by the query inherit), so each job, stage, task, SQL
  * execution and AQE update is attributed to the query and phase that was
  * open when it started. Everything is kept in memory; the harness reads it
  * after draining the listener bus at the end of each query.
  */
final class Tracer extends SparkListener {
  import Tracer._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val execs = mutable.LinkedHashMap[Long, Exec]()
  val counters = mutable.Map[(String, String), Counters]()
  val streams = mutable.Map[String, Stream]()
  @volatile var currentQuery: String = ""
  private val stageLabel = mutable.Map[Int, Label]()

  private def counter(l: Label) = counters.getOrElseUpdate((l.query, l.phase), new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.tags"))).getOrElse(""))
    jobs(e.jobId) = Job(e.jobId, label, e.time, e.stageIds)
    e.stageIds.foreach(stageLabel.getOrElseUpdate(_, label))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val job = jobs.values.find(_.stageIds.contains(i.stageId)).map(_.id).getOrElse(-1)
    stages(i.stageId) = Stage(i.stageId, job, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
    counter(stageLabel.getOrElse(i.stageId, Unlabelled)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counter(stageLabel.getOrElse(e.stageId, Unlabelled))
    c.tasks += 1
    c.busyMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.gcMs += m.jvmGCTime
      c.resultBytes += m.resultSize
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId,
          labelOf(s.jobTags.mkString(",")), s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach { x =>
          x.endMs = s.time
          x.phases = PerfBenchPhases(s)
        }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        counter(execs.get(u.executionId).map(_.label).getOrElse(Unlabelled)).aqeUpdates += 1
      case _ =>
    }
  }

  /** Streaming progress of the session `s`, attributed to the query the
    * harness is running (streams start and finish inside one query).
    */
  def watchStreams(s: SparkSession): Unit =
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          val st = streams.getOrElseUpdate(currentQuery, new Stream)
          st.triggers += 1
          st.triggerMs += Option(e.progress.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)
          st.commitMs += e.progress.stateOperators.map(_.commitTimeMs).sum
        }
    })

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); execs.clear(); counters.clear(); streams.clear()
    stageLabel.clear()
  }
}

object Tracer {
  final case class Label(query: String, phase: String)
  val Unlabelled = Label("", "")

  def tag(query: String, phase: String): String = s"pb|$query|$phase"

  def labelOf(tags: String): Label =
    tags.split(",").collectFirst {
      case t if t.startsWith("pb|") =>
        val parts = t.split('|')
        Label(parts(1), parts(2))
    }.getOrElse(Unlabelled)

  final case class Job(id: Int, label: Label, startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }
  final case class Stage(id: Int, job: Int, startMs: Long, endMs: Long)
  final case class Exec(id: Long, label: Label, startMs: Long) {
    var endMs: Long = startMs
    var phases: Map[String, (Long, Long)] = Map.empty
  }

  final class Counters {
    var stages, tasks, aqeUpdates = 0L
    var busyMs, gcMs, resultBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var inputBytes, inputRows, outputBytes, outputRows = 0L
  }

  final class Stream {
    var triggers, triggerMs, commitMs = 0L
  }
}
