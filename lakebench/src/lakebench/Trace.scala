package lakebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `op` is the id of the
  * root span of the operation the span belongs to (a root span's `op` is
  * its own id); `parent` is 0 for a root. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans held in memory while the benchmark runs. The client is one
  * thread, so the open-span stack needs no locking. While a span is open
  * the benchmark sets two Spark local properties — the span id and its
  * operation id — and [[JobListener]] attributes every job to them.
  * Inactive, [[span]] is a plain call: nothing is recorded or set. */
final class Tracer(sc: SparkContext) {
  @volatile var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption
      val open = Span(id, parent.map(_.id).getOrElse(0), parent.map(_.op).getOrElse(id), name,
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      stack = open :: stack
      setProps(Some(open))
      try body
      finally {
        stack = stack.tail
        setProps(stack.headOption)
        spans += open.copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
      }
    }

  private def setProps(s: Option[Span]): Unit = {
    sc.setLocalProperty(Tracer.SpanKey, s.map(_.id.toString).orNull)
    sc.setLocalProperty(Tracer.OpKey, s.map(_.op.toString).orNull)
  }
}

object Tracer {
  val SpanKey = "lakebench.span"
  val OpKey = "lakebench.op"
}

/** Task metrics summed over the tasks of one stage. */
final class TaskSum {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var bytesRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

final case class JobRec(id: Int, span: Int, op: Int, startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Jobs, stages and tasks of every job started under a benchmark span.
  * Jobs without the span property (set-up, checks, untraced passes) are
  * ignored, and so are their stages and tasks. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stageTasks = mutable.HashMap.empty[Int, TaskSum]
  private val stageExpected = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    for {
      p <- props
      span <- Option(p.getProperty(Tracer.SpanKey))
      op <- Option(p.getProperty(Tracer.OpKey))
    } {
      jobs(e.jobId) = JobRec(e.jobId, span.toInt, op.toInt, e.time, e.stageIds)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageJob.contains(e.stageInfo.stageId))
      stageExpected(e.stageInfo.stageId) = e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val t = stageTasks.getOrElseUpdate(e.stageId, new TaskSum)
      val m = e.taskMetrics
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.bytesRead += m.inputMetrics.bytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Stages of `job` that ran (skipped stages never complete). */
  def ranStages(job: JobRec): Seq[Int] = synchronized {
    job.stages.filter(s => stageJob.get(s).contains(job.id) && stageExpected.contains(s))
  }

  def tasksOf(job: JobRec): Seq[TaskSum] = synchronized {
    ranStages(job).flatMap(stageTasks.get)
  }

  /** Waits until every attributed job has ended and every completed
    * stage's task events have arrived (the listener bus is asynchronous). */
  def drain(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      jobs.values.forall(_.endMs >= 0) &&
        stageExpected.forall { case (s, n) => stageTasks.get(s).exists(_.tasks >= n) }
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
    settled
  }
}
