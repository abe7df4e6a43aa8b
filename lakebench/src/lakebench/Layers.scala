package lakebench

import scala.collection.mutable
import Harness.median

/** Per-layer numbers of one traced run, computed from the spans, the
  * listener's jobs and the per-op notes. Each number is the median over
  * the traced ops that entered the layer (0 when none did); `*.share` is
  * the layer's span self time summed over ops, over the ops' summed wall
  * time. */
final class Layers(ops: Seq[OpRec], spans: Seq[Span], listener: JobListener, cores: Int) {
  import Layers._

  private val traced = ops.filter(o => o.traced && o.rootSpan > 0)
  private val spansByOp = spans.groupBy(_.op)
  private val jobsByOp = listener.jobs.values.toSeq.groupBy(_.op)

  private final case class OpView(op: OpRec, spans: Seq[Span], jobs: Seq[JobRec]) {
    lazy val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
    def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
    def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix))
    /** Jobs opened under any span in `ss` (or their descendants). */
    def jobsUnder(ss: Seq[Span]): Seq[JobRec] = {
      val ids = mutable.HashSet.empty[Int]
      def add(s: Span): Unit = if (ids.add(s.id)) children.getOrElse(s.id, Nil).foreach(add)
      ss.foreach(add)
      jobs.filter(j => ids.contains(j.span))
    }
    def tasks(js: Seq[JobRec]): Seq[TaskSum] = js.flatMap(listener.tasksOf)
  }

  private val views = traced.map(o =>
    OpView(o, spansByOp.getOrElse(o.rootSpan, Nil), jobsByOp.getOrElse(o.rootSpan, Nil)))

  /** Union of the jobs' [start, end] intervals clipped to [lo, hi], ms. */
  private def unionMs(js: Seq[JobRec], lo: Long, hi: Long): Double = {
    val iv = js.map(j => (math.max(j.startMs, lo), math.min(if (j.endMs < 0) hi else j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  private def share(prefix: String): Double = {
    val wall = views.map(_.op.ms).sum
    if (wall <= 0) 0.0 else views.map(v => v.named(prefix).map(v.selfMs).sum).sum / wall
  }

  private def noted(key: String, vs: Seq[OpView] = views): Double =
    median(vs.flatMap(_.op.notes.get(key)))

  def metrics: mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]

    val built = views.filter(_.named("statement.build").nonEmpty)
    m("statement.build_ms") = median(built.map(v => v.named("statement.build").map(_.ms).sum))
    m("statement.build_jobs") =
      median(built.map(v => v.jobsUnder(v.named("statement.build")).size.toDouble))
    val routed = views.filter(_.op.kind == "routed")
    m("statement.zero_exchange_frac") =
      if (routed.isEmpty) 0.0
      else routed.count(_.op.notes.get("exchanges").contains(0.0)).toDouble / routed.size

    val snap = views.filter(_.named("metadata.snapshot").nonEmpty)
    m("metadata.snapshot_ms") = median(snap.map(v => v.named("metadata.snapshot").map(_.ms).sum))
    m("metadata.snapshot_jobs") =
      median(snap.map(v => v.jobsUnder(v.named("metadata.snapshot")).size.toDouble))
    m("metadata.log_entries") = noted("metadata.log_entries")
    m("metadata.files_kept") = noted("metadata.files_kept")
    m("metadata.files_total") = noted("metadata.files_total")
    m("metadata.kept_frac") = median(views.flatMap { v =>
      for {
        k <- v.op.notes.get("metadata.files_kept")
        t <- v.op.notes.get("metadata.files_total") if t > 0
      } yield k / t
    })

    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_ms") = noted(s"catalyst.${p}_ms")
    }
    m("catalyst.graft_rule_ms") = noted("catalyst.graft_rule_ms")

    val jobMs = views.map(v => unionMs(v.jobs, v.op.startMs, v.op.endMs))
    m("sched.jobs") = median(views.map(_.jobs.size.toDouble))
    m("sched.stages") = median(views.map(v => v.jobs.map(listener.ranStages(_).size).sum.toDouble))
    m("sched.tasks") = median(views.map(v => v.tasks(v.jobs).map(_.tasks).sum.toDouble))
    m("sched.job_ms") = median(jobMs)
    m("sched.driver_ms") = median(views.zip(jobMs).map { case (v, j) => math.max(0.0, v.op.ms - j) })

    val ts = views.map(v => v.tasks(v.jobs))
    m("exec.task_ms") = median(ts.map(_.map(_.runMs).sum.toDouble))
    m("exec.cpu_ms") = median(ts.map(_.map(_.cpuNs).sum / 1e6))
    m("exec.bytes_read") = median(ts.map(_.map(_.bytesRead).sum.toDouble))
    m("exec.shuffle_write_bytes") = median(ts.map(_.map(_.shuffleWriteBytes).sum.toDouble))
    m("exec.spill_bytes") = median(ts.map(_.map(_.spillBytes).sum.toDouble))
    m("exec.busy_frac") = median(ts.zip(jobMs).collect {
      case (t, j) if j > 0 => t.map(_.runMs).sum / (j * cores)
    })

    val commits = views.filter(_.op.kind == "commit")
    def commitMetrics(prefix: String, vs: Seq[OpView]): Unit = {
      val cjobs = vs.map(v => v.jobsUnder(v.named("commit.")))
      m(s"$prefix.op_ms") = median(vs.map(_.op.ms))
      m(s"$prefix.jobs") = median(cjobs.map(_.size.toDouble))
      m(s"$prefix.driver_ms") = median(vs.zip(cjobs).map { case (v, js) =>
        math.max(0.0, v.op.ms - unionMs(js, v.op.startMs, v.op.endMs))
      })
      m(s"$prefix.bytes_read") =
        median(vs.zip(cjobs).map { case (v, js) => v.tasks(js).map(_.bytesRead).sum.toDouble })
      m(s"$prefix.bytes_written") = noted("commit.bytes_written", vs)
      m(s"$prefix.files_added") = noted("commit.files_added", vs)
      m(s"$prefix.write_amp") = median(vs.flatMap { v =>
        for {
          w <- v.op.notes.get("commit.bytes_written")
          l <- v.op.notes.get("commit.logical_bytes") if l > 0
        } yield w / l
      })
    }
    commitMetrics("commit", commits)
    for (fmt <- Formats; kind <- CommitKinds)
      commitMetrics(s"commit.$fmt.$kind", commits.filter(_.op.name == s"$fmt.$kind"))

    Seq("statement", "metadata", "catalyst", "exec", "commit").foreach { l =>
      m(s"$l.share") = share(s"$l.")
    }
    m
  }
}

object Layers {
  val Formats = Seq("delta", "iceberg")
  val CommitKinds = Seq("upsert", "delete", "compact")
}
