package lakebench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}

/** One timed call (a query, a commit or a read-after-write) of a pass. */
final class OpRec(val pass: Int, val kind: String, val name: String, val traced: Boolean) {
  var ms = 0.0
  var ok = false
  var rootSpan = 0
  var startMs = 0L
  var endMs = 0L
  /** Per-op facts taken from outside the engine (file counts, plan shape,
    * planning-tracker phases); recorded in traced passes only. */
  val notes = mutable.LinkedHashMap.empty[String, Double]
}

/** Runs operations for a workload: times each one, catches its failure,
  * opens its root span and records it. Time spent in correctness checks
  * outside an operation is accumulated so pass timings can exclude it. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val cores: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Current pass; negative during set-up and warm-up, whose ops are not kept. */
  var pass: Int = -1
  var asideNs = 0L
  /** Failed end-of-run checks, counted as failed operations. */
  var failedChecks = 0
  var checks = 0

  def traced: Boolean = tracer.active

  def op(kind: String, name: String)(body: OpRec => Boolean): OpRec = {
    val rec = new OpRec(pass, kind, name, tracer.active)
    rec.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    rec.ok = try tracer.span(s"op.$kind")(body(rec)) catch {
      case NonFatal(e) =>
        System.err.println(s"[lakebench] $kind $name failed: $e")
        false
    }
    rec.ms = (System.nanoTime() - t0) / 1e6
    rec.endMs = System.currentTimeMillis()
    if (rec.traced && tracer.spans.nonEmpty) rec.rootSpan = tracer.spans.last.id
    if (pass >= 0) ops += rec
    rec
  }

  /** A query op: `build` runs with physical planning under
    * `catalyst.plan` (the lake calls inside it open their own spans),
    * then [[collect]]; `check` judges the rows. */
  def query(kind: String, name: String)(build: OpRec => DataFrame)(check: Array[Row] => Boolean)
      : OpRec =
    op(kind, name)(rec => check(collect(rec)(build(rec))))

  /** Plans `df` under `catalyst.plan` (with whatever builds it, passed by
    * name) and collects it under `exec.collect`. */
  def collect(rec: OpRec)(df: => DataFrame): Array[Row] = {
    val d = tracer.span("catalyst.plan") {
      val d = df
      d.queryExecution.executedPlan
      d
    }
    val rows = tracer.span("exec.collect")(d.collect())
    if (rec.traced) notePlan(rec, d)
    rows
  }

  /** Work outside any operation (reference results, model checks, input
    * materialisation); its time is left out of the pass it interrupts. */
  def aside[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally asideNs += System.nanoTime() - t0
  }

  /** An end-of-run correctness check; a false or failing check counts as
    * one failed operation. */
  def check(what: String)(body: => Boolean): Unit = aside {
    checks += 1
    val ok = try body catch {
      case NonFatal(e) =>
        System.err.println(s"[lakebench] check $what failed: $e")
        false
    }
    if (!ok) {
      failedChecks += 1
      System.err.println(s"[lakebench] check $what: wrong result")
    }
  }

  /** Adds `df`'s planning-tracker phases, graft rule time and exchange
    * count to the op's notes (summed over the frames an op collects). */
  private def notePlan(rec: OpRec, df: DataFrame): Unit = {
    def add(k: String, v: Double): Unit = rec.notes(k) = rec.notes.getOrElse(k, 0.0) + v
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    add("catalyst.graft_rule_ms", qe.tracker.rules.collect {
      case (rule, s) if rule.endsWith("MvRoutingRule") || rule.endsWith("RewriteHofDotProduct") =>
        s.totalTimeNs / 1e6
    }.sum)
    // the single-partition shuffle under a global aggregate is a reduce,
    // not a repartitioning of the data
    add("exchanges", qe.executedPlan.collect {
      case s: ShuffleExchangeLike if s.outputPartitioning == SinglePartition => 0
      case _: Exchange => 1
    }.sum.toDouble)
  }
}

object Harness {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Bytes of the regular files under `dir`, checksum sidecars excluded. */
  def dirBytes(dir: String): Long = files(dir).map(_.length).sum

  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".crc")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }

  def rmr(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmr)
    f.delete()
  }
}
