package lakebench

import scala.collection.mutable
import Harness.{median, quantile}

/** Layered lake benchmark. One client thread, closed loop, `local[N]`.
  *
  * {{{ Main --workload <scan_analytics|lake_reads|ingest_merge> --seed <n>
  *          --seconds <s> --trace <0|1> --work <dir> [--cores <n>] }}}
  *
  * Untraced (`--trace 0`) it prints the end-to-end metrics; traced it
  * interleaves traced and untraced passes, prints the per-layer metrics of
  * the traced ones with the tracing overhead, and writes every span, op
  * and job to `<work>/trace-<workload>-<seed>.jsonl`. The last stdout line
  * is the result object; the line before it records the run's context. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def req(k: String): String = kv.getOrElse(k, sys.error(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors), req("work"))
  }

  private def loadavg: String = scala.util.Try(
    scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").take(3).mkString(" ")
  ).getOrElse("n/a")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadavg
    val work = new java.io.File(a.work, a.workload).getAbsoluteFile
    Harness.rmr(work)
    work.mkdirs()
    val spark = graft.GraftSession.builder(s"local[${a.cores}]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // graft.Bench's tuning for bench-scale inputs, with one post-shuffle
    // partition per core
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", a.cores.toString)

    val tracer = new Tracer(spark.sparkContext)
    val listener = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val h = new Harness(spark, tracer, a.cores)
    val w = Workload(a.workload, h, a.seed)

    w.generate(s"$work/input")
    // set-up, several times into fresh directories; the last one is used
    val setupS = (0 until Setups).map { k =>
      if (k > 0) Harness.rmr(new java.io.File(work, s"setup-${k - 1}"))
      val t0 = System.nanoTime()
      w.setup(s"$work/setup-$k")
      (System.nanoTime() - t0) / 1e9
    }
    w.warmup()
    System.gc()

    // timed window: whole passes until the window closes. A traced run
    // leaves its first pass untraced and out of the overhead estimate (it
    // is still speeding up), then traces in the order T U U T T U U T ...,
    // so the later speed-up weighs on both sides of the estimate
    val minPasses = if (a.trace) 5 else 1
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < a.seconds || i < minPasses) {
      h.pass = i
      tracer.active = a.trace && i > 0 && ((i - 1) % 4 == 0 || (i - 1) % 4 == 3)
      val aside0 = h.asideNs
      val p0 = System.nanoTime()
      w.pass(i)
      passes += (System.nanoTime() - p0 - (h.asideNs - aside0)) / 1e9
      i += 1
    }
    tracer.active = false
    h.pass = -1
    // heap in use after a full collection; the smallest of three readings,
    // since Spark's cleaner frees shuffle and broadcast state between them
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    w.finish()

    val ops = h.ops.toSeq
    val attempted = ops.size + h.checks
    val failed = ops.count(!_.ok) + h.failedChecks
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      val q = ops.filter(o => w.queryKinds(o.kind)).map(_.ms)
      metrics("setup_s") = (median(setupS), "s")
      metrics("ok_frac") = ((attempted - failed).toDouble / attempted, "frac")
      metrics("live_heap_mb") = (heapMb, "MB")
      metrics("pass_s") = (median(passes.toSeq), "s")
      metrics("query_ms.p50") = (median(q), "ms")
      metrics("query_ms.p90") = (quantile(q, 0.9), "ms")
      metrics("space_amp") = (w.spaceAmp, "ratio")
    } else {
      listener.drain(10000)
      new Layers(ops, tracer.spans.toSeq, listener, a.cores).metrics.foreach { case (k, v) =>
        metrics(k) = (v, unitOf(k))
      }
      // overhead: per op name, median traced over median untraced, pooled
      val byName = ops.filter(_.pass > 0).groupBy(_.name).values.toSeq.flatMap { os =>
        val (t, u) = os.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None else Some((median(t.map(_.ms)), median(u.map(_.ms))))
      }
      val (tSum, uSum) = (byName.map(_._1).sum, byName.map(_._2).sum)
      metrics("trace.overhead_frac") = (if (uSum > 0) tSum / uSum - 1 else 0.0, "frac")
      writeTrace(new java.io.File(a.work, s"trace-${a.workload}-${a.seed}.jsonl"), a, ops,
        tracer.spans.toSeq, listener)
    }
    spark.stop()
    Harness.rmr(work)

    val nq = ops.count(o => w.queryKinds(o.kind))
    println(s"# lakebench workload=${a.workload} seed=${a.seed} cores=${a.cores} " +
      s"trace=${if (a.trace) 1 else 0} passes=${passes.size} ops=${ops.size} queries=$nq " +
      s"pass_s=${passes.map(p => f"$p%.2f").mkString(",")} " +
      s"setup_s=${setupS.map(s => f"$s%.2f").mkString(",")} " +
      s"loadavg_start=[$loadStart] loadavg_end=[$loadavg]")
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}}""")
    System.out.flush()
    // a stray non-daemon thread must not keep the process alive
    System.exit(0)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def unitOf(metric: String): String = {
    val leaf = metric.split('.').last
    if (leaf.endsWith("_ms")) "ms"
    else if (leaf.endsWith("_bytes") || leaf.startsWith("bytes_")) "bytes"
    else if (leaf.endsWith("frac") || leaf == "share") "frac"
    else if (leaf == "write_amp") "ratio"
    else "count"
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Spans, ops and jobs as JSON lines. */
  private def writeTrace(f: java.io.File, a: Args, ops: Seq[OpRec], spans: Seq[Span],
      listener: JobListener): Unit = {
    val out = new java.io.PrintWriter(f, "UTF-8")
    try {
      out.println(s"""{"type": "run", "workload": ${q(a.workload)}, "seed": ${a.seed}, """ +
        s""""cores": ${a.cores}, "seconds": ${a.seconds}}""")
      ops.foreach { o =>
        val notes = o.notes.map { case (k, v) => s"${q(k)}: ${jsonNum(v)}" }.mkString(", ")
        out.println(s"""{"type": "op", "pass": ${o.pass}, "kind": ${q(o.kind)}, """ +
          s""""name": ${q(o.name)}, "ms": ${jsonNum(o.ms)}, "ok": ${o.ok}, """ +
          s""""traced": ${o.traced}, "span": ${o.rootSpan}, "notes": {$notes}}""")
      }
      spans.foreach { s =>
        out.println(s"""{"type": "span", "id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""name": ${q(s.name)}, "start_ms": ${s.startMs}, "ms": ${jsonNum(s.ms)}}""")
      }
      listener.jobs.values.foreach { j =>
        val t = listener.tasksOf(j)
        out.println(s"""{"type": "job", "id": ${j.id}, "span": ${j.span}, "op": ${j.op}, """ +
          s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
          s""""stages": ${listener.ranStages(j).size}, "tasks": ${t.map(_.tasks).sum}, """ +
          s""""task_ms": ${t.map(_.runMs).sum}, "bytes_read": ${t.map(_.bytesRead).sum}}""")
      }
    } finally out.close()
  }
}
