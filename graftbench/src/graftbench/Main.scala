package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo

import graft.core.GraftSession

/** Runs one workload (or `all`) in this JVM and writes a JSON result:
  *
  *   --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *   --tmp <dir> --out <file> --spans <dir>
  *
  * One set-up per run: session start, seeded input generation and
  * [[WarmUps]] warm-up iterations, all in `setup_s`. Then the workload is
  * measured closed-loop for `seconds`. With `--trace 1` the measured
  * iterations alternate untraced / traced; tracing (the benchmark's
  * listeners and the counting filesystem) is switched on around each
  * traced iteration only, so the untraced ones are the baseline for
  * `trace.overhead_s`. */
object Main {

  /** Warm-up iterations per set-up: the first iteration in a JVM is 2-3x
    * slower (class loading, JIT, codegen), the second is close to warm. */
  val WarmUps = 1

  /** Fewest checked (untraced, traced) iterations a run measures, however
    * long that takes past `seconds`. A traced run measures at least
    * untraced, traced, untraced: iterations still speed up as the JIT
    * warms, and the untraced pair around the traced one cancels that
    * drift out of `trace.overhead_s`. */
  def minIterations(trace: Boolean): (Int, Int) = if (trace) (2, 1) else (1, 0)

  /** The benchmark's own glue between program calls must stay under 2%
    * of a traced iteration, or the spans do not explain the run. */
  val MinSpanCoverage = 0.98

  /** Program modules with spans of their own; each also gets per-module
    * counters (e.g. `ml.shuffle_bytes`, `io.fs_ops_per_stmt`). */
  private val Layers = Seq("io", "ml", "streaming", "dedup", "text", "similarity")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val trace = a.getOrElse("trace", "0") == "1"
    val names = a("workload") match {
      case "all" => Workload.names
      case n if Workload.names.contains(n) => Seq(n)
      case n => System.err.println(s"unknown workload '$n'"); sys.exit(2)
    }
    val code = try {
      val results = names.map { n =>
        run(n, a("seed").toLong, a("seconds").toDouble, trace, a("tmp"), a("spans"))
      }
      val w = new PrintWriter(new File(a("out")), "UTF-8")
      try w.print(results.mkString("[", ",\n", "]")) finally w.close()
      0
    } catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private final case class Iter(i: Int, traced: Boolean, wallS: Double, ok: Boolean)

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, tmp: String, spansDir: String): String = {
    val nproc = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer
    val failures = ArrayBuffer.empty[String]
    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val spark = GraftSession.local(nproc, "graftbench")
    val sessionS = secs(t0)
    val wl = Workload(name, spark, seed, s"$tmp/$name")
    val in = wl.generate()
    val w0 = System.nanoTime()
    for (w <- 1 to WarmUps) {
      wl.reset(-w)
      tracer.iteration(-w, tr = false, name)(wl.run(-w, tracer))
      failures ++= wl.check(-w).map(m => s"warm-up: $m")
    }
    val warmupS = secs(w0)
    val setupS = secs(t0)

    val tracing = if (trace) Some(new Tracing(spark)) else None
    val iters = ArrayBuffer.empty[Iter]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (minUntraced, minTraced) = minIterations(trace)
    def okCount(tr: Boolean) = iters.count(it => it.ok && it.traced == tr)
    def more = WarmUps + iters.size < wl.maxIterations && (System.nanoTime() < deadline ||
      (iters.size < 3 * (minUntraced + minTraced) && (okCount(false) < minUntraced || okCount(true) < minTraced)))
    var i = 0
    while (more) {
      val traced = trace && i % 2 == 1
      try {
        wl.reset(i)
        if (traced) tracing.get.on()
        heap.begin(i)
        val t1 = System.nanoTime()
        try tracer.iteration(i, traced, name)(wl.run(i, tracer))
        finally { heap.end(i); if (traced) tracing.get.off() }
        val wall = secs(t1)
        val bad = wl.check(i)
        if (traced) wl.probe(i)
        failures ++= bad
        iters += Iter(i, traced, wall, bad.isEmpty)
      } catch {
        case NonFatal(e) =>
          failures += s"$name iteration $i: ${e.toString.take(500)}"
          iters += Iter(i, traced, Double.NaN, ok = false)
      }
      i += 1
    }
    heap.close()

    val untraced = iters.filter(it => it.ok && !it.traced).map(_.i).toSeq
    val traced = iters.filter(it => it.ok && it.traced).map(_.i).toSeq
    val runS = Stats.median(iters.filter(it => it.ok && !it.traced).map(_.wallS).toSeq)
    val peaks = heap.peaks(untraced)
    if (peaks.isEmpty) failures += s"$name: no garbage collection inside a measured iteration, so no heap peak"
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("run_s", runS, "s"),
      Metric("peak_heap_mib", Stats.median(peaks) / 1048576.0, "MiB")) ++ wl.results(untraced, tracer)
    val layer = tracing.toSeq.flatMap { tr =>
      val (jobs, tasks) = tr.listener.snapshot
      val tracedRun = Stats.median(iters.filter(it => it.ok && it.traced).map(_.wallS).toSeq)
      val computed = layerMetrics(tracer, traced, jobs, tasks, tr.plans.snapshot, wl) ++ Seq(
        Metric("core.session_s", sessionS, "s"),
        Metric("core.warmup_s", warmupS, "s"),
        Metric("trace.overhead_s", tracedRun - runS, "s"),
        Metric("trace.run_s", tracedRun, "s"),
        Metric("trace.untraced_fs_ops", tr.untracedFsOps.toDouble, "count"))
      computed.find(_.name == "trace.span_coverage").filter(_.value < MinSpanCoverage).foreach { m =>
        failures += f"$name: program spans cover ${m.value}%.4f of the traced iterations, below $MinSpanCoverage"
      }
      computed
    }
    val measured = tracer.spans.filter(s => s.op && s.iter >= 0)
    val attempted = math.max(1, measured.size)
    val failed = measured.count(!_.ok) + failures.size
    spark.stop()
    Workload.deleteRecursive(new File(s"$tmp/$name"))

    writeSpans(new File(spansDir, s"spans-$name-seed$seed-trace${if (trace) 1 else 0}.json"), tracer)
    Json.obj(
      "workload" -> Json.str(name),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "iterations" -> iters.size.toString,
      "untraced_ok" -> untraced.size.toString,
      "traced_ok" -> traced.size.toString,
      "gcs_per_iteration" -> Json.num(heap.gcsPerIteration(untraced)),
      "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "inputs" -> Json.obj(("sha256" -> Json.str(in.sha256)) +: ("bytes" -> in.bytes.toString) +:
        ("files" -> in.files.size.toString) +: in.sizes.map { case (k, v) => k -> v.toString }: _*),
      "metrics" -> Json.obj((e2e ++ layer).map(m =>
        m.name -> Json.obj("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))): _*))
  }

  /** Generic per-layer numbers over the traced iterations, plus the
    * span medians and the workload's own trace counters. */
  private def layerMetrics(t: Tracer, traced: Seq[Int], jobs: Seq[Long], tasks: Seq[TaskRec],
                           planning: Seq[(Long, Long)], wl: Workload): Seq[Metric] = {
    val spans = t.spans.toSeq.filter(s => traced.contains(s.iter) && s.parent >= 0)
    val st = Attribution(spans, jobs, tasks, planning)
    def perIterOf(keep: Span => Boolean)(f: Seq[(Span, SpanStats)] => Double): Double =
      Stats.median(traced.map(i => f(spans.filter(s => s.iter == i && keep(s)).map(s => s -> st(s.id)))))
    def perIter(layer: String) = perIterOf(_.layer == layer) _
    def skew(xs: Seq[(Span, SpanStats)]): Double = {
      val med = xs.map(_._2.stageMedianMs).sum
      if (med > 0) xs.map(_._2.stageMaxMs).sum / med else 1.0
    }
    def all(f: SpanStats => Double) = perIterOf(_ => true)(_.map(x => f(x._2)).sum)
    val execution = Seq(
      Metric("driver.planning_s", all(_.planningS), "s"),
      Metric("driver.only_s", all(_.driverOnlyS), "s"),
      Metric("sched.jobs", all(_.jobs), "count"),
      Metric("sched.stages", all(_.stages), "count"),
      Metric("sched.tasks", all(_.tasks), "count"),
      Metric("task.busy_s", all(_.taskBusyS), "s"),
      Metric("task.skew", perIterOf(_ => true)(skew), "ratio"),
      Metric("scan.tasks", all(_.scanTasks), "count"),
      Metric("shuffle.bytes", all(_.shuffleBytes.toDouble), "bytes"),
      Metric("spill.bytes", all(_.spillBytes.toDouble), "bytes"),
      Metric("fs.ops", perIterOf(_ => true)(_.map(_._1.fsOps.toDouble).sum), "count"),
      Metric("fs.bytes_written", perIterOf(_ => true)(_.map(_._1.bytesWritten.toDouble).sum), "bytes"))
    val spanMedians = spans.groupBy(_.key).toSeq.map { case (k, ss) => Metric(s"${k}_s", Stats.median(ss.map(_.durS)), "s") }
    val layers = Layers.filter(l => spans.exists(_.layer == l)).flatMap { l =>
      def sum(f: SpanStats => Double) = perIter(l)(_.map(x => f(x._2)).sum)
      Seq(
        Metric(s"$l.tasks", sum(_.tasks), "count"),
        Metric(s"$l.scan_tasks", sum(_.scanTasks), "count"),
        Metric(s"$l.shuffle_bytes", sum(_.shuffleBytes.toDouble), "bytes"),
        Metric(s"$l.spill_bytes", sum(_.spillBytes.toDouble), "bytes"),
        Metric(s"$l.driver_only_s", sum(_.driverOnlyS), "s"),
        Metric(s"$l.task_skew", perIter(l)(skew), "ratio"),
        Metric(s"$l.bytes_written", perIter(l)(_.map(_._1.bytesWritten.toDouble).sum), "bytes"),
        Metric(s"$l.jobs_per_stmt", perIter(l)(xs => xs.map(_._2.jobs.toDouble).sum / xs.size), "count"),
        Metric(s"$l.fs_ops_per_stmt", perIter(l)(xs => xs.map(_._1.fsOps.toDouble).sum / xs.size), "count"))
    }
    val coverage = Metric("trace.span_coverage", Stats.median(traced.map { i =>
      t.children(i).map(_.durS).sum / t.root(i).map(_.durS).getOrElse(Double.NaN)
    }), "ratio")
    val own = wl.traceResults(traced, t)
    val batches = own.find(_.name == "streaming.batches").map(_.value)
    val perBatch = batches.map(b => Metric("streaming.tasks_per_batch",
      perIter("streaming")(_.map(_._2.tasks.toDouble).sum) / b, "count"))
    execution ++ Seq(coverage) ++ spanMedians ++ layers ++ own ++ perBatch
  }

  private def writeSpans(f: File, t: Tracer): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.print(t.spans.map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.key),
        "iter" -> s.iter.toString, "traced" -> s.traced.toString, "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "dur_s" -> Json.num(s.durS), "fs_ops" -> s.fsOps.toString,
        "bytes_written" -> s.bytesWritten.toString, "ok" -> s.ok.toString)
    }.mkString("[\n", ",\n", "\n]"))
    finally w.close()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Heap in use after each garbage collection, from the collectors'
  * notifications. Each measured iteration starts from a full collection
  * (outside its timing), so its peak is the largest heap still in use
  * after any collection inside it: the workload's live set at its
  * fullest, not garbage left by earlier iterations. */
final class HeapWatch extends NotificationListener {
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  private val gcs = ArrayBuffer.empty[(Long, Long)] // (collection start, uptime ms; heap used after it)
  private val spans = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      synchronized { gcs += ((gc.getStartTime, used)) }
    }

  def begin(iter: Int): Unit = {
    System.gc()
    spans(iter) = (runtime.getUptime, Long.MaxValue)
  }
  def end(iter: Int): Unit = spans(iter) = (spans(iter)._1, runtime.getUptime)

  private def inside(iter: Int): Seq[Long] = {
    val (a, b) = spans(iter)
    synchronized(gcs.filter(g => g._1 > a && g._1 <= b).map(_._2).toSeq)
  }
  /** Per iteration with at least one collection inside it, the largest
    * heap in use after one, in bytes. */
  def peaks(iters: Seq[Int]): Seq[Double] = iters.map(inside).filter(_.nonEmpty).map(_.max.toDouble)
  def gcsPerIteration(iters: Seq[Int]): Double = Stats.median(iters.map(inside(_).size.toDouble))

  def close(): Unit = {
    Thread.sleep(200) // let the last notifications arrive
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(this)))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
