package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.Snapshots

/** Runs one workload and prints one JSON result line (see perfbench/WORKLOADS.md).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --trace-dir <dir>
  *
  * Untraced (`--trace 0`): set-up, warm-up, then a closed loop of
  * operations for `--seconds`, each checked; prints the end-to-end
  * metrics. Traced (`--trace 1`): the same loop, mixing untraced and
  * traced operations; prints the per-layer metrics of the traced ones, and
  * the tracing overhead as traced minus untraced operation time. */
object Main {
  private val SetupReps = 3
  // the first operation pays class loading and code generation, and the
  // ones after it keep getting faster while the JIT compiles the library's
  // driver-side code; warming up by a count of operations, not seconds,
  // keeps a slower run from starting to measure earlier on that trend
  private val WarmupOps = 4
  private val WarmupS = 12.0
  private val Cores = 4

  /** Per-layer metrics, printed by every traced run (0 where a workload
    * does not exercise the layer). Counts and times are per operation. */
  val perLayer: Seq[(String, String)] = Seq(
    "erddap.das_requests" -> "count", "erddap.probe_requests" -> "count",
    "erddap.data_requests" -> "count", "erddap.bytes_served" -> "bytes",
    "erddap.rows_served" -> "count", "erddap.useful_row_ratio" -> "ratio",
    "erddap.retried_requests" -> "count", "erddap.serve_s" -> "s",
    "erddap.serve_share" -> "ratio",
    "griddap.requests" -> "count", "griddap.bytes_served" -> "bytes",
    "spark.queries" -> "count", "spark.planning_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.dispatch_s" -> "s",
    "spark.dispatch_share" -> "ratio", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "nrt.probe_s" -> "s", "nrt.plan_s" -> "s", "nrt.refresh_s" -> "s",
    "nrt.due" -> "count", "nrt.changed" -> "count", "nrt.written" -> "count",
    "nrt.due_precision" -> "ratio", "nrt.write_ratio" -> "ratio",
    "portal.requests" -> "count", "portal.request_s" -> "s", "portal.write_s" -> "s",
    "portal.bytes_uploaded" -> "bytes", "portal.commits" -> "count",
    "portal.noop_commits" -> "count", "portal.retries" -> "count",
    "dedup.exact_s" -> "s", "dedup.lsh_pairs_s" -> "s", "dedup.components_s" -> "s",
    "dedup.keep_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.pair_precision" -> "ratio", "dedup.docs_removed" -> "count",
    "dedup.cc_edges" -> "count", "dedup.cc_local_tier" -> "count",
    "layer.bench_s" -> "s", "layer.streaming_s" -> "s", "layer.operators_s" -> "s",
    "layer.sinks_s" -> "s", "layer.spark_s" -> "s", "layer.sources_s" -> "s",
    "trace.unattributed_share" -> "ratio", "trace.ops" -> "count",
    "trace.op_s" -> "s", "trace.untraced_op_s" -> "s", "trace.overhead_s" -> "s",
    "trace.overhead_share" -> "ratio",
    "freshness.tail_s" -> "s", "freshness.tail_pct" -> "%", "freshness.samples" -> "count",
    "ops.attempted" -> "count", "ops.failed" -> "count", "ops.failed_ratio" -> "ratio")

  private final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, traceDir: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("work")), Path.of(need("trace-dir")))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-operation record kept by the runner. */
  private final case class Op(traced: Boolean, startNs: Long, endNs: Long,
      result: Option[OpResult], counters: Map[String, Double], spans: Seq[Span]) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly either way: the loopback servers' threads would
    // otherwise keep a failed run's JVM alive
    val code =
      try run(argv)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  /** One run; returns the process exit code. */
  private def run(argv: Array[String]): Int = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val spark = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    val counters = new Counters
    val collector = new SparkCollector(tracer, counters)
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(collector)
    val ctx = Ctx(spark, a.seed, a.work, tracer, counters)
    val w: Workload = a.workload match {
      case "nrt_refresh" => new NrtRefresh(ctx)
      case "historic_backfill" => new HistoricBackfill(ctx)
      case "curation_dedup" => new CurationDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val marks = mutable.ArrayBuffer("session" -> sessionS)
    def mark(label: String): Unit =
      marks += label -> (System.currentTimeMillis() - jvmStartMs) / 1e3
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val ops = mutable.ArrayBuffer.empty[Op]
    var next = 0
    var checkS = 0.0
    def drainBus(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

    def runOp(traced: Boolean): Op = {
      val i = next
      next += 1
      w.prepare(i)
      drainBus()
      counters.snapshot()
      tracer.drain()
      val jobsFailedBefore = collector.failedJobs.get() + collector.failedQueries.get()
      tracer.on = traced
      val t0 = System.nanoTime()
      val res = try Right(w.op(i)) catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      drainBus()
      tracer.on = false
      val c = counters.snapshot()
      val spans = tracer.drain()
      val sparkFailures = collector.failedJobs.get() + collector.failedQueries.get() - jobsFailedBefore
      failed += sparkFailures
      var layer = c
      val c0 = System.nanoTime()
      res match {
        case Left(e) =>
          attempted += 1; failed += 1
          errors += s"operation $i failed: $e"
        case Right(r) =>
          attempted += r.attempted; failed += r.failed
          try {
            val ck = w.check(i, r)
            errors ++= ck.errors
            layer = c ++ ck.layer
          } catch { case NonFatal(e) => errors += s"check of operation $i failed: $e" }
      }
      try Snapshots.assertDrained(spark, a.workload, Set.empty, "perfbench")
      catch { case NonFatal(e) => errors += e.getMessage }
      checkS += (System.nanoTime() - c0) / 1e9
      Op(traced, t0, t1, res.toOption, layer, spans)
    }

    val setups = (0 until SetupReps).map { k =>
      if (k > 0) w.teardown()
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(setups)
    mark("setup")

    val warmStart = System.nanoTime()
    var warm = 0
    val warmOps = mutable.ArrayBuffer.empty[Op]
    while (warm < WarmupOps || (System.nanoTime() - warmStart) / 1e9 < WarmupS) {
      warmOps += runOp(traced = false); warm += 1
    }
    mark("warmup")
    val start = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < a.seconds ||
        (a.trace && (ops.count(_.traced) == 0 || ops.count(!_.traced) == 0))) {
      // untraced, traced, traced, untraced, …: a warm-up trend that is
      // still running biases neither side of the overhead comparison
      ops += runOp(traced = a.trace && (k % 4 == 1 || k % 4 == 2))
      k += 1
    }
    mark("measure")
    try errors ++= w.finalCheck()
    catch { case NonFatal(e) => errors += s"final check failed: $e" }
    w.teardown()
    mark("final-check")

    val done = ops.filter(_.result.isDefined)
    val untraced = done.filterNot(_.traced)
    val freshness = untraced.flatMap(_.result.get.freshnessS).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val opS = untraced.map(_.wallS).toSeq
        Seq(("setup_s", setupS, "s"),
          ("op_p50_s", median(opS), "s"),
          ("throughput_per_s", untraced.map(_.result.get.records).sum / opS.sum, "1/s"),
          ("freshness_p50_s", median(freshness), "s"))
      } else {
        val traced = done.filter(_.traced)
        val layer = layerMetrics(traced.toSeq, a.workload)
        val all = done.flatMap(_.result.get.freshnessS).sorted.toSeq
        val (tail, pct) =
          if (all.length > 10) (all(all.length - 11), 100.0 * (all.length - 10) / all.length)
          else (all.lastOption.getOrElse(0.0), 100.0)
        val tracedP50 = median(traced.map(_.wallS).toSeq)
        val untracedP50 = median(untraced.map(_.wallS).toSeq)
        val extra = Map(
          "trace.ops" -> traced.size.toDouble, "trace.op_s" -> tracedP50,
          "trace.untraced_op_s" -> untracedP50,
          "trace.overhead_s" -> (tracedP50 - untracedP50),
          "trace.overhead_share" -> (tracedP50 - untracedP50) / untracedP50,
          "freshness.tail_s" -> tail, "freshness.tail_pct" -> pct,
          "freshness.samples" -> all.length.toDouble,
          "ops.attempted" -> attempted.toDouble, "ops.failed" -> failed.toDouble,
          "ops.failed_ratio" -> failed.toDouble / math.max(1L, attempted))
        writeTrace(a, traced.toSeq)
        perLayer.map { case (n, u) => (n, extra.getOrElse(n, layer.getOrElse(n, 0.0)), u) }
      }

    spark.stop()
    System.err.println("perfbench: phases ended at " +
      marks.map { case (l, t) => f"$l $t%.1f" }.mkString(", ") + " s")
    System.err.println(f"perfbench: session $sessionS%.3f s, set-ups " +
      setups.map(x => f"$x%.3f").mkString(" ") + ", warm-up " +
      warmOps.map(o => f"${o.wallS}%.3f").mkString(" ") + ", operations " +
      ops.map(o => f"${o.wallS}%.3f${if (o.traced) "T" else ""}").mkString(" ") +
      f", checks $checkS%.1f s in all")
    errors.take(20).foreach(e => System.err.println(s"perfbench: $e"))
    val correct = errors.isEmpty && failed == 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    if (correct) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Mean per traced operation of every counter and layer self time, plus
    * the derived ratios. */
  private def layerMetrics(traced: Seq[Op], workload: String): Map[String, Double] = {
    val n = traced.size.toDouble
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    traced.foreach { op =>
      op.counters.foreach { case (k, v) => sums(k) += v }
      val root = Span(workload, Layer.Bench, op.startNs, op.endNs)
      SelfTime.byLayer(root, op.spans).foreach { case (l, v) => sums(s"layer.${l}_s") += v }
      sums("wall_s") += op.wallS
    }
    def ratio(a: String, b: String) = if (sums(b) > 0) sums(a) / sums(b) else 0.0
    val wall = sums("wall_s")
    val dispatch = wall - sums("spark.task_run_s") / Cores - sums("spark.planning_s")
    val means = sums.map { case (k, v) => k -> v / n }.toMap
    means ++ Map(
      "erddap.useful_row_ratio" -> ratio("rows.published", "erddap.rows_served"),
      "erddap.serve_share" -> ratio("erddap.serve_s", "wall_s"),
      "spark.dispatch_s" -> dispatch / n,
      "spark.dispatch_share" -> dispatch / wall,
      "nrt.due_precision" -> ratio("nrt.changed", "nrt.due"),
      "nrt.write_ratio" -> ratio("nrt.written", "nrt.changed"),
      "dedup.pair_precision" -> ratio("dedup.true_pairs", "dedup.candidate_pairs"),
      "trace.unattributed_share" -> ratio("layer.bench_s", "wall_s"))
  }

  /** Spans of the traced operations, one JSON object per line, with each
    * span's parent (index within its operation, -1 = the operation). */
  private def writeTrace(a: Args, traced: Seq[Op]): Unit = {
    Files.createDirectories(a.traceDir)
    val out = new StringBuilder
    traced.zipWithIndex.foreach { case (op, k) =>
      val spans = op.spans.filter(s => s.endNs > op.startNs && s.startNs < op.endNs)
        .sortBy(_.startNs).toIndexedSeq
      val parents = SelfTime.parents(spans)
      out ++= s"""{"op": $k, "name": "${a.workload}", "layer": "bench", "index": -1, """ +
        s""""parent": null, "start_us": 0, "end_us": ${(op.endNs - op.startNs) / 1000}}""" + "\n"
      spans.indices.foreach { i =>
        val s = spans(i)
        out ++= s"""{"op": $k, "name": "${s.name}", "layer": "${s.layer}", "index": $i, """ +
          s""""parent": ${parents(i)}, "start_us": ${(s.startNs - op.startNs) / 1000}, """ +
          s""""end_us": ${(s.endNs - op.startNs) / 1000}}""" + "\n"
      }
    }
    Files.writeString(a.traceDir.resolve(s"${a.workload}-seed${a.seed}.jsonl"), out.toString)
  }
}
