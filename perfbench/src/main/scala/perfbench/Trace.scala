package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The library layers the trace attributes time to. When spans overlap,
  * the blocking-path sweep gives the time to the layer with the highest
  * rank: the innermost boundary the benchmark can observe. `bench` is the
  * operation's own root span (benchmark code between library calls). */
object Layer {
  val Bench = "bench"
  val Streaming = "streaming"
  val Operators = "operators"
  val Sinks = "sinks"
  val Spark = "spark"
  val Sources = "sources"
  val all: Seq[String] = Seq(Bench, Streaming, Operators, Sinks, Spark, Sources)
  // streaming and operators never run in the same workload, so their
  // relative order is immaterial
  val rank: Map[String, Int] = all.zipWithIndex.toMap
}

/** One span; times are System.nanoTime. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long)

/** Named counters, summed between two [[snapshot]] calls. */
final class Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def inc(name: String): Unit = add(name, 1.0)
  /** Current values, then reset. */
  def snapshot(): Map[String, Double] =
    m.asScala.map { case (k, a) => k -> a.sumThenReset() }.toMap
}

/** In-memory span recorder; records only while `on` (traced operations). */
final class Tracer {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** nanoTime − wall-clock nanos, to place Spark's millisecond event times. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + offsetNs

  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(name, layer, startNs, endNs))

  def drain(): Seq[Span] = {
    val b = mutable.ArrayBuffer.empty[Span]
    var s = spans.poll()
    while (s != null) { b += s; s = spans.poll() }
    b.toSeq
  }
}

/** Spark-side collectors: a SparkListener for jobs, stages and task
  * metrics, and a QueryExecutionListener for per-query planning phases.
  * Counts accumulate only while the tracer is on; failed jobs and queries
  * are counted always, since they feed the failure check. */
final class SparkCollector(tracer: Tracer, counters: Counters)
    extends SparkListener with QueryExecutionListener {

  val failedJobs = new AtomicLong
  val failedQueries = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (tracer.on) jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (e.jobResult != JobSucceeded) failedJobs.incrementAndGet()
    val start = jobStart.remove(e.jobId)
    if (tracer.on) {
      counters.inc("spark.jobs")
      if (start != null)
        tracer.record("spark.job", Layer.Spark, tracer.msToNs(start), tracer.msToNs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracer.on) counters.inc("spark.stages")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.on) {
    counters.inc("spark.tasks")
    if (e.reason != org.apache.spark.Success) counters.inc("spark.failed_tasks")
    val m = e.taskMetrics
    if (m != null) {
      counters.add("spark.task_run_s", m.executorRunTime / 1e3)
      counters.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      counters.add("spark.gc_s", m.jvmGCTime / 1e3)
      counters.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      counters.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      counters.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private def planning(qe: QueryExecution): Unit = if (tracer.on) {
    counters.inc("spark.queries")
    qe.tracker.phases.foreach { case (phase, p) =>
      counters.add("spark.planning_s", p.durationMs / 1e3)
      tracer.record(s"spark.$phase", Layer.Spark,
        tracer.msToNs(p.startTimeMs), tracer.msToNs(p.endTimeMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    failedQueries.incrementAndGet()
    planning(qe)
  }
}

/** Blocking-path attribution of one operation's spans: every instant of
  * the operation goes to the highest-ranked layer with a span open at that
  * instant, so the per-layer self times sum to the operation's wall time. */
object SelfTime {
  def byLayer(root: Span, spans: Seq[Span]): Map[String, Double] = {
    val clipped = (root +: spans).flatMap { s =>
      val a = math.max(s.startNs, root.startNs)
      val b = math.min(s.endNs, root.endNs)
      if (b > a) Some((a, b, Layer.rank(s.layer))) else None
    }
    // sweep over boundaries; open counts per rank
    val events = clipped.flatMap { case (a, b, r) => Seq((a, r, 1), (b, r, -1)) }
      .sortBy(e => (e._1, e._3))
    val open = new Array[Int](Layer.rank.values.max + 1)
    val out = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    var prev = root.startNs
    events.foreach { case (t, r, d) =>
      if (t > prev) {
        val top = open.lastIndexWhere(_ > 0)
        if (top >= 0) out(top) += t - prev
        prev = t
      }
      open(r) += d
    }
    Layer.all.map(l => l -> out(Layer.rank(l)) / 1e9).toMap
  }

  /** Parent of each span: the smallest enclosing span of lower rank. */
  def parents(spans: IndexedSeq[Span]): IndexedSeq[Int] = spans.indices.map { i =>
    val s = spans(i)
    var best = -1
    spans.indices.foreach { j =>
      val p = spans(j)
      if (j != i && Layer.rank(p.layer) < Layer.rank(s.layer) &&
          p.startNs <= s.startNs && p.endNs >= s.endNs &&
          (best < 0 || spans(best).endNs - spans(best).startNs > p.endNs - p.startNs))
        best = j
    }
    best
  }
}
