package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What a workload gets from the runner. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path,
    tracer: Tracer, counters: Counters) {
  /** Time a call into a library layer: while tracing, records a span and
    * adds the seconds to counter `name`. */
  def timed[A](name: String, layer: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      if (tracer.on) counters.add(name, (t1 - t0) / 1e9)
      tracer.record(name, layer, t0, t1)
    }
  }

  /** Add to a counter while tracing. */
  def count(name: String, v: Double): Unit = if (tracer.on) counters.add(name, v)
}

/** What one timed operation produced. `records`: input records it
  * processed (rows published, or documents); `freshnessS`: for each output
  * it committed, seconds from its input's arrival to the commit. */
final case class OpResult(records: Long, freshnessS: Seq[Double],
    attempted: Long, failed: Long)

/** Errors found in an operation's outputs, and layer counts that need the
  * outputs (computed untimed, reported for traced operations). */
final case class Checked(errors: Seq[String], layer: Map[String, Double] = Map.empty)

/** One benchmark workload: a closed loop of operations by one client. */
trait Workload {
  /** Build the seeded inputs and start the loopback servers. Runs several
    * times per process (with [[teardown]] between) to measure set-up. */
  def setup(): Unit
  def teardown(): Unit
  /** Untimed work before operation `i`, such as the generator's appends. */
  def prepare(i: Int): Unit = ()
  /** The timed operation. */
  def op(i: Int): OpResult
  /** Check what operation `i` produced; untimed. */
  def check(i: Int, r: OpResult): Checked
  /** Errors in the published state at the end of the run; untimed. */
  def finalCheck(): Seq[String]
}
