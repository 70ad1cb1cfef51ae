package perfbench

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors, ExecutorService}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.{FakeAgolServer, Portal, PortalTransport}
import graft.streaming.Nrt

/** `nrt_refresh`: the scheduled refresh of many small published items.
  * Before each cycle the generator appends the rows of the last synthetic
  * hour to a seeded quarter of the buoys; the cycle is the reference's
  * scheduled refresh built from public calls the way
  * `NrtPipeline.runViaRest` builds it: the Last-Modified probe (max-time
  * aggregate pushdown, on a 4-thread pool), `Nrt.duePlan`, then
  * `Nrt.refreshCycleViaPortal` over REST to a loopback `FakeAgolServer`. */
final class NrtRefresh(ctx: Ctx) extends Workload {
  import NrtRefresh._
  private val spark = ctx.spark
  import spark.implicits._

  private var stub: ErddapStub = _
  private var server: FakeAgolServer = _
  private var transport: CountingTransport = _
  private var pool: ExecutorService = _
  private var sinkRoot: String = _
  private var buoys: IndexedSeq[Gen.Buoy] = IndexedSeq.empty
  private var itemOf: Map[String, String] = Map.empty
  // the control state a scheduler keeps between cycles (epoch seconds)
  private val lastModified = mutable.Map.empty[String, Long]
  private val lastRefresh = mutable.Map.empty[String, Long]
  // dataset → synthetic time and fingerprint of its latest refresh
  private val refreshedAt = mutable.Map.empty[String, Long]
  private val lastFingerprint = mutable.Map.empty[String, Long]
  private val appendedAt = mutable.Map.empty[String, Long]
  private var now = T0
  private var appended: Seq[String] = Nil
  private var lastDue: Seq[String] = Nil
  private var lastOutcomes: Seq[Nrt.RefreshOutcome] = Nil

  private def byId(id: String): Gen.Buoy = buoys(id.stripPrefix("nrt_").toInt)

  override def setup(): Unit = {
    buoys = (0 until Datasets).map { i =>
      val b = new Gen.Buoy(f"nrt_$i%02d", ctx.seed, i, CadenceS)
      b.appendUntil(T0 - HistoryS, T0)
      b
    }
    stub = new ErddapStub(ctx.counters, ctx.tracer)
    buoys.foreach(b => stub.put(b.table))
    server = new FakeAgolServer(
      new Portal(Files.createTempDirectory(ctx.work, "portal").toString), User, Pass)
    transport = new CountingTransport(PortalTransport(server.base, User, Pass),
      ctx.counters, ctx.tracer)
    // items as a previous run left them: slot "a" live, fingerprint unknown
    itemOf = buoys.map { b =>
      val ref = transport.addOrRetry(b.id, "Feature Service", Seq("erddap2agol", s"did_${b.id}"))
      transport.update(ref.id, Map("activeSlot" -> "a", "fingerprint" -> "0"))
      b.id -> ref.id
    }.toMap
    lastModified.clear(); lastRefresh.clear(); refreshedAt.clear()
    lastFingerprint.clear(); appendedAt.clear()
    buoys.foreach { b => lastModified(b.id) = b.times.last; lastRefresh(b.id) = T0 }
    sinkRoot = Files.createTempDirectory(ctx.work, "nrt-sink").toString
    pool = Executors.newFixedThreadPool(4)
    now = T0
  }

  override def teardown(): Unit = {
    if (stub != null) stub.stop()
    if (server != null) server.stop()
    if (pool != null) pool.shutdown()
    stub = null; server = null; pool = null
  }

  override def prepare(i: Int): Unit = {
    now += StepS
    val r = Gen.rnd(ctx.seed, 5000 + i)
    val order = buoys.indices.toArray
    var k = order.length - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = order(k); order(k) = order(j); order(j) = t; k -= 1 }
    appended = order.take(Datasets / 4).map(buoys(_).id).sorted.toSeq
    appended.foreach { id =>
      val b = byId(id)
      b.appendUntil(now, now)
      stub.put(b.table)
      appendedAt(id) = System.nanoTime()
    }
  }

  private def read(id: String): DataFrame =
    spark.read.format("erddap").option("dataDir", stub.base).option("dataset", id).load()

  /** Order-preserving map on the 4-thread probe pool. */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    pool.invokeAll(xs.map(x => (() => f(x)): Callable[B]).asJava)
      .asScala.map(_.get()).toSeq

  override def op(i: Int): OpResult = {
    val nowTs = new Timestamp(now * 1000L)
    val ids = buoys.map(_.id)
    val src = ctx.timed("nrt.probe_s", Layer.Streaming) {
      parMap(ids)(id => id -> read(id).agg(max(col("time"))).head().getTimestamp(0))
    }
    val due = ctx.timed("nrt.plan_s", Layer.Streaming) {
      val control = ids.map(id => (id, stub.base, "a", 0L,
        new Timestamp(lastModified(id) * 1000L), new Timestamp(lastRefresh(id) * 1000L)))
        .toDF("dataset_id", "base_url", "active_slot", "fingerprint",
          "last_modified", "last_refresh")
      Nrt.duePlan(control, src.toDF("dataset_id", "last_modified"), MaxAgeHours)
        .select("dataset_id").collect().map(_.getString(0)).sorted.toSeq
    }
    val outcomes = ctx.timed("nrt.refresh_s", Layer.Streaming) {
      Nrt.refreshCycleViaPortal(spark, due,
        id => Nrt.movingWindow(read(id), "time", nowTs, WindowDays),
        transport, sinkRoot, now * 1000L)
    }
    val srcTime = src.toMap
    outcomes.filterNot(_.failed).foreach { o =>
      lastModified(o.datasetId) = srcTime(o.datasetId).getTime / 1000L
      lastRefresh(o.datasetId) = now
      if (o.changed) {
        refreshedAt(o.datasetId) = now
        lastFingerprint(o.datasetId) = o.newFingerprint
      }
    }
    lastDue = due
    lastOutcomes = outcomes
    val changed = outcomes.filter(o => o.changed && !o.failed)
    ctx.count("nrt.due", due.size)
    ctx.count("nrt.changed", changed.size)
    ctx.count("nrt.written", changed.count(_.rows >= 0))
    ctx.count("portal.noop_commits", outcomes.count(o => !o.changed && !o.failed))
    ctx.count("rows.published", changed.map(_.rows).sum.toDouble)
    val freshness = changed.flatMap { o =>
      Option(transport.flippedAt.get(itemOf(o.datasetId)))
        .map(t => (t - appendedAt(o.datasetId)) / 1e9)
    }
    OpResult(changed.map(_.rows).sum, freshness,
      attempted = ids.size + due.size, failed = outcomes.count(_.failed))
  }

  override def check(i: Int, r: OpResult): Checked = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (lastDue != appended)
      errs += s"cycle $i: due ${lastDue.mkString(",")} != appended ${appended.mkString(",")}"
    lastOutcomes.foreach { o =>
      val want = byId(o.datasetId).window(now - WindowDays * 86400L, now)
      if (o.failed) errs += s"cycle $i: ${o.datasetId} failed"
      else if (!o.changed) errs += s"cycle $i: ${o.datasetId} reported unchanged"
      else if (o.rows != want.rows)
        errs += s"cycle $i: ${o.datasetId} wrote ${o.rows} rows, expected ${want.rows}"
      val flipped = Option(transport.flippedAt.get(itemOf(o.datasetId)))
      if (o.changed && !flipped.exists(_ > appendedAt(o.datasetId)))
        errs += s"cycle $i: ${o.datasetId} changed but its slot did not flip"
    }
    if (r.freshnessS.size != appended.size)
      errs += s"cycle $i: ${r.freshnessS.size} commits observed for ${appended.size} appends"
    Checked(errs.toSeq)
  }

  /** Every refreshed dataset's active slot, resolved through the portal's
    * REST-persisted properties, must hold exactly the window it was
    * refreshed with; the others must still be on their seeded slot. */
  override def finalCheck(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val props = buoys.map(b => b.id -> transport.props(itemOf(b.id))).toMap
    buoys.map(_.id).filterNot(refreshedAt.contains).foreach { id =>
      if (!props(id).get("activeSlot").contains("a"))
        errs += s"$id: never refreshed but its active slot moved"
    }
    val refreshed = refreshedAt.keys.toSeq.sorted
    refreshed.foreach { id =>
      if (!props(id).get("fingerprint").contains(lastFingerprint(id).toString))
        errs += s"$id: portal fingerprint ${props(id).get("fingerprint")} != ${lastFingerprint(id)}"
    }
    if (refreshed.nonEmpty) {
      val got = refreshed.map { id =>
        spark.read.parquet(Nrt.activePath(sinkRoot, id, props(id)("activeSlot")))
          .select(lit(id).as("id"), col("time"), col("sea_water_temperature"), col("salinity"))
      }.reduce(_ unionByName _)
        .groupBy("id").agg(count(lit(1)), sum(unix_seconds(col("time"))),
          sum(round(col("sea_water_temperature") * 1000).cast("long")),
          sum(round(col("salinity") * 1000).cast("long")))
        .collect().map(r => r.getString(0) ->
          Gen.Checksum(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      refreshed.foreach { id =>
        val at = refreshedAt(id)
        val want = byId(id).window(at - WindowDays * 86400L, at)
        if (!got.get(id).contains(want))
          errs += s"$id: active slot content ${got.get(id)} != expected $want"
      }
    }
    errs.toSeq
  }
}

object NrtRefresh {
  val Datasets = 16
  val CadenceS = 300L
  val HistoryS: Long = 10 * 86400L
  val StepS = 3600L
  val WindowDays = 7
  // due-ness is the Last-Modified comparison alone: the age branch never
  // fires on the synthetic clock
  val MaxAgeHours: Int = 24 * 365 * 1000
  val T0: Long = Gen.epoch("2024-06-01T00:00:00Z")
  val User = "bench"
  val Pass = "bench-pass"
}
