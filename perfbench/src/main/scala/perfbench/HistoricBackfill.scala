package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{DecodeDatetime, Geometry}
import graft.sinks.{FakeAgolServer, Portal}

/** `historic_backfill`: the chunked historic download-and-publish. Each
  * operation backfills every tabledap history (read whole through
  * `format("erddap")` over HTTP, several time-chunk partitions each) and
  * the grid (`format("griddap")`), decodes the local-time string column,
  * adds point geometry, and publishes each as a new portal item with
  * `write.format("portal").option("portalUrl", …)`. QC pruning is the
  * connector's attribute policy at schema time. */
final class HistoricBackfill(ctx: Ctx) extends Workload {
  import HistoricBackfill._
  private val spark = ctx.spark

  private var stub: ErddapStub = _
  private var server: FakeAgolServer = _
  private var staging: String = _
  private var expect: IndexedSeq[Gen.HistExpect] = IndexedSeq.empty
  private var gridExpect: Gen.GridExpect = _
  // items published by the latest operation: (source id, item title)
  private var lastItems: Seq[(String, String)] = Nil

  override def setup(): Unit = {
    stub = new ErddapStub(ctx.counters, ctx.tracer)
    expect = (0 until Datasets).map { k =>
      val (t, e) = Gen.history(ctx.seed, k, Rows)
      stub.put(t)
      e
    }
    val (g, ge) = Gen.grid(ctx.seed, GridT, GridLat, GridLon)
    stub.put(g)
    gridExpect = ge
    server = new FakeAgolServer(
      new Portal(Files.createTempDirectory(ctx.work, "portal").toString), User, Pass)
    staging = Files.createTempDirectory(ctx.work, "staging").toString
  }

  override def teardown(): Unit = {
    if (stub != null) stub.stop()
    if (server != null) server.stop()
    stub = null; server = null
  }

  private def itemId(title: String): Option[String] =
    server.portal.findByTitle(title).map(_.id)

  /** Keep only the latest operation's payloads in the portal's memory. */
  override def prepare(i: Int): Unit =
    lastItems.flatMap(p => itemId(p._2)).foreach(server.dataStore.remove)

  private def withGeometry(df: DataFrame): DataFrame =
    df.withColumn("geometry", Geometry.geometryJson(lit("Point"),
      Geometry.point(array(col("latitude"), col("longitude")))))

  private def source(id: String): DataFrame =
    if (id == GridId)
      spark.read.format("griddap").option("dataDir", stub.base).option("dataset", id).load()
    else
      spark.read.format("erddap").option("dataDir", stub.base).option("dataset", id)
        .option("chunkSize", ChunkRows.toString).load()
        .withColumn("collected", DecodeDatetime.decode_datetime(col("collected")))

  override def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val ids = (0 until Datasets).map(k => s"hist_$k") :+ GridId
    var failed = 0
    val freshness = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    lastItems = ids.map(id => id -> s"${id}_p$i")
    lastItems.foreach { case (id, title) =>
      try {
        ctx.timed("portal.write_s", Layer.Sinks) {
          withGeometry(source(id)).write.format("portal")
            .option("root", staging).option("item", title)
            .option("portalUrl", server.base)
            .option("username", User).option("password", Pass)
            .mode("append").save()
        }
        freshness += (System.nanoTime() - t0) / 1e9
        val n = expectedRows(id)
        rows += n
        ctx.count("portal.commits", 1)
        // tabledap rows only: the grid is served by the griddap route
        if (id != GridId) ctx.count("rows.published", n.toDouble)
        itemId(title).flatMap(server.dataStore.get)
          .foreach(p => ctx.count("portal.bytes_uploaded", p.length.toDouble))
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: publish of $title failed: $e")
      }
    }
    OpResult(rows, freshness.toSeq, attempted = ids.size, failed = failed)
  }

  private def expectedRows(id: String): Long =
    if (id == GridId) gridExpect.rows else expect(id.stripPrefix("hist_").toInt).sum.rows

  override def check(i: Int, r: OpResult): Checked = {
    val errs = mutable.ArrayBuffer.empty[String]
    lastItems.foreach { case (id, title) =>
      itemId(title) match {
        case None => errs += s"pass $i: $title was not published"
        case Some(item) =>
          val props = server.portal.itemById(item).serviceProps
          if (!props.get("rows").contains(expectedRows(id).toString))
            errs += s"pass $i: $title has rows=${props.get("rows")}, expected ${expectedRows(id)}"
          if (!props.contains("activeSlot")) errs += s"pass $i: $title has no active slot"
      }
    }
    Checked(errs.toSeq)
  }

  /** Read the latest items back through `format("portal")` over REST and
    * compare column checksums with the generator's. */
  override def finalCheck(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def back(title: String): DataFrame =
      spark.read.format("portal").option("root", staging).option("item", title)
        .option("portalUrl", server.base).option("username", User)
        .option("password", Pass).load()
    val (grid, tables) = lastItems.partition(_._1 == GridId)
    grid.foreach { case (_, title) =>
      val r = back(title).agg(count(lit(1)), sum(unix_seconds(col("time"))),
        sum(round(col("sst") * 1000).cast("long")),
        sum(round(col("chl") * 1000).cast("long"))).head()
      val got = Gen.GridExpect(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (got != gridExpect) errs += s"$title: read back $got, expected $gridExpect"
    }
    val reads = tables.map { case (id, title) =>
      val df = back(title)
      if (df.columns.exists(c => c.endsWith("_qc") || c.startsWith("qartod_")))
        errs += s"$title: QC columns were published: ${df.columns.mkString(",")}"
      df.withColumn("source", lit(id))
    }
    val got = reads.reduce(_ unionByName _).groupBy("source").agg(
      count(lit(1)), sum(unix_seconds(col("time"))),
      sum(round(col("sea_water_temperature") * 1000).cast("long")),
      sum(round(col("salinity") * 1000).cast("long")),
      sum(round(col("latitude") * 100000).cast("long")),
      sum(round(col("longitude") * 100000).cast("long")),
      // the decoded local-time column must land on the same instant
      sum(when(col("collected") === col("time"), 1L).otherwise(0L)),
      // the geometry's x must be the row's longitude
      sum(when(get_json_object(col("geometry"), "$.coordinates[0]").cast("double") ===
        col("longitude"), 1L).otherwise(0L)))
      .collect().map(r => r.getString(0) -> r).toMap
    tables.foreach { case (id, title) =>
      val want = expect(id.stripPrefix("hist_").toInt)
      got.get(id) match {
        case None => errs += s"$title: nothing read back"
        case Some(r) =>
          val sums = Gen.HistExpect(
            Gen.Checksum(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
            r.getLong(5), r.getLong(6))
          if (sums != want) errs += s"$title: read back $sums, expected $want"
          if (r.getLong(7) != want.sum.rows)
            errs += s"$title: ${want.sum.rows - r.getLong(7)} rows decoded to the wrong instant"
          if (r.getLong(8) != want.sum.rows)
            errs += s"$title: ${want.sum.rows - r.getLong(8)} rows with a wrong geometry"
      }
    }
    errs.toSeq
  }
}

object HistoricBackfill {
  val Datasets = 4
  val Rows = 50000
  val ChunkRows = 12500
  val GridId = "grid_sst"
  val GridT = 24
  val GridLat = 40
  val GridLon = 50
  val User = "bench"
  val Pass = "bench-pass"
}
