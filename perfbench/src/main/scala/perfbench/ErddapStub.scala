package perfbench

import java.io.ByteArrayOutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.griddap.GridNc

/** One string column stored as concatenated UTF-8 cells. */
final class StrColumn(val bytes: Array[Byte], val offs: Array[Int]) {
  def write(out: ByteArrayOutputStream, i: Int): Unit =
    out.write(bytes, offs(i), offs(i + 1) - offs(i))
}

object StrColumn {
  def of(cells: Array[String]): StrColumn = {
    val enc = cells.map(_.getBytes(UTF_8))
    val offs = new Array[Int](enc.length + 1)
    var i = 0
    while (i < enc.length) { offs(i + 1) = offs(i) + enc(i).length; i += 1 }
    val bytes = new Array[Byte](offs(enc.length))
    i = 0
    while (i < enc.length) {
      System.arraycopy(enc(i), 0, bytes, offs(i), enc(i).length); i += 1
    }
    new StrColumn(bytes, offs)
  }
}

/** A tabledap dataset as served: rows sorted by `times` (epoch seconds),
  * every column pre-rendered as its CSV cells. */
final class TableData(val id: String, val names: Array[String],
    val times: Array[Long], val cols: Array[StrColumn], val das: String)

/** A griddap grid: coordinates ascending, each variable laid out
  * [time][latitude][longitude]. */
final class GridData(val id: String, val time: Array[Double],
    val lat: Array[Double], val lon: Array[Double],
    val vars: Seq[(String, Array[Double])]) {
  val dims: Seq[(String, Int)] =
    Seq(("time", time.length), ("latitude", lat.length), ("longitude", lon.length))
  def coordVars: Seq[GridNc.Var] = Seq(
    GridNc.Var("time", Seq(0), isFloat = false, time),
    GridNc.Var("latitude", Seq(1), isFloat = false, lat),
    GridNc.Var("longitude", Seq(2), isFloat = false, lon))
  def header: GridNc.Grid = GridNc.Grid(dims,
    coordVars ++ vars.map { case (n, v) => GridNc.Var(n, Seq(0, 1, 2), isFloat = false, v) })
}

/** Loopback ERDDAP stub. Serves tabledap `.das`, `.ncHeader` and
  * `.csv`/`.csvp`, and griddap `.dds` and `.nc`, so the connectors run
  * their real HTTP transport. A tabledap request costs time proportional
  * to the rows it returns (binary search on the sorted times, then byte
  * copies of pre-rendered cells); a griddap request costs time
  * proportional to the cells it returns. Counts every request, byte and
  * row it serves, and its own busy time. */
final class ErddapStub(counters: Counters, tracer: Tracer) {
  // com.sun.net.httpserver reads this once, at its first use: without it
  // Nagle plus delayed ACKs add ~40 ms to every small response
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val tables = new ConcurrentHashMap[String, TableData]()
  private val grids = new ConcurrentHashMap[String, GridData]()
  private val failedUrls = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(4)
  private val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  srv.setExecutor(pool)
  srv.createContext("/tabledap/", (ex: HttpExchange) => serve(ex, tabledap))
  srv.createContext("/griddap/", (ex: HttpExchange) => serve(ex, griddap))
  srv.start()

  val base: String = s"http://127.0.0.1:${srv.getAddress.getPort}"

  def put(t: TableData): Unit = tables.put(t.id, t)
  def put(g: GridData): Unit = grids.put(g.id, g)

  def stop(): Unit = {
    srv.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private final case class Reply(kind: String, body: Array[Byte], rows: Long = 0)

  private def serve(ex: HttpExchange, route: (String, String) => Reply): Unit = {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val url = path + "?" + rawQuery
    if (failedUrls.contains(url)) counters.inc("erddap.retried_requests")
    val (code, reply) =
      try (200, route(path.substring(path.lastIndexOf('/') + 1),
        URLDecoder.decode(rawQuery, "UTF-8")))
      catch { case e: Exception =>
        failedUrls.add(url)
        (500, Reply("error", e.toString.getBytes(UTF_8)))
      }
    try {
      ex.sendResponseHeaders(code, reply.body.length.toLong)
      ex.getResponseBody.write(reply.body)
    } finally ex.close()
    val t1 = System.nanoTime()
    reply.kind match {
      case "griddap.data" | "griddap.dds" | "griddap.coord" =>
        counters.inc("griddap.requests")
        counters.add("griddap.bytes_served", reply.body.length)
      case "error" => ()
      case k =>
        counters.inc(s"${k}_requests")
        counters.add("erddap.bytes_served", reply.body.length)
        counters.add("erddap.rows_served", reply.rows)
    }
    counters.add("erddap.serve_s", (t1 - t0) / 1e9)
    tracer.record(reply.kind, Layer.Sources, t0, t1)
  }

  private def table(id: String): TableData =
    Option(tables.get(id)).getOrElse(throw new NoSuchElementException(s"no dataset $id"))

  private def tabledap(file: String, query: String): Reply = {
    val dot = file.lastIndexOf('.')
    val (id, ext) = (file.substring(0, dot), file.substring(dot + 1))
    val t = table(id)
    ext match {
      case "das" => Reply("erddap.das", t.das.getBytes(UTF_8))
      case "ncHeader" =>
        Reply("erddap.probe",
          s"netcdf $id {\ndimensions:\n\trow = ${t.times.length} ;\n}\n".getBytes(UTF_8))
      case "csv" | "csvp" => rows(t, query)
      case other => throw new IllegalArgumentException(s"unsupported format .$other")
    }
  }

  private def epoch(iso: String): Long =
    Instant.parse(if (iso.endsWith("Z")) iso else iso + "Z").getEpochSecond

  /** First index whose time is >= t (strict: > t). */
  private def lowerBound(times: Array[Long], t: Long, strict: Boolean): Int = {
    var lo = 0
    var hi = times.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) < t || (strict && times(mid) == t)) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def rows(t: TableData, query: String): Reply = {
    val parts = query.split("&")
    val attrs = parts.head.split(",").filter(_.nonEmpty)
    val idx = attrs.map { a =>
      val i = t.names.indexOf(a)
      require(i >= 0, s"unknown attribute $a in ${t.id}")
      i
    }
    var from = 0
    var until = t.times.length
    parts.tail.foreach { c =>
      val ops = Seq(">=", "<=", ">", "<")
      val op = ops.find(o => c.contains(o)).getOrElse(
        throw new IllegalArgumentException(s"unsupported constraint $c"))
      val v = epoch(c.substring(c.indexOf(op) + op.length))
      op match {
        case ">=" => from = math.max(from, lowerBound(t.times, v, strict = false))
        case ">" => from = math.max(from, lowerBound(t.times, v, strict = true))
        case "<=" => until = math.min(until, lowerBound(t.times, v, strict = true))
        case "<" => until = math.min(until, lowerBound(t.times, v, strict = false))
      }
    }
    val out = new ByteArrayOutputStream(64 + math.max(0, until - from) * 16 * idx.length)
    out.write(attrs.mkString(",").getBytes(UTF_8))
    var r = from
    while (r < until) {
      out.write('\n')
      var c = 0
      while (c < idx.length) {
        if (c > 0) out.write(',')
        t.cols(idx(c)).write(out, r)
        c += 1
      }
      r += 1
    }
    Reply("erddap.data", out.toByteArray, math.max(0, until - from).toLong)
  }

  private def griddap(file: String, query: String): Reply = {
    val dot = file.lastIndexOf('.')
    val (id, ext) = (file.substring(0, dot), file.substring(dot + 1))
    val g = Option(grids.get(id)).getOrElse(throw new NoSuchElementException(s"no grid $id"))
    ext match {
      case "dds" => Reply("griddap.dds", GridNc.dds(g.header, id).getBytes(UTF_8))
      case "nc" if !query.contains("[") =>
        val v = g.coordVars.find(_.name == query).getOrElse(
          throw new IllegalArgumentException(s"no coordinate $query"))
        Reply("griddap.coord", GridNc.write(GridNc.Grid(
          Seq((query, v.values.length)), Seq(v.copy(dims = Seq(0))))))
      case "nc" => hyperslab(g, query)
      case other => throw new IllegalArgumentException(s"unsupported format .$other")
    }
  }

  private val varRe = "(\\w+)((?:\\[[^\\]]*\\])+)".r
  private val selRe = "\\[([^\\]]*)\\]".r
  private val valRe = "\\(([^)]*)\\)".r

  /** Index range [a, b] of an ascending axis selected by `(lo):1:(hi)`,
    * `(v)` or a bare index. */
  private def axisRange(c: Array[Double], sel: String, isTime: Boolean): (Int, Int) = {
    val vals = valRe.findAllMatchIn(sel).map(_.group(1)).toSeq
    if (vals.isEmpty) { val i = sel.trim.toInt; (i, i) }
    else {
      def num(s: String): Double =
        if (isTime) epoch(s).toDouble else s.toDouble
      val lo = num(vals.head) - 1e-9
      val hi = num(vals.last) + 1e-9
      var a = java.util.Arrays.binarySearch(c, lo)
      if (a < 0) a = -a - 1
      var b = java.util.Arrays.binarySearch(c, hi)
      if (b < 0) b = -b - 2
      (a, b)
    }
  }

  private def hyperslab(g: GridData, query: String): Reply = {
    val specs = varRe.findAllMatchIn(query).map(m =>
      m.group(1) -> selRe.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq).toSeq
    require(specs.nonEmpty && specs.head._2.length == 3, s"unsupported hyperslab $query")
    val sels = specs.head._2
    val (t0, t1) = axisRange(g.time, sels(0), isTime = true)
    val (a0, a1) = axisRange(g.lat, sels(1), isTime = false)
    val (o0, o1) = axisRange(g.lon, sels(2), isTime = false)
    val (nt, na, no) = (t1 - t0 + 1, a1 - a0 + 1, o1 - o0 + 1)
    require(nt > 0 && na > 0 && no > 0, s"empty hyperslab $query")
    val (nlat, nlon) = (g.lat.length, g.lon.length)
    def slice(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](nt * na * no)
      var p = 0
      var ti = t0
      while (ti <= t1) {
        var ai = a0
        while (ai <= a1) {
          System.arraycopy(v, (ti * nlat + ai) * nlon + o0, out, p, no)
          p += no; ai += 1
        }
        ti += 1
      }
      out
    }
    val coords = Seq(
      GridNc.Var("time", Seq(0), isFloat = false, g.time.slice(t0, t1 + 1)),
      GridNc.Var("latitude", Seq(1), isFloat = false, g.lat.slice(a0, a1 + 1)),
      GridNc.Var("longitude", Seq(2), isFloat = false, g.lon.slice(o0, o1 + 1)))
    val data = specs.map { case (name, _) =>
      val v = g.vars.find(_._1 == name).getOrElse(
        throw new IllegalArgumentException(s"no variable $name"))._2
      GridNc.Var(name, Seq(0, 1, 2), isFloat = false, slice(v))
    }
    Reply("griddap.data", GridNc.write(GridNc.Grid(
      Seq(("time", nt), ("latitude", na), ("longitude", no)), coords ++ data)))
  }
}
