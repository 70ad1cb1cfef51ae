package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every value is a function of the seed, so one
  * seed gives the same inputs on every run; all times are synthetic
  * (2023–2024), never the wall clock. */
object Gen {
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
  // an offset local-time rendering that the library's datetime decoder
  // has to parse back to the same instant
  private val localFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ssxx")
    .withZone(ZoneOffset.ofHours(-5))

  def iso(sec: Long): String = isoFmt.format(Instant.ofEpochSecond(sec))
  def epoch(s: String): Long = Instant.parse(s).getEpochSecond
  def rnd(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** Value rounded to `scale` decimals, and its exact scaled integer. */
  def q(x: Double, scale: Int): Double = {
    val f = math.pow(10, scale)
    math.round(x * f) / f
  }
  def qi(x: Double, scale: Int): Long = math.round(x * math.pow(10, scale))

  private def das(title: String, sections: Seq[(String, Seq[String])]): String =
    (Seq("Attributes {") ++ sections.flatMap { case (name, attrs) =>
      Seq(s"  $name {") ++ attrs.map(a => s"    $a;") :+ "  }"
    } ++ Seq("  NC_GLOBAL {", s"""    String title "$title";""", "  }", "}"))
      .mkString("\n")

  private def timeAttrs(lo: Long, hi: Long): Seq[String] = Seq(
    "String ioos_category \"Time\"",
    "String units \"seconds since 1970-01-01T00:00:00Z\"",
    s"Float64 actual_range $lo.0, $hi.0")

  private def range(xs: Iterable[Double]): String =
    if (xs.isEmpty) "0.0, 0.0" else s"${xs.min}, ${xs.max}"

  /** Content checksum of published rows: count plus exact integer sums. */
  final case class Checksum(rows: Long, timeSum: Long, tempSum: Long, salSum: Long)

  // ---------------------------------------------------------------- NRT

  /** One NRT buoy: fixed position, a row every `cadence` seconds. Rows are
    * appended as the synthetic clock advances. */
  final class Buoy(val id: String, seed: Long, index: Int, cadence: Long) {
    private val r = rnd(seed, 1000 + index)
    val lat: Double = q(18 + r.nextDouble() * 12, 4)
    val lon: Double = q(-97 + r.nextDouble() * 15, 4)
    private val phase = r.nextDouble() * 86400
    val times = ArrayBuffer.empty[Long]
    val temp = ArrayBuffer.empty[Double]
    val sal = ArrayBuffer.empty[Double]
    private val qc = ArrayBuffer.empty[Int]

    /** Append rows on the cadence grid up to `until`: from `start` for a
      * new buoy, else from one cadence after its last row (a buoy that
      * missed cycles delivers its backlog). */
    def appendUntil(start: Long, until: Long): Unit = {
      var t = if (times.isEmpty) start else times.last + cadence
      while (t <= until) {
        times += t
        temp += q(24 + 3 * math.sin((t + phase) * 2 * math.Pi / 86400) +
          r.nextDouble() - 0.5, 3)
        sal += q(35 + r.nextDouble() - 0.5, 3)
        qc += 1 + r.nextInt(4)
        t += cadence
      }
    }

    /** Expected content of the moving window [lo, hi] (closed). */
    def window(lo: Long, hi: Long): Checksum = {
      var n, ts, tp, sl = 0L
      var i = 0
      while (i < times.length) {
        val t = times(i)
        if (t >= lo && t <= hi) {
          n += 1; ts += t; tp += qi(temp(i), 3); sl += qi(sal(i), 3)
        }
        i += 1
      }
      Checksum(n, ts, tp, sl)
    }

    def table: TableData = {
      val n = times.length
      val names = Array("time", "latitude", "longitude", "sea_water_temperature",
        "salinity", "sea_water_temperature_qc")
      val cells: Array[Array[String]] = Array(
        times.iterator.map(iso).toArray,
        Array.fill(n)(lat.toString), Array.fill(n)(lon.toString),
        temp.iterator.map(_.toString).toArray, sal.iterator.map(_.toString).toArray,
        qc.iterator.map(_.toString).toArray)
      new TableData(id, names, times.toArray, cells.map(StrColumn.of), das(s"NRT buoy $id", Seq(
        "time" -> timeAttrs(times.head, times.last),
        "latitude" -> Seq(s"Float64 actual_range $lat, $lat", "String units \"degrees_north\""),
        "longitude" -> Seq(s"Float64 actual_range $lon, $lon", "String units \"degrees_east\""),
        "sea_water_temperature" -> Seq(s"Float64 actual_range ${range(temp)}"),
        "salinity" -> Seq(s"Float64 actual_range ${range(sal)}"),
        // QC variable: served, pruned by the connector's attribute policy
        "sea_water_temperature_qc" -> Seq("Int32 actual_range 1, 4")))
      )
    }
  }

  // ----------------------------------------------------------- backfill

  /** Expected read-back of one backfilled tabledap dataset. */
  final case class HistExpect(sum: Checksum, latSum: Long, lonSum: Long)

  /** A glider-like tabledap history: `rows` rows a minute apart, a moving
    * position, a station string, an offset local-time string column the
    * transform decodes, and two QC columns the connector prunes. */
  def history(seed: Long, index: Int, rows: Int): (TableData, HistExpect) = {
    val r = rnd(seed, 2000 + index)
    val t0 = epoch("2023-01-01T00:00:00Z") + index * 7L
    val times = Array.tabulate(rows)(i => t0 + 60L * i)
    val lat = new Array[Double](rows)
    val lon = new Array[Double](rows)
    var (la, lo) = (20 + r.nextDouble() * 8, -95 + r.nextDouble() * 10)
    val temp = new Array[Double](rows)
    val sal = new Array[Double](rows)
    var (ts, tp, sl, las, los) = (0L, 0L, 0L, 0L, 0L)
    var i = 0
    while (i < rows) {
      la += (r.nextDouble() - 0.5) * 0.002; lo += (r.nextDouble() - 0.5) * 0.002
      lat(i) = q(la, 5); lon(i) = q(lo, 5)
      temp(i) = q(22 + 4 * math.sin(i / 1440.0) + r.nextDouble(), 3)
      sal(i) = q(34 + 2 * r.nextDouble(), 3)
      ts += times(i); tp += qi(temp(i), 3); sl += qi(sal(i), 3)
      las += qi(lat(i), 5); los += qi(lon(i), 5)
      i += 1
    }
    val id = s"hist_$index"
    val names = Array("time", "latitude", "longitude", "station", "collected",
      "sea_water_temperature", "salinity", "sea_water_temperature_qc", "qartod_rollup_flag")
    val cells: Array[Array[String]] = Array(
      times.map(iso), lat.map(_.toString), lon.map(_.toString),
      Array.fill(rows)(s"glider-$index"),
      times.map(t => localFmt.format(Instant.ofEpochSecond(t))),
      temp.map(_.toString), sal.map(_.toString),
      Array.fill(rows)("1"), Array.tabulate(rows)(k => (1 + k % 4).toString))
    val doc = das(s"Glider history $id", Seq(
      "time" -> timeAttrs(times.head, times.last),
      "latitude" -> Seq(s"Float64 actual_range ${lat.min}, ${lat.max}"),
      "longitude" -> Seq(s"Float64 actual_range ${lon.min}, ${lon.max}"),
      "station" -> Seq("String long_name \"Station\""),
      "collected" -> Seq("String long_name \"Collection time, local\""),
      "sea_water_temperature" -> Seq(s"Float64 actual_range ${temp.min}, ${temp.max}"),
      "salinity" -> Seq(s"Float64 actual_range ${sal.min}, ${sal.max}"),
      "sea_water_temperature_qc" -> Seq("Int32 actual_range 1, 1"),
      "qartod_rollup_flag" -> Seq("Int32 actual_range 1, 4")))
    (new TableData(id, names, times, cells.map(StrColumn.of), doc),
      HistExpect(Checksum(rows, ts, tp, sl), las, los))
  }

  /** Expected read-back of the backfilled grid. */
  final case class GridExpect(rows: Long, timeSum: Long, sstSum: Long, chlSum: Long)

  /** An hourly sst/chl grid on a 0.1-degree lat/lon raster. */
  def grid(seed: Long, nt: Int, nlat: Int, nlon: Int): (GridData, GridExpect) = {
    val r = rnd(seed, 3000)
    val t0 = epoch("2024-01-01T00:00:00Z")
    val time = Array.tabulate(nt)(i => (t0 + 3600L * i).toDouble)
    val lat = Array.tabulate(nlat)(i => (2000 + 10 * i) / 100.0)
    val lon = Array.tabulate(nlon)(i => (-9500 + 10 * i) / 100.0)
    val cells = nt * nlat * nlon
    val sst = Array.tabulate(cells)(_ => q(20 + 10 * r.nextDouble(), 3))
    val chl = Array.tabulate(cells)(_ => q(r.nextDouble() * 2, 3))
    val timeSum = time.map(_.toLong).sum * nlat * nlon
    (new GridData("grid_sst", time, lat, lon, Seq("sst" -> sst, "chl" -> chl)),
      GridExpect(cells, timeSum, sst.map(qi(_, 3)).sum, chl.map(qi(_, 3)).sum))
  }

  // ----------------------------------------------------------- curation

  /** A document corpus with planted duplicates. `exactGroups`: ids of
    * documents whose normalized text is identical (the lowest id is the
    * one exact dedup keeps). `nearClusters`: ids of a base document and
    * its light edits (a few words substituted). */
  final case class Corpus(docs: IndexedSeq[(Long, String)],
      exactGroups: Seq[Seq[Long]], nearClusters: Seq[Seq[Long]])

  def corpus(seed: Long, n: Int): Corpus = {
    val r = rnd(seed, 4000)
    val syll = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zu",
      "an", "el", "or", "is", "ub", "ga", "do", "fe", "hi", "ju")
    val vocab = Array.tabulate(6000) { i =>
      var k = i + 1
      val sb = new StringBuilder
      while (k > 0) { sb ++= syll(k % syll.length); k /= syll.length }
      sb.toString
    }
    def words(len: Int): Array[String] = Array.fill(len)(vocab(r.nextInt(vocab.length)))
    def edit(ws: Array[String], k: Int): Array[String] = {
      val out = ws.clone()
      r.ints(0, ws.length).distinct().limit(k).forEach { p =>
        var w = vocab(r.nextInt(vocab.length))
        while (w == out(p)) w = vocab(r.nextInt(vocab.length))
        out(p) = w
      }
      out
    }
    // exact copies differ only in case and punctuation, which the
    // fingerprint normalizes away
    def variant(ws: Array[String]): String =
      ws.map(w => if (r.nextInt(5) == 0) w.toUpperCase + "," else w).mkString(" ")

    val nExactGroups = n / 40
    val nNear = n / 40
    val texts = ArrayBuffer.empty[String]
    val groups = ArrayBuffer.empty[Seq[Int]]
    val clusters = ArrayBuffer.empty[Seq[Int]]
    def add(t: String): Int = { texts += t; texts.length - 1 }
    (0 until nExactGroups).foreach { _ =>
      val ws = words(50 + r.nextInt(40))
      val copies = 2 + r.nextInt(3)
      groups += (add(ws.mkString(" ")) +: (1 until copies).map(_ => add(variant(ws))))
    }
    (0 until nNear).foreach { _ =>
      val ws = words(60 + r.nextInt(40))
      val k = 2 + r.nextInt(3)
      clusters += (add(ws.mkString(" ")) +: (1 until k).map(_ => add(edit(ws, 2).mkString(" "))))
    }
    while (texts.length < n) add(words(40 + r.nextInt(80)).mkString(" "))

    // ids: a seeded permutation, so planted copies are not id-adjacent
    val ids = Array.tabulate(n)(i => (i + 1).toLong)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    Corpus(texts.indices.map(k => ids(k) -> texts(k)),
      groups.map(_.map(k => ids(k)).toSeq).toSeq,
      clusters.map(_.map(k => ids(k)).toSeq).toSeq)
  }

  /** Word 3-shingles of the fingerprint-normalized text (lowercase
    * alphanumeric runs), for measuring candidate-pair precision. */
  def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ")
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }
}
