package graft.gtfs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** GTFS CSV sink (K1/K5, generate_gtfs.py:465-475, 489-517): fixed header
  * order per table, utf-8, minimal quoting — csv.DictWriter parity.
  *
  * Floats are formatted with Python-`repr` semantics (shortest round-trip
  * decimal, exponent only outside [1e-4, 1e16)) so golden byte comparisons
  * hold where Java's Double.toString would switch notation differently
  * (SURVEY §7.4 hard part #3).
  *
  * The distributed write path is `df.write.csv` per partition; the
  * single-file rename is driver-side because GTFS consumers require one
  * file per table (reference scale). At 100 TB you would keep the
  * partitioned directory and zip per-part.
  *
  * The files written here are the publish gate's input: [[GtfsApp]] hashes
  * each one's bytes with MD5 into `.content_hashes`, which `md5sum` over
  * the published feed can check.
  */
object GtfsWriter {

  /** Python-repr of a double. Java's shortest-repr digits are reused; only
    * the notation thresholds and exponent spelling differ.
    */
  def pyrepr(v: Double): String = {
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    val abs = math.abs(v)
    if (v == math.rint(v) && abs < 1e16)
      return s"${v.toLong}.0"
    val s = java.lang.Double.toString(v)
    val eIdx = s.indexOf('E')
    if (eIdx < 0) {
      // Java uses plain notation in [1e-3, 1e7); Python in [1e-4, 1e16):
      // the ranges overlap here, so plain stays plain.
      s
    } else {
      val mant = s.substring(0, eIdx)
      val exp = s.substring(eIdx + 1).toInt
      if (exp >= -4 && exp < 16) {
        // Expand to plain notation (Python would not use an exponent).
        new java.math.BigDecimal(s).stripTrailingZeros().toPlainString match {
          case p if p.contains('.') => p
          case p => p + ".0"
        }
      } else {
        val sign = if (exp < 0) "-" else "+"
        f"${mant}e$sign${math.abs(exp)}%02d"
      }
    }
  }

  private val pyreprUdf = udf((d: java.lang.Double) =>
    if (d == null) "" else pyrepr(d.doubleValue))

  /** Format one column as csv.DictWriter would render the Python value. */
  private def cell(df: DataFrame, name: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case DoubleType | FloatType => pyreprUdf(col(name).cast("double"))
      case _ => coalesce(col(name).cast("string"), lit(""))
    }
  }

  /** Minimal quoting: quote only when the cell contains , " \n or \r. */
  private def quoted(c: Column): Column =
    when(c.rlike("[,\"\n\r]"),
      concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
      .otherwise(c)

  /** Render `df` to one CSV line per row with the exact `fields` order. */
  def render(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(concat_ws(",", fields.map(f => quoted(cell(df, f))): _*).as("line"))

  /** Write one GTFS table to `dir/name` (header + rows, \r\n — the Python
    * csv module default line terminator).
    *
    * Each rendered line gets a trailing \r BEFORE the text sink appends
    * its \n, so the \r\n terminator is written at render time and the part
    * file's bytes are final: no post-hoc newline splitting, which would
    * corrupt cells that legitimately contain quoted embedded newlines
    * (quoted() supports them, csv.DictWriter writes them verbatim).
    */
  def writeTable(df: DataFrame, fields: Seq[String], dir: String, name: String): Unit = {
    val tmp = s"$dir/.tmp_$name"
    render(df, fields).select(concat(col("line"), lit("\r")).as("line"))
      .coalesce(1).write.mode("overwrite").text(tmp)
    val partStream = Files.list(Paths.get(tmp))
    val part = try partStream.filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().orElseThrow() finally partStream.close()
    val out = Paths.get(dir, name)
    val header = (fields.mkString(",") + "\r\n").getBytes("UTF-8")
    val body = Files.readAllBytes(part)
    val bytes = new Array[Byte](header.length + body.length)
    System.arraycopy(header, 0, bytes, 0, header.length)
    System.arraycopy(body, 0, bytes, header.length, body.length)
    Files.write(out, bytes)
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  val FieldOrder: Map[String, Seq[String]] = Map(
    "agency.txt" -> Seq("agency_id", "agency_name", "agency_url",
      "agency_timezone", "agency_lang"),
    "routes.txt" -> Seq("route_id", "agency_id", "route_short_name",
      "route_long_name", "route_type", "route_color"),
    "trips.txt" -> Seq("route_id", "trip_id", "service_id", "trip_headsign",
      "direction_id", "shape_id", "block_id"),
    "stops.txt" -> Seq("stop_id", "stop_name", "stop_lat", "stop_lon",
      "location_type", "wheelchair_boarding"),
    "stop_times.txt" -> Seq("trip_id", "stop_id", "stop_sequence",
      "arrival_time", "departure_time", "pickup_type", "drop_off_type"),
    "shapes.txt" -> Seq("shape_id", "shape_pt_lon", "shape_pt_lat",
      "shape_pt_sequence", "shape_dist_traveled"),
    "calendar.txt" -> Seq("service_id", "monday", "tuesday", "wednesday",
      "thursday", "friday", "saturday", "sunday", "start_date", "end_date"))

  /** Write the full feed (the 7 generated tables) to `outDir`.
    * CONCURRENTLY: the tables are independent DAGs and Spark schedules
    * concurrent jobs fine; one table at a time leaves the cluster idle
    * between stages. Waits for every table before rethrowing a failure.
    */
  def writeAll(g: GtfsPipeline.Gtfs, outDir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Files.createDirectories(Paths.get(outDir))
    val ordered = Seq(
      ("agency.txt", g.agency.orderBy("cat_idx")),
      ("routes.txt", g.routes.orderBy("cat_idx", "group_idx")),
      ("trips.txt", g.trips),
      ("stops.txt", g.stops.orderBy("cat_idx", "group_idx", "route_idx", "feature_idx")),
      ("stop_times.txt", g.stopTimes),
      ("shapes.txt", g.shapes.orderBy("shape_id", "shape_pt_sequence")),
      ("calendar.txt", g.calendar))
    val writes = ordered.map { case (name, df) =>
      Future(writeTable(df, FieldOrder(name), outDir, name))
    }
    writes.foreach(Await.ready(_, Duration.Inf))
    writes.foreach(_.value.get.get)
  }

  /** The hand-maintained (non-generated) GTFS tables of the input feed
    * dir, sorted by name — the reference zips its whole `gtfs/` dir
    * (generate-gtfs.yml:40-43), so fare_attributes.txt / fare_rules.txt /
    * transfers.txt ship with every feed even though no script writes them.
    * Generically: every `.txt` not in FieldOrder passes through. A
    * missing dir fails, naming it: publishing without those tables would
    * be a silent regression of the feed.
    */
  def passThroughFiles(srcGtfsDir: String): Seq[java.nio.file.Path] = {
    val src = Paths.get(srcGtfsDir)
    if (!Files.isDirectory(src))
      throw new java.io.FileNotFoundException(
        s"GTFS source directory not found: $src")
    val stream = Files.list(src)
    try {
      import scala.jdk.CollectionConverters._
      stream.sorted().iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".txt") && !FieldOrder.contains(n)
      }.toList
    } finally stream.close()
  }

  /** Copy [[passThroughFiles]] into `outDir`; returns their names. */
  def passThroughTables(srcGtfsDir: String, outDir: String): Seq[String] =
    passThroughFiles(srcGtfsDir).map { p =>
      Files.copy(p, Paths.get(outDir, p.getFileName.toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      p.getFileName.toString
    }

  /** K5: zip the written feed (driver-side, feed is one-file-per-table).
    * Every `.txt` table in the dir is zipped, and nothing else: the feed
    * dir also holds gtfs.zip and the .content_hashes gate file on re-runs,
    * and [[GtfsApp]] deletes the tables that left the feed before zipping.
    */
  def zipFeed(gtfsDir: String, zipPath: String): Unit = {
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    val stream = Files.list(Paths.get(gtfsDir))
    try {
      stream.sorted().forEach { p =>
        if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".txt")) {
          zos.putNextEntry(new java.util.zip.ZipEntry(p.getFileName.toString))
          Files.copy(p, zos)
          zos.closeEntry()
        }
      }
    } finally { stream.close(); zos.close() }
  }
}
