package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.gtfs.GtfsApp

/** The GTFS publish gate end to end on a miniature source tree (the shapes
  * of FIXTURES.md §1–§3): one bus group whose two directions share one
  * stops.geojson, one LineString and one MultiLineString way, the
  * pass-through tables transfers.txt and fare_rules.txt, and no schedule
  * dir. Hermetic: temp directories only.
  */
class GtfsAppSpec extends SparkTestBase {

  private val generated = Seq("agency.txt", "calendar.txt", "routes.txt",
    "shapes.txt", "stop_times.txt", "stops.txt", "trips.txt")
  private val manifest = (generated ++ Seq("fare_rules.txt",
    "transfers.txt")).sorted

  private def direction(name: String, dir: Int, rel: String): String =
    s"""{"name": "$name", "directionId": $dir, "relationId": "$rel",
       | "first_departure": "06:00", "last_departure": "07:00",
       | "trips": "3"}""".stripMargin

  /** routes.json with the group's directions in the given order. */
  private def routesJson(directions: Seq[String]): String =
    s"""{"categories": [{"name": "Bus Kota", "agencyId": "BK",
       | "mode": "bus", "agencyUrl": "https://example.org/bk",
       | "agencyTimezone": "Asia/Jakarta", "agencyLang": "id",
       | "routeGroups": [{"groupId": "K1", "name": "Koridor 1",
       |  "color": "#2D398B", "type": "fixed", "loop": "no",
       |  "routes": [${directions.mkString(", ")}]}]}]}""".stripMargin

  private val outbound = direction("Dago → Kota", 0, "101")
  private val inbound = direction("Kota → Dago", 1, "102")

  private def stopsJson(lat0: Double): String = {
    val stops = Seq(("9001", "Dago, Utara", 107.61, lat0),
      ("9002", "Cikapayang", 107.612, -6.9), ("9003", "Kota", 107.608, -6.92))
    val features = stops.map { case (id, name, lon, lat) =>
      s"""{"type": "Feature", "geometry": {"type": "Point",
         | "coordinates": [$lon, $lat]}, "properties": {"id": "$id",
         | "name": "$name", "role": "stop", "wheelchair": "yes"}}""".stripMargin
    }
    s"""{"type": "FeatureCollection", "features": [${features.mkString(", ")}]}"""
  }

  private def waysJson(geometry: String): String =
    s"""{"type": "FeatureCollection", "features": [{"type": "Feature",
       | "geometry": $geometry, "properties": {"id": 1, "relationId": "x"}}]}"""
      .stripMargin

  /** Write the source tree; `lat0` is the first stop's latitude. */
  private def sourceTree(lat0: Double = -6.88): Path = {
    val root = Files.createTempDirectory("graft-gtfsapp-src")
    Files.writeString(root.resolve("routes.json"),
      routesJson(Seq(outbound, inbound)))
    val geo = root.resolve("route-data/geojson")
    val ways = Map(
      "101" -> ("""{"type": "LineString", "coordinates": [[107.61, -6.88],""" +
        """ [107.612, -6.9], [107.61, -6.91], [107.608, -6.92]]}"""),
      "102" -> ("""{"type": "MultiLineString", "coordinates": [""" +
        """[[107.608, -6.92], [107.61, -6.91]], """ +
        """[[107.61, -6.91], [107.612, -6.9], [107.61, -6.88]]]}"""))
    ways.foreach { case (rel, geometry) =>
      val d = Files.createDirectories(geo.resolve(rel))
      Files.writeString(d.resolve("ways.geojson"), waysJson(geometry))
      Files.writeString(d.resolve("stops.geojson"), stopsJson(lat0))
    }
    val gtfs = Files.createDirectories(root.resolve("gtfs"))
    Files.writeString(gtfs.resolve("transfers.txt"),
      "from_stop_id,to_stop_id,transfer_type,min_transfer_time\n9001,9002,2,120\n")
    Files.writeString(gtfs.resolve("fare_rules.txt"), "fare_id,route_id\nF0,K1\n")
    root
  }

  private def outDir(): Path = Files.createTempDirectory("graft-gtfsapp-out")

  private def run(root: Path, out: Path, lint: Boolean = false) =
    GtfsApp.run(spark, root.toString, out.toString, lint)

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Every path under `dir` with its size and mtime (directories too). */
  private def snapshot(dir: Path): Map[String, (Long, Long)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        (if (Files.isRegularFile(p)) Files.size(p) else -1L,
          Files.getLastModifiedTime(p).toMillis)
    }.toMap finally s.close()
  }

  private def zipEntries(zip: Path): Map[String, Array[Byte]] = {
    val zf = new java.util.zip.ZipFile(zip.toFile)
    try zf.entries().asScala.map { e =>
      e.getName -> zf.getInputStream(e).readAllBytes()
    }.toMap finally zf.close()
  }

  private def lines(p: Path): Seq[String] =
    Files.readString(p).split("\r\n").toSeq

  test("the first publish writes every table, gtfs.zip and .content_hashes; " +
    "each hash is the MD5 of its file") {
    val out = outDir()
    val hashes = run(sourceTree(), out, lint = true)
    assert(hashes.keys.toSeq.sorted == manifest)
    hashes.foreach { case (n, h) =>
      assert(h == md5(Files.readAllBytes(out.resolve(n))), n) }
    assert(snapshot(out).keys.toSeq.sorted ==
      (manifest ++ Seq(".content_hashes", "gtfs.zip")).sorted)
    assert(Files.readAllLines(out.resolve(".content_hashes")).asScala ==
      manifest.map(n => s"$n=${hashes(n)}"))
    val zipped = zipEntries(out.resolve("gtfs.zip"))
    assert(zipped.keys.toSeq.sorted == manifest)
    zipped.foreach { case (n, bytes) =>
      assert(bytes.sameElements(Files.readAllBytes(out.resolve(n))), n) }
    // the MultiLineString way is flattened line by line: 2 + 3 points
    val shapes = lines(out.resolve("shapes.txt")).tail.map(_.split(",")(0))
    assert(shapes.count(_ == "shape_101") == 4)
    assert(shapes.count(_ == "shape_102") == 5)
    assert(lines(out.resolve("trips.txt")).size == 1 + 6)
  }

  test("an unchanged rerun returns equal hashes, touches no file and leaves " +
    "no staging dir") {
    val (root, out) = (sourceTree(), outDir())
    val first = run(root, out)
    val before = snapshot(out)
    assert(!before.keys.exists(_.startsWith(".staging")))
    Thread.sleep(20) // a rewritten file would get a later mtime
    assert(run(root, out) == first)
    assert(snapshot(out) == before)
  }

  test("swapping a group's two directions in routes.json republishes the " +
    "feed a fresh publish writes") {
    val (root, out) = (sourceTree(), outDir())
    val first = run(root, out)
    val firstTrips = lines(out.resolve("trips.txt"))
    // the same rows in a new order: trips and stop_times follow config order
    Files.writeString(root.resolve("routes.json"),
      routesJson(Seq(inbound, outbound)))
    val second = run(root, out)
    val fresh = outDir()
    assert(run(root, fresh) == second)
    assert(second("trips.txt") != first("trips.txt"))
    assert(second("stop_times.txt") != first("stop_times.txt"))
    assert(lines(out.resolve("trips.txt")) != firstTrips)
    assert(lines(out.resolve("trips.txt")).sorted == firstTrips.sorted)
    manifest.foreach { n =>
      assert(Files.readAllBytes(out.resolve(n))
        .sameElements(Files.readAllBytes(fresh.resolve(n))), n) }
  }

  test("a table deleted from the source gtfs/ leaves the feed and its zip") {
    val (root, out) = (sourceTree(), outDir())
    run(root, out)
    Files.delete(root.resolve("gtfs/fare_rules.txt"))
    val hashes = run(root, out)
    val rest = manifest.filterNot(_ == "fare_rules.txt")
    assert(hashes.keys.toSeq.sorted == rest)
    assert(!Files.exists(out.resolve("fare_rules.txt")))
    assert(zipEntries(out.resolve("gtfs.zip")).keys.toSeq.sorted == rest)
    assert(Files.readAllLines(out.resolve(".content_hashes")).asScala ==
      rest.map(n => s"$n=${hashes(n)}"))
  }

  test("lint = true on a failing feed throws, naming the rule, and writes " +
    "nothing") {
    val out = outDir()
    val e = intercept[IllegalArgumentException](
      run(sourceTree(lat0 = 95.0), out, lint = true))
    assert(e.getMessage.contains("stops.coords_in_range"), e.getMessage)
    assert(snapshot(out).isEmpty)
  }
}
