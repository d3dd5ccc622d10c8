package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.gtfs.{GtfsApp, GtfsWriter}

/** The hand-maintained pass-through tables (fares, transfers) of a feed:
  * copied in name order, generated tables and non-tables left behind, and a
  * missing source directory fails loudly instead of publishing a feed
  * without them. Hermetic: temp directories only.
  */
class GtfsWriterSpec extends SparkTestBase {

  private def tempDir(tag: String): Path =
    Files.createTempDirectory(s"graft-gtfs-$tag")

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("passThroughTables copies only the non-generated .txt tables, in " +
    "name order") {
    val src = tempDir("src")
    val out = tempDir("out")
    Seq("transfers.txt", "fare_rules.txt", "fare_attributes.txt",
        "stops.txt", "trips.txt", "README.md", "notes.csv")
      .foreach(n => Files.writeString(src.resolve(n), s"$n body"))
    Files.createDirectory(src.resolve("archive.txt")) // not a file
    val copied = GtfsWriter.passThroughTables(src.toString, out.toString)
    assert(copied == Seq("fare_attributes.txt", "fare_rules.txt",
      "transfers.txt"))
    assert(listing(out) == copied)
    copied.foreach(n =>
      assert(Files.readString(out.resolve(n)) == s"$n body", n))
  }

  test("passThroughTables fails on a missing source dir, naming it") {
    val root = tempDir("nogtfs")
    val missing = root.resolve("gtfs")
    val out = tempDir("out")
    val e = intercept[java.io.FileNotFoundException](
      GtfsWriter.passThroughTables(missing.toString, out.toString))
    assert(e.getMessage.contains(missing.toString), e.getMessage)
    assert(listing(out).isEmpty)
  }

  test("GtfsApp.run without a source gtfs/ dir fails before anything is " +
    "published") {
    val root = tempDir("nogtfs")
    val out = tempDir("out")
    val e = intercept[java.io.FileNotFoundException](
      GtfsApp.run(spark, root.toString, out.toString))
    assert(e.getMessage.contains(root.resolve("gtfs").toString), e.getMessage)
    assert(listing(out).isEmpty)
  }
}
