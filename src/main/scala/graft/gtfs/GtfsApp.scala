package graft.gtfs

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Pillar P5 — the reference's GitHub-Actions DAG as one Spark application
  * (SURVEY §3: update-routes → generate-gtfs → zip, with the
  * `git diff --quiet` publish gate replaced by content hashes).
  *
  * The gate hashes exactly the bytes it publishes: every feed file is
  * rendered into a staging directory first, and `.content_hashes` holds
  * one `<file name>=<MD5 hex>` line per file, so `md5sum` over the
  * published feed reproduces it.
  *
  * Usage: GtfsApp <referenceRootDir> <outDir> [--lint]
  */
object GtfsApp {
  def main(args: Array[String]): Unit = args match {
    case Array(rootDir, outDir, flags @ _*) =>
      val spark = graft.Graft.session()
      val t0 = System.nanoTime()
      run(spark, rootDir, outDir, flags.contains("--lint"))
      println(f"[gtfs] pipeline (build+hash+write+zip) took " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s (excl. session startup)")
      spark.stop()
    case _ =>
      System.err.println("usage: GtfsApp <referenceRootDir> <outDir> [--lint]")
      sys.exit(2)
  }

  /** Build the feed and publish it into `outDir` only if its bytes changed
    * since the last run (I2). Returns the MD5 of every feed file, keyed by
    * file name.
    *
    * Every feed file is staged under `outDir` first. Publish deletes the
    * old `.txt` tables (a table dropped from the source must leave the
    * feed), moves the staged ones in, zips them and writes
    * `.content_hashes` last, so an interrupted publish is redone by the
    * next run.
    *
    * `lint = true` adds a FEED-QA GATE before publish — the s16
    * write–audit–publish shape: the staged CSVs run through
    * [[FeedLint.lint]] and a violation aborts the publish with the
    * offending rules in the message. An unchanged feed skips the gate.
    * Off by default: the reference DAG has no such gate, and the
    * benchmarked app must time the reference's work, not more.
    */
  def run(spark: SparkSession, rootDir: String, outDir: String,
          lint: Boolean = false): Map[String, String] = {
    // a missing source gtfs/ dir fails before any work
    GtfsWriter.passThroughFiles(s"$rootDir/gtfs")
    val g = GtfsPipeline.build(spark, rootDir)
    val out = Files.createDirectories(Paths.get(outDir))
    val stage = Files.createTempDirectory(out, ".staging")
    try {
      GtfsWriter.writeAll(g, stage.toString)
      val names = (GtfsWriter.FieldOrder.keys ++ GtfsWriter.passThroughTables(
        s"$rootDir/gtfs", stage.toString)).toSeq.sorted
      val hashes = names.map(n => n -> md5(stage.resolve(n))).toMap
      val manifest = names.map(n => s"$n=${hashes(n)}").mkString("\n")
      val hashFile = out.resolve(".content_hashes")
      if (!Files.exists(hashFile) || Files.readString(hashFile) != manifest) {
        if (lint) lintGate(readFeed(spark, stage))
        Files.deleteIfExists(hashFile)
        val listing = Files.list(out)
        try listing.filter(_.getFileName.toString.endsWith(".txt")).toList
          .forEach(p => Files.delete(p))
        finally listing.close()
        names.foreach(n => Files.move(stage.resolve(n), out.resolve(n)))
        GtfsWriter.zipFeed(outDir, s"$outDir/gtfs.zip")
        Files.writeString(hashFile, manifest)
      }
      hashes
    } finally {
      Files.walk(stage).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** MD5 of a file's bytes in lowercase hex, as `md5sum` prints it. */
  private def md5(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = new java.security.DigestInputStream(Files.newInputStream(p), md)
    try in.transferTo(java.io.OutputStream.nullOutputStream()) finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** The generated tables of a written feed, as a CSV reader sees them. */
  private def readFeed(spark: SparkSession, dir: Path): GtfsPipeline.Gtfs = {
    def t(n: String) = spark.read.option("header", "true")
      .option("multiLine", "true").csv(dir.resolve(s"$n.txt").toString)
    GtfsPipeline.Gtfs(t("agency"), t("routes"), t("stops"), t("shapes"),
      t("trips"), t("stop_times"), t("calendar"))
  }

  /** The publish gate itself, separated so the abort path is directly
    * testable: throws with the offending rules if the feed fails lint.
    */
  private[graft] def lintGate(g: GtfsPipeline.Gtfs): Unit = {
    val dirty = FeedLint.lint(g)
      .filter(org.apache.spark.sql.functions.col("n_violations") > 0)
      .collect() // O(#checks) rows by construction
    require(dirty.isEmpty,
      s"feed failed lint, publish aborted: ${dirty.mkString("; ")}")
  }
}
