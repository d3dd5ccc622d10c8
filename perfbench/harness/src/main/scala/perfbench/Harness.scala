package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One operation the closed-loop client issued. Pass 0 is the untimed
  * warm-up whose outputs are checked; timed passes count from 1. Start and
  * end are wall-clock milliseconds, to line up with listener events.
  */
final case class OpRec(id: Int, pass: Int, kind: String, name: String,
                       startMs: Long, endMs: Long, latS: Double,
                       error: Option[(String, String)])

/** What a workload hands back to [[Harness]]: when set-up ended, the wall
  * seconds of each timed pass, extra JSON members of the result file and
  * workload-specific per-layer metrics.
  */
final case class Outcome(setupEndMs: Long, passes: Seq[Double],
                         fields: Seq[(String, String)],
                         layer: Seq[(String, Double)])

/** Runs one workload in this JVM against the program's public entry
  * points and writes `result.json` into the run directory.
  *
  * Usage: Harness workload=<name> data=<dir> out=<dir> seed=<n>
  *        seconds=<s> trace=<0|1> [queries=<file>] [feed=<dir>]
  *        [requests=<file>]
  *
  * The client is a closed loop with one thread: each operation starts
  * only after the previous one has finished, and every operation ends
  * with `spark.catalog.clearCache()`.
  */
object Harness {
  final class Client(val spark: SparkSession, val tracer: Tracer) {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var codegenBefore1 = (0L, 0.0)
    var codegenAfter1 = (0L, 0.0)
    var jitMsAfter1 = 0.0
    // listener marks around the first timed pass (traced runs only)
    var marksBefore1 = (-1, 0)
    var marksAfter1 = (-1, 0)

    /** Runs `body` as one operation; a throw is recorded, not raised. */
    def op[T](pass: Int, kind: String, name: String)(body: => T): Option[T] = {
      val id = ops.size
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = tracer.op(id) {
        tracer.span(kind) {
          try Right(body) catch { case e: Throwable => Left(e) }
          finally spark.catalog.clearCache()
        }
      }
      val lat = (System.nanoTime() - t0) / 1e9
      val err = r.left.toOption.map { e =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .toSeq.last
        (root.getClass.getName, String.valueOf(root.getMessage).take(300))
      }
      ops += OpRec(id, pass, kind, name, ms0, System.currentTimeMillis(),
        lat, err)
      r.toOption
    }

    /** Timed passes until `seconds` have gone by; at least one. */
    def passes(seconds: Double)(pass: Int => Unit): Seq[Double] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Double]
      var i = 1
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        if (i == 1 && tracer.enabled) marksBefore1 = Ledger.mark(spark)
        if (i == 1) codegenBefore1 = Layers.codegen()
        val p0 = System.nanoTime()
        tracer.span("pass")(pass(i))
        if (i == 1) {
          codegenAfter1 = Layers.codegen()
          jitMsAfter1 = Layers.jitMs()
          if (tracer.enabled) marksAfter1 = Ledger.mark(spark)
        }
        out += (System.nanoTime() - p0) / 1e9
        i += 1
      }
      out.toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val workload = a("workload")
    val out = Paths.get(a("out"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracer = new Tracer(a("trace") == "1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors))

    val spark = tracer.span("session")(graft.Graft.session(s"local[$cpus]"))
    if (tracer.enabled) Ledger.install(spark)
    val client = new Client(spark, tracer)
    val outcome = workload match {
      case "star_queries" =>
        QueryWorkload.run(client, readLines(a("queries")), a("data"), out,
          seed, seconds)
      case "transit_feed" =>
        TransitWorkload.run(client, a("feed"), readLines(a("requests")),
          out, seconds)
      case other => sys.error(s"unknown workload '$other'")
    }
    val layer =
      if (tracer.enabled) Layers.measure(spark, client, a.get("data")) else Nil

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val fields = Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cpus" -> cpus,
      "setup_s" -> Json.num((outcome.setupEndMs - jvmStartMs) / 1e3),
      "passes" -> Json.arr(outcome.passes.map(Json.num)),
      "ops" -> Json.arr(client.ops.toSeq.map { o =>
        Json.obj(Seq("pass" -> o.pass.toString, "kind" -> Json.str(o.kind),
          "name" -> Json.str(o.name), "lat_s" -> Json.num(o.latS)) ++
          o.error.toSeq.flatMap { case (c, m) =>
            Seq("error_class" -> Json.str(c), "error" -> Json.str(m)) })
      }),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "per_layer" -> Json.obj((layer ++ outcome.layer).map { case (k, v) =>
        k -> Json.num(v) }),
      "self_ms" -> Json.obj(tracer.selfMs.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })) ++ outcome.fields
    if (tracer.enabled) {
      Files.write(out.resolve("spans.jsonl"), tracer.toJsonLines.toSeq.asJava)
      Files.write(out.resolve("jobs.jsonl"), Ledger.allJobs.map { j =>
        Json.obj(Seq("id" -> j.id.toString, "start_ms" -> j.startMs.toString,
          "end_ms" -> j.endMs.toString, "module" -> Json.str(j.module),
          "frame" -> Json.str(Ledger.firstGraftClass(j.site)),
          "label" -> Json.str(j.label), "tasks" -> j.tasks.toString,
          "site" -> Json.str(j.site.linesIterator.take(3).mkString(" | "))))
      }.asJava)
    }
    Files.writeString(out.resolve("result.json"), Json.obj(fields))
    spark.stop()
  }

  def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq

  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  /** The permutation of `xs` that `seed` selects. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)
}

/** star_queries: SparkEntry queries, each operation one query built and
  * written to the `noop` sink. The untimed warm-up pass writes each
  * result as parquet instead, for the DuckDB oracle check.
  */
object QueryWorkload {
  def run(c: Harness.Client, names: Seq[String], dir: String, out: Path,
          seed: Long, seconds: Double): Outcome = {
    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val spark = c.spark
    val results = out.resolve("results")
    def noopPass(p: Int): Unit =
      Harness.shuffled(names, seed * 1000 + p).foreach { n =>
        c.op(p, "query", n) {
          val df = c.tracer.span("build")(all(n)(spark, dir))
          c.tracer.span("write")(df.write.format("noop").mode("overwrite").save())
        }
      }
    // warm-up: one pass whose results the oracle checks; it leaves every
    // query's plans compiled once, so the timed passes start warm
    c.tracer.span("warmup") {
      Harness.shuffled(names, seed).foreach { n =>
        c.op(0, "query", n) {
          val df = c.tracer.span("build")(all(n)(spark, dir))
          c.tracer.span("write")(df.coalesce(1).write.mode("overwrite")
            .parquet(results.resolve(n).toString))
        }
      }
    }
    val setupEnd = System.currentTimeMillis()
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(names
      .flatMap(n => oracle.get(n).map(sql => n -> Json.str(sql)))))
    val passes = c.passes(seconds)(noopPass)
    // the GtfsApp metrics a traced run reports: this workload runs no GtfsApp
    Outcome(setupEnd, passes, Nil,
      Seq("gtfs.bytes_written" -> 0.0, "gtfs.publish_ratio" -> 0.0))
  }
}

/** transit_feed: the GTFS pipeline publishing a synthetic network and a
  * journey planner answering requests over the published feed.
  *
  * One pass: (1) `GtfsApp.run` publishes the feed into a fresh directory;
  * (2) it runs again on the unchanged feed, and the hash gate lets
  * nothing through; (3) every journey request runs `Routing.earliestArrival` and then
  * `Routing.journeyLegsFromLabels` (`journeyLegs` given those labels)
  * over the stop_times just published, with the feed's transfers.txt as
  * footpaths. There is no warm-up cycle: the first pass runs on a cold
  * JVM, so set-up ends when the session is built. A cold cycle is what a
  * scheduled publish job runs, and a warm-up cycle would double the run.
  * An edited republish is left out for the same reason: one more cold
  * `GtfsApp.run` would take the run past its time budget.
  */
object TransitWorkload {
  def run(c: Harness.Client, feed: String, requests: Seq[String],
          out: Path, seconds: Double): Outcome = {
    val spark = c.spark
    val reqs = requests.map(_.split(",")).map { r =>
      (r(0), r(1), r(2)) }
    val publishS = mutable.ArrayBuffer.empty[Double]
    val runs = mutable.ArrayBuffer.empty[Boolean]
    val bytes = mutable.ArrayBuffer.empty[Long]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

    def publish(pass: Int, step: String, root: String, dst: Path)
        : Option[Map[String, String]] = {
      val before = snapshot(dst)
      val t0 = System.nanoTime()
      val h = c.op(pass, "gtfs_run", step) {
        graft.gtfs.GtfsApp.run(spark, root, dst.toString)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val after = snapshot(dst)
      val wrote = after != before
      if (pass == 1) {
        runs += wrote
        bytes += after.values.map(_._1).sum - before.filter { case (k, v) =>
          after.get(k).contains(v) }.values.map(_._1).sum
      }
      if (pass > 0 && wrote) publishS += dt
      h
    }

    /** The journey requests over the feed published in `dst`. */
    def journeys(pass: Int, dst: Path, which: Seq[Int]): Unit = {
      val stopTimes = spark.read.option("header", "true")
        .csv(dst.resolve("stop_times.txt").toString)
        .select(col("trip_id").as("trip"),
          col("stop_sequence").cast("int").as("seq"),
          col("stop_id").as("stop"),
          graft.functions.timecodec.timeToSec(col("arrival_time")).as("arr"),
          graft.functions.timecodec.timeToSec(col("departure_time")).as("dep"))
      val transfers = spark.read.option("header", "true")
        .csv(dst.resolve("transfers.txt").toString)
        .select(col("from_stop_id").as("from_stop"),
          col("to_stop_id").as("to_stop"),
          col("min_transfer_time").cast("long").as("min_transfer_time"))
      which.foreach { i =>
        val (o, t, d) = reqs(i)
        val dep = t.split(":").map(_.toLong).reduceLeft(_ * 60 + _)
        c.op(pass, "journey", s"$o@$t->$d") {
          val (labelDf, labels) = c.tracer.span("earliest_arrival") {
            val l = graft.graph.Routing.earliestArrival(stopTimes, o, dep,
              maxRounds = 60, transfers = Some(transfers))
            (l, l.collect())
          }
          // the legs reuse the labels just computed instead of running
          // the same fixpoint a second time inside Routing.journeyLegs
          val legs = c.tracer.span("journey_legs") {
            graft.graph.Routing.journeyLegsFromLabels(stopTimes, labelDf, o, d,
              transfers = Some(transfers)).collect()
          }
          if (pass == 1) {
            Files.write(out.resolve(s"labels-$i.csv"), labels
              .map(r => s"${r.get(0)},${r.get(1)}").toSeq.asJava)
            Files.write(out.resolve(s"legs-$i.csv"), legs.map { r =>
              (0 until r.length).map(j => String.valueOf(r.get(j)))
                .mkString(",") }.toSeq.asJava)
          }
        }
      }
    }

    def cycle(pass: Int, requests: Seq[Int]): Unit = {
      val dst = out.resolve(s"feed-$pass")
      val h = publish(pass, "publish", feed, dst)
      val before = snapshot(dst)
      val h2 = publish(pass, "rerun_unchanged", feed, dst)
      checks += ((s"pass$pass.rerun_equal_hashes",
        h.isDefined && h == h2, ""))
      checks += ((s"pass$pass.rerun_writes_nothing",
        h2.isDefined && snapshot(dst) == before, ""))
      journeys(pass, dst, requests)
    }

    // the output checks read the first timed pass
    val setupEnd = System.currentTimeMillis()
    val passes = c.passes(seconds)(cycle(_, reqs.indices))
    // lint the feed the first timed pass published: no rule may fire
    val lint = c.tracer.span("check") {
      def t(n: String) = spark.read.option("header", "true")
        .csv(out.resolve(s"feed-1/$n.txt").toString)
      graft.gtfs.FeedLint.lint(graft.gtfs.GtfsPipeline.Gtfs(t("agency"),
        t("routes"), t("stops"), t("shapes"), t("trips"), t("stop_times"),
        t("calendar"))).filter(col("n_violations") > 0).collect()
    }
    checks += (("feedlint_clean", lint.isEmpty, lint.mkString("; ")))
    val fields = Seq(
      "publish_s" -> Json.arr(publishS.toSeq.map(Json.num)),
      "checks" -> Json.arr(checks.toSeq.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
          "detail" -> Json.str(d)))
      }))
    val layer = Seq(
      "gtfs.bytes_written" -> bytes.sum.toDouble,
      "gtfs.publish_ratio" ->
        (if (runs.isEmpty) 0.0 else runs.count(identity).toDouble / runs.size))
    Outcome(setupEnd, passes, fields, layer)
  }

  /** Size and modification time of every file under `dir`. */
  def snapshot(dir: Path): Map[String, (Long, Long)] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        dir.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }
}
