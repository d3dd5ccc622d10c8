package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Methodology: each query is executed once untimed (JIT/codegen +
  * parquet-footer warmup — steady-state numbers, JMH-style), Spark's
  * cache is cleared so no query is measured against its own warmed
  * cache, then each query is timed executing to a `noop` sink and the
  * MINIMUM of three passes is reported (noise on a shared host is
  * strictly additive, so the min is the closest reading of true cost —
  * the standard steady-state microbenchmark convention). The three
  * passes are INTERLEAVED round-robin — pass 1 of every query, then
  * pass 2, then pass 3 — so a multi-minute host-noise burst lands on
  * at most one pass of any given query instead of swallowing all three
  * back-to-back (observed in round 4: one query read 6× its true time).
  * The noop sink materializes every output column (unlike `count()`,
  * under which Catalyst eliminates sorts and prunes expensive
  * projections, so the measured work would not be the query's work).
  * Env settings: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (the session's
  * cores, see [[Graft.session]]), SPARK_GRAFT_GTFS_ROOT, and the local
  * iteration aids SPARK_GRAFT_ONLY and SPARK_GRAFT_PASSES.
  */
object Bench {
  /** Round-robin interleaving runs every other selected query between two
    * passes of one query; Spark's default 100-entry codegen cache would
    * evict every generated class in between, so each timed pass would
    * recompile codegen (work the warm-up pass is supposed to absorb).
    */
  val CodegenCacheEntries = 10000

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(codegenCacheEntries = Some(CodegenCacheEntries))

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_ONLY=q01_…,r03_… limits the run to a subset and
    // SPARK_GRAFT_PASSES overrides the pass count — iteration aids for
    // local tuning on a noisy host (more interleaved passes tighten the
    // min); the driver never sets either. Both FAIL FAST on bad values
    // (an unknown name would otherwise silently select zero queries and
    // print a plausible-looking empty result), and every non-default knob
    // is echoed into the output JSON so a tuning run can never be
    // mistaken for a clean 3-pass full run.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map { p =>
      require(p.forall(_.isDigit) && p.nonEmpty && p.toInt >= 1,
        s"SPARK_GRAFT_PASSES must be a positive integer, got '$p'")
      p.toInt
    }.getOrElse(3)
    val subset = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    subset.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    // knob values are env-provided free text (e.g. a path); escape the
    // JSON-breaking characters — backslash, quote, AND ASCII control
    // chars (a newline in an env value would split the driver-parsed
    // line) — so the line stays valid JSON
    def jesc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val knobs = Seq("SPARK_GRAFT_ONLY", "SPARK_GRAFT_PASSES", "SPARK_GRAFT_CPUS")
      .flatMap(k => sys.env.get(k).map(v => s""""$k":"${jesc(v)}""""))
    val knobsJson =
      if (knobs.isEmpty) "" else knobs.mkString(""","knobs":{""", ",", "}")
    val selected = SparkEntry.queries.filter { case (n, _) =>
      subset.forall(_.contains(n))
    }

    // Host-noise canary: a fixed-cost single-partition CPU probe (40M
    // codegen'd xxhash64 + sum — no I/O, no shuffle, constant work)
    // timed once per pass and emitted in both JSON lines as canary_sec.
    // Its quiet-host value is recorded in BENCH_NOTES.md; a contended
    // capture window (the BENCH_r08 failure mode: ~2.5× host load read
    // as a fake 2.32× regression) now self-flags in the artifact
    // instead of costing a judge round to adjudicate.
    def canary(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing 40M uniform longs overflows, which
      // ANSI mode (Spark 4 default) turns into a run-killing exception
      spark.range(0L, 40000000L, 1L, 1)
        .selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // Second canary, SHUFFLE-path: three consecutive rounds of +6-7%
    // common-set drift left the single-partition CPU probe at floor —
    // whatever the host contends on lives in the exchange/scheduler
    // path, not raw single-thread CPU. This probe is constant work with
    // zero I/O: 1M generated rows fan out through a 32-partition
    // hash-exchange + per-key agg + a second 1-row agg, exercising
    // shuffle write, fetch, task scheduling and result collection. Its
    // quiet-host value is calibrated in BENCH_NOTES; a window whose
    // shuffle canary sits above band self-flags host contention the
    // CPU canary cannot see.
    def shuffleCanary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000L, 1L, 4)
        .selectExpr("id % 1000 AS k", "xxhash64(id) AS v")
        .repartition(32, org.apache.spark.sql.functions.col("k"))
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.expr("bit_xor(v) AS x"))
        .selectExpr("bit_xor(x)").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // Untimed warmup pass (canaries included — their first run pays
    // codegen compile like any query), then drop any caches built.
    canary()
    shuffleCanary()
    selected.foreach { case (name, fn) =>
      try run(name, fn) catch {
        case e: Throwable => Graft.reportFailure("bench", s"$name (warm-up)", e)
      }
    }
    spark.catalog.clearCache()

    val ordered = selected.toSeq
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failedQ = scala.collection.mutable.Set.empty[String]
    val canaries = scala.collection.mutable.ListBuffer.empty[Double]
    val shCanaries = scala.collection.mutable.ListBuffer.empty[Double]
    for (_ <- 1 to passes) {
      canaries += canary()
      shCanaries += shuffleCanary()
      for ((name, fn) <- ordered) {
        val t0 = System.nanoTime()
        try run(name, fn) catch {
          case e: Throwable =>
            if (failedQ.add(name)) Graft.reportFailure("bench", name, e)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop any cache the query built for itself so every pass (and
        // the next query) starts cold — no pass measures a cache hit
        spark.catalog.clearCache()
        samples(name) = dt :: samples(name)
      }
    }
    // a throwing query must read as broken (-1), not as a fast success
    val results = ordered.map { case (name, _) =>
      name -> (if (failedQ(name)) -1.0 else samples(name).min)
    }.toMap

    // The reference-parity GTFS pipeline is the headline capability;
    // run it end-to-end per round (full-suite runs only, so subset
    // tuning loops stay fast) and track its wall-clock in BENCH_DETAIL.
    // Warmed 3-pass solo MIN (one untimed warmup, then `passes` timed
    // runs, fresh output dir each): the committed number used to be a
    // single suite-tail run, which swung 8.5–15 s with host noise
    // (documented band since r7) — this is the same adjudication
    // protocol BENCH_NOTES applies by hand, now in the artifact.
    // Never in the stdout line: the driver-parsed tail is char-budgeted
    // and the app is not a per-query metric.
    val gtfsSec: Option[Double] =
      if (subset.nonEmpty) None
      else try {
        val root = sys.env.getOrElse("SPARK_GRAFT_GTFS_ROOT", "/root/reference")
        def onePass(): Double = {
          val out = java.nio.file.Files
            .createTempDirectory("graft-bench-gtfs").toString
          val t0 = System.nanoTime()
          graft.gtfs.GtfsApp.run(spark, root, out)
          (System.nanoTime() - t0) / 1e9
        }
        onePass() // untimed warmup
        spark.catalog.clearCache()
        Some((1 to passes).map { _ =>
          val dt = onePass(); spark.catalog.clearCache(); dt
        }.min)
      } catch {
        case e: Throwable =>
          // class + message FIRST (a char-budgeted tail truncates stack
          // HEADS, which is what made r07's benign WARN stack unreadable);
          // the stack goes after, for full logs
          System.err.println(
            s"[bench] GTFS APP FAILED: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          Some(-1.0)
      }
    // A failed GTFS pass must poison the run visibly: -1 in the detail
    // file alone reads as "fast success" to anything summing the line.
    val gtfsFailed = gtfsSec.contains(-1.0)
    // short enough for the char-budgeted stdout line too (only on failure)
    val gtfsFailJson = if (gtfsFailed) ""","gtfs_app_failed":true""" else ""
    val gtfsJson =
      gtfsSec.fold("")(v => s""","gtfs_app_sec":$v""") + gtfsFailJson
    // Baseline staleness is self-reporting: any measured query the
    // committed DuckDB timing file doesn't cover is invisible to the
    // bench-vs-baseline ratio (round 6 shipped ~5.9 s of ungraded
    // queries before this was caught by hand). Full runs only.
    val missingBaseline: Seq[String] =
      if (subset.nonEmpty) Nil
      else try {
        val p = java.nio.file.Paths.get("DUCKDB_TIMES_sf01.json")
        if (!java.nio.file.Files.exists(p)) Nil
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val covered = "\"([a-z0-9_]+)\"\\s*:".r
            .findAllMatchIn(txt).map(_.group(1)).toSet
          results.keySet.filterNot(covered).toSeq.sorted
        }
      } catch { case _: Throwable => Nil }
    val staleJson =
      if (missingBaseline.isEmpty) ""
      else missingBaseline.map("\"" + _ + "\"")
        .mkString(""","missing_duckdb_baseline":[""", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // per-pass canary readings, in pass order (fmt is declared below)
    def canaryJson(f: Double => String) =
      canaries.map(f).mkString(""","canary_sec":[""", ",", "]") +
        shCanaries.map(f).mkString(""","shuffle_canary_sec":[""", ",", "]")
    // The driver keeps only the LAST 2000 chars of stdout; full-precision
    // doubles pushed the 59-query line past that, truncating its head and
    // breaking the driver's JSON parse ("parsed": null in BENCH_r1-r3).
    // 2 dp (centisecond) per-query values keep the whole line inside the
    // tail window; full precision goes to BENCH_DETAIL.json alongside.
    // Locale.ROOT: the f"" interpolator formats via the JVM default
    // locale, so a comma-decimal locale (de_DE …) would emit "34,48" and
    // break the driver's JSON parse
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"sf":"${jesc(sfDir)}"${canaryJson(_.toString)}$knobsJson$gtfsJson$staleJson}"""
    // Subset tuning loops write elsewhere: BENCH_DETAIL.json is the
    // committed full-run artifact, and subset runs kept clobbering it
    // (restored by hand twice in r10/r11 — now impossible by path).
    val detailPath =
      if (subset.nonEmpty) "BENCH_SUBSET.json" else "BENCH_DETAIL.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch {
      // stderr isn't part of the parsed stdout tail, so a failed detail
      // write stays diagnosable without corrupting the JSON line
      case e: Throwable =>
        System.err.println(s"BENCH_DETAIL.json write failed: $e")
    }
    // The stdout line is parsed from the driver's LAST-2000-char tail;
    // at 81 queries the full-name map alone is ~2300 chars and would
    // truncate the line's head (the BENCH_r1-r3 failure mode again).
    // Emit the id prefix ("q16_exact_percentiles" → "q16") — unique by
    // construction (asserted), and the id scheme every artifact uses —
    // on stdout; BENCH_DETAIL.json above keeps full names.
    def shortId(name: String) = name.takeWhile(_ != '_')
    require(results.keySet.map(shortId).size == results.size,
      "query id prefixes must be unique for the stdout bench line")
    val qs = results.map { case (k, v) => s"\"" + shortId(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // The queries dict comes FIRST and the summary fields LAST: at 169
    // queries the dict alone (~2.2k chars) overflows the driver's
    // 2000-char tail window, and in r11 the overflow truncated the
    // LEADING "total" metric away ("parsed": null). With the totals
    // trailing the dict, a tail window of any size keeps the summary —
    // only the oldest per-query entries (fully recorded in
    // BENCH_DETAIL.json regardless) can fall off the head.
    println(s"""{"queries":$qs,"metric":"total","value":${fmt(total)},"unit":"sec","sf":"${jesc(sfDir)}"${canaryJson(fmt)}$knobsJson$gtfsFailJson}""")
    // ...and a compact summary line LAST (~150 chars — fits ANY tail
    // window whole, so it always parses even when the full line above
    // cannot): the totals the driver's "parsed" field needs, with
    // per-query values delegated to the full line + BENCH_DETAIL.json.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nqueries":${results.size},"sf":"${jesc(sfDir)}"${canaryJson(fmt)}$gtfsFailJson}""")
    spark.stop()
  }
}
