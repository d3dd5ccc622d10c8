package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{Ev, SessionAgg}

/** Structured Streaming specs: watermarked windowed rollup through a real
  * MemoryStream micro-batch run, stateful sessionization across batches,
  * and the content-hash change gate.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("hourlyRollup aggregates a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.hourlyRollup(df)
      .writeStream.format("memory").queryName("rollup")
      .outputMode(OutputMode.Complete).start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0),
      (ts(11, 10), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("rollup")
      .orderBy("window_start", "event_type")
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("event_type"), col("n"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSeq
    q.stop()
    assert(rows == Seq(("10:00", "click", 2L, 3.0), ("11:00", "view", 1L, 5.0)))
  }

  test("bloomPrefilterStream drops corpus duplicates from a live stream") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "alpha beta"), (101L, "gamma delta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val key = graft.functions.text.fingerprint(col("text"))
    val q = StreamingJobs.bloomPrefilterStream(stream, key, corpus, key,
        expectedKeys = 100, fpp = 0.001)
      .writeStream.format("memory").queryName("bloom_kept")
      .outputMode(OutputMode.Append).start()
    mem.addData((1L, "alpha beta"), (2L, "fresh text"), (3L, "gamma delta"))
    q.processAllAvailable()
    mem.addData((4L, "gamma delta"), (5L, "another new one"))
    q.processAllAvailable()
    val kept = spark.table("bloom_kept").select("doc_id")
      .as[Long].collect().toSet
    q.stop()
    assert(kept == Set(2L, 5L),
      s"corpus dups must drop in every batch, new docs pass: $kept")
  }

  test("hourlyRollup append mode finalizes windows and drops late data") {
    // Complete mode never drops anything — the 2 h watermark only has
    // observable semantics in Append mode: a window emits exactly once
    // when the watermark passes its end, and events arriving behind the
    // watermark are discarded.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.hourlyRollup(df)
      .writeStream.format("memory").queryName("rollup_append")
      .outputMode(OutputMode.Append).start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0))
    q.processAllAvailable()
    // advances the watermark to 11:30 (13:30 − 2 h) for the NEXT batch
    mem.addData((ts(13, 30), "view", 1.0))
    q.processAllAvailable()
    // late: 09:50 sits behind the 11:30 watermark — must be discarded
    mem.addData((ts(9, 50), "click", 99.0))
    q.processAllAvailable()
    // flush: push the watermark far enough to finalize everything ≤ 13:00
    mem.addData((ts(16, 30), "view", 1.0))
    q.processAllAvailable()
    val rows = spark.table("rollup_append")
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("event_type"), col("n"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSeq
    q.stop()
    // the 10:00 window holds ONLY the two on-time clicks; the late event
    // created no 09:00 window and didn't disturb the finalized result
    assert(rows.contains(("10:00", "click", 2L, 3.0)), rows.toString)
    assert(!rows.exists(_._1 == "09:00"), rows.toString)
  }

  test("spikeAlertStream flags breaching windows against a static baseline") {
    implicit val sqlCtx = spark.sqlContext
    // static history for series "click": 20 hourly buckets of
    // 16×10 + 2×13 + 2×4 events → T=20, S=194, SS=1970;
    // rhs = 9·(T·SS − S²) = 9·1764 = 15876
    val hist = (Seq.fill(16)(10) ++ Seq(13, 13, 4, 4))
      .zipWithIndex
      .flatMap { case (n, b) => Seq.fill(n)(("click", b.toLong)) }
      .toDF("event_type", "bucket")
    val counts = hist.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val baseline = graft.operators.Anomaly.seriesStats(counts, "event_type")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingJobs.spikeAlertStream(
        mem.toDF().toDF("ts", "event_type"), "event_type", baseline,
        sigma = 3, flagLow = true)
      .writeStream.format("memory").queryName("spike_alerts")
      .outputMode(OutputMode.Append).start()
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // hour 10: 25 clicks → dev = 25·20 − 194 = 306; 306² = 93636 ≥
    // 15876 → breach. hour 11: 11 clicks → dev = 26; 676 < 15876 →
    // quiet. (History's own worst bucket: n=4 → dev² 12996 < rhs.)
    mem.addData((1 to 25).map(i => (ts(10, i), "click")): _*)
    mem.addData((1 to 11).map(i => (ts(11, i), "click")): _*)
    q.processAllAvailable()
    // flush the watermark past both windows
    mem.addData((ts(15, 0), "click"))
    q.processAllAvailable()
    val rows = spark.table("spike_alerts")
      .select(date_format(col("window_start"), "HH:mm"), col("n"))
      .as[(String, Long)].collect().toSet
    q.stop()
    assert(rows == Set(("10:00", 25L)), rows.toString)
    // replay through the batch operator: identical verdicts on the
    // same joined stats (parity of the shared breach predicate)
    val replay = counts.join(baseline, Seq("event_type"))
      .filter(graft.operators.Anomaly.breach(3, flagLow = true))
    assert(replay.count() == 0) // the baseline itself is all in-band
  }

  test("intervalJoinStream matches the batch binned join across batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val pMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val iMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = StreamingJobs.intervalJoinStream(
        pMem.toDF().toDF("user_id", "ts", "event_id"),
        iMem.toDF().toDF("user_id", "ts", "event_id"),
        lenSeconds = 7200)
      .writeStream.format("memory").queryName("iv_join")
      .outputMode(OutputMode.Append).start()
    // batch 1: user 1 opens a window at 10:00 (ref 100); an in-window
    // point arrives in the SAME batch (10:30, id 10)
    iMem.addData((1L, ts(10, 0), 100L))
    pMem.addData((1L, ts(10, 30), 10L))
    q.processAllAvailable()
    // batch 2: a LATER point lands in the buffered window (11:59, id
    // 11 — cross-batch match), one just past it (12:00, id 12 — the
    // half-open edge), and user 2 has a point but no window
    pMem.addData((1L, ts(11, 59), 11L), (1L, ts(12, 0), 12L),
      (2L, ts(11, 0), 20L))
    q.processAllAvailable()
    val got = spark.table("iv_join")
      .select("event_id", "ref_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((10L, 100L), (11L, 100L)), got.toString)
    // parity: the batch binned operator on the same rows
    val pts = Seq((1L, ts(10, 30), 10L), (1L, ts(11, 59), 11L),
      (1L, ts(12, 0), 12L), (2L, ts(11, 0), 20L))
      .toDF("user_id", "ts", "event_id")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    val ivs = Seq((1L, ts(10, 0), 100L)).toDF("user_id", "ts", "ref_id")
      .select(col("user_id"), unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + 7200000000L).as("hi"), col("ref_id"))
    val batch = graft.operators.Intervals
      .pointInInterval(pts, ivs, "user_id", "ts_us", "lo", "hi",
        binWidth = 3600000000L)
      .select("event_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("sessionizeStream closes sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingJobs.sessionizeStream(mem.toDS(), gapMs = 1000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    mem.addData(Ev(1, 0), Ev(1, 500), Ev(1, 900))   // one open session
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 0)     // still open, nothing emitted
    mem.addData(Ev(1, 5000), Ev(2, 0))               // gap closes user 1's session
    q.processAllAvailable()
    val closed = spark.table("sessions").as[SessionAgg].collect().toSeq
    q.stop()
    assert(closed == Seq(SessionAgg(1, 0, 900, 3)))
  }

  test("funnelStream advances across batches; equals the batch fold in-order") {
    import StreamingJobs.{FEv, FunnelProgress}
    implicit val sqlCtx = spark.sqlContext
    val stages = Seq("view", "click", "purchase")
    val w = 1000L
    val mem = MemoryStream[FEv]
    val q = StreamingJobs.funnelStream(mem.toDS(), stages, windowUs = w)
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    // batch 1: u1 views (advance to 1); u2's click without a view: no-op
    mem.addData(FEv(1, "view", 100), FEv(2, "click", 100))
    q.processAllAvailable()
    // batch 2: u1's purchase arrives EARLY (stage 2 not reached yet —
    // consumed without effect, a stream cannot revisit it); u2 views
    mem.addData(FEv(1, "purchase", 1500), FEv(2, "view", 200))
    q.processAllAvailable()
    // batch 3: u1's click arrives LATE (ts 900 < the purchase's 1500) —
    // it still advances to stage 2, but the already-consumed purchase
    // is gone: the stream stops at 2 where the batch fold reaches 3
    mem.addData(FEv(1, "click", 900))
    q.processAllAvailable()
    val rows = spark.table("funnel").as[FunnelProgress].collect().toSeq
    q.stop()
    assert(rows.toSet == Set(FunnelProgress(1, 1, 100),
      FunnelProgress(1, 2, 900), FunnelProgress(2, 1, 200)))
    // the batch fold sees global ts order (view 100, click 900,
    // purchase 1500 inside the window) and completes the funnel
    val all = Seq((1L, "view", 100L), (2L, "click", 100L),
      (1L, "purchase", 1500L), (2L, "view", 200L), (1L, "click", 900L))
    val batchReached = graft.operators.Funnel.funnelStages(
        all.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", stages, windowUs = w)
      .as[(Long, Int)].collect().toMap
    // u1's late purchase at 950 WOULD advance the batch fold (global ts
    // order) — the stream is a strict lower bound there
    assert(batchReached == Map(1L -> 3, 2L -> 1))
    val streamFinal = rows.groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.map(_.reached).max }
    assert(streamFinal == Map(1L -> 2, 2L -> 1))
    assert(streamFinal.forall { case (u, r) => r <= batchReached(u) })
  }

  test("cepStream completes patterns ACROSS batches exactly once; " +
    "equals the batch count in-order; truncation is a lower bound") {
    import StreamingJobs.{CepEv, CepMatch}
    implicit val sqlCtx = spark.sqlContext
    // v[^p]*p = "view then purchase with no intervening purchase";
    // e{2,} = error burst
    val pats = Seq("v[^p]*p", "e{2,}")
    val mem = MemoryStream[CepEv]
    val q = StreamingJobs.cepStream(mem.toDS(), pats)
      .writeStream.format("memory").queryName("cep")
      .outputMode(OutputMode.Append).start()
    // batch 1: k1 v,c — no completion yet; k2 e (burst pending)
    mem.addData(CepEv(1, 100, 0, "v"), CepEv(1, 200, 1, "c"),
      CepEv(2, 100, 0, "e"))
    q.processAllAvailable()
    val afterB1 = spark.table("cep").as[CepMatch].collect().toSeq
    assert(afterB1.isEmpty, s"nothing should fire yet: $afterB1")
    // batch 2: k1's p COMPLETES the cross-batch v[^p]*p; k2's second e
    // completes the burst
    mem.addData(CepEv(1, 300, 0, "p"), CepEv(2, 200, 0, "e"))
    q.processAllAvailable()
    // batch 3: k1 v,p again (second match — non-overlapping); k2 one
    // more e must NOT re-fire e{2,} (the greedy burst already counted
    // extends, count stays 1)
    mem.addData(CepEv(1, 400, 0, "v"), CepEv(1, 500, 0, "p"),
      CepEv(2, 300, 0, "e"))
    q.processAllAvailable()
    val rows = spark.table("cep").as[CepMatch].collect().toSeq
    q.stop()
    // k1's pattern fires once in batch 2 and once in batch 3 (two
    // rows, same content) — assert as a multiset
    assert(rows.sortBy(r => (r.key, r.pattern)).map(r =>
      (r.key, r.pattern, r.n_new)) ==
      Seq((1L, "v[^p]*p", 1L), (1L, "v[^p]*p", 1L), (2L, "e{2,}", 1L)))
    // batch parity (in-order, no truncation): summed n_new equals the
    // batch operator's total_matches per pattern
    val all = Seq((1L, 100L, 0L, "v"), (1L, 200L, 1L, "c"),
      (2L, 100L, 0L, "e"), (1L, 300L, 0L, "p"), (2L, 200L, 0L, "e"),
      (1L, 400L, 0L, "v"), (1L, 500L, 0L, "p"), (2L, 300L, 0L, "e"))
      .toDF("key", "ts", "tie", "sym")
    val batch = graft.operators.Cep.patternCounts(all, "key", "ts", "tie",
        col("sym"), pats)
      .select(col("pattern"), col("total_matches"))
      .as[(String, Long)].collect().toMap
    val streamed = rows.groupBy(_.pattern).view
      .mapValues(_.map(_.n_new).sum).toMap
    assert(streamed == batch.filter(_._2 > 0),
      s"stream $streamed vs batch $batch")

    // truncation: a 3-char tail cannot hold v..c..p — the stream
    // under-counts (lower bound), never double-counts
    val mem2 = MemoryStream[CepEv]
    val q2 = StreamingJobs.cepStream(mem2.toDS(), Seq("vc*p"), maxTail = 2)
      .writeStream.format("memory").queryName("cep_trunc")
      .outputMode(OutputMode.Append).start()
    mem2.addData(CepEv(1, 100, 0, "v"), CepEv(1, 200, 0, "c"),
      CepEv(1, 300, 0, "c"))
    q2.processAllAvailable()
    mem2.addData(CepEv(1, 400, 0, "p")) // v was evicted: no match
    q2.processAllAvailable()
    val truncRows = spark.table("cep_trunc").as[CepMatch].collect()
    q2.stop()
    assert(truncRows.isEmpty,
      s"evicted prefix must not complete a match: ${truncRows.toSeq}")

    // truncation must NEVER double-credit: 'ee' fires e{2,} in batch 1;
    // with maxTail=1 the naive cut would keep the credited match's
    // suffix 'e', and batch 2's 'e' would re-complete and re-fire —
    // the last-match-end floor drops the credited chars instead
    val mem3 = MemoryStream[CepEv]
    val q3 = StreamingJobs.cepStream(mem3.toDS(), Seq("e{2,}"), maxTail = 1)
      .writeStream.format("memory").queryName("cep_dc")
      .outputMode(OutputMode.Append).start()
    mem3.addData(CepEv(1, 100, 0, "e"), CepEv(1, 200, 0, "e"))
    q3.processAllAvailable()
    mem3.addData(CepEv(1, 300, 0, "e"))
    q3.processAllAvailable()
    val dcRows = spark.table("cep_dc").as[CepMatch].collect().toSeq
    q3.stop()
    assert(dcRows == Seq(CepMatch(1, "e{2,}", 1)),
      s"credited chars re-fired after truncation: $dcRows")
  }

  test("dedupStream keeps each fingerprint's first doc across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingJobs.Doc]
    val q = StreamingJobs.dedupStream(mem.toDS())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    mem.addData(StreamingJobs.Doc(5, "fpA"), StreamingJobs.Doc(3, "fpA"),
      StreamingJobs.Doc(7, "fpB"))
    q.processAllAvailable()
    mem.addData(StreamingJobs.Doc(1, "fpA"), // late duplicate: suppressed
      StreamingJobs.Doc(9, "fpC"))
    q.processAllAvailable()
    val kept = spark.table("deduped").as[StreamingJobs.Doc]
      .collect().map(d => d.fingerprint -> d.doc_id).toMap
    q.stop()
    assert(kept == Map("fpA" -> 3L, "fpB" -> 7L, "fpC" -> 9L))
  }

  test("dedupWithinWatermarkStream suppresses in-window duplicates and " +
    "evicts state past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingJobs.dedupWithinWatermarkStream(
        mem.toDF().toDF("k", "ts"), Seq("k"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("wmdedup")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: k1 twice inside the window -> one survivor
    mem.addData(("k1", t("2026-01-01 10:00:00")),
      ("k1", t("2026-01-01 10:03:00")), ("k2", t("2026-01-01 10:01:00")))
    q.processAllAvailable()
    // batch 2: still inside k1's window -> suppressed; watermark advances
    // far past 10:00 via k3
    mem.addData(("k1", t("2026-01-01 10:05:00")),
      ("k3", t("2026-01-01 11:00:00")))
    q.processAllAvailable()
    // batch 3: k1 again, long after its state was evicted -> re-emits
    // (the documented bounded-state trade)
    mem.addData(("k1", t("2026-01-01 11:30:00")))
    q.processAllAvailable()
    val got = spark.table("wmdedup")
      .as[(String, java.sql.Timestamp)].collect()
      .groupBy(_._1).view.mapValues(_.length).toMap
    q.stop()
    assert(got == Map("k1" -> 2, "k2" -> 1, "k3" -> 1), got.toString)
  }

  test("streaming rollup plan equals the batch plan's results") {
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2026-01-01 10:40:00"), "click", 2.0)
    ).toDF("ts", "event_type", "value")
    val rows = StreamingJobs.hourlyRollup(batch)
      .select(col("event_type"), col("n"), col("sum_value"))
      .as[(String, Long, Double)].collect().toSeq
    assert(rows == Seq(("click", 2L, 3.0)))
  }

  test("changelogMergeStream: cross-batch upsert/delete/stale-row parity " +
    "with one batch applyChangelog; compaction rides the last trigger") {
    val dir = java.nio.file.Files.createTempDirectory("cl-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cl-ck").toString
    val table = "graft_merge_stream_spec"
    val snap0 = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L),
      (4L, "d", 0L)).toDF("k", "v", "seq")
    graft.sources.Warehouse.writeTable(snap0, table)
    val schema = "k LONG, seq LONG, op STRING, v STRING"
    def land(rows: Seq[(Long, Long, String, String)]): Unit =
      rows.toDF("k", "seq", "op", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    def run(compact: Option[Long] = None): Unit =
      StreamingJobs.changelogMergeStream(spark, dir, schema, ckpt, table,
        "k", "seq", "op", Seq("v"), compact)
    // trigger 1: update k=1, delete k=2, insert k=10
    land(Seq((1L, 1L, "U", "a1"), (2L, 2L, "D", "b"), (10L, 3L, "U", "x")))
    run()
    // trigger 2: a STALE cross-batch row for k=1 (seq 0 — the applied-
    // seq filter must drop it), k=2 re-inserted after its delete, and
    // IN-batch disorder for k=10 (seq 6 then seq 4 — window picks 6)
    land(Seq((1L, 0L, "U", "STALE"), (2L, 5L, "U", "b2"),
      (10L, 6L, "U", "x2"), (10L, 4L, "U", "old")))
    run()
    // trigger 3: delete k=10; this apply also compacts the snapshot
    land(Seq((10L, 7L, "D", "x2")))
    run(compact = Some(2L))
    val got = spark.table(table).select("k", "v", "seq")
      .as[(Long, String, Long)].collect().toSet
    // one batch applyChangelog over the concatenated changelog (seq
    // rides as payload, as the stream face does)
    val full = Seq((1L, 1L, "U", "a1"), (2L, 2L, "D", "b"),
      (10L, 3L, "U", "x"), (1L, 0L, "U", "STALE"), (2L, 5L, "U", "b2"),
      (10L, 6L, "U", "x2"), (10L, 4L, "U", "old"), (10L, 7L, "D", "x2"))
      .toDF("k", "seq", "op", "v")
    val want = graft.operators.SnapshotDiff
      .applyChangelog(snap0, full, "k", "seq", "op", Seq("v", "seq"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want && got == Set((1L, "a1", 1L), (2L, "b2", 5L),
      (3L, "c", 0L), (4L, "d", 0L)), s"got $got want $want")
    // the compacted rewrite really happened: key-sorted row-bounded
    // files (<= 2 rows each over 4 rows → >= 2 data files)
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(loc).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    assert(files.length >= 2, files.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("wapStream: clean batches publish, a poisoned batch aborts " +
    "without landing a byte, ingestion continues after the abort") {
    import graft.sources.{Wap, Warehouse}
    val dir = java.nio.file.Files.createTempDirectory("wap-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("wap-ck").toString
    val table = "graft_wap_stream_spec"
    val auditT = "graft_wap_stream_audit"
    spark.sql(s"DROP TABLE IF EXISTS $auditT")
    Warehouse.writeTable(Seq((1L, 10L)).toDF("k", "v"), table)
    val expects = Seq(
      Wap.Expect("nulls",
        sum(when(col("k").isNull, 1L).otherwise(0L)), 0L, 0L),
      Wap.Expect("rows", count(lit(1)), 1L, Long.MaxValue))
    val schema = "k LONG, v LONG"
    def land(rows: Seq[(Option[Long], Long)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    def run(): Unit = StreamingJobs.wapStream(spark, dir, schema, ckpt,
      expects, table, auditT)
    land(Seq((Some(2L), 20L), (Some(3L), 30L))) // clean -> publishes
    run()
    land(Seq((Option.empty[Long], 99L)))        // poisoned -> aborts
    run()
    land(Seq((Some(4L), 40L)))                  // clean again -> publishes
    run()
    val pubs = spark.table(auditT)
      .filter(col("expectation") === "__publish")
      .select(col("batch_id"), col("observed"), col("passed"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // row counts after each attempt: 3 (published), 3 (aborted), 4
    assert(pubs.map(p => (p._2, p._3)) == Seq((3L, 1L), (3L, 0L), (4L, 1L)),
      s"audit: $pubs")
    val kept = spark.table(table).as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)),
      s"table: $kept") // the poisoned row 99 never landed
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $auditT")
  }

  test("wapBatch replay with the same batchId is a no-op (foreachBatch " +
    "idempotence): no double-append, no duplicate audit rows") {
    import graft.sources.{Wap, Warehouse}
    val table = "graft_wap_replay_t"; val auditT = "graft_wap_replay_a"
    spark.sql(s"DROP TABLE IF EXISTS $auditT")
    Warehouse.writeTable(Seq((1L, 10L)).toDF("k", "v"), table)
    val expects = Seq(Wap.Expect("rows", count(lit(1)), 1L, Long.MaxValue))
    val batch = Seq((2L, 20L)).toDF("k", "v")
    assert(StreamingJobs.wapBatch(spark, batch, expects, table, auditT, 7L))
    // the replay: same batchId — must return the recorded outcome and
    // append NOTHING anywhere
    assert(StreamingJobs.wapBatch(spark, batch, expects, table, auditT, 7L))
    assert(spark.table(table).count() == 2L)
    assert(spark.table(auditT).count() == 2L) // rows + __publish, once
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $auditT")
  }

  test("scd2Stream: cross-batch version history parity with one batch " +
    "scd2; closed versions immutable, stale rows dropped, gaps survive") {
    val dir = java.nio.file.Files.createTempDirectory("scd2-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scd2-ck").toString
    val table = "graft_scd2_stream_spec"
    val snap0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val emptyCl = Seq.empty[(Long, Long, String, String)]
      .toDF("k", "seq", "op", "v")
    // seed: the snapshot's open versions
    graft.sources.Warehouse.writeTable(
      graft.operators.SnapshotDiff.scd2(snap0, emptyCl,
        "k", "seq", "op", Seq("v")), table)
    val schema = "k LONG, seq LONG, op STRING, v STRING"
    def land(rows: Seq[(Long, Long, String, String)]): Unit =
      rows.toDF("k", "seq", "op", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    def run(): Unit = StreamingJobs.scd2Stream(spark, dir, schema, ckpt,
      table, "k", "seq", "op", Seq("v"))
    // trigger 1: k1 new version @5, k2 deleted @8
    land(Seq((1L, 5L, "U", "a1"), (2L, 8L, "D", "b")))
    run()
    // trigger 2: k2 re-opens @12 (after a real gap), k3 inserts with
    // IN-batch disorder (9 before 7 in file order), k1 gets a STALE
    // cross-batch row (seq 4 <= hwm 5 — must be dropped, not versioned)
    land(Seq((2L, 12L, "U", "b2"), (3L, 9L, "U", "c9"),
      (3L, 7L, "U", "c7"), (1L, 4L, "U", "STALE")))
    run()
    val got = spark.table(table)
      .select(col("k"), col("v"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)), col("is_current"))
      .as[(Long, String, Long, Long, Boolean)].collect().toSet
    // one batch scd2 over the concatenated changelog MINUS the stale row
    // (stale-drop is the stream face's cross-batch contract; a single
    // batch build never sees out-of-order files)
    val full = Seq((1L, 5L, "U", "a1"), (2L, 8L, "D", "b"),
      (2L, 12L, "U", "b2"), (3L, 9L, "U", "c9"), (3L, 7L, "U", "c7"))
      .toDF("k", "seq", "op", "v")
    val want = graft.operators.SnapshotDiff
      .scd2(snap0, full, "k", "seq", "op", Seq("v"))
      .select(col("k"), col("v"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)), col("is_current"))
      .as[(Long, String, Long, Long, Boolean)].collect().toSet
    assert(got == want && got == Set(
      (1L, "a", 0L, 5L, false), (1L, "a1", 5L, -1L, true),
      (2L, "b", 0L, 8L, false), (2L, "b2", 12L, -1L, true),
      (3L, "c7", 7L, 9L, false), (3L, "c9", 9L, -1L, true)),
      s"got $got want $want")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("transitionStream chains across batches; in-batch event-time order; " +
    "counts equal the batch matrix on an in-order replay") {
    import StreamingJobs.{TEv, Transition}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TEv]
    val q = StreamingJobs.transitionStream(mem.toDS())
      .writeStream.format("memory").queryName("trans")
      .outputMode(OutputMode.Append).start()
    // batch 1: u1 a→b (the c arrives out of order IN-BATCH and must
    // sort between them? no — c is ts 50, BEFORE a: in-batch sort puts
    // it first, so c→a→b); u2 single event = no transition yet
    mem.addData(TEv(1, 100, 1, "a"), TEv(1, 200, 2, "b"),
      TEv(1, 50, 3, "c"), TEv(2, 100, 4, "x"))
    q.processAllAvailable()
    // batch 2: u1 chains b→d off stored state; u2 chains x→y
    mem.addData(TEv(1, 300, 5, "d"), TEv(2, 400, 6, "y"))
    q.processAllAvailable()
    val got = spark.table("trans").as[Transition].collect().toSeq
    q.stop()
    assert(got.toSet == Set(
      Transition(1, "c", "a", 100), Transition(1, "a", "b", 200),
      Transition(1, "b", "d", 300), Transition(2, "x", "y", 400)))
    // the streamed transition multiset equals the batch operator's
    // pair extraction on the same events (arrival order here IS
    // event-time order across batches)
    val batch = graft.operators.Markov.transitionMatrix(
        Seq((1L, 50L, 3L, "c"), (1L, 100L, 1L, "a"), (1L, 200L, 2L, "b"),
          (1L, 300L, 5L, "d"), (2L, 100L, 4L, "x"), (2L, 400L, 6L, "y"))
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "event_type", Seq("ts", "event_id"))
      .select("from_state", "to_state", "n")
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => (f, t) -> n }.toMap
    val streamed = got.groupBy(tr => (tr.from_state, tr.to_state))
      .map { case (k, v) => k -> v.size.toLong }
    assert(streamed == batch)
  }

  test("transitionStreamEventTime: event-time chaining across batches, " +
    "beyond-watermark arrivals dropped, timeout flush — equals the " +
    "batch operator on the admitted rows") {
    import StreamingJobs.{TEvT, Transition}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[TEvT]
    val q = StreamingJobs.transitionStreamEventTime(mem.toDS(),
        delay = "5 seconds")
      .writeStream.format("memory").queryName("trans_et")
      .outputMode(OutputMode.Append).start()
    // batch 1: a@10, b@20 — watermark still 0, everything buffers
    mem.addData(TEvT(1, ts(10), 1, "a"), TEvT(1, ts(20), 2, "b"))
    q.processAllAvailable()
    // batch 2: wm = 20 - 5 = 15s. d@40 buffers; c@5 is BEYOND the
    // watermark → dropped (the arrival-order face would chain it);
    // e@16 is late-but-inside and must sort BETWEEN a and b even
    // though b arrived a batch earlier — the strict reordering the
    // arrival-order face cannot do. a@10 < wm flushes (chain head).
    mem.addData(TEvT(1, ts(5), 3, "c"), TEvT(1, ts(16), 5, "e"),
      TEvT(1, ts(40), 4, "d"))
    q.processAllAvailable()
    // batch 3: u2's z@100 advances wm to 95s; u1's timeout fires and
    // flushes e@16, b@20, d@40 in event-time order
    mem.addData(TEvT(2, ts(100), 6, "z"))
    q.processAllAvailable()
    val got = spark.table("trans_et").as[Transition].collect().toSeq
    q.stop()
    assert(got.toSet == Set(
      Transition(1, "a", "e", 16000000L),
      Transition(1, "e", "b", 20000000L),
      Transition(1, "b", "d", 40000000L)))
    // equality with the batch operator on the admitted rows (c dropped)
    val batch = graft.operators.Markov.transitionMatrix(
        Seq((1L, 10L, 1L, "a"), (1L, 16L, 5L, "e"), (1L, 20L, 2L, "b"),
          (1L, 40L, 4L, "d"), (2L, 100L, 6L, "z"))
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "event_type", Seq("ts", "event_id"))
      .select("from_state", "to_state", "n")
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => (f, t) -> n }.toMap
    val streamed = got.groupBy(tr => (tr.from_state, tr.to_state))
      .map { case (k, v) => k -> v.size.toLong }
    assert(streamed == batch)
  }

  test("mapMatchStream: modal route emits on change across batches and " +
    "ends at the batch attribution") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingJobs.{Ping, RouteMatch}
    // two simple routes: A (id 1) along the equator near lon 10,
    // B (id 4) along lon 20 — points near each snap unambiguously
    val routes: Seq[(Int, Seq[Seq[Double]])] = Seq(
      1 -> Seq(Seq(10.0, 0.0), Seq(10.0, 1.0)),
      4 -> Seq(Seq(20.0, 0.0), Seq(20.0, 1.0)))
    val mem = MemoryStream[Ping]
    val q = StreamingJobs.mapMatchStream(mem.toDS(), routes)
      .writeStream.format("memory").queryName("mm_out")
      .outputMode(OutputMode.Append).start()
    // batch 1: trace 7 pings near route A twice -> emits (7, 1, 2)
    mem.addData(Ping(7, 10.01, 0.2), Ping(7, 10.02, 0.5))
    q.processAllAvailable()
    // batch 2: three pings near B flip the majority -> emits (7, 4, 5)
    mem.addData(Ping(7, 19.99, 0.1), Ping(7, 20.01, 0.4),
      Ping(7, 20.0, 0.7))
    q.processAllAvailable()
    // batch 3: one more B ping reinforces the modal route -> no emission
    mem.addData(Ping(7, 20.02, 0.9))
    q.processAllAvailable()
    val got = spark.table("mm_out").as[RouteMatch].collect().toSeq
      .sortBy(_.n_points)
    q.stop()
    assert(got == Seq(RouteMatch(7, 1, 2), RouteMatch(7, 4, 5)),
      s"got $got")
    // the last emitted route equals the batch g10-style attribution
    // (vote argmax with the same kernel) over all six pings
    val allPings = Seq((7L, 10.01, 0.2), (7L, 10.02, 0.5), (7L, 19.99, 0.1),
      (7L, 20.01, 0.4), (7L, 20.0, 0.7), (7L, 20.02, 0.9))
      .toDF("trace_id", "lon", "lat")
    val batchModal = allPings
      .select(graft.plans.MapMatch
        .mapMatch(array(col("lon"), col("lat")), routes)
        .getField("r").as("r"))
      .groupBy(col("r")).count()
      .orderBy(col("count").desc, col("r")).head().getInt(0)
    assert(got.last.route == batchModal)
  }
}
