package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sessionize, Similarity, Splits}

/** Operator-level tests: min-spacing sweep against an independent fold,
  * dedup group/pair semantics on crafted inputs.
  */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("Iteration.roundPartitions: boundary behavior (no Int overflow " +
      "at 100 TB-scale row counts)") {
    import graft.operators.Iteration
    val cur = spark.sessionState.conf.numShufflePartitions
    assert(Iteration.roundPartitions(spark, 0L) == 1)
    assert(Iteration.roundPartitions(spark, 131071L) == 1)
    assert(Iteration.roundPartitions(spark, 131072L) == math.min(2, cur))
    // a frame larger than the session plans for keeps full session width
    assert(Iteration.roundPartitions(spark, 131072L * cur * 10) == cur)
    // the 100 TB boundary: past ~2.8e14 rows (rows/131072 + 1 overflows
    // Int if narrowed first) the count must STAY at the session width,
    // not collapse to a negative/1 — clamp in Long before narrowing
    assert(Iteration.roundPartitions(spark, Long.MaxValue) == cur)
    assert(Iteration.roundPartitions(spark, 2.8e14.toLong + 7) == cur)
  }

  test("loop scopes: AQE off and the round width inside the body, the " +
      "caller's settings back afterwards, also when the body throws") {
    import graft.operators.Iteration
    val (aqe, width) =
      ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val session = (spark.conf.get(aqe), spark.conf.get(width))
    def now() = (spark.conf.get(aqe), spark.conf.get(width))
    // a one-row input stages in memory at one round partition
    val in = Iteration.stage(Seq((1L, 2L)).toDF("src", "dst"), "src",
      _.localCheckpoint())
    assert(in.parts == 1)
    val caller = ("true", "7")
    try {
      spark.conf.set(aqe, caller._1)
      spark.conf.set(width, caller._2)
      // no session setting turns AQE back on inside the rounds
      spark.conf.set("spark.graft.loop.aqe", "true")
      assert(Iteration.withoutAdaptive(spark)(now()) == ("false", "7"))
      assert(in.run(now()) == ("true", "1"))
      assert(in.run(Iteration.withoutAdaptive(spark)(now())) == ("false", "1"))
      assert(now() == caller)
      val thrown = intercept[IllegalStateException](
        in.run(Iteration.withoutAdaptive(spark)(
          throw new IllegalStateException("round failed"))))
      assert(thrown.getMessage == "round failed")
      assert(now() == caller)
    } finally {
      spark.conf.unset("spark.graft.loop.aqe")
      spark.conf.set(aqe, session._1)
      spark.conf.set(width, session._2)
    }
  }

  test("minSpacingSweep keeps first and enforces gap against last KEPT") {
    // ts: 0, 50, 120, 130, 200 with gap 100:
    // keep 0 (first); drop 50 (<100 after 0); keep 120; drop 130; keep 200? 200-120=80 <100 → drop.
    val df = Seq((1L, 0L, 10L), (1L, 50L, 11L), (1L, 120L, 12L),
      (1L, 130L, 13L), (1L, 200L, 14L)).toDF("k", "ts", "id")
    val kept = Sessionize.minSpacingSweep(df, "k", "ts", "id", 100)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(10L, 12L))
  }

  test("minSpacingSweep matches independent fold on real events") {
    val ev = Tables(spark, sfSmoke).events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val got = Sessionize.minSpacingSweep(ev, "user_id", "ts_us", "event_id", 60000000L)
      .select("event_id").as[Long].collect().toSet
    val rows = ev.as[(Long, Long, Long)].collect()
      .groupBy(_._1).values.flatMap { g =>
        var last = Long.MinValue
        g.sortBy(r => (r._2, r._3)).flatMap { r =>
          if (last == Long.MinValue || r._2 - last >= 60000000L) {
            last = r._2; Some(r._3)
          } else None
        }
      }.toSet
    assert(got == rows)
  }

  test("Vacuum.plan: removed-before-cutoff deletable, NULL never, " +
      "whole-lifetime-inside-expired-range still deletable") {
    // retainFrom = 10: f1 removed@5 → deletable; f2 removed@10 →
    // deletable (<=); f3 removed@11 → live (a retained snapshot sees
    // it); f4 never removed → live; f5 added@8 removed@9 (entire
    // lifetime expired) → deletable even though added close to cutoff
    val m = Seq(
      ("f1", "p", 100L, 1L, Some(5L)), ("f2", "p", 10L, 1L, Some(10L)),
      ("f3", "p", 1L, 1L, Some(11L)), ("f4", "p", 1000L, 2L, None),
      ("f5", "p", 10000L, 8L, Some(9L)))
      .toDF("file_id", "part", "bytes", "added_seq", "removed_seq")
    val got = graft.sources.Vacuum
      .plan(m, "part", "bytes", "removed_seq", retainFrom = 10L)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("p", 3L, 10110L, 2L, 1001L)))
  }

  test("Lateness.withHighWater: exclusive running max in arrival order, " +
      "serial parity on real events (cross-partition prefix composition)") {
    val ev = Tables(spark, sfSmoke).events.select(
      unix_millis(col("ts")).as("ts_ms"), col("event_id"))
      .withColumn("arrival_ms", col("ts_ms") +
        (col("event_id") % 997) * (col("event_id") % 31) % 600 * 1000L)
    val got = graft.operators.Lateness
      .withHighWater(ev, "ts_ms", "arrival_ms", "event_id")
      .select(col("event_id"), col("high_water"))
      .as[(Long, Option[Long])].collect().toMap
    val rows = ev.as[(Long, Long, Long)].collect()
      .sortBy(r => (r._3, r._2)) // (arrival, id)
    var hw = Option.empty[Long]
    rows.foreach { case (ts, id, _) =>
      assert(got(id) == hw, s"event $id: got ${got(id)} want $hw")
      hw = Some(hw.fold(ts)(math.max(_, ts)))
    }
    assert(rows.nonEmpty && got.size == rows.length)
  }

  test("SnapshotDiff.scd2: U closes previous version, D closes without " +
      "opening (gap), re-open after delete, absent-key D is a no-op") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val cl = Seq(
      (1L, 5L, "U", "a2"), (1L, 8L, "D", "x"), (1L, 12L, "U", "a3"),
      (3L, 4L, "D", "x"), (4L, 7L, "U", "d1"))
      .toDF("k", "seq", "op", "v")
    val got = graft.operators.SnapshotDiff
      .scd2(snap, cl, "k", "seq", "op", Seq("v"))
      .select(col("k"), col("v"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)), col("is_current"))
      .as[(Long, String, Long, Long, Boolean)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, "a", 0L, 5L, false),   // snapshot version, closed by U@5
      (1L, "a2", 5L, 8L, false),  // closed by D@8 — then a real gap
      (1L, "a3", 12L, -1L, true), // re-opened after the delete
      (2L, "b", 0L, -1L, true),   // untouched snapshot row stays open
      (4L, "d1", 7L, -1L, true))) // fresh insert; absent-key D emits nothing
  }

  test("Ivm.maintainSumCount: group move, delete-to-zero leaves view, " +
      "insert opens group, winner-per-key; equals full recompute") {
    val snap = Seq((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g2", 30L))
      .toDF("k", "g", "x")
    val base = snap.groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("total"))
    val cl = Seq(
      (1L, 1L, "U", "g2", 15L),  // k1 moves g1 → g2
      (3L, 2L, "D", "g2", 0L),   // g2 would hit zero without k1's move
      (4L, 3L, "U", "g3", 5L),   // fresh key opens g3
      (2L, 4L, "U", "g9", 1L),   // superseded intermediate version…
      (2L, 5L, "U", "g1", 99L))  // …winner stays in g1 with new value
      .toDF("k", "seq", "op", "g", "x")
    val got = graft.operators.Ivm
      .maintainSumCount(base, snap, cl, "k", "seq", "op", "g", "x")
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == Seq(("g1", 1L, 99L), ("g2", 1L, 15L), ("g3", 1L, 5L)))
    // the invariant the oracle checks at scale: delta refresh ==
    // re-aggregate of applyChangelog's final state
    val recompute = graft.operators.SnapshotDiff
      .applyChangelog(snap, cl, "k", "seq", "op", Seq("g", "x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("total"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == recompute)
  }

  test("exactGroups keeps smallest id per duplicate text (A2 first-wins)") {
    val docs = Seq((5L, "Hello, World"), (2L, "hello  world!"), (9L, "other text"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keeper").collect()
    assert(g.length == 2)
    assert(g(0).getAs[Long]("keeper") == 2L && g(0).getAs[Long]("n_copies") == 2L)
    assert(g(1).getAs[Long]("keeper") == 9L && g(1).getAs[Long]("n_copies") == 1L)
  }

  test("minhashLshPairs finds identical docs with jaccard 1.0") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different sentence about spark engines here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("a") == 1L && pairs(0).getAs[Long]("b") == 2L)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("winnowPairs matches brute force over the kernel's fingerprints") {
    val docs = Tables(spark, sfSmoke).documents
    val got = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 8, w = 4, minShared = 5L, maxDf = 20L)
      .orderBy("a", "b").as[(Long, Long, Long)].collect().toSeq
    // brute force from the same kernel's per-doc fingerprint sets (the
    // kernel itself is oracle-pinned by t06); only the df band + pair
    // count is under test here
    val fps = docs.select(col("doc_id"),
        graft.functions.text.winnowFingerprints(col("text"), 8, 4).as("f"))
      .as[(Long, Seq[Long])].collect()
      .map { case (id, f) => id -> f.toSet }
    val df = fps.flatMap(_._2).groupBy(identity).map { case (fp, g) => fp -> g.size }
    val band = df.filter { case (_, c) => c >= 2 && c <= 20 }.keySet
    val expect = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      shared = (fa intersect fb).count(band.contains).toLong
      if shared >= 5L
    } yield (a, b, shared)).sortBy(p => (p._1, p._2)).toSeq
    assert(got == expect)
  }

  test("snapshotDiff: four statuses; boundary shift = changed; null = ''") {
    val oldS = Seq((1L, "only old", "x"), (2L, "ab", "c"),
      (3L, "keep", "z"), (4L, null.asInstanceOf[String], "n"))
      .toDF("doc_id", "t1", "t2")
    val newS = Seq((2L, "a", "bc"), (3L, "keep", "z"), (4L, "", "n"),
      (5L, "brand new", "w")).toDF("doc_id", "t1", "t2")
    val got = graft.operators.SnapshotDiff
      .diff(oldS, newS, "doc_id", Seq("t1", "t2"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // id 2: same concatenation, shifted column boundary — the 
    // separator must catch it; id 4: null ≡ "" under the fingerprint
    // (documented coalesce), so a null→empty edit is NOT a change
    assert(got == Seq(1L -> "removed", 2L -> "changed", 3L -> "unchanged",
      4L -> "unchanged", 5L -> "added"))
  }

  test("applyChangelog: upsert, delete, insert, untouched, latest-wins, " +
    "delete-then-reinsert, delete of unknown key") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val cl = Seq(
      (1L, 10L, "U", "a2"), (1L, 11L, "U", "a3"), // latest (seq 11) wins
      (2L, 10L, "D", "-"),                        // delete
      (3L, 10L, "D", "-"), (3L, 12L, "U", "c2"),  // delete then re-upsert
      (5L, 10L, "U", "e"),                        // insert new key
      (9L, 10L, "D", "-"))                        // delete of absent key
      .toDF("k", "seq", "op", "v")
    val got = graft.operators.SnapshotDiff
      .applyChangelog(snap, cl, "k", "seq", "op", Seq("v"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "a3", 3L -> "c2", 4L -> "d", 5L -> "e"))
  }

  test("statesAt: three-cutoff time travel == applyChangelog per cutoff") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val cl = Seq(
      (1L, 10L, "U", "a2"), (1L, 11L, "U", "a3"),
      (2L, 10L, "D", "-"),
      (3L, 10L, "D", "-"), (3L, 12L, "U", "c2"),
      (5L, 10L, "U", "e"),
      (9L, 10L, "D", "-"))
      .toDF("k", "seq", "op", "v")
    val cuts = Seq(10L, 11L, 12L)
    val got = graft.operators.SnapshotDiff
      .statesAt(snap, cl, "k", "seq", "op", Seq("v"), cuts)
      .orderBy("version", "k").as[(Long, Long, String)].collect().toSeq
    // as-of 10: k1→a2 (seq10), k2/k3 deleted, k4 untouched, k5 inserted
    // as-of 11: k1→a3; as-of 12: k3 re-upserted to c2
    assert(got == Seq(
      (10L, 1L, "a2"), (10L, 4L, "d"), (10L, 5L, "e"),
      (11L, 1L, "a3"), (11L, 4L, "d"), (11L, 5L, "e"),
      (12L, 1L, "a3"), (12L, 3L, "c2"), (12L, 4L, "d"), (12L, 5L, "e")))
    // contract: each version slice == applyChangelog over seq<=cut
    cuts.foreach { cut =>
      val slice = got.filter(_._1 == cut).map(t => (t._2, t._3))
      val replay = graft.operators.SnapshotDiff
        .applyChangelog(snap, cl.filter(col("seq") <= cut),
          "k", "seq", "op", Seq("v"))
        .orderBy("k").as[(Long, String)].collect().toSeq
      assert(slice == replay, s"as-of $cut")
    }
  }

  test("sq8RangeSearch: equals brute force at several taus; prefilter " +
    "is sound AND actually prunes") {
    val e = Tables(spark, sfSmoke).embeddings
    val scale = Similarity.sq8MaxAbs(e, "embedding")
    val qvec = e.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val coded = Similarity.sq8RangeEncode(corpus, "vec_id", "embedding",
      scale).cache()
    val n = corpus.count()
    for (tau <- Seq(0.1, 0.2, 0.3)) {
      val got = Similarity.sq8RangeSearch(corpus, coded, "vec_id",
          "embedding", qvec, scale, tau)
        .orderBy(col("vec_id")).as[(Long, Double)].collect().toSeq
      val brute = corpus.select(col("vec_id"),
          round(graft.functions.vectors.cosine(
            graft.functions.vectors.asDouble(col("embedding")),
            lit(qvec)), 4).as("cos4"))
        .filter(col("cos4") >= tau)
        .orderBy(col("vec_id")).as[(Long, Double)].collect().toSeq
      assert(got == brute, s"tau=$tau: ${got.size} vs ${brute.size}")
      val cands = Similarity.sq8RangeCandidates(coded, "vec_id", qvec,
        scale, tau).count()
      assert(cands >= got.size, s"tau=$tau sound: $cands < ${got.size}")
      assert(cands < n, s"tau=$tau prefilter pruned nothing ($cands of $n)")
    }
    coded.unpersist()
  }

  test("sq8RangeSearch: zero-code (sub-quantization-norm) vectors and " +
      "zero-code queries still reach the exact re-rank") {
    // id 2's components are all < scale/254, so every code rounds to 0:
    // code-norm 0 → approxCos and the stored err are NaN. Cosine is
    // norm-invariant, so its exact cos vs the query is ~0.9994 — a row
    // the prefilter MUST NOT drop for the brute-force-parity guarantee.
    val data = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),      // sets the scale
      (2L, Seq(0.003, 1e-4, 0.0, 0.0)),   // degenerate: all-zero codes
      (3L, Seq(-1.0, 0.0, 0.0, 0.0)))     // opposite direction, excluded
    val corpus = data.toDF("vec_id", "embedding")
    val scale = Similarity.sq8MaxAbs(corpus, "embedding")
    assert(data(1)._2.forall(x => math.abs(x) < scale / 254.0),
      "premise: every component of id 2 must quantize to the zero code")
    val coded = Similarity.sq8RangeEncode(corpus, "vec_id", "embedding", scale)
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val got = Similarity.sq8RangeSearch(corpus, coded, "vec_id",
        "embedding", q, scale, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L), s"degenerate row dropped: $got")
    // degenerate QUERY (all components quantize to 0): the prefilter has
    // no code-space information, must admit everything, and the exact
    // re-rank still answers correctly
    val qTiny = Array(0.001, 0.0, 0.0, 0.0)
    val gotQ = Similarity.sq8RangeSearch(corpus, coded, "vec_id",
        "embedding", qTiny, scale, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(gotQ == Set(1L, 2L), s"degenerate query mishandled: $gotQ")
  }

  test("scd2: changelog seq <= snapshotSeq is rejected loudly, " +
      "null-safe diagnostic") {
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(e => Option(e.getMessage)).toSeq
    val snap = Seq((1L, "a")).toDF("k", "v")
    val tied = Seq((2L, 0L, "U", "b")).toDF("k", "seq", "op", "v")
    val e1 = intercept[Throwable] {
      graft.operators.SnapshotDiff
        .scd2(snap, tied, "k", "seq", "op", Seq("v")).collect()
    }
    assert(messages(e1).exists(_.contains("must be > snapshotSeq")), e1)
    // NULL seq: the diagnostic itself must stay readable (not nulled)
    val nullSeq = Seq((2L, Option.empty[Long], "U", "b"))
      .toDF("k", "seq", "op", "v")
    val e2 = intercept[Throwable] {
      graft.operators.SnapshotDiff
        .scd2(snap, nullSeq, "k", "seq", "op", Seq("v")).collect()
    }
    assert(messages(e2).exists(m =>
      m.contains("must be > snapshotSeq") && m.contains("NULL")), e2)
    // valid input (every seq > snapshotSeq) is untouched by the guard
    val ok = Seq((1L, 5L, "U", "a2")).toDF("k", "seq", "op", "v")
    assert(graft.operators.SnapshotDiff
      .scd2(snap, ok, "k", "seq", "op", Seq("v")).count() == 2)
  }

  test("cluster-keyed split: no near-dup pair crosses splits (naive does)") {
    val t = Tables(spark, sfSmoke)
    val pairs = Dedup.minhashLshPairs(t.documents, "doc_id", "text",
        k = 8, bands = 2, shingleN = 3)
      .select(col("a"), col("b"))
    val clusters = Dedup.dupClusters(pairs, pairsCanonical = true)
      .select(col("member").as("doc_id"), col("cluster"))
    val cuts = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val split = t.documents.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        Splits.assignSplit(col("doc_id"), cuts).as("naive"),
        Splits.assignSplit(coalesce(col("cluster"), col("doc_id")), cuts)
          .as("keyed"))
    val joined = pairs
      .join(split.select(col("doc_id").as("a"), col("naive").as("na"),
        col("keyed").as("ka")), Seq("a"))
      .join(split.select(col("doc_id").as("b"), col("naive").as("nb"),
        col("keyed").as("kb")), Seq("b"))
    val naiveCross = joined.filter(col("na") =!= col("nb")).count()
    val keyedCross = joined.filter(col("ka") =!= col("kb")).count()
    assert(keyedCross == 0L, s"$keyedCross near-dup pairs cross splits")
    // the bug p10 exists to fix is REAL on this corpus: the naive
    // assignment does strand near-twins on opposite sides of the cut
    assert(naiveCross > 0L, "corpus no longer exhibits naive crossing — " +
      "pick a saltier cut or larger slice so the spec stays meaningful")
  }

  test("simhash of identical docs equal; simhashPairs finds them") {
    val docs = Seq((1L, "spark table query join"), (2L, "spark table query join"),
      (3L, "zebra xylophone quartz jigsaw vortex")).toDF("doc_id", "text")
    val sims = Dedup.simhash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sims(1L) == sims(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L))
  }

  test("bruteForceTopK ranks an identical vector first") {
    val e = Seq((0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f)), (3L, Seq(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      e.filter(col("vec_id") =!= 0), e.filter(col("vec_id") === 0),
      "vec_id", "embedding", 2).select("vec_id").as[Long].collect()
    assert(top.head == 2L)
  }

  test("asofJoin carries the latest preceding right row, inclusive at ties") {
    import graft.operators.AsofJoin
    val left = Seq((1L, 5L, "a"), (1L, 10L, "b"), (1L, 20L, "c"),
      (2L, 7L, "d")).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 150L)).toDF("k", "t", "ref")
    val got = AsofJoin.asofJoin(left, right, "k", "t")
      .orderBy("k", "t")
      .select("k", "t", "ev", "asof_ref")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 5L, "a", -1L),    // before any right row → null
      (1L, 10L, "b", 100L),  // equal time → inclusive, right wins
      (1L, 20L, "c", 150L),  // latest preceding (15 > 10)
      (2L, 7L, "d", -1L)))   // key with no right rows at all
  }

  test("IVF probe recall@5 vs brute force on the embeddings table") {
    // quality evidence, not just determinism: restricting the scan to the
    // query's IVF cell must retain most true neighbors on label-clustered
    // embeddings (measured mean recall@5 ~0.88 over these 10 queries on
    // the sf0.01 table; asserted with slack). The sign-bit bucket is a
    // partition-pruning demonstration, not a recall path — it is NOT held
    // to this bar.
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val withCell = e.withColumn("cell",
      Similarity.ivfCell(col("embedding"), codebook)).cache()
    val recalls = (0L until 10L).map { qid =>
      val q = withCell.filter(col("vec_id") === qid)
      val rest = withCell.filter(col("vec_id") =!= qid)
      val brute = Similarity.bruteForceTopK(rest, q, "vec_id", "embedding", 5)
        .select("vec_id").as[Long].collect().toSet
      val qcell = q.select("cell").as[Int].head()
      val probed = Similarity.bruteForceTopK(
          rest.filter(col("cell") === qcell), q, "vec_id", "embedding", 5)
        .select("vec_id").as[Long].collect().toSet
      (brute intersect probed).size / 5.0
    }
    withCell.unpersist()
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 $mean, per-query $recalls")
  }

  test("signedProjection: serial parity, sign determinism, dot identity") {
    val signs = Similarity.md5Signs(4, 64)
    // regenerating must give the identical matrix (it seeds the oracle)
    assert(signs.map(_.toSeq) == Similarity.md5Signs(4, 64).map(_.toSeq))
    assert(signs.flatten.forall(s => s == 1 || s == -1))
    val e = Tables(spark, sfSmoke).embeddings.limit(50)
      .select(col("vec_id"), col("embedding"),
        Similarity.signedProjection(col("embedding"), signs).as("p"))
      .as[(Long, Seq[Float], Seq[Long])].collect()
    e.foreach { case (_, vec, p) =>
      val want = signs.map(row =>
        vec.map(_.toDouble).zip(row)
          .map { case (x, s) =>
            BigDecimal(x * 1000000)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong * s }
          .sum)
      assert(p == want)
    }
    // projectionDot equals the serial integer dot of the sketches
    val a = e(0)._3; val b = e(1)._3
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.projectionDot(col("a"), col("b")))
      .as[Long].head()
    assert(got == a.zip(b).map { case (x, y) => x * y }.sum)
  }

  test("v15 sketch shortlist recalls exact neighbors; re-ranked scores exact") {
    // shortlist-quality: the sketch-then-re-rank output must recover a
    // stated fraction of the TRUE top-10 (measured 5-7/10 on this
    // corpus — adversarial for JL: near-uniform pairwise cosines at
    // dim 64 vs noise ∝ 1/√16; pinned at ≥3 so a sketch regression
    // fails loudly without flaking), and every surfaced cos4 must
    // EQUAL the brute-force value for that id (the re-rank is exact).
    val e = Tables(spark, sfSmoke).embeddings
    val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), "vec_id", "embedding", 499)
      .select(col("vec_id"), col("cos4")).as[(Long, Double)].collect()
    val exactTop10 = exact.sortBy(r => (-r._2, r._1)).take(10).map(_._1).toSet
    val exactById = exact.toMap
    val got = SparkEntry.queries("v15_random_projection")(spark, sfSmoke)
      .select(col("vec_id"), col("cos4")).as[(Long, Double)].collect()
    assert(got.length == 10)
    got.foreach { case (id, c) => assert(c == exactById(id), s"cos4 drift at $id") }
    val recall = got.map(_._1).toSet.intersect(exactTop10).size
    assert(recall >= 3, s"sketch shortlist recalled only $recall/10")
  }

  test("sq8: rounding edges, per-row score parity, top-k tracks the exact dot") {
    import graft.plans.Sq8Dot.roundHalfAway
    // half AWAY from zero on the binary double — C/DuckDB round, not
    // rint (half-even) and not floor(x+0.5) (wrong at the value below)
    assert(roundHalfAway(2.5) == 3L && roundHalfAway(-2.5) == -3L)
    assert(roundHalfAway(0.49999999999999994) == 0L)
    assert(roundHalfAway(-0.49999999999999994) == 0L)
    assert(roundHalfAway(126.5) == 127L && roundHalfAway(0.0) == 0L)

    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val scale = Similarity.sq8MaxAbs(e, "embedding")
    val rows = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val q = rows.find(_._1 == 0L).get._2
    val qc = Similarity.sq8Quantize(q, scale)
    // per-row kernel score == independent driver-side fold
    val got = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), graft.plans.Sq8Dot.sq8Dot(
        graft.functions.vectors.asDouble(col("embedding")), qc, scale).as("s"))
      .as[(Long, Long)].collect().toMap
    val want = rows.filter(_._1 != 0L).map { case (id, v) =>
      id -> v.zip(qc).map { case (x, c) =>
        roundHalfAway(x * 127.0 / scale) * c }.sum
    }.toMap
    assert(got == want)
    // quantization preserves the exact-dot ranking (10/10 measured on
    // this table; asserted with slack)
    val sqTop = got.toSeq.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val exactTop = rows.filter(_._1 != 0L).map { case (id, v) =>
      id -> v.zip(q).map { case (x, y) => x * y }.sum
    }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    assert((sqTop intersect exactTop).size >= 8,
      s"sq8 top-10 $sqTop vs exact $exactTop")
  }

  test("semanticDedup matches an independent keep-first sweep; crafted drop rule") {
    // crafted: a cell where the drop rule's "any lower id, kept or not"
    // matters — v2 drops against v1, v3 drops against v2 EVEN THOUGH v2
    // itself was dropped (the keep-first sweep is pairwise, not chained
    // through survivors).
    val cb = Seq(1 -> Array(1.0, 0.0, 0.0, 0.0))
    val near = (d: Double) => Array(1.0, d, 0.0, 0.0)
    val df = Seq((10L, near(0.0)), (11L, near(0.05)), (12L, near(0.1)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding", cb, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(10L))

    // full-table parity with an independent driver-side sweep at d13's tau
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val got = Similarity.semanticDedup(e, "vec_id", "embedding", codebook, 0.35)
      .select("vec_id").as[Long].collect().toSet
    val cells = e.withColumn("cell", Similarity.ivfCell(col("embedding"), codebook))
      .select(col("vec_id"), col("cell"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = cells.filter { case (id, cell, v) =>
      !cells.exists { case (id2, cell2, v2) =>
        // same rounding as Spark's round(): HALF_UP on the double's
        // SHORTEST decimal repr (BigDecimal.valueOf), not its full binary
        // expansion
        cell2 == cell && id2 < id &&
          BigDecimal(java.math.BigDecimal.valueOf(cos(v2, v))
            .setScale(4, java.math.RoundingMode.HALF_UP)) >= BigDecimal("0.35")
      }
    }.map(_._1).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("v12 codes-at-rest ADC: no vector column in the table, compressed, equals v08") {
    val v12 = SparkEntry.queries("v12_pq_codes_at_rest")(spark, sfSmoke)
    val v12Rows = v12.collect().toSeq
    val v08Rows = SparkEntry.queries("v08_pq_adc_topk")(spark, sfSmoke)
      .collect().toSeq
    assert(v12Rows == v08Rows, s"v12 $v12Rows != v08 $v08Rows")
    // the compression claim, enforced by storage: the codes table holds
    // only (vec_id, c1..cm) — no array column to read even by accident —
    // and its bytes are a fraction of the raw embeddings' (4 ints stand
    // in for 64 floats; parquet overhead keeps the ratio well above the
    // 16x raw-payload factor at this tiny SF, so assert a loose 3x)
    val fields = spark.table("graft_pq_codes").schema
    assert(!fields.exists(_.dataType.typeName == "array"),
      s"vector column leaked into the codes table: $fields")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_pq_codes")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codesBytes = fs.getContentSummary(wh).getLength
    val rawBytes = new java.io.File(s"$sfSmoke/embeddings.parquet").length
    assert(codesBytes * 3 < rawBytes,
      s"codes table $codesBytes B not < 1/3 of raw embeddings $rawBytes B")
    spark.sql("DROP TABLE IF EXISTS graft_pq_codes")
  }

  test("v14 SQ8 codes-at-rest: tinyint codes only, compressed, equals v13") {
    val v14Rows = SparkEntry.queries("v14_sq8_codes_at_rest")(spark, sfSmoke)
      .collect().toSeq
    val v13Rows = SparkEntry.queries("v13_sq8_topk")(spark, sfSmoke)
      .collect().toSeq
    assert(v14Rows == v13Rows, s"v14 $v14Rows != v13 $v13Rows")
    // storage-enforced compression: the only array column is the BYTE
    // codes (no float/double vector can leak in), and the table is a
    // fraction of the raw embeddings' bytes (int8 vs float32 payload)
    val fields = spark.table("graft_sq8_codes").schema
    // (parquet round-trips containsNull to true — element TYPE is the claim)
    val arrays = fields.filter(_.dataType.typeName == "array")
    assert(arrays.map(_.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType) == Seq(org.apache.spark.sql.types.ByteType),
      s"unexpected array columns: $fields")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_sq8_codes")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codesBytes = fs.getContentSummary(wh).getLength
    val rawBytes = new java.io.File(s"$sfSmoke/embeddings.parquet").length
    assert(codesBytes * 2 < rawBytes,
      s"codes table $codesBytes B not < 1/2 of raw embeddings $rawBytes B")
    spark.sql("DROP TABLE IF EXISTS graft_sq8_codes")
  }

  test("v11 partitioned IVF probe: scan prunes to nprobe cells, equals v06") {
    // The index-at-rest contract: the probe's `cell IN (…)` must become
    // a PLANNING-time partition filter — the scan touches exactly the
    // nprobe probed directories, not the corpus. And the layout detour
    // must not change the answer: row-identical to the online v06 probe.
    val v11 = SparkEntry.queries("v11_ivf_partitioned_probe")(spark, sfSmoke)
    val v11Rows = v11.collect().toSeq
    val v06Rows = SparkEntry.queries("v06_ivf_multiprobe")(spark, sfSmoke)
      .collect().toSeq
    assert(v11Rows == v06Rows, s"v11 $v11Rows != v06 $v06Rows")

    val nCells = spark.table("graft_ivf_idx")
      .select(col("cell")).distinct().count()
    assert(nCells > 2, s"fixture degenerate: only $nCells cells")
    // plan.collect can't see scans inside AQE query stages (leaves) —
    // descend into them explicitly
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
      (p match {
        case s: FileSourceScanExec => Seq(s)
        case _ => Nil
      }) ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }).flatMap(allScans)
    // the index scan is the one over the partitioned table (its scan
    // carries the cell partition filter; the 1-row query-vector scan
    // reads the raw parquet and has none)
    val scans = allScans(v11.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "[]") != "[]")
    assert(scans.nonEmpty, "no partition-filtered scan found")
    val partsRead = scans.map(_.metrics("numPartitions").value).max
    assert(partsRead == 2,
      s"probe read $partsRead partitions of $nCells, want 2 (nprobe)")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_idx")
  }

  test("v27 appendIvfIndex: base+append index is multiset-identical to a " +
      "from-scratch build; probe over the appended table still prunes") {
    val e = Tables(spark, sfSmoke).embeddings
    val corpus = e.filter(col("vec_id") =!= 0)
    val cb = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").cast("int"), col("embedding").cast("array<double>"))
      .as[(Int, Array[Double])].collect().toSeq.sortBy(_._1)
    graft.operators.Similarity.writeIvfIndex(corpus, "embedding",
      cb, "graft_ivf_full_spec")
    graft.operators.Similarity.writeIvfIndex(
      corpus.filter(col("vec_id") % 5 =!= 3), "embedding",
      cb, "graft_ivf_inc_spec")
    graft.operators.Similarity.appendIvfIndex(
      corpus.filter(col("vec_id") % 5 === 3), "embedding",
      cb, "graft_ivf_inc_spec")
    def snap(t: String) = spark.table(t).select("vec_id", "cell")
      .as[(Long, Int)].collect().toSeq.sorted
    assert(snap("graft_ivf_inc_spec") == snap("graft_ivf_full_spec"))
    // append must not break planning-time pruning: a one-cell probe over
    // the appended table reads one partition directory
    val cell0 = spark.table("graft_ivf_inc_spec")
      .agg(min(col("cell"))).collect()(0).getInt(0)
    val probe = spark.table("graft_ivf_inc_spec")
      .filter(col("cell") === cell0).select(col("vec_id"))
    probe.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
      (p match {
        case s: FileSourceScanExec => Seq(s)
        case _ => Nil
      }) ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }).flatMap(allScans)
    val parts = allScans(probe.queryExecution.executedPlan)
      .map(_.metrics("numPartitions").value).max
    assert(parts == 1, s"one-cell probe read $parts partitions")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_full_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_inc_spec")
  }

  test("pqEncode: codebook vectors encode to their own id; codes in range") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", codebook, m = 4)
    // a codebook vector's every subvector is L2-distance 0 from its own
    // codeword slice → all 4 codes must be its own id
    val self = codes.filter(col("vec_id").between(1, 8))
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(self.length == 8 &&
      self.forall(r => r._2 == r._1 && r._3 == r._1 && r._4 == r._1 && r._5 == r._1))
    // every code is a valid codeword id
    val all = codes.as[(Long, Int, Int, Int, Int)].collect()
    assert(all.forall(r => Seq(r._2, r._3, r._4, r._5)
      .forall(c => c >= 1 && c <= 8)))
  }

  test("pqAdcTopK: adc equals quantized L2 to the reconstruction; sane recall") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val qvec = e.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val top = Similarity.pqAdcTopK(e.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", codebook, qvec, m = 4, k = 10)
      .as[(Long, Int, Int, Int, Int, Long)].collect()

    // PQ's defining identity: adc == Σ_j quantized-L2²(query_j,
    // codeword(code_j)_j) — recompute independently with the same
    // HALF_UP rounding Spark's round() uses
    def qr(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val cb = codebook.toMap
    for ((id, c1, c2, c3, c4, adc) <- top) {
      val expect = Seq(c1, c2, c3, c4).zipWithIndex.map { case (c, j) =>
        (j * 16 until (j + 1) * 16).map { i =>
          val q = qr((qvec(i) - cb(c)(i)) * 1e6); q * q
        }.sum
      }.sum
      assert(adc == expect, s"vec $id adc $adc != $expect")
    }

    // coarse 8-codeword codebook → modest recall vs exact L2; measured
    // 0.3 on this table, asserted with slack (quality floor, not a tune)
    val exact = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy { case (id, v) =>
        (v.zip(qvec).map { case (x, y) => (x - y) * (x - y) }.sum, id)
      }.take(10).map(_._1).toSet
    val recall = (top.map(_._1).toSet intersect exact).size / 10.0
    assert(recall >= 0.2, s"ADC recall@10 $recall")
  }

  test("chunkTokens: exact windows, overlap, tail suppression, empty docs") {
    import graft.operators.Chunking
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a"),                                      // 1 token
      (3L, ""),                                       // blank → no chunks
      (4L, null.asInstanceOf[String]))                // null → no chunks
      .toDF("doc_id", "text")
    val got = Chunking.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Long, String)].collect()
    // starts every 2: 0,2,4,6; start 8 contributes no new token past
    // chunk [6,10) (8 + overlap 2 >= 10) and is suppressed
    assert(got.filter(_._1 == 1L).map(_._4).toSeq == Seq(
      "t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7 t8", "t7 t8 t9 t10"))
    assert(got.filter(_._1 == 1L).map(r => (r._2, r._3)).toSeq ==
      Seq((0, 4L), (1, 4L), (2, 4L), (3, 4L)))
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, 1L, "a")))
    assert(!got.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("dedupAgainstCorpus equals a plain anti-join; bloom FPs are confirmed away") {
    // tiny undersized sketch (expectedKeys=1, fpp=0.5) forces Bloom
    // false positives through the exact confirm join — the result must
    // stay the plain anti-join answer regardless
    val inc = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
      .toDF("id", "k")
    val corpus = Seq((10L, "bb"), (11L, "dd"), (12L, "zz")).toDF("id", "k")
    val got = Dedup.dedupAgainstCorpus(inc, corpus, col("k"),
        expectedKeys = 1, fpp = 0.5)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))

    // real documents, lead-fingerprint key: operator == plain anti-join,
    // and the increment really loses rows (dups exist at sf0.001)
    import graft.functions.text
    val docs = graft.Tables(spark, sfSmoke).documents
    val key = md5(concat_ws(" ", slice(text.tokens(col("text")), 1, 8)))
    val i = docs.filter(col("doc_id") % 10 === 3)
    val c = docs.filter(col("doc_id") % 10 =!= 3)
    val viaOp = Dedup.dedupAgainstCorpus(i, c, key, expectedKeys = 1000)
      .select("doc_id").as[Long].collect().toSet
    val plain = i.withColumn("__k", key)
      .join(c.select(key.as("__k")).distinct(), Seq("__k"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(viaOp == plain)
    assert(viaOp.size < i.count(), "fixture increment should lose rows")
  }

  test("dupClustersStar equals min-label propagation (path + real pairs)") {
    // a 64-node path — the high-diameter shape large/small-star exists
    // for: min-label needs diameter≈63 rounds (it TRUNCATES at the
    // default maxIter=50 here, with a warning — hence maxIter=100),
    // star converges within its default budget
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val starPath = Dedup.dupClustersStar(path)
      .as[(Long, Long)].collect().toSet
    val labelPath = Dedup.dupClusters(path, maxIter = 100)
      .as[(Long, Long)].collect().toSet
    assert(starPath == labelPath && starPath.map(_._2) == Set(1L))

    // real LSH candidate pairs from the sf0.001 documents
    val docs = graft.Tables(spark, sfSmoke).documents
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 8, bands = 2, shingleN = 3)
      .select(col("a"), col("b"))
    val star = Dedup.dupClustersStar(pairs)
      .as[(Long, Long)].collect().toSet
    val label = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toSet
    assert(star == label)
  }

  test("PqEncode kernel matches the HOF form on every sf0.01 embedding") {
    // the codegen kernel (graft.plans.PqEncode) replaced the interpreted
    // aggregate(zip_with(...)) chains; the HOF form stays as the parity
    // oracle — same pattern as the text kernels. Exact equality on every
    // row, both directions.
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val kernel = e.select(
      col("vec_id") +: Similarity.pqCodes(col("embedding"), codebook, 4): _*)
    val hof = e.select(
      col("vec_id") +: Similarity.pqCodesHof(col("embedding"), codebook, 4): _*)
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
      "kernel and HOF codes differ")
  }

  test("ivfPqTopK composition: exact cosine scoring on top, sane recall") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val q = e.filter(col("vec_id") === 0)
    val qvec = q.select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val rest = e.filter(col("vec_id") =!= 0)
    val got = Similarity.ivfPqTopK(rest, "vec_id", "embedding", codebook,
        qvec, m = 4, k = 10, nprobe = 2, shortlist = 30)
      .select(col("vec_id"), col("cos4")).as[(Long, Double)].collect()
    // scores must be the EXACT rounded cosine (re-rank reads raw vectors,
    // not PQ reconstructions) — recompute independently
    val byId = rest.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(v: Array[Double]): Double = {
      val dot = v.zip(qvec).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(v.map(x => x * x).sum) *
        math.sqrt(qvec.map(x => x * x).sum))
      BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { case (id, c) =>
      assert(math.abs(c - cos(byId(id))) < 1e-9, s"vec $id score $c")
    }
    // recall vs exact brute force: the 2-of-8-cell probe bounds what any
    // downstream stage can recover (true top-10 neighbors in unprobed
    // cells are unreachable by design), and the coarse 8-codeword ADC
    // shortlist trims further; measured 0.5 on this table, asserted with
    // slack (quality floor, not a tune)
    val brute = Similarity.bruteForceTopK(rest, q, "vec_id", "embedding", 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (got.map(_._1).toSet intersect brute).size / 10.0
    assert(recall >= 0.4, s"ivfPqTopK recall@10 $recall")
  }

  test("multi-probe IVF widens the scan monotonically; head equals ivfCell") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val codebook = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val probes = e.select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), codebook).as("cell"),
        Similarity.ivfProbeCells(col("embedding"), codebook, 1).as("p1"),
        Similarity.ivfProbeCells(col("embedding"), codebook, 3).as("p3"))
      .collect()
    probes.foreach { r =>
      val cell = r.getInt(1)
      val p1 = r.getSeq[Int](2)
      val p3 = r.getSeq[Int](3)
      assert(p1 == Seq(cell), s"nprobe=1 head ${p1} != ivfCell $cell")
      assert(p3.take(1) == Seq(cell) && p3.size == 3 && p3.distinct.size == 3)
    }
  }

  test("mmrTopK: lambda=1 reduces to top-k; diversity penalizes the twin") {
    // query along +x; a/b nearly collinear high-relevance twins, c a
    // moderately relevant but orthogonal-ish direction
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f)),       // query
      (1L, Seq(0.9f, 0.1f, 0f)),   // best
      (2L, Seq(0.89f, 0.11f, 0f)), // its near-twin
      (3L, Seq(0.6f, 0f, 0.8f)),   // diverse
      (4L, Seq(0.5f, -0.2f, 0.1f))
    ).toDF("vec_id", "embedding")
    val corpus = rows.filter(col("vec_id") =!= 0)
    val query = rows.filter(col("vec_id") === 0)
    // pure relevance (λ = 1): identical to bruteForceTopK's order
    val pure = Similarity.mmrTopK(corpus, query, "vec_id", "embedding",
        shortlist = 4, k = 3, lamNum = 1, lamDen = 1)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val bf = Similarity.bruteForceTopK(corpus, query, "vec_id", "embedding", 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(pure == bf, "λ=1 must equal relevance order")
    // balanced λ: after picking 1, the twin (2) scores below the
    // diverse 3 — MMR must interleave
    val mmr = Similarity.mmrTopK(corpus, query, "vec_id", "embedding",
        shortlist = 4, k = 3, lamNum = 5, lamDen = 10)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(mmr.head == 1L && mmr(1) != 2L,
      s"twin must be demoted by the similarity penalty, got $mmr")
    assert(mmr.toSet.size == 3 && mmr.forall(Set(1L, 2L, 3L, 4L)))
  }

  test("spikeBuckets: flat series never flags; spike/dip flag by direction") {
    import graft.operators.Anomaly
    // Population z over T buckets is bounded by √(T−1), so a 3σ flag
    // needs T ≥ 10; 20 buckets with one 100× outlier give |z| ≈ 4.3.
    // A: flat (variance 0, dev 0 — the strict inequality suppresses it);
    // B: 19×10 + one 1000 (spike); C: 19×1000 + one 1 (dip).
    val rows =
      (0 until 20).flatMap(b => Seq.fill(10)(("A", b.toLong))) ++
        (0 until 19).flatMap(b => Seq.fill(10)(("B", b.toLong))) ++
        Seq.fill(1000)(("B", 19L)) ++
        (0 until 19).flatMap(b => Seq.fill(1000)(("C", b.toLong))) ++
        Seq.fill(1)(("C", 19L))
    val df = rows.toDF("k", "bucket")
    val high = Anomaly.spikeBuckets(df, "k", "bucket", sigma = 3)
      .as[(String, Long, Long)].collect().toSet
    assert(high == Set(("B", 19L, 1000L)), s"high-only got $high")
    val both = Anomaly.spikeBuckets(df, "k", "bucket", sigma = 3,
        flagLow = true)
      .as[(String, Long, Long)].collect().toSet
    assert(both == Set(("B", 19L, 1000L), ("C", 19L, 1L)), s"both got $both")
  }

  test("spikeBuckets matches a driver-side float z-score on real events") {
    import graft.operators.Anomaly
    val ev = Tables(spark, sfSmoke).events
      .withColumn("hour_ms", unix_millis(date_trunc("hour", col("ts"))))
    val got = Anomaly.spikeBuckets(ev, "event_type", "hour_ms", sigma = 3,
        flagLow = true)
      .as[(String, Long, Long)].collect().toSet
    val counts = ev.groupBy("event_type", "hour_ms").count()
      .as[(String, Long, Long)].collect()
    val expect = counts.groupBy(_._1).values.flatMap { g =>
      val ns = g.map(_._3.toDouble)
      val mean = ns.sum / ns.length
      val sd = math.sqrt(ns.map(x => (x - mean) * (x - mean)).sum / ns.length)
      g.filter(r => sd > 0 && math.abs(r._3 - mean) >= 3 * sd - 1e-9)
    }.toSet
    assert(got == expect)
  }

  test("cusumDrift: window form equals the serial Page recurrence") {
    import graft.operators.Anomaly
    // per-key hourly counts with a sustained +2 shift halfway through
    val rows = (for (k <- Seq("a", "b"); t <- 0 until 40) yield {
      val n = if (k == "a" && t >= 20) 7 else 5
      Seq.fill(n)((k, t.toLong))
    }).flatten
    val df = rows.toDF("k", "bucket")
    val got = Anomaly.cusumDrift(df, "k", "bucket", thresholdCounts = 10)
      .select("k", "bucket", "cusum").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // serial fold: C_t = max(0, C_{t-1} + (n_t*T - S)), flag C >= 10*T
    val counts = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = Seq("a", "b").flatMap { k =>
      val buckets = (0L until 40L).filter(t => counts.contains((k, t)))
      val t = buckets.size
      val s = buckets.map(b => counts((k, b))).sum
      var c = 0L
      buckets.flatMap { b =>
        c = math.max(0L, c + counts((k, b)) * t - s)
        if (c >= 10L * t) Some((k, b) -> c) else None
      }
    }.toMap
    assert(got == want)
    assert(got.keys.forall(_._1 == "a")) // the flat series never flags
    assert(got.nonEmpty)
  }

  test("cusumDrift flags a sustained small shift that no z-test sees") {
    import graft.operators.Anomaly
    // +1/hour drift for the back half: each bucket is well under 3σ of
    // the series, but the accumulated drift crosses the CUSUM threshold
    val rows = (0 until 60).flatMap { t =>
      Seq.fill(if (t >= 30) 11 else 10)(("k", t.toLong))
    }
    val df = rows.toDF("k", "bucket")
    assert(Anomaly.spikeBuckets(df, "k", "bucket", sigma = 3).count() == 0)
    val drift = Anomaly.cusumDrift(df, "k", "bucket", thresholdCounts = 8)
    assert(drift.count() > 0)
    // flags concentrate in the shifted half
    assert(drift.agg(min(col("bucket"))).as[Long].head() >= 30L)
  }

  test("shardManifest: deterministic, balanced-ish, order-independent") {
    val docs = Tables(spark, sfSmoke).documents.select(col("doc_id"))
    val m1 = Splits.shardManifest(docs, "doc_id", numShards = 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().toSet
    // re-ordered, re-partitioned input → identical manifest
    val m2 = Splits.shardManifest(
        docs.orderBy(col("doc_id").desc).repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().toSet
    assert(m1 == m2 && m1.nonEmpty)
    // every shard's positions are contiguous 1..n
    m1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq.sorted == (1L to rows.size))
    }
    // md5 spreads: no shard empty, none holds > half the corpus
    val sizes = m1.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.size == 8 && sizes.values.max <= m1.size / 2)
  }

  test("cdcChunks equals a serial fold; chunks partition the tokens") {
    import graft.operators.Chunking
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h16(t: String) = Integer.parseInt(md5hex(t).substring(0, 4), 16)
    def h32(s: String) = java.lang.Long.parseLong(
      md5hex("0:" + s).substring(0, 8), 16)
    def serial(text: String): Seq[(Int, Long, Long)] = {
      val toks = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) Nil
      else {
        val chunks = toks.foldLeft(Vector(Vector.empty[String])) {
          (acc, t) =>
            val cur = acc.init :+ (acc.last :+ t)
            if (h16(t) % 8 == 0) cur :+ Vector.empty else cur
        }.filter(_.nonEmpty)
        chunks.zipWithIndex.map { case (c, i) =>
          (i, c.size.toLong, h32(c.mkString(" ")))
        }
      }
    }
    val docs = Tables(spark, sfSmoke).documents.limit(50)
    val got = Chunking.cdcChunks(docs, "doc_id", "text", divisor = 8)
      .select("doc_id", "chunk_id", "n_tokens", "chunk_hash")
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sorted.toSeq)
      .toMap
    val want = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> serial(t).sorted }
      .filter(_._2.nonEmpty).toMap
    assert(got == want && got.nonEmpty)
    // chunks partition the token stream: per-doc token mass is conserved
    got.foreach { case (id, chunks) =>
      assert(chunks.map(_._2).sum ==
        want(id).map(_._2).sum)
    }
  }

  test("cdcChunks boundaries re-align after a prefix edit") {
    import graft.operators.Chunking
    val base = Tables(spark, sfSmoke).documents
      .orderBy("doc_id").limit(1).select("text").as[String].head()
    val edited = "entirely new lead sentence inserted here " + base
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = Chunking.cdcChunks(df, "doc_id", "text", divisor = 8)
      .select("doc_id", "chunk_hash").as[(Long, Long)].collect()
    val a = ch.filter(_._1 == 1L).map(_._2).toSet
    val b = ch.filter(_._1 == 2L).map(_._2).toSet
    // content-defined boundaries: every chunk of the original except
    // (at most) its first survives the prefix insertion verbatim
    assert(a.size >= 2, s"fixture too short: ${a.size} chunks")
    assert((a -- b).size <= 1, s"lost ${(a -- b).size} of ${a.size}")
  }

  test("slidingDistinct equals a brute-force window recount") {
    import graft.operators.SlidingDistinct
    // key a: one user active 10 straight days (must count once per
    // window, not 7×), another with a >window gap (count drops to 0
    // between), key b: disjoint users each day
    val rows =
      (0L until 10L).map(d => ("a", 1L, d)) ++
        Seq(("a", 2L, 0L), ("a", 2L, 20L)) ++
        Seq(("b", 10L, 5L), ("b", 11L, 6L), ("b", 12L, 7L))
    val df = rows.toDF("k", "u", "day")
    for (win <- Seq(1, 3, 7)) {
      val got = SlidingDistinct.slidingDistinct(df, "k", "u", "day", win)
        .select("k", "day", "n_distinct").as[(String, Long, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      val byKey = rows.groupBy(_._1)
      val want = byKey.flatMap { case (k, rs) =>
        val days = rs.map(_._3)
        (days.min to days.max).map { d =>
          (k, d) -> rs.filter(r => r._3 >= d - win + 1 && r._3 <= d)
            .map(_._2).distinct.size.toLong
        }
      }
      assert(got == want, s"win=$win")
      // the gap: key a day 16 (window [10,16]) has zero active users
      if (win == 7) assert(got(("a", 16L)) == 0L)
    }
  }

  test("slidingDistinct matches the correlated recount on real events") {
    import graft.operators.SlidingDistinct
    val ev = Tables(spark, sfSmoke).events
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    val got = SlidingDistinct
      .slidingDistinct(ev, "event_type", "user_id", "day", 7)
      .select("event_type", "day", "n_distinct")
      .as[(String, Long, Long)].collect().toSet
    val act = ev.select("event_type", "user_id", "day")
      .as[(String, Long, Long)].collect().distinct
    val want = act.groupBy(_._1).flatMap { case (k, rs) =>
      (rs.map(_._3).min to rs.map(_._3).max).map { d =>
        (k, d, rs.filter(r => r._3 >= d - 6 && r._3 <= d)
          .map(_._2).distinct.size.toLong)
      }
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("radialSimplify keeps first point and enforces distance vs last KEPT") {
    import graft.operators.RadialSimplify
    // track along the equator: lon 0, 5, 9, 20 at ~111.19 km/deg.
    // tol 1000 km: keep 0; 5° (556 km) drop; 9° (1000.77 km from 0) keep;
    // 20° (1223 km from 9) keep.
    val df = Seq((1L, 1L, 0.0, 0.0), (1L, 2L, 5.0, 0.0),
      (1L, 3L, 9.0, 0.0), (1L, 4L, 20.0, 0.0)).toDF("trk", "seq", "lon", "lat")
    val kept = RadialSimplify.radialSimplify(df, "trk", "seq", "lon", "lat", 1000.0)
      .select("seq").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("stayPoints: anchors are exactly the kept points, run lengths " +
    "partition each track, minPts cuts short runs") {
    import graft.operators.RadialSimplify
    // equator track: 0° (anchor), +two lingering points, jump to 20°
    // (anchor) with ONE companion — first run stays (3 pts), second is
    // cut by minPts = 3
    val df = Seq((1L, 1L, 0.0, 0.0), (1L, 2L, 1.0, 0.0), (1L, 3L, 2.0, 0.0),
      (1L, 4L, 20.0, 0.0), (1L, 5L, 21.0, 0.0),
      (2L, 1L, 0.0, 0.0), (2L, 2L, 0.5, 0.0), (2L, 3L, 1.0, 0.0))
      .toDF("trk", "seq", "lon", "lat")
    val got = RadialSimplify
      .stayPoints(df, "trk", "seq", "lon", "lat", tolKm = 1000.0,
        minPts = 3)
      .select("trk", "anchor_seq", "n_pts")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L)))
    // partition identity vs the decimation on real tracks: minPts=1
    // stays anchor at exactly radialSimplify's kept points and the run
    // lengths sum to each track's point count
    val pts = Tables(spark, sfSmoke).lineitem.select(
      col("l_orderkey").as("trk"),
      (col("l_linenumber") * 10000000000L + col("l_partkey") * 100000L +
        col("l_suppkey")).as("seq"),
      ((col("l_partkey") % 3600).cast("double") / 10 - 180).as("lon"),
      (((col("l_suppkey") * 13) % 1700).cast("double") / 10 - 85).as("lat"))
    val stays = RadialSimplify
      .stayPoints(pts, "trk", "seq", "lon", "lat", 5000.0, minPts = 1)
      .select("trk", "anchor_seq", "n_pts")
      .as[(Long, Long, Long)].collect()
    val kept = RadialSimplify
      .radialSimplify(pts, "trk", "seq", "lon", "lat", 5000.0)
      .select("trk", "seq").as[(Long, Long)].collect().toSet
    assert(stays.map(s2 => (s2._1, s2._2)).toSet == kept)
    val perTrack = stays.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val sizes = pts.groupBy("trk").count()
      .as[(Long, Long)].collect().toMap
    assert(perTrack.forall { case (t, n) => sizes(t) == n })
  }

  test("radialSimplify resets state at track boundaries; matches serial fold") {
    import graft.operators.RadialSimplify
    val pts = Tables(spark, sfSmoke).lineitem.select(
      col("l_orderkey").as("trk"),
      (col("l_linenumber") * 10000000000L + col("l_partkey") * 100000L +
        col("l_suppkey")).as("seq"),
      ((col("l_partkey") % 3600).cast("double") / 10 - 180).as("lon"),
      (((col("l_suppkey") * 13) % 1700).cast("double") / 10 - 85).as("lat"))
    val got = RadialSimplify
      .radialSimplify(pts, "trk", "seq", "lon", "lat", 5000.0)
      .select("trk", "seq").as[(Long, Long)].collect().toSet
    val want = pts.as[(Long, Long, Double, Double)].collect()
      .groupBy(_._1).values.flatMap { g =>
        var lastLon = 0.0; var lastLat = 0.0; var first = true
        g.sortBy(_._2).flatMap { case (trk, seq, lon, lat) =>
          val keep = first || BigDecimal(RadialSimplify.havKm(
              lastLon, lastLat, lon, lat))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= 5000.0
          if (keep) { first = false; lastLon = lon; lastLat = lat }
          if (keep) Some((trk, seq)) else None
        }
      }.toSet
    assert(got == want && got.nonEmpty)
    // every track keeps its first point
    assert(got.map(_._1) == pts.select("trk").as[Long].collect().toSet)
  }

  test("Curriculum.phases equals a literal global ntile at several k") {
    import graft.operators.Curriculum
    import org.apache.spark.sql.expressions.Window
    // scores with heavy ties (domain of 7 values over 523 rows) so the
    // within-score rank path and phase boundaries inside a tie both run
    val df = (1 to 523).map(i => (i.toLong, (i * i % 7).toLong))
      .toDF("id", "score")
    for (k <- Seq(1, 2, 4, 5, 523, 700)) {
      val got = Curriculum.phases(df, "score", "id", k)
        .select("id", "phase").as[(Long, Int)].collect().toMap
      val want = df.withColumn("phase",
          ntile(k).over(Window.orderBy(col("score").desc, col("id"))))
        .select("id", "phase").as[(Long, Int)].collect().toMap
      assert(got == want, s"k=$k mismatch")
    }
  }

  test("d17 LSH index lookup: scan prunes to the query's band dirs, " +
    "self-match at jaccard 1, equals in-memory band-mate computation") {
    val docs = Tables(spark, sfSmoke).documents
    val qText = docs.filter(col("doc_id") === 0)
      .select(col("text")).collect()(0).getString(0)
    Dedup.writeLshIndex(docs, "doc_id", "text", "graft_lsh_idx_spec")
    val got = Dedup.lshIndexLookup(spark, "graft_lsh_idx_spec",
      "doc_id", qText)
    val rows = got.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows(0L) == 1.0, s"self-match missing or not 1.0: $rows")
    // planning-time pruning: the scan touches at most bands·(band,bp)
    // dirs of the bands·16 the table holds (exactly 2 when the two
    // band prefixes differ, 1-per-band dirs either way)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
      (p match {
        case s: FileSourceScanExec => Seq(s)
        case _ => Nil
      }) ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }).flatMap(allScans)
    val scans = allScans(got.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "[]") != "[]")
    assert(scans.nonEmpty, "no partition-filtered scan found")
    val partsRead = scans.map(_.metrics("numPartitions").value).max
    val total = spark.table("graft_lsh_idx_spec")
      .select("band", "bp").distinct().count()
    assert(partsRead <= 2 && partsRead < total,
      s"probe read $partsRead of $total partitions, want <= 2")
    // in-memory band-mate reference over the same kernel outputs
    val per = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
      .withColumn("b0", md5(concat_ws(",",
        col("m1"), col("m2"), col("m3"), col("m4"))))
      .withColumn("b1", md5(concat_ws(",",
        col("m5"), col("m6"), col("m7"), col("m8"))))
      .select("doc_id", "b0", "b1")
      .as[(Long, String, String)].collect()
    val q = per.find(_._1 == 0L).get
    val want = per.filter(p => p._2 == q._2 || p._3 == q._3)
      .map(_._1).toSet
    assert(rows.keySet == want, s"band mates ${rows.keySet} != $want")
    spark.sql("DROP TABLE IF EXISTS graft_lsh_idx_spec")
  }

  test("Markov.transitionMatrix: hand-built sequences, rates sum ≤ 10000") {
    import graft.operators.Markov
    // user 1: a→b→a→c ; user 2: a→b ; transitions from a: b,c,b → b=2 c=1
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "c"),
        (2L, 1L, "a"), (2L, 2L, "b"))
      .toDF("user_id", "seq", "state")
    val got = Markov.transitionMatrix(ev, "user_id", "state", Seq("seq"))
      .orderBy("from_state", "to_state")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 2L, 6666L), ("a", "c", 1L, 3333L),
      ("b", "a", 1L, 10000L)))
    // rates within a from_state never exceed 10000 in total
    val sums = got.groupBy(_._1).map(_._2.map(_._4).sum)
    assert(sums.forall(_ <= 10000L))
  }

  test("weightedSampleNoReplacement: exact k, serial A-Res parity, " +
    "weight monotonicity in expectation") {
    val rows = (1L to 400L).map(i => (i, 1L + (i % 10) * 100L))
    val df = rows.toDF("id", "w")
    val got = Splits.weightedSampleNoReplacement(df, "id", "w", k = 60,
        salt = 3)
      .select("id").as[Long].collect().toSet
    assert(got.size == 60)
    // serial replay of the exact same key arithmetic
    def h32(s: String, salt: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$salt:$s".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = rows.map { case (id, w) =>
      val u = (h32(id.toString, 3) + 1).toDouble / 4294967296.0
      val lnuNano = math.round(math.log(u) * 1e9)
      (lnuNano.toDouble / w.toDouble, id)
    }.sortBy { case (k2, id) => (-k2, id) }.take(60).map(_._2).toSet
    assert(got == want)
    // heavier rows are likelier: mean weight of the panel beats the
    // corpus mean (weights span 1..901, expectation gap is wide)
    val meanAll = rows.map(_._2).sum.toDouble / rows.size
    val meanGot = rows.filter(r => got(r._1)).map(_._2).sum.toDouble / 60
    assert(meanGot > meanAll, s"panel mean $meanGot vs corpus $meanAll")
  }

  /** Serial reference for Dedup.repeatedSpans: Lee et al.'s k-bounded
    * repeated-span semantics, computed the obvious slow way.
    */
  private def serialRepeatedSpans(docs: Seq[(Long, String)],
                                  k: Int): Seq[(Long, Long, Long, Long)] = {
    def norm(s: String): String = s.toLowerCase
      .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    val grams = for {
      (id, t) <- docs
      w = norm(t).split(" ").filter(_.nonEmpty)
      i <- 0 to w.length - k
    } yield (id, i + 1L, w.slice(i, i + k).mkString(" "))
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (id, occ) =>
        val ps = occ.map(_._2).sorted
        val spans = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long)]
        for (p <- ps) {
          if (spans.nonEmpty && p <= spans.last._2 + 1)
            spans(spans.size - 1) = (spans.last._1,
              math.max(spans.last._2, p + k - 1))
          else spans += ((p, p + k - 1))
        }
        spans.map { case (s, e) => (id, s, e, e - s + 1) }
      }
  }

  test("Dedup.repeatedSpans: hand-built cross-doc and within-doc " +
    "repeats, merged maximal intervals") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a quick brown fox jumps over the lazy dog sleeps"),
      (3L, "completely unrelated words here nothing repeats at all"),
      // within-doc repeat of a 6-token span (k = 5 → both copies marked)
      (4L, "one two three four five six gap one two three four five six"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", k = 5)
      .orderBy(col("doc_id"), col("span_start"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc1 tokens 2..9 = "quick brown fox jumps over the lazy dog"
    // (8 tokens, windows 2..5 all duplicated in doc2 at 2..9) — spans
    // merge to one maximal interval per doc; doc4 marks both copies
    assert(got == Seq(
      (1L, 2L, 9L, 8L), (2L, 2L, 9L, 8L),
      (4L, 1L, 6L, 6L), (4L, 8L, 13L, 6L)))
    assert(got == serialRepeatedSpans(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a quick brown fox jumps over the lazy dog sleeps"),
      (3L, "completely unrelated words here nothing repeats at all"),
      (4L, "one two three four five six gap one two three four five six")),
      5))
  }

  test("Dedup.repeatedSpans: serial parity on the real sf0.001 corpus") {
    val docs = Tables(spark, sfSmoke).documents
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", k = 5)
      .orderBy(col("doc_id"), col("span_start"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    val want = serialRepeatedSpans(rows, 5)
    assert(got.size == want.size, s"${got.size} vs ${want.size} spans")
    assert(got == want)
  }
}
