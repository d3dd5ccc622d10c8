package graft

import org.apache.spark.sql.functions._
import graft.graph.Routing

/** P4 routing tests (SURVEY §5): Dijkstra on a hand-computed fixture
  * mirroring index.html:152-194 semantics, nearest-node ties, edge build.
  */
class RoutingSpec extends SparkTestBase {
  import spark.implicits._

  // Fixture: A→B→C→D along route r1 (weights 1, 2, 3), shortcut A→C via r2
  // (weight 2.5), dead-end C→E (1). Shortest A→D = A→C(r2)→D = 5.5.
  private lazy val fixtureEdges = Seq(
    ("A", "B", "r1", 1.0), ("B", "C", "r1", 2.0), ("C", "D", "r1", 3.0),
    ("A", "C", "r2", 2.5), ("C", "E", "r3", 1.0)
  ).toDF("src", "dst", "route_id", "weight_m")

  test("sssp computes Dijkstra distances on the fixture") {
    val d = Routing.sssp(fixtureEdges, "A")
      .select("node", "dist_m").as[(String, Double)].collect().toMap
    assert(d == Map("A" -> 0.0, "B" -> 1.0, "C" -> 2.5, "D" -> 5.5, "E" -> 3.5))
  }

  test("shortestPath unwinds the predecessor chain with route labels") {
    val p = Routing.shortestPath(fixtureEdges, "A", "D")
    assert(p.map(_._1) == Seq("A", "C", "D"))
    assert(p.map(_._2) == Seq(None, Some("r2"), Some("r1")))
    assert(p.last._3 == 5.5)
  }

  test("shortestPath to unreachable node is empty") {
    assert(Routing.shortestPath(fixtureEdges, "D", "A").isEmpty)
  }

  test("shortestPathFrame carries only the path's rows, not all of V") {
    val f = Routing.shortestPathFrame(fixtureEdges, "A", "D")
    // 5 nodes are reachable from A, but only A→C→D is on the path: the
    // frame (the only thing shortestPath collects) must be O(path length)
    assert(f.select("node").as[String].collect().toSet == Set("A", "C", "D"))
  }

  test("bfsHops matches hop-count semantics") {
    val h = Routing.bfsHops(fixtureEdges, "A", 10)
      .as[(String, Int)].collect().toMap
    assert(h == Map("A" -> 0, "B" -> 1, "C" -> 1, "D" -> 2, "E" -> 2))
  }

  test("multiSourceBfsHops equals per-seed bfsHops, in one loop") {
    val seeds = Seq("A", "C", "E")
    val got = Routing.multiSourceBfsHops(fixtureEdges, seeds, 10,
        prePartitionEdges = false)
      .select("seed", "node", "hops").as[(String, String, Int)]
      .collect().toSet
    val want = seeds.flatMap { s =>
      Routing.bfsHops(fixtureEdges, s, 10, prePartitionEdges = false)
        .as[(String, Int)].collect().map { case (n, h) => (s, n, h) }
    }.toSet
    assert(got == want && got.nonEmpty)
    // E is a sink: its wave is just itself
    assert(got.count(_._1 == "E") == 1)
  }

  test("broadcastFrontier changes the plan, not the answers (sssp + bfs)") {
    val d = Routing.sssp(fixtureEdges, "A", broadcastFrontier = true)
      .select("node", "dist_m").as[(String, Double)].collect().toMap
    assert(d == Map("A" -> 0.0, "B" -> 1.0, "C" -> 2.5, "D" -> 5.5, "E" -> 3.5))
    val h = Routing.bfsHops(fixtureEdges, "A", 10, broadcastFrontier = true)
      .as[(String, Int)].collect().toMap
    assert(h == Map("A" -> 0, "B" -> 1, "C" -> 1, "D" -> 2, "E" -> 2))
  }

  // a slightly larger graph so buckets carry >1 row each
  private lazy val routeEdges = (1 to 120).map(i => (s"n${i % 17}",
      s"n${(i * 5 + 2) % 17}", "r1", (i % 4 + 1).toDouble))
    .toDF("src", "dst", "route_id", "weight_m").dropDuplicates("src", "dst")

  test("bfsHops/sssp over a src-bucketed table read it at rest and equal " +
    "the in-memory loops; the edge table never shuffles in a round") {
    val e = routeEdges
    Routing.stageEdgesTable(e, "graft_route_edges_spec", buckets = 4)
    val table = spark.table("graft_route_edges_spec")
    val wantB = Routing.bfsHops(e, "n1", 20).as[(String, Int)].collect().toMap
    val gotB = Routing.bfsHops(table, "n1", 20)
      .as[(String, Int)].collect().toMap
    assert(gotB == wantB && gotB.nonEmpty)
    val wantS = Routing.sssp(e, "n1").select("node", "dist_m")
      .as[(String, Double)].collect().toMap
    val gotS = Routing.sssp(table, "n1")
      .select("node", "dist_m").as[(String, Double)].collect().toMap
    assert(gotS == wantS)
    // the loop's input is cached only while it runs
    assert(spark.sharedState.cacheManager.isEmpty)

    // Plan property (why the variant exists): with broadcast off, a BFS
    // round over the bucketed table needs one FEWER hash exchange than
    // the same round over a plain materialized edge frame — the bucket
    // layout substitutes for the E-side shuffle of the expansion join
    // (the RankingSpec.rankRound pin, applied to the frontier family).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = spark.table("graft_route_edges_spec")
        .select(col("src"), col("dst"))
      val plain = bucketed.localCheckpoint()
      val dist = Seq(("n1", 0)).toDF("node", "hops")
        .withColumn("__new", lit(true)).localCheckpoint()
      def exchanges(ed: org.apache.spark.sql.DataFrame): Int =
        Routing.bfsRound(ed, dist, dist.filter(col("__new")))
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
      val (nb, np) = (exchanges(bucketed), exchanges(plain))
      assert(nb == np - 1,
        s"bucketed round has $nb exchanges vs plain $np — layout unused")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the layout rule: only a projection or filter of a table bucketed " +
    "on the join key is read at rest, and choosing launches no job") {
    import graft.operators.Iteration
    import graft.sources.Warehouse
    Routing.stageEdgesTable(routeEdges, "graft_route_rule_spec", buckets = 4)
    try {
      val table = spark.table("graft_route_rule_spec")
      val other = Seq(("n1", 1)).toDF("src", "w")
      val atRest = Seq(
        "the table" -> table,
        "a projection" -> table.select(col("src"), col("dst")),
        "a filtered projection" ->
          table.filter(col("weight_m") > 1.0).select(col("src"), col("dst")))
      val inMemory = Seq(
        "a plain frame" -> routeEdges,
        "a merely repartitioned frame" -> routeEdges.repartition(4, col("src")),
        "a repartitioned table" -> table.repartition(4, col("src")),
        "a joined frame" -> table.join(other, Seq("src")),
        "a renamed key" ->
          table.select(col("dst").as("src"), col("src").as("dst")))
      val (verdicts, jobs) = jobsDuring(
        (atRest ++ inMemory).map { case (what, df) =>
          what -> Warehouse.bucketedOn(df, "src") })
      assert(jobs == 0, s"choosing the layout launched $jobs jobs")
      assert(verdicts.take(atRest.size).forall(_._2), verdicts)
      assert(!verdicts.drop(atRest.size).exists(_._2), verdicts)
      // bucketed on a different key than the round joins on: in memory
      assert(!Warehouse.bucketedOn(table, "dst"))

      // at rest: persisted at the bucket width, classic rounds, no job
      val (in, stageJobs) = jobsDuring(
        Iteration.stage(table.select(col("src"), col("dst")), "src",
          _.localCheckpoint(), repartition = true))
      try {
        assert(stageJobs == 0, s"staging at rest launched $stageJobs jobs")
        assert(in.atRest && in.parts == 4 && in.tinyBound == 0)
        // the cache keeps the bucketed partitioning: a round over the
        // persisted input plans one hash exchange fewer than over the
        // same edges checkpointed from a plain frame
        val dist = Seq(("n1", 0)).toDF("node", "hops")
          .withColumn("__new", lit(true)).localCheckpoint()
        def exchanges(ed: org.apache.spark.sql.DataFrame): Int =
          Iteration.withShufflePartitions(spark, in.parts) {
            Routing.bfsRound(ed, dist, dist.filter(col("__new")))
              .queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
              .linesIterator.count(_.contains("Exchange hashpartitioning"))
          }
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val (nb, np) = (exchanges(in.frame),
            exchanges(routeEdges.select(col("src"), col("dst"))
              .localCheckpoint()))
          assert(nb == np - 1,
            s"persisted round has $nb exchanges vs plain $np — layout lost")
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      } finally in.run(())
      assert(spark.sharedState.cacheManager.isEmpty)
      // in memory: checkpointed, narrowed to the round width
      val mem = Iteration.stage(table.repartition(4, col("src")), "src",
        _.localCheckpoint())
      assert(!mem.atRest && mem.parts == 1 &&
        mem.frame.rdd.getNumPartitions == 1 &&
        mem.tinyBound == Iteration.TinyStateBound)
      // and the loops agree whatever layout they are handed
      val want = Routing.bfsHops(routeEdges, "n1", 20)
        .as[(String, Int)].collect().toMap
      for ((what, df) <- inMemory.take(3))
        assert(Routing.bfsHops(df, "n1", 20).as[(String, Int)].collect()
          .toMap == want, what)
    } finally spark.sql("DROP TABLE IF EXISTS graft_route_rule_spec")
  }

  test("earliestArrival: hand-computed itineraries on a 3-stop timetable") {
    // T1: A(dep 0) -> B(10) -> C(20); T2: B(dep 15) -> C(17);
    // T3: A(dep 5) -> C(30).
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L),
      ("T3", 0, "A", 5L, 5L), ("T3", 1, "C", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    // leave A at 0: B via T1 = 10; C = min(T1 ride-through 20,
    // transfer B->T2 = 17, direct T3 = 30) = 17 — the transfer wins
    val a0 = Routing.earliestArrival(st, "A", 0L)
      .as[(String, Long)].collect().toMap
    assert(a0 == Map("A" -> 0L, "B" -> 10L, "C" -> 17L))
    // leave A at 1: T1's 0-departure is MISSED (dep >= arr_t is strict
    // time-respect), so only T3 runs: C = 30, B unreachable
    val a1 = Routing.earliestArrival(st, "A", 1L)
      .as[(String, Long)].collect().toMap
    assert(a1 == Map("A" -> 1L, "C" -> 30L))
    // leave B at 16: T2 missed; nothing departs B later — B only
    val b16 = Routing.earliestArrival(st, "B", 16L)
      .as[(String, Long)].collect().toMap
    assert(b16 == Map("B" -> 16L))
  }

  test("earliestArrival with transfers: hand-computed footpath cases") {
    // T1: A(dep 0) -> B(10); T2: X(dep 14) -> D(25); T3: X(dep 11) -> E(30)
    // footpaths: B->X mtt 3, X->Y mtt 4 (NOT closed: B->Y only via chain)
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L),
      ("T2", 0, "X", 14L, 14L), ("T2", 1, "D", 25L, 25L),
      ("T3", 0, "X", 11L, 11L), ("T3", 1, "E", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val xf = Seq(("B", "X", 3L), ("X", "Y", 4L))
      .toDF("from_stop", "to_stop", "min_transfer_time")
    // leave A at 0: B=10 (T1); X=13 by foot; T3's 11 dep is MISSED
    // (13 > 11), T2's 14 boards -> D=25; Y=17 by CHAINED foot (B->X->Y);
    // E unreachable (only T3 serves it)
    val got = Routing.earliestArrival(st, "A", 0L, transfers = Some(xf))
      .as[(String, Long)].collect().toMap
    assert(got == Map("A" -> 0L, "B" -> 10L, "X" -> 13L, "D" -> 25L,
      "Y" -> 17L))
    // zero-slack run for contrast: nothing beyond T1 is reachable
    val zs = Routing.earliestArrival(st, "A", 0L)
      .as[(String, Long)].collect().toMap
    assert(zs == Map("A" -> 0L, "B" -> 10L))
    // a footpath can also PRE-position before the first boarding:
    // leave B at 8 -> X=11 on foot boards T3 exactly (dep >= arr_t) -> E=30
    val fromB = Routing.earliestArrival(st, "B", 8L, transfers = Some(xf))
      .as[(String, Long)].collect().toMap
    assert(fromB == Map("B" -> 8L, "X" -> 11L, "E" -> 30L, "D" -> 25L,
      "Y" -> 15L))
  }

  test("earliestArrival with an EMPTY transfer frame equals the " +
    "zero-slack model (all three faces)") {
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val empty = Seq.empty[(String, String, Long)]
      .toDF("from_stop", "to_stop", "min_transfer_time")
    val want = Routing.earliestArrival(st, "A", 0L)
      .as[(String, Long)].collect().toMap
    val got = Routing.earliestArrival(st, "A", 0L, transfers = Some(empty))
      .as[(String, Long)].collect().toMap
    assert(got == want && want.nonEmpty)
    val wantP = Routing.arrivalProfile(st, "A", 0L)
      .as[(String, Int, Long)].collect().toSet
    val gotP = Routing.arrivalProfile(st, "A", 0L, transfers = Some(empty))
      .as[(String, Int, Long)].collect().toSet
    assert(gotP == wantP && wantP.nonEmpty)
  }

  test("earliestArrival at rest threads transfers identically to the " +
    "in-memory loop") {
    val st = (0 until 40).flatMap { t =>
      (0 to 3).map(j => (s"T$t", j, s"s${(t * 3 + j * 5) % 11}",
        (t * 7 + j * 13).toLong, (t * 7 + j * 13).toLong))
    }.toDF("trip", "seq", "stop", "arr", "dep")
    val xf = (0 until 11).map(i => (s"s$i", s"s${(i * 4 + 1) % 11}",
      (i % 3 + 1) * 2L)).toDF("from_stop", "to_stop", "min_transfer_time")
    Routing.stageStopTimesTables(st, "graft_st_stop_xspec",
      "graft_st_trip_xspec", buckets = 4)
    try {
      val want = Routing.earliestArrival(st, "s0", 0L, maxRounds = 25,
          transfers = Some(xf))
        .as[(String, Long)].collect().toMap
      val got = Routing.earliestArrival(spark.table("graft_st_stop_xspec"),
          "s0", 0L, maxRounds = 25, transfers = Some(xf),
          byTrip = Some(spark.table("graft_st_trip_xspec")))
        .as[(String, Long)].collect().toMap
      assert(got == want && got.size > 1, s"got=$got want=$want")
      // and transfers changed something vs the zero-slack run
      val zs = Routing.earliestArrival(st, "s0", 0L, maxRounds = 25)
        .as[(String, Long)].collect().toMap
      assert(got != zs, "footpath rules had no effect on this fixture")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_st_stop_xspec")
      spark.sql("DROP TABLE IF EXISTS graft_st_trip_xspec")
    }
  }

  test("paretoJourneys: hand-computed cheapest-vs-fastest front") {
    // T1: A(0)->B(10)->C(20) fare 100; T2: B(15)->C(17) fare 50;
    // T3: A(5)->C(30) fare 30
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L),
      ("T3", 0, "A", 5L, 5L), ("T3", 1, "C", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val tf = Seq(("T1", 100L), ("T2", 50L), ("T3", 30L))
      .toDF("trip", "fare")
    val got = Routing.paretoJourneys(st, tf, "A", 0L)
      .as[(String, Long, Long)].collect().toSet
    // C's front: 17 for 150 (T1->T2), 20 for 100 (ride T1 through),
    // 30 for 30 (direct T3) — three genuinely incomparable journeys
    assert(got == Set(("A", 0L, 0L), ("B", 10L, 100L),
      ("C", 17L, 150L), ("C", 20L, 100L), ("C", 30L, 30L)))
  }

  test("paretoJourneys with transfers: a free footpath opens a cheaper " +
    "front entry; empty transfers equals the no-transfers loop") {
    // T1: A(0)->B(10) fare 100; T2: D(20)->C(25) fare 10; footpath
    // B->D at +5 (free). Without it C is unreachable; with it C's
    // front gains (25, 110) via ride+walk+ride. A direct expensive
    // T3: A(0)->C(18) fare 500 stays as the faster-but-dearer label.
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L),
      ("T2", 0, "D", 20L, 20L), ("T2", 1, "C", 25L, 25L),
      ("T3", 0, "A", 0L, 0L), ("T3", 1, "C", 18L, 18L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val tf = Seq(("T1", 100L), ("T2", 10L), ("T3", 500L))
      .toDF("trip", "fare")
    val xf = Seq(("B", "D", 5L))
      .toDF("from_stop", "to_stop", "min_transfer_time")
    val got = Routing.paretoJourneys(st, tf, "A", 0L,
        transfers = Some(xf))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("A", 0L, 0L), ("B", 10L, 100L), ("D", 15L, 100L),
      ("C", 18L, 500L), ("C", 25L, 110L)))
    // empty transfer frame == the no-transfers loop, label for label
    val empty = Seq.empty[(String, String, Long)]
      .toDF("from_stop", "to_stop", "min_transfer_time")
    val base = Routing.paretoJourneys(st, tf, "A", 0L)
      .as[(String, Long, Long)].collect().toSet
    val withEmpty = Routing.paretoJourneys(st, tf, "A", 0L,
        transfers = Some(empty))
      .as[(String, Long, Long)].collect().toSet
    assert(withEmpty == base)
  }

  test("paretoJourneys with all-zero fares collapses to earliestArrival") {
    val st = (0 until 40).flatMap { t =>
      (0 to 3).map(j => (s"T$t", j, s"s${(t * 3 + j * 5) % 11}",
        (t * 7 + j * 13).toLong, (t * 7 + j * 13).toLong))
    }.toDF("trip", "seq", "stop", "arr", "dep")
    val tf = (0 until 40).map(t => (s"T$t", 0L)).toDF("trip", "fare")
    val got = Routing.paretoJourneys(st, tf, "s0", 0L, maxRounds = 25)
      .select(col("stop"), col("arr_t"))
      .as[(String, Long)].collect().toMap
    val want = Routing.earliestArrival(st, "s0", 0L, maxRounds = 25)
      .as[(String, Long)].collect().toMap
    assert(got == want && got.size > 1)
  }

  test("paretoJourneys fronts are per-stop nondominated and " +
    "partition-invariant") {
    val st = (0 until 40).flatMap { t =>
      (0 to 3).map(j => (s"T$t", j, s"s${(t * 3 + j * 5) % 11}",
        (t * 7 + j * 13).toLong, (t * 7 + j * 13).toLong))
    }.toDF("trip", "seq", "stop", "arr", "dep")
    val tf = (0 until 40).map(t => (s"T$t", ((t % 5) + 1) * 10L))
      .toDF("trip", "fare")
    val got = Routing.paretoJourneys(st, tf, "s0", 0L, maxRounds = 25)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // nondominated: within a stop, no pair with arr<= AND fare<= (one <)
    got.groupBy(_._1).values.foreach { ls =>
      for (a <- ls; b <- ls if a != b)
        assert(!(a._2 <= b._2 && a._3 <= b._3),
          s"$b dominated by $a")
    }
    // some stop must hold a REAL trade-off or the fixture proves nothing
    assert(got.groupBy(_._1).values.exists(_.size > 1))
    val again = Routing.paretoJourneys(st.repartition(7), tf, "s0", 0L,
        maxRounds = 25)
      .as[(String, Long, Long)].collect().toSeq
    assert(again.toSet == got.toSet)
  }

  test("paretoJourneys over the dual bucketed layout equals the " +
    "in-memory loop") {
    val st = (0 until 40).flatMap { t =>
      (0 to 3).map(j => (s"T$t", j, s"s${(t * 3 + j * 5) % 11}",
        (t * 7 + j * 13).toLong, (t * 7 + j * 13).toLong))
    }.toDF("trip", "seq", "stop", "arr", "dep")
    val tf = (0 until 40).map(t => (s"T$t", ((t % 5) + 1) * 10L))
      .toDF("trip", "fare")
    Routing.stageStopTimesTables(st, "graft_st_stop_pspec",
      "graft_st_trip_pspec", buckets = 4)
    try {
      val want = Routing.paretoJourneys(st, tf, "s0", 0L, maxRounds = 25)
        .as[(String, Long, Long)].collect().toSet
      val got = Routing.paretoJourneys(spark.table("graft_st_stop_pspec"),
          tf, "s0", 0L, maxRounds = 25,
          byTrip = Some(spark.table("graft_st_trip_pspec")))
        .as[(String, Long, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_st_stop_pspec")
      spark.sql("DROP TABLE IF EXISTS graft_st_trip_pspec")
    }
  }

  test("earliestArrival over the dual bucketed layout equals the " +
    "in-memory loop; neither fact-table side shuffles in a round") {
    // a denser timetable so both bucketed copies carry >1 row per bucket:
    // 40 trips over 11 stops, increasing times along each trip
    val st = (0 until 40).flatMap { t =>
      (0 to 3).map(j => (s"T$t", j, s"s${(t * 3 + j * 5) % 11}",
        (t * 7 + j * 13).toLong, (t * 7 + j * 13).toLong))
    }.toDF("trip", "seq", "stop", "arr", "dep")
    Routing.stageStopTimesTables(st, "graft_st_stop_spec",
      "graft_st_trip_spec", buckets = 4)
    val want = Routing.earliestArrival(st, "s0", 0L, maxRounds = 20)
      .as[(String, Long)].collect().toMap
    val byStop = spark.table("graft_st_stop_spec")
    val byTrip = spark.table("graft_st_trip_spec")
    val got = Routing.earliestArrival(byStop, "s0", 0L, maxRounds = 20,
        byTrip = Some(byTrip))
      .as[(String, Long)].collect().toMap
    assert(got == want && got.size > 1, s"got=$got want=$want")
    // a given copy must be bucketed on trip for the loop to read at
    // rest: handed the wrong copy or a plain frame it stages in memory;
    // with no copy the stop-bucketed board side alone is read at rest.
    // The labels never change.
    val cases = Seq(
      "the stop copy as byTrip" -> (Some(byStop), false),
      "a plain byTrip" -> (Some(st), false),
      "no byTrip" -> (None, true))
    for ((what, (copy, atRest)) <- cases) {
      val in = graft.operators.Iteration.stage(byStop, "stop",
        _.localCheckpoint(), copy = copy.map(_ -> "trip"))
      in.run(())
      assert(in.atRest == atRest, what)
      assert(Routing.earliestArrival(byStop, "s0", 0L, maxRounds = 20,
          byTrip = copy).as[(String, Long)].collect().toMap == want, what)
    }

    // Plan property (why the dual layout exists): with broadcast off, a
    // RAPTOR round over the two bucketed copies needs TWO fewer hash
    // exchanges than the same round over plain materialized frames —
    // the stop bucketing substitutes for the board join's fact-side
    // shuffle and the trip bucketing for the ride join's (the bfsHops
    // at-rest pin, applied to the two-key round).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bStop = spark.table("graft_st_stop_spec")
        .select(col("trip"), col("seq"), col("stop"), col("arr"), col("dep"))
      val bTrip = spark.table("graft_st_trip_spec")
        .select(col("trip"), col("seq"), col("stop"), col("arr"))
      val state = Seq(("s0", 0L)).toDF("stop", "arr_t")
        .withColumn("__new", lit(true)).localCheckpoint()
      // rounds plan AT the bucket width in the real loop (the r08
      // lesson) — a mismatched width makes the planner re-exchange the
      // aggregate side anyway and disable the bucketed scan as useless
      def exchanges(board: org.apache.spark.sql.DataFrame,
                    ride: org.apache.spark.sql.DataFrame): Int =
        graft.operators.Iteration.withShufflePartitions(spark, 4) {
          Routing.raptorRoundOn(board, ride, state, state.filter(col("__new")))
            .queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
            .linesIterator.count(_.contains("Exchange hashpartitioning"))
        }
      val nb = exchanges(bStop, bTrip)
      val np = exchanges(bStop.localCheckpoint(), bTrip.localCheckpoint())
      assert(nb == np - 2,
        s"bucketed round has $nb exchanges vs plain $np — layouts unused")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_st_stop_spec")
      spark.sql("DROP TABLE IF EXISTS graft_st_trip_spec")
    }
  }

  test("journeyLegs: hand-pinned itinerary on the 3-stop timetable") {
    // T1: A(0)->B(10)->C(20); T2: B(15)->C(17); T3: A(5)->C(30).
    // Leaving A at 0 the planner's answer to "route me A→C" is the
    // 2-leg transfer itinerary: ride T1 A→B, ride T2 B→C at 17.
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L),
      ("T3", 0, "A", 5L, 5L), ("T3", 1, "C", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val legs = Routing.journeyLegs(st, "A", 0L, "C")
      .as[(Int, String, String, String, String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(legs == Seq(
      (1, "ride", "A", "B", "T1", 0L, 10L),
      (2, "ride", "B", "C", "T2", 15L, 17L)))
    // unreachable / self destinations are empty, not errors
    assert(Routing.journeyLegs(st, "A", 1L, "B").isEmpty) // T1 missed
    assert(Routing.journeyLegs(st, "A", 0L, "A").isEmpty)
  }

  test("journeyLegs threads footpaths: ride + walk + chained walk legs") {
    // the r22 footpath fixture: A --T1--> B --foot--> X --T2--> D,
    // and Y is reached by CHAINED footpaths B->X->Y
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L),
      ("T2", 0, "X", 14L, 14L), ("T2", 1, "D", 25L, 25L),
      ("T3", 0, "X", 11L, 11L), ("T3", 1, "E", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val xf = Seq(("B", "X", 3L), ("X", "Y", 4L))
      .toDF("from_stop", "to_stop", "min_transfer_time")
    val toD = Routing.journeyLegs(st, "A", 0L, "D", transfers = Some(xf))
      .select("leg_seq", "kind", "from_stop", "to_stop", "dep_t", "arr_t")
      .as[(Int, String, String, String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(toD == Seq(
      (1, "ride", "A", "B", 0L, 10L),
      (2, "foot", "B", "X", 10L, 13L),
      (3, "ride", "X", "D", 14L, 25L)))
    val toY = Routing.journeyLegs(st, "A", 0L, "Y", transfers = Some(xf))
      .select("kind", "from_stop", "to_stop", "arr_t")
      .as[(String, String, String, Long)].collect()
      .sortBy(_._4).toSeq
    assert(toY == Seq(("ride", "A", "B", 10L), ("foot", "B", "X", 13L),
      ("foot", "X", "Y", 17L)))
    // zero/negative mtt violates the reconstruction precondition loudly
    val badXf = Seq(("B", "X", 0L))
      .toDF("from_stop", "to_stop", "min_transfer_time")
    assertThrows[IllegalArgumentException] {
      Routing.journeyLegs(st, "A", 0L, "X", transfers = Some(badXf))
    }
  }

  test("journeyForestLegs: every destination's chain is contiguous, " +
    "starts at the source, ends at dest, and matches journeyLegs") {
    val st = (0 until 40).flatMap { t =>
      (0 to 3).map(j => (s"T$t", j, s"s${(t * 3 + j * 5) % 11}",
        (t * 7 + j * 13).toLong, (t * 7 + j * 13).toLong))
    }.toDF("trip", "seq", "stop", "arr", "dep")
    val xf = (0 until 11).map(i => (s"s$i", s"s${(i * 4 + 1) % 11}",
      (i % 3 + 1) * 2L)).toDF("from_stop", "to_stop", "min_transfer_time")
    val forest = Routing.journeyForestLegs(st, "s0", 0L, maxRounds = 25,
        transfers = Some(xf))
      .as[(String, Int, String, String, String, Option[String], Long, Long)]
      .collect().toSeq
    val labels = Routing.earliestArrival(st, "s0", 0L, maxRounds = 25,
        transfers = Some(xf))
      .as[(String, Long)].collect().toMap
    assert(forest.nonEmpty)
    // one itinerary per non-source reachable stop
    assert(forest.map(_._1).toSet == labels.keySet - "s0")
    forest.groupBy(_._1).foreach { case (dest, legs0) =>
      val legs = legs0.sortBy(_._2)
      assert(legs.map(_._2) == (1 to legs.size), s"dense seq for $dest")
      assert(legs.head._4 == "s0", s"$dest itinerary starts at source")
      assert(legs.last._5 == dest, s"$dest itinerary ends at dest")
      // contiguous: each leg departs where the previous arrived,
      // no earlier than its arrival time
      legs.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._5 == b._4 && b._7 >= a._8, s"chain broken at $dest")
        case _ =>
      }
      // final arrival equals the label — the itinerary realizes it
      assert(legs.last._8 == labels(dest), s"$dest arrival mismatch")
    }
    // the single-destination face agrees leg for leg (sampled: each
    // journeyLegs call re-runs the full label loop)
    val dests = forest.map(_._1).distinct.sorted
    Seq(dests.head, dests(dests.size / 2), dests.last).distinct.foreach { d =>
      val single = Routing.journeyLegs(st, "s0", 0L, d, maxRounds = 25,
          transfers = Some(xf))
        .as[(Int, String, String, String, Option[String], Long, Long)]
        .collect().sortBy(_._1).toSeq
      val slice = forest.filter(_._1 == d).sortBy(_._2)
        .map(l => (l._2, l._3, l._4, l._5, l._6, l._7, l._8))
      assert(single == slice, s"journeyLegs != forest slice for $d")
    }
  }

  test("arrivalProfile: Pareto front on the transfer-vs-direct timetable") {
    // same fixture as above: C is reachable at 30 with ONE boarding
    // (T3) but at 17 with two (T1→T2) — both are Pareto-optimal; the
    // T1 ride-through (20, 1 boarding) beats T3 so 30 never surfaces…
    // no: round 1 C label = min(20 direct-ride T1, 30 T3) = 20, round
    // 2 improves to 17 via the B transfer
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L),
      ("T3", 0, "A", 5L, 5L), ("T3", 1, "C", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val prof = Routing.arrivalProfile(st, "A", 0L)
      .as[(String, Int, Long)].collect().toSet
    assert(prof == Set(("A", 0, 0L), ("B", 1, 10L),
      ("C", 1, 20L), ("C", 2, 17L)))
    // the final (max-round) label per stop must equal earliestArrival
    val last = prof.groupBy(_._1).view
      .mapValues(v => v.minBy(_._3)._3).toMap
    val ea = Routing.earliestArrival(st, "A", 0L)
      .as[(String, Long)].collect().toMap
    assert(last == ea)
    // arrivals strictly decrease along each stop's front
    prof.groupBy(_._1).values.foreach { pts =>
      val byRound = pts.toSeq.sortBy(_._2).map(_._3)
      assert(byRound == byRound.distinct.sorted.reverse)
    }
  }

  test("earliestArrival equals Dijkstra on a zero-wait time expansion") {
    // one 2-stop trip per (edge, integer departure 0..40) with travel =
    // 2x the edge weight (integerized): departures are dense enough that
    // waiting is free along every shortest path, so the earliest arrival
    // leaving A at 0 must equal 2x the Dijkstra distance — the
    // single-leg-parity pin tying the time-dependent loop to sssp
    val edges = fixtureEdges.collect().map(r =>
      (r.getString(0), r.getString(1), (r.getDouble(3) * 2).toLong))
    val st = edges.zipWithIndex.flatMap { case ((s, d, w), i) =>
      (0L to 40L).flatMap(t => Seq(
        (s"e$i-$t", 0, s, t, t), (s"e$i-$t", 1, d, t + w, t + w)))
    }.toSeq.toDF("trip", "seq", "stop", "arr", "dep")
    val got = Routing.earliestArrival(st, "A", 0L)
      .as[(String, Long)].collect().toMap
    val want = Routing.sssp(fixtureEdges, "A")
      .select("node", "dist_m").as[(String, Double)].collect()
      .map { case (n, d) => n -> (d * 2).toLong }.toMap
    assert(got == want, s"got $got want $want")
  }

  test("journey reconstruction with broadcastLabels=false changes the " +
    "plan, not the legs") {
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val labels = Routing.earliestArrival(st, "A", 0L)
    def legs(bl: Boolean) =
      Routing.journeyLegsFromLabels(st, labels, "A", "C",
          broadcastLabels = bl)
        .as[(Int, String, String, String, String, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val want = legs(true)
    assert(legs(false) == want && want.size == 2)
  }

  test("paretoJourneyForest: hand-pinned itineraries realizing every " +
    "front label (ride-only fixture)") {
    // the paretoJourneys fixture: C's front holds three incomparable
    // journeys — each must come back as a complete leg chain
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L), ("T1", 2, "C", 20L, 20L),
      ("T2", 0, "B", 15L, 15L), ("T2", 1, "C", 17L, 17L),
      ("T3", 0, "A", 5L, 5L), ("T3", 1, "C", 30L, 30L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val tf = Seq(("T1", 100L), ("T2", 50L), ("T3", 30L))
      .toDF("trip", "fare")
    val front = Routing.paretoJourneys(st, tf, "A", 0L)
    val got = Routing.paretoJourneyForest(st, tf, front, "A", 0L)
      .select("dest_stop", "dest_arr", "dest_fare", "leg_seq", "kind",
        "from_stop", "to_stop", "trip", "dep_t", "arr_t", "fare")
      .as[(String, Long, Long, Int, String, String, String,
        Option[String], Long, Long, Long)]
      .collect().groupBy(r => (r._1, r._2, r._3)).view
      .mapValues(_.sortBy(_._4).map(r =>
        (r._5, r._6, r._7, r._8, r._9, r._10, r._11)).toSeq).toMap
    assert(got(("C", 17L, 150L)) == Seq(
      ("ride", "A", "B", Some("T1"), 0L, 10L, 100L),
      ("ride", "B", "C", Some("T2"), 15L, 17L, 150L)))
    assert(got(("C", 20L, 100L)) == Seq(
      ("ride", "A", "C", Some("T1"), 0L, 20L, 100L)))
    assert(got(("C", 30L, 30L)) == Seq(
      ("ride", "A", "C", Some("T3"), 5L, 30L, 30L)))
    assert(got(("B", 10L, 100L)) == Seq(
      ("ride", "A", "B", Some("T1"), 0L, 10L, 100L)))
    // one itinerary per non-source front label, nothing else
    assert(got.keySet == Set(("C", 17L, 150L), ("C", 20L, 100L),
      ("C", 30L, 30L), ("B", 10L, 100L)))
  }

  test("paretoJourneyForest threads FREE footpath legs (ride+walk+ride)") {
    val st = Seq(
      ("T1", 0, "A", 0L, 0L), ("T1", 1, "B", 10L, 10L),
      ("T2", 0, "D", 20L, 20L), ("T2", 1, "C", 25L, 25L),
      ("T3", 0, "A", 0L, 0L), ("T3", 1, "C", 18L, 18L)
    ).toDF("trip", "seq", "stop", "arr", "dep")
    val tf = Seq(("T1", 100L), ("T2", 10L), ("T3", 500L))
      .toDF("trip", "fare")
    val xf = Seq(("B", "D", 5L))
      .toDF("from_stop", "to_stop", "min_transfer_time")
    val front = Routing.paretoJourneys(st, tf, "A", 0L,
      transfers = Some(xf))
    val got = Routing.paretoJourneyForest(st, tf, front, "A", 0L,
        transfers = Some(xf))
      .select("dest_stop", "dest_arr", "dest_fare", "leg_seq", "kind",
        "from_stop", "to_stop", "dep_t", "arr_t", "fare")
      .as[(String, Long, Long, Int, String, String, String, Long, Long,
        Long)]
      .collect().groupBy(r => (r._1, r._2, r._3)).view
      .mapValues(_.sortBy(_._4).map(r =>
        (r._5, r._6, r._7, r._8, r._9, r._10)).toSeq).toMap
    // the composed cheap itinerary: ride T1, walk B->D free, ride T2
    assert(got(("C", 25L, 110L)) == Seq(
      ("ride", "A", "B", 0L, 10L, 100L),
      ("foot", "B", "D", 10L, 15L, 100L),
      ("ride", "D", "C", 20L, 25L, 110L)))
    // the fast-but-dear one stays a single leg
    assert(got(("C", 18L, 500L)) == Seq(("ride", "A", "C", 0L, 18L, 500L)))
  }

  test("frontierFixpoint tiny-state fast path: identical labels at " +
    "bound 0 (distributed), a mid-loop crossing, and all-tiny") {
    // a 97-node BFS whose state grows past small bounds mid-loop, so
    // bound=10 exercises the tiny->distributed crossover round
    val e = (1 to 300).map(i => (i % 97, (i * 13 + 5) % 97))
      .toDF("src", "dst").localCheckpoint()
    val init = Seq((0, 0)).toDF("node", "hops")
      .withColumn("__new", lit(true))
    def run(bound: Int): Set[(Int, Int)] =
      graft.operators.Iteration.frontierFixpoint(init,
          (dist, frontier) => Routing.bfsRound(e, dist, frontier),
          50, true, "spec", _.localCheckpoint(), tinyBound = bound)
        .as[(Int, Int)].collect().toSet
    val distributed = run(0)
    val crossing = run(10)
    val allTiny = run(1 << 20)
    assert(distributed.nonEmpty && distributed.size > 10)
    assert(crossing == distributed, "crossover changed the fixpoint")
    assert(allTiny == distributed, "tiny mode changed the fixpoint")
  }

  test("edges builds consecutive-stop pairs with haversine weights") {
    val stops = Seq(
      ("r1", 1, "s1", 107.60, -6.90), ("r1", 2, "s2", 107.61, -6.90),
      ("r1", 3, "s3", 107.62, -6.90), ("r9", 1, "x1", 0.0, 0.0)
    ).toDF("route_id", "position", "stop_id", "lon", "lat")
    val e = Routing.edges(stops).orderBy("src").collect()
    assert(e.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("s1", "s2"), ("s2", "s3")))
    val w = e.head.getDouble(3)
    assert(math.abs(w - 1105) < 10, s"~1.1 km per 0.01° lon at -6.9°, got $w")
  }

  test("nearestNode picks the closest stop, id tiebreak") {
    val stops = Seq(("s1", 107.60, -6.90), ("s2", 107.65, -6.90),
      ("s0", 107.65, -6.90)).toDF("stop_id", "lon", "lat")
    val r = Routing.nearestNode(stops, 107.651, -6.9).collect()(0)
    assert(r.getString(0) == "s0") // tie between s0/s2 → smallest id
  }
}
