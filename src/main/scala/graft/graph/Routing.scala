package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.geo
import graft.operators.Iteration

/** Pillar P4 — the in-repo routing query surface (index.html:95-253):
  * graph construction from per-route ordered stops (G1/W9), nearest-node
  * search (G2), single-source shortest paths (G3) and path reconstruction
  * (G4).
  *
  * SSSP is an iterative DataFrame relaxation (distances are non-negative,
  * so Bellman-Ford-style rounds converge to Dijkstra's result). Each round
  * is one shuffle join on the frontier; per-round materialization truncates
  * lineage so plans stay bounded (`localCheckpoint` by default; pass
  * `checkpointDir` for reliable checkpoints on a cluster — see
  * [[graft.operators.Iteration.materializer]]). At cluster scale the
  * frontier join partitions by node id — the standard Pregel layout — and
  * rounds are bounded by the graph diameter.
  *
  * Each loop has ONE entry point, and its input frame picks the layout
  * ([[graft.operators.Iteration.stage]]): a frame over a table bucketed
  * on the round's join key ([[stageEdgesTable]],
  * [[stageStopTimesTables]]) is read at rest and never shuffles in a
  * round; any other frame is staged in memory.
  */
object Routing {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** G1/W9: consecutive-stop edges per route with haversine-m weights
    * (index.html:127-140). Input: (route_id, position, stop_id, lon, lat).
    * Output: directed edges (src, dst, route_id, weight_m).
    */
  def edges(routeStops: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("route_id")).orderBy(col("position"))
    routeStops
      .withColumn("dst", lead(col("stop_id"), 1).over(w))
      .withColumn("dst_lon", lead(col("lon"), 1).over(w))
      .withColumn("dst_lat", lead(col("lat"), 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("stop_id").as("src"), col("dst"), col("route_id"),
        geo.haversineM(col("lon"), col("lat"), col("dst_lon"), col("dst_lat"))
          .as("weight_m"))
  }

  /** G2: nearest node to a coordinate — min_by over the stop set
    * (index.html:144-149). Ties break on smallest id for determinism.
    */
  def nearestNode(stops: DataFrame, lon: Double, lat: Double): DataFrame =
    stops
      .withColumn("d", geo.haversineM(col("lon"), col("lat"), lit(lon), lit(lat)))
      .orderBy(col("d"), col("stop_id"))
      .limit(1)

  /** G3: single-source shortest paths by iterative relaxation. Returns
    * (node, dist_m, prev, prev_route) for every reachable node. `maxIter`
    * bounds rounds (graph diameter suffices); convergence is detected via
    * an improvement count so it exits early.
    *
    * `edges` chooses the layout the loop runs on
    * ([[graft.operators.Iteration.stage]]): a frame over a src-bucketed
    * edge table ([[stageEdgesTable]]) is read at rest, so the O(E) side
    * of every round's expansion join never shuffles, no matter how large
    * V grows — a checkpoint cannot promise that (AQE checkpoints drop
    * outputPartitioning; PlanSpec pins it) and `broadcastFrontier` buys
    * the same elision only under a V-fits-in-memory contract. Any other
    * frame is staged in memory, pre-partitioned on src (see [[bfsHops]]
    * for the rationale, the measured r03/r04 numbers and when to pass
    * `prePartitionEdges = false`).
    */
  def sssp(edges: DataFrame, sourceId: Any, maxIter: Int = 50,
           warnOnTruncation: Boolean = true,
           checkpointDir: Option[String] = None,
           prePartitionEdges: Boolean = true,
           broadcastFrontier: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    // default localCheckpoint, not cache: reused every round, freed with
    // the result by the ContextCleaner instead of pinning a CacheManager
    // entry; checkpointDir switches every round to reliable checkpoints
    // (executor loss mid-iteration survives — the cluster deployment mode)
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val in = Iteration.stage(edges.select(col("src"), col("dst"),
        col("route_id"), col("weight_m").cast("double")), "src", ckpt,
      repartition = prePartitionEdges, sized = prePartitionEdges)
    // Delta/frontier iteration: each round relaxes only edges out of nodes
    // improved in the previous round, not the whole settled set — at scale
    // the frontier is a vanishing fraction of V once the wave passes, and
    // the per-round shuffle is O(frontier·out-degree), the Pregel shape.
    // An empty frontier IS convergence (no separate fingerprint job).
    //
    // ONE materialization per round: a single full-outer merge of the
    // settled set with this round's best candidates replaces the previous
    // left-join-filter + anti-join + union (which cost an extra shuffle
    // AND an extra checkpoint job per round — a 25-35% wall-clock tax on
    // overhead-bound loops, measured on r02/r03/r04). The next frontier
    // is a filter over the checkpoint (free).
    //
    // Two round-floor experiments were MEASURED at sf0.1 (paired 7-pass-
    // min samples) and rejected; benchmarks before re-trying either:
    // (a) folding the isEmpty probe into the checkpoint job via
    //     Dataset.observe — wall-clock neutral (r02 −0.15 s, d06/r04
    //     +0.1 s, all inside host noise), and Observation.get blocks
    //     FOREVER if the listener-bus event is dropped (Spark drops
    //     events on queue overflow on busy drivers) — an unbounded-hang
    //     risk in a long cluster job that a tiny synchronous take(1)
    //     probe over localCheckpoint blocks never has;
    // (b) two frontier hops per round (expand, aggregate, expand again,
    //     one merge+checkpoint) — helps only overhead-bound toy graphs
    //     (r01 0.99→0.64 s) and consistently HURTS fact-scale graphs
    //     (r03 3.3→3.75 s, r04 3.9→4.85 s): the second expansion re-joins
    //     every candidate (settled nodes included), ~doubling per-round
    //     shuffle volume, which outweighs the saved merge+checkpoint
    //     whenever the frontier join carries real data — and shuffle
    //     volume, not round count, dominates at 100 TB.
    // node ids are whatever type the caller's edge frame uses (string
    // route graphs, long-encoded trade graphs — integer keys shuffle and
    // hash measurably cheaper at fact scale); `prev` must match it, so
    // its typed null is derived from the source literal itself
    val nullNode = when(lit(false), lit(sourceId))
    val init = spark.range(1)
      .select(lit(sourceId).as("node"), lit(0.0).as("dist_m"),
        nullNode.as("prev"),
        lit(null).cast("string").as("prev_route"),
        lit(true).as("__new"))
    in.run {
      Iteration.frontierFixpoint(init,
        (dist, frontier) =>
          ssspRound(in.frame, dist, frontier, broadcastFrontier),
        maxIter, warnOnTruncation, "sssp", ckpt, in.tinyBound)
    }
  }

  /** One un-materialized SSSP round: best candidate per node (smallest
    * dist, deterministic tiebreak) full-outer-merged into the settled
    * set. Package-visible so plan properties (exchange counts over a
    * bucketed vs plain edge frame) can be asserted on exactly the frame
    * the loop materializes — the RankingSpec.rankRound pattern.
    */
  private[graft] def ssspRound(e: DataFrame, dist: DataFrame,
                               frontier: DataFrame,
                               broadcastFrontier: Boolean = false): DataFrame = {
    val fSide = if (broadcastFrontier) broadcast(frontier) else frontier
    val cand = fSide.join(e, frontier("node") === e("src"))
      .select(e("dst").as("node"), (col("dist_m") + col("weight_m")).as("cand_m"),
        frontier("node").as("cand_prev"), e("route_id").as("cand_route"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("node"))
          .orderBy(col("cand_m"), col("cand_prev"), col("cand_route"))))
      .filter(col("rn") === 1).drop("rn")
    // full-outer merge: keep the settled row unless the candidate
    // strictly improves it; unmatched candidates are new discoveries
    val improved = col("cand_m").isNotNull &&
      (col("dist_m").isNull || col("cand_m") < col("dist_m"))
    dist.drop("__new")
      .join(cand, Seq("node"), "full")
      .select(col("node"),
        when(improved, col("cand_m")).otherwise(col("dist_m")).as("dist_m"),
        when(improved, col("cand_prev")).otherwise(col("prev")).as("prev"),
        when(improved, col("cand_route")).otherwise(col("prev_route")).as("prev_route"),
        improved.as("__new"))
  }

  /** Stage an edge frame as a src-BUCKETED (and src-sorted) managed
    * table — the at-rest layout [[bfsHops]] and [[sssp]] read without a
    * per-round edge shuffle when handed `spark.table(table)` (the
    * Ranking.pageRankOnTable doctrine). Columns are written as given:
    * (src, dst) suffices for BFS; SSSP also needs route_id and weight_m.
    */
  def stageEdgesTable(edges: DataFrame, table: String, buckets: Int): Unit =
    graft.sources.Warehouse.writeBucketed(edges, table, "src", buckets)

  /** G4 path rows, fully distributed: backtrack the predecessor chain from
    * the target with an iterative broadcast join against the settled
    * distance set — one round per hop, each round joining a single-row
    * frontier (broadcast) against `dist`, so the driver never holds more
    * than the path itself. Returns only the path's rows
    * (node, dist_m, prev, prev_route); empty if the target is unreachable.
    */
  def shortestPathFrame(edges: DataFrame, sourceId: String, targetId: String,
                        maxIter: Int = 50,
                        checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = Iteration.materializer(edges.sparkSession, checkpointDir)
    val dist = sssp(edges, sourceId, maxIter,
      checkpointDir = checkpointDir) // already materialized per round
    var path = ckpt(dist.filter(col("node") === targetId))
    var frontier = path
    // ≤ path-length rounds: each step hops to the frontier row's `prev`.
    // The frontier is one row, so Spark broadcasts it and each round is a
    // single pass over the materialized dist set — no O(V) driver collect.
    var hops = 0
    while (hops <= maxIter && !frontier.filter(col("prev").isNotNull).isEmpty) {
      val next = broadcast(frontier.filter(col("prev").isNotNull)
        .select(col("prev").as("pnode")).distinct())
      frontier = ckpt(dist.join(next, dist("node") === col("pnode"))
        .drop("pnode"))
      path = path.unionByName(frontier)
      hops += 1
    }
    path
  }

  /** G4: the ordered path, like the reference's result rendering
    * (index.html:180-193). Collects ONLY the O(path-length) rows of
    * [[shortestPathFrame]] and unwinds them driver-side.
    */
  def shortestPath(edges: DataFrame, sourceId: String, targetId: String,
                   maxIter: Int = 50): Seq[(String, Option[String], Double)] = {
    val byNode = shortestPathFrame(edges, sourceId, targetId, maxIter)
      .select("node", "dist_m", "prev", "prev_route").collect()
      .map(r => r.getString(0) ->
        (Option(r.getString(2)), Option(r.getString(3)), r.getDouble(1))).toMap
    if (!byNode.contains(targetId)) return Seq.empty
    val path = scala.collection.mutable.ArrayBuffer.empty[(String, Option[String], Double)]
    var cur: Option[String] = Some(targetId)
    while (cur.isDefined) {
      val (prev, route, d) = byNode(cur.get)
      path.prepend((cur.get, route, d))
      cur = prev
    }
    path.toSeq
  }

  /** Unweighted BFS hop counts from a source — the oracle-checkable variant
    * (DuckDB mirrors it with a recursive CTE). Same loop structure as sssp.
    */
  /** `broadcastFrontier` (here and on [[sssp]]): opt-in per-round
    * broadcast of the frontier side of the expansion join — same
    * mechanism and contract as `Ranking.pageRank(broadcastRanks)`: the
    * frontier is a filter over a checkpoint (unknown stats, no static
    * broadcast) and AQE's runtime conversion still pays the edge side's
    * planned shuffle WRITE each round; the hint skips it. The caller
    * asserts the PEAK frontier (≤ V) fits executor memory — true when V
    * is bounded by dimension-table cardinality, never for unbounded
    * graphs (use the default or a bucketed edge table there). Paired
    * 5-pass bench mins at sf0.1: r03 3.40→3.15 s, r04 3.72→3.52 s —
    * smaller than PageRank's broadcastRanks gain because the frontier
    * empties as the wave passes and late rounds were already cheap.
    * MEASURED AND REJECTED for one-partition toy graphs (like
    * `prePartitionEdges`): r01 1.06→1.31 s, r02 1.15→1.45 s, r05
    * 1.18→1.27 s paired — the broadcast build's extra job costs more
    * than every trivial single-partition join it replaces.
    */
  def bfsHops(edges: DataFrame, sourceId: Any, maxIter: Int,
              warnOnTruncation: Boolean = true,
              checkpointDir: Option[String] = None,
              prePartitionEdges: Boolean = true,
              broadcastFrontier: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    // In memory, the edge frame is pre-partitioned on the per-round join
    // key before materializing. Measured at sf0.1 (paired 7-pass mins,
    // same host): r03 3.60→3.05 s, r04 3.85→3.53 s. The mechanism is
    // PHYSICAL LAYOUT/BALANCE, not exchange elision: under AQE, Dataset
    // checkpoints drop outputPartitioning (PlanSpec pins this), so each
    // round's join still plans its own exchanges — but the hash-grouped,
    // evenly spread blocks keep every round's shuffle map stage balanced.
    // True per-round exchange elision at cluster scale comes from a
    // src-bucketed edge table ([[stageEdgesTable]]) handed in as `edges`:
    // the bucketed SMJ pins the O(E) side and only the frontier shuffles
    // (r15). `prePartitionEdges = false` is for graphs that fit in one
    // partition (r01/r02's 25-node synthetic: the layout's per-round task
    // fan-out costs more than every frontier join combined — r02
    // 0.95→1.33 s); it also skips the count job, which would derive one
    // round partition for a frame that already plans tiny.
    val in = Iteration.stage(edges.select(col("src"), col("dst")), "src",
      ckpt, repartition = prePartitionEdges, sized = prePartitionEdges)
    // Frontier BFS: in an unweighted graph a node's first discovery is its
    // final hop count, so each round only expands last round's discoveries.
    // Empty frontier = convergence. Per-round shuffle is
    // O(frontier·out-degree). The settled set absorbs candidates through a
    // single full-outer merge (coalesce prefers the settled hop count, so
    // no anti-join is needed) and is checkpointed once per round — the
    // frontier is a filter over that checkpoint, not a second
    // materialization (see sssp).
    val init = spark.range(1)
      .select(lit(sourceId).as("node"), lit(0).as("hops"),
        lit(true).as("__new"))
    in.run {
      Iteration.frontierFixpoint(init,
        (dist, frontier) =>
          bfsRound(in.frame, dist, frontier, broadcastFrontier),
        maxIter, warnOnTruncation, "bfsHops", ckpt, in.tinyBound)
    }
  }

  /** One un-materialized BFS round — package-visible for plan pins (see
    * [[ssspRound]]).
    */
  private[graft] def bfsRound(e: DataFrame, dist: DataFrame,
                              frontier: DataFrame,
                              broadcastFrontier: Boolean = false): DataFrame = {
    val fSide = if (broadcastFrontier) broadcast(frontier) else frontier
    val next = fSide.join(e, frontier("node") === e("src"))
      .select(e("dst").as("node"), (col("hops") + 1).as("cand_hops"))
      .groupBy("node").agg(min("cand_hops").as("cand_hops"))
    dist.drop("__new")
      .join(next, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("hops"), col("cand_hops")).as("hops"),
        col("hops").isNull.as("__new"))
  }

  /** G6 — in-engine journey planning: RAPTOR-shape EARLIEST ARRIVAL over
    * a stop_times table (Delling et al. 2012, "Round-Based Public Transit
    * Routing" — the algorithm OTP-class planners run; the reference
    * delegates this query to an external OTP server fed by our GTFS
    * output, this is the engine-native counterpart). Input rows:
    * (trip, seq, stop, arr, dep) with times as comparable longs
    * (seconds; [[graft.functions.timecodec.timeToSec]] parses GTFS
    * strings, >24 h safe) and arr/dep non-decreasing along each trip's
    * seq. Returns (stop, arr_t): the minimal arrival time at every
    * reachable stop for a traveler leaving `sourceStop` at `depTime`,
    * transferring freely at shared stops (zero same-stop slack), plus —
    * when `transfers` is given — across its footpath rules.
    *
    * Round shape = the frontier-iteration machinery of [[bfsHops]]
    * applied to time-dependent edges: a round BOARDS every trip at its
    * earliest position whose departure is not before the arrival time of
    * an improved stop (one stop-keyed join + one trip-keyed min — the
    * RAPTOR "marked stops" optimization falls out of the frontier), RIDES
    * to every later position (one trip-keyed join), and min-merges the
    * candidate arrivals into the settled set (the full-outer merge of
    * every loop in this file). Rounds ≈ transfers used; an empty frontier
    * is the fixpoint — the unconstrained earliest-arrival labels.
    *
    * `transfers` (from_stop, to_stop, min_transfer_time) models GTFS
    * transfers.txt type-2 footpath rules (the reference feed ships 33
    * of them, honored by its OTP deployment — gtfs/transfers.txt:1): each
    * round also relaxes frontier stops across footpaths at
    * +min_transfer_time, and chains close across rounds, so a
    * non-transitively-closed transfer set is handled correctly (see
    * [[raptorRoundOn]]). With `transfers = None` (or an empty frame) the
    * labels are identical to the zero-slack same-stop model (RoutingSpec
    * pins the equality).
    *
    * Scale shape: stop_times is the fact table; each round shuffles on
    * stop then trip — both real keys, no driver state. In memory, the
    * O(stop_times) side re-joins per round exactly like BFS's edge frame;
    * when rounds dominate, stage the timetable at rest
    * ([[stageStopTimesTables]]) and pass the stop-bucketed copy as
    * `stopTimes` and the trip-bucketed one as `byTrip`: each round's
    * board join then reads the first and its ride join the second
    * straight from the metastore, so NEITHER O(stop_times) side ever
    * shuffles — only the frontier, the boarded-trip minima and the
    * candidate arrivals (all round-output-sized) move. The in-memory
    * loop re-exchanges the full timetable TWICE per round; at a 100 TB
    * feed with ~60 rounds that is ~120 fact-table shuffles the at-rest
    * layout deletes. The layout is read from the two frames
    * ([[graft.operators.Iteration.stage]]): a `stopTimes` that is not
    * stop-bucketed, or a `byTrip` that is not trip-bucketed, stages
    * `stopTimes` in memory. Identical labels either way (RoutingSpec
    * pins equality and the per-round exchange count).
    */
  def earliestArrival(stopTimes: DataFrame, sourceStop: Any, depTime: Long,
                      maxRounds: Int = 15, warnOnTruncation: Boolean = true,
                      checkpointDir: Option[String] = None,
                      transfers: Option[DataFrame] = None,
                      broadcastTransfers: Boolean = true,
                      byTrip: Option[DataFrame] = None): DataFrame = {
    val spark = stopTimes.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val in = stageTimetable(stopTimes, byTrip, ckpt)
    val stRide = in.copy.fold(in.frame)(in.keep)
    // materialized once: re-planned per round, and a broadcast side is
    // rebuilt from it each round — keep that a cached-block read
    val xfer = stageTransfers(ckpt, transfers)
    in.run {
      Iteration.frontierFixpoint(raptorInit(spark, sourceStop, depTime),
        (state, frontier) => raptorRoundOn(in.frame, stRide, state,
          frontier, xfer, broadcastTransfers),
        maxRounds, warnOnTruncation, "earliestArrival", ckpt, in.tinyBound)
    }
  }

  /** Stage a timetable for a RAPTOR-family loop: the board side
    * (trip, seq, stop, arr, dep) keyed on stop, plus the ride side
    * (trip, seq, stop, arr) of a trip-bucketed copy when one is given —
    * read at rest when the first is stop-bucketed and the copy, if any,
    * trip-bucketed.
    */
  private def stageTimetable(stopTimes: DataFrame, byTrip: Option[DataFrame],
                             ckpt: DataFrame => DataFrame)
      : Iteration.LoopInput =
    Iteration.stage(stopTimes.select(col("trip"), col("seq").cast("int"),
        col("stop"), col("arr").cast("long"), col("dep").cast("long")),
      "stop", ckpt, copy = byTrip.map(t => t.select(col("trip"),
        col("seq").cast("int"), col("stop"), col("arr").cast("long")) ->
        "trip"))

  /** Stage a transfers frame for a loop (one materialization, normalized
    * columns) — shared by every RAPTOR-family entry point.
    */
  private def stageTransfers(ckpt: DataFrame => DataFrame,
                             transfers: Option[DataFrame])
      : Option[DataFrame] =
    transfers.map(x => ckpt(x.select(col("from_stop"), col("to_stop"),
      col("min_transfer_time").cast("long").as("mtt"))))

  /** The footpath relaxation JOIN both round families share: frontier
    * labels against the (optionally broadcast) transfer rules — the
    * caller selects its own candidate shape from the joined columns
    * (`to_stop`, `mtt`, plus every frontier column). Accepts either the
    * staged shape [[stageTransfers]] produces (from_stop, to_stop, mtt)
    * or the raw GTFS shape (…, min_transfer_time), normalizing the time
    * column itself — so the package-private rounds stay callable with
    * an unstaged frame.
    */
  private def footJoin(frontier: DataFrame, x0: DataFrame,
                       broadcastTransfers: Boolean): DataFrame = {
    val mttCol =
      if (x0.columns.contains("mtt")) col("mtt")
      else col("min_transfer_time").cast("long").as("mtt")
    val xSel = x0.select(col("from_stop"), col("to_stop"), mttCol)
    val x = if (broadcastTransfers) broadcast(xSel) else xSel
    frontier.join(x, frontier("stop") === x("from_stop"))
  }

  private def raptorInit(spark: SparkSession, sourceStop: Any,
                         depTime: Long): DataFrame =
    spark.range(1).select(lit(sourceStop).as("stop"),
      lit(depTime).as("arr_t"), lit(true).as("__new"))

  /** Stage a timetable as TWO bucketed at-rest layouts — stop-bucketed
    * (the board join's key) and trip-bucketed (the ride join's key) —
    * that [[earliestArrival]] and [[paretoJourneys]] read at rest when
    * handed `spark.table(stopTable)` and `byTrip =
    * Some(spark.table(tripTable))`. RAPTOR's serial data structures
    * are exactly this dual layout (Delling et al. 2012 §4: a
    * routes-ordered array for riding and a stops-ordered array for
    * boarding); the distributed counterpart is one fact table stored
    * twice, each copy bucketed on the key one of the two per-round
    * joins probes it with. 2× storage is the price, paid ONCE, for a
    * loop in which the O(stop_times) side never shuffles again — the
    * [[stageEdgesTable]] doctrine, which needs both layouts here
    * because the round touches the fact table under two different keys.
    */
  def stageStopTimesTables(stopTimes: DataFrame, stopTable: String,
                           tripTable: String, buckets: Int): Unit = {
    val st = stopTimes.select(col("trip"), col("seq").cast("int"),
      col("stop"), col("arr").cast("long"), col("dep").cast("long"))
    graft.sources.Warehouse.writeBucketed(st, stopTable, "stop", buckets)
    graft.sources.Warehouse.writeBucketed(
      st.select(col("trip"), col("seq"), col("stop"), col("arr")),
      tripTable, "trip", buckets)
  }

  /** The full RAPTOR output [[earliestArrival]] collapses: the PARETO
    * PROFILE of (trips used, arrival time) per stop — row (stop, k, t)
    * means "reachable by time t using exactly k boardings, and no
    * schedule does better with k or fewer". This is the
    * arrival/transfers trade-off a journey planner actually serves
    * ("12:40 with 2 transfers, or 13:05 with 1"); RAPTOR computes it
    * for free because round k's labels ARE the ≤-k-trips optima
    * (Delling et al. 2012 §3 — the round index is the transfer bound),
    * so the profile is just each round's strict improvements, kept
    * instead of overwritten.
    *
    * Same loop mechanics and scale shape as [[earliestArrival]] (the
    * state/frontier frames are identical); the profile accumulates as
    * per-round filters over the already-checkpointed states — no extra
    * corpus work, one ≤ maxRounds-way union at the end. Rounds are
    * boardings: the source departs with 0 boardings; k-th-round
    * improvements used k trips (k-1 transfers).
    */
  def arrivalProfile(stopTimes: DataFrame, sourceStop: Any, depTime: Long,
                     maxRounds: Int = 15, warnOnTruncation: Boolean = true,
                     checkpointDir: Option[String] = None,
                     transfers: Option[DataFrame] = None,
                     broadcastTransfers: Boolean = true): DataFrame = {
    val spark = stopTimes.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val in = stageTimetable(stopTimes, None, ckpt)
    // With transfers, a round relaxes one boarding OR one footpath from
    // the frontier, so `rounds` counts legs (boardings + footpath hops),
    // an upper bound on boardings — still a monotone effort axis for the
    // Pareto front, and exactly boardings when transfers is None.
    val xfer = stageTransfers(ckpt, transfers)
    in.run {
      val slices = scala.collection.mutable.ListBuffer(
        spark.range(1).select(lit(sourceStop).as("stop"),
          lit(0).as("rounds"), lit(depTime).as("arr_t")))
      val init = spark.range(1).select(lit(sourceStop).as("stop"),
        lit(depTime).as("arr_t"), lit(true).as("__new"))
      // each slice is a narrow filter+project over that round's
      // materialized state (a LocalRelation in tiny mode, a checkpoint
      // otherwise) — recorded lazily, materialized once by the union
      Iteration.frontierFixpoint(init,
        (state, frontier) => raptorRound(in.frame, state, frontier, xfer,
          broadcastTransfers),
        maxRounds, warnOnTruncation, "arrivalProfile", ckpt, in.tinyBound,
        perRound = (k, frontier) => slices += frontier
          .select(col("stop"), lit(k).as("rounds"), col("arr_t")))
      slices.reduce(_ unionByName _)
    }
  }

  /** One un-materialized RAPTOR round — package-visible for plan pins
    * (see [[ssspRound]]).
    */
  private[graft] def raptorRound(st: DataFrame, state: DataFrame,
                                 frontier: DataFrame,
                                 transfers: Option[DataFrame] = None,
                                 broadcastTransfers: Boolean = true)
      : DataFrame =
    raptorRoundOn(st, st, state, frontier, transfers, broadcastTransfers)

  /** One round over a (possibly dual-layout) timetable: `stBoard` is
    * probed on stop, `stRide` on trip — the in-memory loop passes the
    * same frame twice; a loop read at rest passes the two bucketed
    * copies so neither probe re-exchanges the fact table.
    *
    * `transfers` — either pre-staged via [[stageTransfers]]
    * (from_stop, to_stop, mtt) or the raw GTFS transfers.txt type-2
    * shape (from_stop, to_stop, min_transfer_time), e.g. the reference
    * feed's own gtfs/transfers.txt rules that OTP honors
    * ([[footJoin]] normalizes the time column) — adds a FOOTPATH
    * relaxation: every frontier stop also reaches its transfer
    * neighbors at arr_t + min_transfer_time, min-merged with the ride
    * candidates. Footpaths relax from the whole frontier (not just
    * ride arrivals), so chains close ACROSS rounds — the set need not
    * be transitively closed, the precondition serial RAPTOR imposes on
    * its footpath array (Delling et al. 2012 §5; GTFS feeds routinely
    * violate it). `broadcastTransfers` defaults on — a transfer table
    * is O(stops × nearby stops), dimension-sized next to stop_times;
    * pass false at fact scale to let it shuffle as an equi-join.
    */
  private[graft] def raptorRoundOn(stBoard: DataFrame, stRide: DataFrame,
                                   state: DataFrame,
                                   frontier: DataFrame,
                                   transfers: Option[DataFrame] = None,
                                   broadcastTransfers: Boolean = true)
      : DataFrame = {
    // board: per trip, the earliest position reachable in time from an
    // improved stop (min over feasible seq — boarding earlier dominates:
    // every later alighting stays available)
    val board = frontier.join(stBoard, frontier("stop") === stBoard("stop"))
      .filter(stBoard("dep") >= frontier("arr_t"))
      .groupBy(stBoard("trip").as("trip"))
      .agg(min(stBoard("seq")).as("bseq"))
    // ride: alight at any strictly later position; min arrival per stop
    val ride = stRide.select(col("trip"), col("seq").as("aseq"),
      col("stop"), col("arr"))
    val rideCand = board.join(ride, Seq("trip"))
      .filter(col("aseq") > col("bseq"))
      .select(col("stop"), col("arr").as("cand_t"))
    val allCand = transfers match {
      case Some(x0) =>
        val foot = footJoin(frontier, x0, broadcastTransfers)
          .select(col("to_stop").as("stop"),
            (frontier("arr_t") + col("mtt")).as("cand_t"))
        rideCand.unionByName(foot)
      case None => rideCand
    }
    val cand = allCand.groupBy(col("stop")).agg(min(col("cand_t")).as("cand_t"))
    val improved = col("cand_t").isNotNull &&
      (col("arr_t").isNull || col("cand_t") < col("arr_t"))
    state.drop("__new")
      .join(cand, Seq("stop"), "full")
      .select(col("stop"),
        when(improved, col("cand_t")).otherwise(col("arr_t")).as("arr_t"),
        improved.as("__new"))
  }

  /** G6 extended to BI-CRITERIA journey planning — the McRAPTOR class
    * (Delling et al. 2012 §5: RAPTOR with label SETS per stop): the
    * Pareto front of (arrival time, accumulated fare) at every
    * reachable stop for a traveler leaving `sourceStop` at `depTime`,
    * where boarding trip t costs `tripFares`' fare for t (flat
    * per-boarding fare — the route-based tariff class the reference's
    * fare_rules encode; [[graft.gtfs.Fares]] covers allowance/expiry
    * costing on a FIXED itinerary, this finds the itineraries). A row
    * (stop, arr_t, fare) means "reachable by arr_t for fare, and no
    * journey is both no-later and no-dearer (one strictly better)" —
    * the cheapest-vs-fastest trade-off a fare-aware planner serves.
    *
    * Mechanics: the frontier loop of [[earliestArrival]] with label
    * SETS — a round boards every trip feasible from a new label (the
    * trip side now carries the label's accumulated fare), rides to
    * every later position, adds the boarding fare, and PARETO-PRUNES
    * per stop (sort by (arr, fare); keep a label iff its fare beats
    * the running min of everything earlier — the canonical
    * nondominated set, so the fixpoint is path-independent and
    * hash-matchable). New labels = this round's surviving additions;
    * empty frontier = the full Pareto fixpoint.
    *
    * Scale shape: per-round joins shuffle on stop then trip exactly
    * like [[earliestArrival]]; state is O(stops × fare levels) — the
    * per-stop front is bounded by the tariff's distinct accumulated
    * fares, which a flat per-boarding tariff bounds by fare levels ×
    * useful boardings. The prune is a per-stop window (sort + running
    * min), no self-join. The at-rest layout of [[earliestArrival]]
    * applies unchanged: with the stop-bucketed copy as `stopTimes` and
    * the trip-bucketed one as `byTrip`, neither O(stop_times) side
    * shuffles per round and only label-set-sized frames move.
    */
  def paretoJourneys(stopTimes: DataFrame, tripFares: DataFrame,
                     sourceStop: Any, depTime: Long,
                     maxRounds: Int = 15, warnOnTruncation: Boolean = true,
                     checkpointDir: Option[String] = None,
                     transfers: Option[DataFrame] = None,
                     broadcastTransfers: Boolean = true,
                     byTrip: Option[DataFrame] = None): DataFrame = {
    val spark = stopTimes.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val in = stageTimetable(stopTimes, byTrip, ckpt)
    // fares join the ride side ONCE, before the loop — a per-round
    // tripFares join would re-exchange the O(trips) tariff every round.
    // At rest the join keeps the trip-bucketed copy's partitioning and
    // the persist preserves it, so the per-round ride join stays
    // exchange-free on the fact side.
    val rideF = in.keep(in.copy.getOrElse(in.frame).join(
      tripFares.select(col("trip"), col("fare").cast("long")), Seq("trip")))
    val xfer = stageTransfers(ckpt, transfers)
    in.run {
      Iteration.frontierFixpoint(paretoInit(spark, sourceStop, depTime),
        (state, frontier) => paretoRoundOn(in.frame, rideF, state, frontier,
          xfer, broadcastTransfers),
        maxRounds, warnOnTruncation, "paretoJourneys", ckpt,
        tinyBound = 0) // label-set rounds: tiny mode measured slower in
                       // memory (r31) and at rest (r27/r32)
    }
  }

  private def paretoInit(spark: SparkSession, sourceStop: Any,
                         depTime: Long): DataFrame =
    spark.range(1).select(lit(sourceStop).as("stop"),
      lit(depTime).as("arr_t"), lit(0L).as("fare"), lit(true).as("__new"))

  /** One un-materialized bi-criteria round — package-visible for plan
    * pins (see [[ssspRound]]). `stRideFare` is the ride-side timetable
    * WITH its per-trip boarding fare column pre-joined.
    */
  private[graft] def paretoRound(st: DataFrame, tripFares: DataFrame,
                                 state: DataFrame,
                                 frontier: DataFrame): DataFrame =
    paretoRoundOn(st,
      st.join(tripFares.select(col("trip"), col("fare").cast("long")),
        Seq("trip")),
      state, frontier)

  /** One bi-criteria round over a (possibly dual-layout) timetable —
    * `stBoard` probed on stop, `stRideFare` on trip (see
    * [[raptorRoundOn]]).
    *
    * `transfers` adds the FOOTPATH relaxation to the label-set loop —
    * the McRAPTOR counterpart of [[raptorRoundOn]]'s: every frontier
    * label (stop, arr_t, fare) also reaches its transfer neighbors at
    * (arr_t + min_transfer_time, SAME fare — walking is free under the
    * per-boarding tariff), min-merged with the ride candidates before
    * the canonical Pareto prune. Footpaths relax from the frontier, so
    * chains close across rounds (non-transitively-closed rule sets are
    * handled, the raptorRoundOn contract); a footpath cycle's re-entry
    * label is dominated by its own origin and prunes away, so the
    * fixpoint terminates.
    */
  private[graft] def paretoRoundOn(stBoard: DataFrame,
                                   stRideFare: DataFrame,
                                   state: DataFrame,
                                   frontier: DataFrame,
                                   transfers: Option[DataFrame] = None,
                                   broadcastTransfers: Boolean = true)
      : DataFrame = {
    // board: per (trip, incoming fare), the earliest feasible position —
    // labels with different accumulated fares board independently (a
    // dearer label may still yield the cheaper journey after this
    // boarding), then the trip-level Pareto (bseq vs fare) prunes:
    // boarding later AND dearer is dominated
    val board0 = frontier.join(stBoard, frontier("stop") === stBoard("stop"))
      .filter(stBoard("dep") >= frontier("arr_t"))
      .groupBy(stBoard("trip").as("__btrip"), frontier("fare").as("__bfare"))
      .agg(min(stBoard("seq")).as("bseq"))
    val wb = Window.partitionBy(col("__btrip"))
      .orderBy(col("bseq"), col("__bfare"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val board = board0
      .withColumn("__pm", min(col("__bfare")).over(wb))
      .filter(col("__pm").isNull || col("__bfare") < col("__pm"))
      .drop("__pm")
    // ride: alight strictly later; pay the boarding fare once (the
    // fare column rides the pre-joined timetable — no tariff shuffle
    // inside the round)
    val ride = stRideFare.select(col("trip").as("__btrip"),
      col("seq").as("aseq"), col("stop"), col("arr"), col("fare"))
    val rideCand = board
      .join(ride, Seq("__btrip"))
      .filter(col("aseq") > col("bseq"))
      .select(col("stop"), col("arr").as("arr_t"),
        (col("__bfare") + col("fare")).as("fare"))
    val cand = transfers match {
      case Some(x0) =>
        val foot = footJoin(frontier, x0, broadcastTransfers)
          .select(col("to_stop").as("stop"),
            (frontier("arr_t") + col("mtt")).as("arr_t"),
            frontier("fare").as("fare"))
        rideCand.unionByName(foot)
      case None => rideCand
    }
    // merge + canonical per-stop Pareto prune in ONE exchange: sort
    // (arr, fare, __new) and keep a label iff its fare strictly beats
    // the running min of every earlier row. Exact duplicates need no
    // separate pre-aggregation (the round-16 fusion — this used to be
    // a groupBy(stop, arr_t, fare) dedup THEN the window, i.e. one
    // hash-exchange on the triple plus a second on stop per round;
    // measured duplicate collapse was ~4% of the candidate volume, so
    // the extra stage bought nothing): copies of one label sort
    // adjacently, the first copy in (arr_t, fare, __new) order carries
    // __new = false whenever ANY copy is settled (false < true — the
    // min(__new) semantics, so a candidate that merely re-derives a
    // settled label is NOT new and the loop still terminates at the
    // fixpoint), and every later copy sees its twin's fare in the
    // running min (fare < fare fails) and dies. The survivor set is
    // exactly the unique nondominated front — same rows, same flags,
    // hash-stable across round paths (RoutingSpec pins equality).
    val all = state.select(col("stop"), col("arr_t"), col("fare"),
        lit(false).as("__new")) // whatever survived a round is settled
      .unionByName(cand.withColumn("__new", lit(true)))
    val wp = Window.partitionBy(col("stop"))
      .orderBy(col("arr_t"), col("fare"), col("__new"))
      .rowsBetween(Window.unboundedPreceding, -1)
    all.withColumn("__pm", min(col("fare")).over(wp))
      .filter(col("__pm").isNull || col("fare") < col("__pm"))
      .drop("__pm")
  }

  /** G6 → ITINERARIES (the OTP product shape): the RAPTOR faces return
    * LABELS (stop, arr_t); a planner serves LEGS ("board trip T at A,
    * alight at B, walk to C"). Parents are reconstructed AFTER the
    * fixpoint by ONE batch pass over the final labels instead of
    * threading pointer columns through every round (which would widen
    * every per-round shuffle for data only the backtrack reads).
    *
    * Soundness — final labels certify their own predecessors: every
    * labeled stop s ≠ source has at least one TIGHT in-event under the
    * FINAL labels, i.e. either a ride (board stop b, trip, board seq <
    * alight seq) with dep ≥ arr[b] and alight arr == arr[s], or a
    * footpath rule (f → s, mtt) with arr[f] + mtt == arr[s]. Proof
    * sketch: the candidate that set arr[s] boarded from b when b's
    * then-label L ≥ arr[b] (labels only improve), so dep ≥ L ≥ arr[b]
    * keeps the same event feasible at the fixpoint; for footpaths the
    * fixpoint gives arr[s] ≤ arr[f] + mtt for every rule, and the
    * setting rule meets it with equality. Choosing the CANONICAL
    * minimal tight event per stop (order: ride before foot, then
    * from_stop, trip-as-string, dep_t) therefore yields a parent
    * forest that is a pure function of the fixpoint — path-independent
    * and hash-matchable by a DuckDB oracle that replays the same rule
    * on the same labels, never seeing the engine's round structure.
    *
    * Termination — PRECONDITIONS (both stated, both held by every
    * feed here): times strictly increase along each trip's seq (so a
    * tight ride strictly increases arr_t: alight arr > board dep ≥
    * arr[from]) and min_transfer_time > 0 (enforced; zero-mtt rules
    * would permit equal-label parent cycles). Under them every parent
    * chain strictly decreases arr_t and ends at the source. A stop
    * whose only tight events violate strictness (dwell-degenerate
    * timetables) simply gets no parent row — the backtrack returns the
    * well-formed suffix instead of looping.
    *
    * Scale shape: labels are O(stops) — dimension-sized next to the
    * timetable — and ride the two stop_times probes as BROADCAST
    * joins by default; `broadcastLabels = false` is the off-switch for
    * a network whose stop set outgrows executor memory (the label
    * probes then shuffle as equi-joins — same contract language as
    * `broadcastTransfers`, no unbounded hint baked in). The only
    * fact-scale work is one join of the feasible-board rows against
    * the (much smaller) tight-alight rows on trip, and one per-stop
    * argmin. No loop: the whole forest is a handful of one-shot joins
    * at any corpus size.
    */
  private[graft] def parentEvents(stopTimes: DataFrame, labels: DataFrame,
                                  sourceStop: Any,
                                  transfers: Option[DataFrame] = None,
                                  broadcastTransfers: Boolean = true,
                                  broadcastLabels: Boolean = true)
      : DataFrame = {
    val st = stopTimes.select(col("trip"), col("seq").cast("int"),
      col("stop"), col("arr").cast("long"), col("dep").cast("long"))
    val tripType = st.schema("trip").dataType
    val labSel = labels.select(col("stop"), col("arr_t"))
    val lab = if (broadcastLabels) broadcast(labSel) else labSel
    // tight alights: this stop's final label is exactly this arrival
    val la = lab.select(col("stop").as("__as"), col("arr_t").as("__aarr"))
    val tight = st.join(la, st("stop") === col("__as") &&
        st("arr") === col("__aarr"))
      .select(st("trip").as("trip"), st("seq").as("aseq"),
        st("stop").as("stop"), st("arr").as("arr_t"))
    // feasible boards: departures not before the board stop's final label
    val lb = lab.select(col("stop").as("__bs"), col("arr_t").as("__barr"))
    val boards = st.join(lb, st("stop") === col("__bs") &&
        st("dep") >= col("__barr"))
      .select(st("trip").as("trip"), st("seq").as("bseq"),
        st("stop").as("from_stop"), st("dep").as("dep_t"),
        col("__barr").as("from_arr"))
    val rideEv = tight.join(boards, Seq("trip"))
      .filter(col("bseq") < col("aseq") && col("from_arr") < col("arr_t"))
      .select(col("stop"), lit("ride").as("kind"), col("from_stop"),
        col("trip"), col("dep_t"), col("arr_t"))
    val ev = transfers match {
      case Some(x0) =>
        val mttCol =
          if (x0.columns.contains("mtt")) col("mtt")
          else col("min_transfer_time").cast("long").as("mtt")
        val x = x0.select(col("from_stop"), col("to_stop"), mttCol)
        // dimension-sized frame, one tiny agg: fail loudly instead of
        // risking an equal-label parent cycle (see termination above).
        // isNull is checked explicitly: NULL <= 0 is NULL, so a rule
        // with a missing min_transfer_time would otherwise slip past
        // the guard and then silently vanish from the foot join
        // (arr + NULL filters out) — the precondition must fail loudly.
        val bad = x.filter(col("mtt").isNull || col("mtt") <= 0)
          .limit(1).collect()
        require(bad.isEmpty,
          "journey reconstruction requires min_transfer_time > 0 " +
            s"(found rule ${bad.headOption.getOrElse("")})")
        val xb = if (broadcastTransfers) broadcast(x) else x
        val lf = lab.select(col("stop").as("__fs"), col("arr_t").as("__farr"))
        val lt = lab.select(col("stop").as("__ts"), col("arr_t").as("__tarr"))
        val foot = xb.join(lf, col("from_stop") === col("__fs"))
          .join(lt, col("to_stop") === col("__ts"))
          .filter(col("__farr") + col("mtt") === col("__tarr"))
          .select(col("to_stop").as("stop"), lit("foot").as("kind"),
            col("from_stop"), lit(null).cast(tripType).as("trip"),
            col("__farr").as("dep_t"), col("__tarr").as("arr_t"))
        rideEv.unionByName(foot)
      case None => rideEv
    }
    // canonical minimal tight event per stop; trip compares AS STRING so
    // the rule is one deterministic total order in both engines (nulls
    // never mix with non-nulls inside a kind: foot trips are all null)
    ev.filter(col("stop") =!= lit(sourceStop))
      .groupBy(col("stop"))
      .agg(min_by(
        struct(col("kind"), col("from_stop"), col("trip"), col("dep_t"),
          col("arr_t")),
        struct(when(col("kind") === "ride", 0).otherwise(1).as("k"),
          col("from_stop").as("f"), col("trip").cast("string").as("t"),
          col("dep_t").as("d"))).as("__p"))
      .select(col("stop"), col("__p.kind").as("kind"),
        col("__p.from_stop").as("from_stop"), col("__p.trip").as("trip"),
        col("__p.dep_t").as("dep_t"), col("__p.arr_t").as("arr_t"))
  }

  /** r33 — the LEGS of the canonical earliest-arrival journey
    * `sourceStop` → `destStop` leaving at `depTime`: rows (leg_seq,
    * kind [ride|foot], from_stop, to_stop, trip [null for foot],
    * dep_t, arr_t), leg_seq 1..n in travel order. Empty when dest is
    * unreachable or equals the source. Runs [[earliestArrival]], then
    * [[parentEvents]], then a distributed backtrack: each hop joins a
    * BROADCAST one-row frontier against the O(stops) parent forest —
    * the [[shortestPathFrame]] shape, O(path) rounds, the driver never
    * holds more than the legs themselves.
    *
    * CAVEAT (the [[parentEvents]] strictness precondition, surfaced):
    * reconstruction assumes times strictly increase along each trip's
    * seq. On a dwell-degenerate feed (equal arrivals at consecutive
    * stops — common in interpolated GTFS) an affected stop gets no
    * parent row, so the returned chain is a well-formed SUFFIX of the
    * journey; the backtrack validates that the chain's first leg
    * departs from `sourceStop` and warns otherwise (under
    * `warnOnTruncation`), so a partial itinerary is never silent.
    */
  def journeyLegs(stopTimes: DataFrame, sourceStop: Any, depTime: Long,
                  destStop: Any, maxRounds: Int = 15,
                  warnOnTruncation: Boolean = true,
                  checkpointDir: Option[String] = None,
                  transfers: Option[DataFrame] = None,
                  broadcastTransfers: Boolean = true): DataFrame =
    journeyLegsFromLabels(stopTimes,
      earliestArrival(stopTimes, sourceStop, depTime, maxRounds,
        warnOnTruncation, checkpointDir, transfers, broadcastTransfers),
      sourceStop, destStop, checkpointDir, transfers, broadcastTransfers,
      maxRounds * 8 + 16, warnOnTruncation = warnOnTruncation)

  /** [[journeyLegs]] from caller-supplied labels — bring the fixpoint
    * from ANY source ([[earliestArrival]] in memory or at rest, a
    * persisted label table): the parent rule is a pure
    * function of (timetable, labels, rules), so the backtrack composes
    * with whichever loop computed them.
    */
  def journeyLegsFromLabels(stopTimes: DataFrame, labels: DataFrame,
                            sourceStop: Any, destStop: Any,
                            checkpointDir: Option[String] = None,
                            transfers: Option[DataFrame] = None,
                            broadcastTransfers: Boolean = true,
                            maxHops: Int = 136,
                            broadcastLabels: Boolean = true,
                            warnOnTruncation: Boolean = true): DataFrame = {
    val spark = stopTimes.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val parents = ckpt(parentEvents(stopTimes, labels, sourceStop,
      transfers, broadcastTransfers, broadcastLabels))
    var path = ckpt(parents.filter(col("stop") === lit(destStop)))
    var frontier = path
    // parent chains strictly decrease arr_t (see parentEvents), so the
    // label count bounds the hops; the source has no parent row, so the
    // join naturally empties there
    var hops = 0
    while (hops < maxHops && !frontier.isEmpty) {
      val next = broadcast(frontier.select(col("from_stop").as("__n"))
        .distinct())
      frontier = ckpt(parents.join(next, parents("stop") === col("__n"))
        .drop("__n"))
      path = path.unionByName(frontier)
      hops += 1
    }
    Iteration.warnIfTruncated("journeyLegs", frontier,
      hops, maxHops, warnOnTruncation)
    // completeness check: a complete chain's FIRST leg departs from the
    // source. A dwell-degenerate feed (see journeyLegs caveat) or a
    // maxHops truncation leaves a suffix whose earliest leg starts
    // mid-network — row_number below would still renumber from 1, so a
    // partial itinerary must warn, not pass as complete. path is
    // O(path length) by construction; the probe is one tiny filter.
    if (warnOnTruncation && !path.isEmpty &&
        path.filter(col("from_stop") === lit(sourceStop)).isEmpty)
      log.warn(
        "journeyLegs: reconstructed chain does not start at the source " +
          "stop — the itinerary is a partial suffix (dwell-degenerate " +
          "timetable or maxHops truncation); see the journeyLegs caveat")
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window over O(path-length) rows by construction
    path.select(
      row_number().over(Window.orderBy(col("arr_t"), col("stop")))
        .cast("int").as("leg_seq"),
      col("kind"), col("from_stop"), col("stop").as("to_stop"),
      col("trip"), col("dep_t"), col("arr_t"))
  }

  /** The full canonical JOURNEY FOREST: legs to EVERY reachable stop —
    * rows (dest, leg_seq, kind, from_stop, to_stop, trip, dep_t,
    * arr_t), one itinerary per destination, leg_seq 1..n in travel
    * order. This is the frame a fare-costing pass consumes to price
    * PLANNER output ([[graft.gtfs.Fares.itineraryFares]] — see r34)
    * and the all-destinations face of [[journeyLegs]].
    *
    * Mechanics: one [[parentEvents]] pass, then ancestor expansion —
    * round k extends every destination's chain one hop toward the
    * source, so rounds = max journey depth and the TOTAL row volume is
    * exactly the output (Σ path lengths). Per round one join of the
    * active chains against the parent forest on the current-ancestor
    * key; chains that reach the source drop out naturally (the source
    * has no parent row). At 100 TB the forest is O(stops) and the
    * chain frame O(stops · depth) — both dimension-scale next to the
    * timetable, shuffling on real keys.
    *
    * CAVEAT: like [[journeyLegs]], assumes strictly increasing times
    * along each trip's seq — on a dwell-degenerate feed an affected
    * stop gets no parent row and every itinerary through it is a
    * well-formed suffix, not a complete source→dest chain.
    */
  def journeyForestLegs(stopTimes: DataFrame, sourceStop: Any,
                        depTime: Long, maxRounds: Int = 15,
                        warnOnTruncation: Boolean = true,
                        checkpointDir: Option[String] = None,
                        transfers: Option[DataFrame] = None,
                        broadcastTransfers: Boolean = true): DataFrame =
    journeyForestFromLabels(stopTimes,
      earliestArrival(stopTimes, sourceStop, depTime, maxRounds,
        warnOnTruncation, checkpointDir, transfers, broadcastTransfers),
      sourceStop, warnOnTruncation, checkpointDir, transfers,
      broadcastTransfers, maxRounds * 8 + 16)

  /** [[journeyForestLegs]] from caller-supplied labels — see
    * [[journeyLegsFromLabels]] (compose with the bucketed at-rest loop
    * at fact scale: labels from [[earliestArrival]] at rest, the parent
    * pass probing the same timetable with labels broadcast).
    */
  def journeyForestFromLabels(stopTimes: DataFrame, labels: DataFrame,
                              sourceStop: Any,
                              warnOnTruncation: Boolean = true,
                              checkpointDir: Option[String] = None,
                              transfers: Option[DataFrame] = None,
                              broadcastTransfers: Boolean = true,
                              maxHops: Int = 136,
                              broadcastLabels: Boolean = true): DataFrame = {
    val spark = stopTimes.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val in = Iteration.stage(parentEvents(stopTimes, labels, sourceStop,
      transfers, broadcastTransfers, broadcastLabels), "stop", ckpt)
    val parents = in.frame
    val legCols = Seq(col("kind"), col("from_stop"),
      col("stop").as("to_stop"), col("trip"), col("dep_t"), col("arr_t"))
    // every destination's LAST leg is its own parent row
    var ext = ckpt(parents.select(
      (col("stop").as("dest") +: legCols) :+ col("from_stop").as("__cur"): _*))
    val slices = scala.collection.mutable.ListBuffer(ext.drop("__cur"))
    var hops = 0
    var frontier = ext.select(col("dest"), col("__cur"))
    // hops plan without AQE, as paretoJourneyForest's do
    in.run {
      while (hops < maxHops && !frontier.isEmpty) {
        ext = Iteration.withoutAdaptive(spark)(
          ckpt(frontier.join(parents,
              frontier("__cur") === parents("stop"))
            .select((col("dest") +: legCols)
              :+ col("from_stop").as("__cur"): _*)))
        slices += ext.drop("__cur")
        frontier = ext.select(col("dest"), col("__cur"))
        hops += 1
      }
    }
    Iteration.warnIfTruncated("journeyForestLegs", frontier,
      hops, maxHops, warnOnTruncation)
    import org.apache.spark.sql.expressions.Window
    slices.reduce(_ unionByName _)
      .withColumn("leg_seq", row_number().over(
        Window.partitionBy(col("dest"))
          .orderBy(col("arr_t"), col("to_stop"))).cast("int"))
      .select(col("dest"), col("leg_seq"), col("kind"), col("from_stop"),
        col("to_stop"), col("trip"), col("dep_t"), col("arr_t"))
  }

  /** [[parentEvents]] lifted to LABEL SETS — itinerary reconstruction
    * for the McRAPTOR loop ([[paretoJourneys]]): the canonical tight
    * predecessor of every front label (stop, arr_t, fare).
    *
    * Soundness (the domination argument, one step past the scalar
    * case): the candidate that created a surviving label L = (s, a, f)
    * rode trip t from some label P at stop b with fare f − fare(t); if
    * P was later dominated by P' = (b, a', f') with a' ≤ arr(P),
    * f' ≤ fare(P), then riding t from P' yields (s, a, f' + fare(t))
    * which L survives only if f' = fare(P) — so a front label at b
    * with EXACTLY fare f − fare(t) and arr ≤ dep exists at the
    * fixpoint; same argument gives a front label (x, a − mtt, f) for a
    * foot-created L. Within a front a stop's fare determines its
    * arrival uniquely (two labels with equal fare would dominate one
    * another), so (from_stop, from_fare) pins the parent LABEL, not
    * just the parent stop. Termination: tight rides strictly increase
    * arr (strictly-increasing trips) and footpaths need mtt > 0
    * (enforced) — chains strictly decrease arr_t down to the source
    * label (source, depTime, 0).
    *
    * Scale shape: the front is O(stops × fare levels) — broadcast; the
    * tariff is dimension-sized — broadcast; one join of feasible
    * boards against tight alights on trip plus a per-label argmin, no
    * loop. Returns one parent per non-source label: (stop, arr_t,
    * fare, kind, from_stop, from_arr, from_fare, trip, dep_t).
    */
  private[graft] def paretoParentEvents(stopTimes: DataFrame,
                                        tripFares: DataFrame,
                                        front: DataFrame,
                                        sourceStop: Any, depTime: Long,
                                        transfers: Option[DataFrame] = None,
                                        broadcastTransfers: Boolean = true,
                                        broadcastLabels: Boolean = true)
      : DataFrame = {
    val st = stopTimes.select(col("trip"), col("seq").cast("int"),
      col("stop"), col("arr").cast("long"), col("dep").cast("long"))
    val tripType = st.schema("trip").dataType
    val frSel = front.select(col("stop"), col("arr_t"),
      col("fare").cast("long").as("fare"))
    val fr = if (broadcastLabels) broadcast(frSel) else frSel
    val tf = broadcast(tripFares.select(col("trip").as("__ft"),
      col("fare").cast("long").as("__tfare")))
    val la = fr.select(col("stop").as("__as"), col("arr_t").as("__aarr"),
      col("fare").as("__afare"))
    val tight = st.join(la, st("stop") === col("__as") &&
        st("arr") === col("__aarr"))
      .select(st("trip").as("trip"), st("seq").as("aseq"),
        st("stop").as("stop"), st("arr").as("arr_t"),
        col("__afare").as("fare"))
    val lb = fr.select(col("stop").as("__bs"), col("arr_t").as("__barr"),
      col("fare").as("__bfare"))
    val boards = st.join(lb, st("stop") === col("__bs") &&
        st("dep") >= col("__barr"))
      .select(st("trip").as("trip"), st("seq").as("bseq"),
        st("stop").as("from_stop"), st("dep").as("dep_t"),
        col("__barr").as("from_arr"), col("__bfare").as("from_fare"))
    val rideEv = tight.join(boards, Seq("trip"))
      .join(tf, col("trip") === col("__ft"))
      .filter(col("bseq") < col("aseq") &&
        col("from_fare") + col("__tfare") === col("fare") &&
        col("from_arr") < col("arr_t"))
      .select(col("stop"), col("arr_t"), col("fare"),
        lit("ride").as("kind"), col("from_stop"), col("from_arr"),
        col("from_fare"), col("trip"), col("dep_t"))
    val ev = transfers match {
      case Some(x0) =>
        val mttCol =
          if (x0.columns.contains("mtt")) col("mtt")
          else col("min_transfer_time").cast("long").as("mtt")
        val x = x0.select(col("from_stop"), col("to_stop"), mttCol)
        // NULL mtt must fail the precondition loudly too (see the
        // scalar parentEvents guard): NULL <= 0 alone passes NULL rows
        val bad = x.filter(col("mtt").isNull || col("mtt") <= 0)
          .limit(1).collect()
        require(bad.isEmpty,
          "journey reconstruction requires min_transfer_time > 0 " +
            s"(found rule ${bad.headOption.getOrElse("")})")
        val xb = if (broadcastTransfers) broadcast(x) else x
        val lf = fr.select(col("stop").as("__fs"), col("arr_t").as("__farr"),
          col("fare").as("__ffare"))
        val lt = fr.select(col("stop").as("__ts"), col("arr_t").as("__tarr"),
          col("fare").as("__tfare2"))
        val foot = xb.join(lf, col("from_stop") === col("__fs"))
          .join(lt, col("to_stop") === col("__ts"))
          .filter(col("__farr") + col("mtt") === col("__tarr") &&
            col("__ffare") === col("__tfare2"))
          .select(col("to_stop").as("stop"), col("__tarr").as("arr_t"),
            col("__tfare2").as("fare"), lit("foot").as("kind"),
            col("from_stop"), col("__farr").as("from_arr"),
            col("__ffare").as("from_fare"),
            lit(null).cast(tripType).as("trip"),
            col("__farr").as("dep_t"))
        rideEv.unionByName(foot)
      case None => rideEv
    }
    ev.filter(!(col("stop") === lit(sourceStop) &&
        col("arr_t") === lit(depTime) && col("fare") === lit(0L)))
      .groupBy(col("stop"), col("arr_t"), col("fare"))
      .agg(min_by(
        struct(col("kind"), col("from_stop"), col("from_arr"),
          col("from_fare"), col("trip"), col("dep_t")),
        struct(when(col("kind") === "ride", 0).otherwise(1).as("k"),
          col("from_stop").as("f"), col("trip").cast("string").as("t"),
          col("dep_t").as("d"))).as("__p"))
      .select(col("stop"), col("arr_t"), col("fare"),
        col("__p.kind").as("kind"), col("__p.from_stop").as("from_stop"),
        col("__p.from_arr").as("from_arr"),
        col("__p.from_fare").as("from_fare"), col("__p.trip").as("trip"),
        col("__p.dep_t").as("dep_t"))
  }

  /** The McRAPTOR JOURNEY FOREST: the ordered legs of one canonical
    * itinerary REALIZING every Pareto-front label — rows (dest_stop,
    * dest_arr, dest_fare, leg_seq, kind, from_stop, to_stop, trip,
    * dep_t, arr_t, fare), where (dest_stop, dest_arr, dest_fare)
    * identifies which front entry the itinerary serves ("the 12:40 /
    * 2-transfer one" vs "the cheap 13:05 one" — the full OTP-parity
    * answer for a fare-aware planner) and `fare` is the accumulated
    * fare AFTER the leg. AT THE FIXPOINT (empty frontier) every
    * non-source label has a tight parent (the [[paretoParentEvents]]
    * theorem), so every itinerary is complete source→dest. On a
    * BOUNDED-round front (maxRounds hit — the r27/r32 class) a label
    * whose creating predecessor was dominated in the FINAL round can
    * be left without a tight parent: its chain (and any chain through
    * it) truncates deterministically, identically replayed by an
    * oracle applying the same rule — the honest reading of provenance
    * under a round budget. Labels from [[paretoJourneys]] in either
    * layout; parents via [[paretoParentEvents]]; ancestor expansion keyed by
    * the LABEL triple, rounds = max itinerary depth, total rows =
    * output size — the [[journeyForestFromLabels]] shape over label
    * space (O(front × depth), dimension-scale next to the timetable).
    */
  def paretoJourneyForest(stopTimes: DataFrame, tripFares: DataFrame,
                          front: DataFrame, sourceStop: Any,
                          depTime: Long,
                          warnOnTruncation: Boolean = true,
                          checkpointDir: Option[String] = None,
                          transfers: Option[DataFrame] = None,
                          broadcastTransfers: Boolean = true,
                          maxHops: Int = 136,
                          broadcastLabels: Boolean = true): DataFrame = {
    val spark = stopTimes.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    val in = Iteration.stage(paretoParentEvents(stopTimes, tripFares, front,
      sourceStop, depTime, transfers, broadcastTransfers,
      broadcastLabels), "stop", ckpt)
    val parents = in.frame
    val legCols = Seq(col("kind"), col("from_stop"),
      col("stop").as("to_stop"), col("trip"), col("dep_t"),
      col("arr_t"), col("fare"))
    val curCols = Seq(col("from_stop").as("__cs"),
      col("from_arr").as("__ca"), col("from_fare").as("__cf"))
    var ext = ckpt(parents.select(
      (Seq(col("stop").as("dest_stop"), col("arr_t").as("dest_arr"),
        col("fare").as("dest_fare")) ++ legCols ++ curCols): _*))
    val drop = Seq("__cs", "__ca", "__cf")
    val slices = scala.collection.mutable.ListBuffer(
      ext.drop(drop: _*))
    var hops = 0
    var frontier = ext.select(col("dest_stop"), col("dest_arr"),
      col("dest_fare"), col("__cs"), col("__ca"), col("__cf"))
    // every per-hop frame is bounded by the FOREST (front × depth,
    // dimension-scale), so each hop plans without AQE: one job per
    // shuffle stage plus a driver re-planning gap per hop is pure
    // overhead on label-scale frames (OPTIMIZATION_r17.md §4)
    in.run {
      while (hops < maxHops && !frontier.isEmpty) {
        ext = Iteration.withoutAdaptive(spark)(
          ckpt(frontier.join(parents,
              frontier("__cs") === parents("stop") &&
                frontier("__ca") === parents("arr_t") &&
                frontier("__cf") === parents("fare"))
            .select((Seq(col("dest_stop"), col("dest_arr"),
              col("dest_fare")) ++ legCols ++ curCols): _*)))
        slices += ext.drop(drop: _*)
        frontier = ext.select(col("dest_stop"), col("dest_arr"),
          col("dest_fare"), col("__cs"), col("__ca"), col("__cf"))
        hops += 1
      }
    }
    Iteration.warnIfTruncated("paretoJourneyForest",
      frontier, hops, maxHops, warnOnTruncation)
    import org.apache.spark.sql.expressions.Window
    slices.reduce(_ unionByName _)
      .withColumn("leg_seq", row_number().over(
        Window.partitionBy(col("dest_stop"), col("dest_arr"),
          col("dest_fare"))
          .orderBy(col("arr_t"), col("to_stop"), col("fare")))
        .cast("int"))
      .select(col("dest_stop"), col("dest_arr"), col("dest_fare"),
        col("leg_seq"), col("kind"), col("from_stop"), col("to_stop"),
        col("trip"), col("dep_t"), col("arr_t"), col("fare"))
  }

  /** Multi-source frontier BFS in ONE loop: hop counts from EVERY seed in
    * `seeds` simultaneously, state keyed (seed, node). Running
    * [[bfsHops]] per seed costs |seeds| full iterative loops (each with
    * its per-round scheduling and checkpoint overhead); here all waves
    * advance together, so the round count is the max eccentricity once,
    * and each round's shuffle batches every seed's frontier into the
    * same O(Σ frontier·out-degree) join. This is the landmark/seed-panel
    * primitive (closeness/harmonic centrality, seed-distance features):
    * state is O(V·|seeds|) — |seeds| must be a bounded panel, which is
    * exactly the centrality-estimation regime (Eppstein-Wang: O(log V /
    * ε²) sampled seeds estimate closeness for all nodes).
    *
    * Same mechanics as [[bfsHops]] otherwise: first discovery = final
    * hops, settled set absorbs candidates via one full-outer merge per
    * round, checkpointed per round, empty frontier = convergence.
    */
  def multiSourceBfsHops(edges: DataFrame, seeds: Seq[String], maxIter: Int,
                         warnOnTruncation: Boolean = true,
                         checkpointDir: Option[String] = None,
                         prePartitionEdges: Boolean = true): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    require(seeds.distinct.size == seeds.size, "seeds must be distinct")
    val spark = edges.sparkSession
    import spark.implicits._
    val ckpt = Iteration.materializer(spark, checkpointDir)
    // staged like bfsHops' edge frame. The per-round frames here are
    // |seeds|× the single-source case, but |seeds| is a bounded panel,
    // so the edge frame stays the loop's largest and still sets the width.
    val in = Iteration.stage(edges.select(col("src"), col("dst")), "src",
      ckpt, repartition = prePartitionEdges, sized = prePartitionEdges)
    val e = in.frame
    val init = seeds.map(s => (s, s, 0)).toDF("seed", "node", "hops")
      .withColumn("__new", lit(true))
    in.run {
      Iteration.frontierFixpoint(init,
        (dist, frontier) => {
          val next = frontier.join(e, frontier("node") === e("src"))
            .select(col("seed"), e("dst").as("node"),
              (col("hops") + 1).as("cand_hops"))
            .groupBy("seed", "node").agg(min("cand_hops").as("cand_hops"))
          dist.drop("__new")
            .join(next, Seq("seed", "node"), "full")
            .select(col("seed"), col("node"),
              coalesce(col("hops"), col("cand_hops")).as("hops"),
              col("hops").isNull.as("__new"))
        }, maxIter, warnOnTruncation, "multiSourceBfsHops", ckpt,
        in.tinyBound)
    }
  }
}
