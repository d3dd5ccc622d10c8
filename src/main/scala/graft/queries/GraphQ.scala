package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.{Communities, Cores, Projection, Ranking, Routing, Triangles}
import SqlMacros._

/** Graph/routing operators (SURVEY §2.10) over a deterministic synthetic
  * graph derived from the nation table: each nation key n gets directed
  * edges n→(7n+3) mod 25 and n→(11n+5) mod 25. BFS hop counts are oracle-
  * checked against a DuckDB recursive CTE; weighted SSSP + path
  * reconstruction are covered by RoutingSpec fixtures (no SQL equivalent).
  */
object GraphQ extends QueryPack {

  /** The synthetic edge list (route_id labels the generating formula). */
  def syntheticEdges(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir).nation.select(col("n_nationkey").cast("int").as("k"))
    n.select(col("k").cast("string").as("src"),
        ((col("k") * 7 + 3) % 25).cast("string").as("dst"),
        lit("a").as("route_id"),
        ((col("k") % 5) + 1).cast("double").as("weight_m"))
      .unionByName(n.select(col("k").cast("string").as("src"),
        ((col("k") * 11 + 5) % 25).cast("string").as("dst"),
        lit("b").as("route_id"),
        ((col("k") % 3) + 1).cast("double").as("weight_m")))
  }

  /** r28/r29's quarter-banded digraph (design rationale at the r28
    * entry): node count bounded by RESIDUES (4 bands × (15 cust + 8
    * supp) ids) and edge volume by an absolute orderkey window, so the
    * structure — 4 within-band SCCs chained one way by quarter — is
    * stable at every SF and the all-pairs oracle stays tractable.
    */
  private def bandedDigraph(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val raw = t.lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_quantity"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderkey") <= 2000)
      .select(quarter(col("o_orderdate")).as("m"),
        (col("o_custkey") % 15).as("ci"), (col("l_suppkey") % 8).as("si"),
        col("l_returnflag").as("f"), col("l_quantity").as("qty"))
    // Band LABEL = 5 - quarter: the chain flows toward SMALLER labels,
    // so every band's min id is its own color root and the coloring
    // loop settles all four SCCs in ONE outer round — the documented
    // best case of the FW-BW coloring scheme (pivot/label order
    // matters; see Scc scaladoc). SccSpec pins the adversarial order
    // (upstream min floods downstream → sequential rounds) separately.
    def cN(b: org.apache.spark.sql.Column) =
      concat(lit("c"), b.cast("string"), lit("_"), col("ci"))
    def sN(b: org.apache.spark.sql.Column) =
      concat(lit("s"), b.cast("string"), lit("_"), col("si"))
    val b = lit(5) - col("m") // q1→band 4 … q4→band 1
    // Q4's kept items would wrap the chain into one giant cycle
    raw.filter(!(col("f") =!= "R" && col("m") === 4))
      .select(
        when(col("f") === "R" && col("qty") < 25, cN(b))
          .otherwise(sN(b)).as("src"),
        when(col("f") === "R" && col("qty") < 25, sN(b))
          .when(col("f") === "R", cN(b))
          .otherwise(cN(b - 1)).as("dst"))
      .distinct()
  }

  /** SQL mirror of [[bandedDigraph]] — the shared `raw`/`e` CTE pair the
    * r28/r29 oracles open with (callers prepend WITH RECURSIVE).
    */
  private val bandedDigraphSql: String =
    """raw AS (
      |  SELECT quarter(o_orderdate) AS m, o_custkey % 15 AS ci,
      |         l_suppkey % 8 AS si, l_returnflag AS f, l_quantity AS qty
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderkey <= 2000),
      |e AS (
      |  SELECT DISTINCT
      |    CASE WHEN f = 'R' AND qty < 25
      |         THEN 'c' || CAST(5 - m AS VARCHAR) || '_' || ci
      |         ELSE 's' || CAST(5 - m AS VARCHAR) || '_' || si
      |    END AS src,
      |    CASE WHEN f = 'R' AND qty < 25
      |         THEN 's' || CAST(5 - m AS VARCHAR) || '_' || si
      |         WHEN f = 'R'
      |         THEN 'c' || CAST(5 - m AS VARCHAR) || '_' || ci
      |         ELSE 'c' || CAST(4 - m AS VARCHAR) || '_' || ci
      |    END AS dst
      |  FROM raw WHERE NOT (f <> 'R' AND m = 4))""".stripMargin

  /** The fact-scale trade graph (scale evidence for the frontier
    * loops — ~600k directed edges at sf0.1): the bipartite
    * customer–supplier graph, one undirected edge per distinct
    * (o_custkey, l_suppkey) trading pair, with LONG node ids —
    * customer k → 2k, supplier k → 2k+1 (disjoint by parity): integer
    * keys hash, compare, and shuffle measurably cheaper than "c123"
    * strings at fact scale (measured on r03 at sf1: the per-round
    * expansion join over 11.7M string edges was the whole cost; the
    * string-keyed builder this replaced cost r07/r14/r21 ~40% at sf1),
    * and the ids decode back to the reference's string labels in one
    * output-sized projection ([[decodeTradeNode]]).
    *
    * `dedup = false` skips the distinct: BFS min-combine is idempotent
    * over duplicate edges (the dupClusters doctrine), and on this graph
    * distinct removes <2% of rows — the distinct's full-E shuffle costs
    * more than scanning the dups ever will. Keep `dedup = true` for
    * consumers with multiplicity-sensitive semantics (PageRank degrees)
    * or for staging a reusable at-rest artifact.
    */
  def tradeEdgesLong(s: SparkSession, dir: String,
                     dedup: Boolean): DataFrame = {
    val t = Tables(s, dir)
    val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("src"),
        (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
    val p = if (dedup) pairs.distinct() else pairs
    p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Inverse of the [[tradeEdgesLong]] encoding, applied on the
    * V-sized output only.
    */
  private def decodeTradeNode(c: org.apache.spark.sql.Column) =
    concat(when(c % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(c, 1).cast("string"))

  private def tradeSourceLong(s: SparkSession, dir: String): java.lang.Long =
    java.lang.Long.valueOf(2L * Tables(s, dir).orders
      .agg(min(col("o_custkey")).cast("long")).collect()(0).getLong(0))

  /** Build-once guard for r15's at-rest bucketed trade-edge table (the
    * d17/s02 adjudicated pattern): the timed body measures the LOOP —
    * staging amortizes over every frontier query after it; keyed by
    * sfDir so a session switching scale factors restages. The staged
    * table is the DISTINCT symmetric edge list (a reusable artifact —
    * degree-sensitive consumers can share it).
    */
  @volatile private var tradeEdgesTableFor: String = null
  private def ensureTradeEdgesTable(s: SparkSession, dir: String): Unit =
    synchronized {
      if (tradeEdgesTableFor != dir) {
        val e = tradeEdgesLong(s, dir, dedup = true).localCheckpoint()
        val buckets = graft.operators.Iteration.roundPartitions(s, e.count())
        Routing.stageEdgesTable(e, "graft_trade_edges", buckets)
        tradeEdgesTableFor = dir
      }
    }

  /** Build-once guard for r20's DST-bucketed symmetric trade edges (the
    * [[ensureTradeEdgesTable]] pattern — the LPA round joins the edge
    * frame on dst, so dst is its bucket key; the r19 dual-layout
    * doctrine, one layout per join key).
    */
  @volatile private var lpaEdgesTableFor: String = null
  private def ensureLpaEdgesTable(s: SparkSession, dir: String): Unit =
    synchronized {
      if (lpaEdgesTableFor != dir) {
        val e = tradeEdgesLong(s, dir, dedup = true).localCheckpoint()
        val buckets = graft.operators.Iteration.roundPartitions(s, e.count())
        graft.sources.Warehouse.writeBucketed(e, "graft_trade_edges_dst",
          "dst", buckets)
        lpaEdgesTableFor = dir
      }
    }

  /** r17/r19's fact-scale timetable: trip = orderkey, seq = linenumber
    * (unique, increasing per order), stop = suppkey mod 500, time =
    * (orderkey mod 1000)·100 + linenumber (strictly increasing along
    * each trip). ~6M stop_time rows at sf1.
    */
  private[graft] def factStopTimes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem.select(
        col("l_orderkey").as("trip"),
        col("l_linenumber").cast("int").as("seq"),
        (col("l_suppkey") % 500).cast("long").as("stop"),
        ((col("l_orderkey") % 1000) * 100 + col("l_linenumber"))
          .cast("long").as("t"))
      .select(col("trip"), col("seq"), col("stop"),
        col("t").as("arr"), col("t").as("dep"))

  /** r23's fact-scale FOOTPATH rules over the 500-stop network: every
    * 5th stop s gets s ↔ (7s+13)%500 at (s%4+1)·10 seconds (100 pairs,
    * both directions — dimension-sized next to the ~6M-row sf1
    * timetable, the realistic transfers.txt cardinality ratio).
    * Destinations are never ≡0 (mod 5), so chains only close through
    * the reverse rules — the cross-round closure is exercised at fact
    * scale too. Scale-free by construction (stop ids are suppkey mod
    * 500 at every SF), like the nation-derived synthetic sets.
    */
  private[graft] def factTransfers(s: SparkSession, dir: String): DataFrame = {
    val base = s.range(100).select((col("id") * 5).as("s"))
    val fs = col("s").cast("long")
    val ts = ((col("s") * 7 + 13) % 500).cast("long")
    val mtt = ((col("s") % 4 + 1) * 10).cast("long")
    base.select(fs.as("from_stop"), ts.as("to_stop"),
        mtt.as("min_transfer_time"))
      .unionByName(base.select(ts.as("from_stop"), fs.as("to_stop"),
        mtt.as("min_transfer_time")))
  }

  /** r24's fact-scale itineraries: order = itinerary, legs = the
    * DISTINCT (linenumber, suppkey mod 40) pairs (this testdata's
    * linenumbers are neither dense nor unique — the distinct makes the
    * leg key unique so row_number yields a deterministic dense seq on
    * both engines), board time strictly increasing along the legs with
    * a per-order cadence (120–840 s) that straddles the tariff's
    * expiry windows (600–3000 s).
    */
  private[graft] def factLegs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("itin_id")).orderBy(col("ln"), col("rt"))
    Tables(s, dir).lineitem
      .select(col("l_orderkey").as("itin_id"),
        col("l_linenumber").cast("int").as("ln"),
        (col("l_suppkey") % 40).cast("int").as("rt"))
      .distinct()
      .withColumn("leg_seq", row_number().over(w))
      .select(col("itin_id"), col("leg_seq"),
        ((col("itin_id") % 1000) * 10 +
          col("leg_seq") * ((col("itin_id") % 7 + 1) * 120))
          .cast("long").as("board_t"),
        col("rt").cast("string").as("route_id"))
  }

  /** r24's synthetic tariff: 25 fares with mixed transfer allowances
    * (k%4=0 → unlimited, else k%3 ∈ {0,1,2}) and 600–3000 s windows,
    * with every 6th window NULL (non-expiring — the empty
    * transfer_duration reading, exercised so the oracle covers it).
    */
  private[graft] def factFareAttrs(s: SparkSession): DataFrame =
    s.range(25).select(
      concat(lit("f"), col("id")).as("fare_id"),
      ((col("id") % 9 + 1) * 1000).cast("long").as("price"),
      when(col("id") % 4 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 3).cast("int")).as("transfers"),
      when(col("id") % 6 === 5, lit(null).cast("long"))
        .otherwise(((col("id") % 5 + 1) * 600).cast("long"))
        .as("transfer_duration"))

  /** r24's rules: route r carries fares f(r%25) and f((7r+3)%25) — two
    * candidates per route, so "cheapest applicable" does real work.
    */
  private[graft] def factFareRules(s: SparkSession): DataFrame = {
    val r = s.range(40).select(col("id").cast("string").as("route_id"),
      col("id").as("r"))
    r.select(concat(lit("f"), col("r") % 25).as("fare_id"), col("route_id"))
      .unionByName(r.select(
        concat(lit("f"), (col("r") * 7 + 3) % 25).as("fare_id"),
        col("route_id")))
  }

  /** r26's per-trip boarding fares over the 25-stop network:
    * 't{k}' costs (k%9+1)·100, 'u{k}' costs (k%7+1)·100 — two coprime
    * cycles so forward and reverse rides price differently and real
    * (arrival, fare) trade-offs exist.
    */
  def syntheticTripFares(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir).nation.select(col("n_nationkey").cast("long").as("k"))
    n.select(concat(lit("t"), col("k")).as("trip"),
        ((col("k") % 9 + 1) * 100).cast("long").as("fare"))
      .unionByName(n.select(concat(lit("u"), col("k")).as("trip"),
        ((col("k") % 7 + 1) * 100).cast("long").as("fare")))
  }

  /** r34's tariff over the PLANNER's legs: each toy trip is its own
    * route; 5 fares with mixed prices, allowances (f0/f4 unlimited) and
    * expiry windows (f3 never expires; 40/80-tick windows straddle the
    * toy journeys' leg cadence), two candidate fares per route so
    * "cheapest applicable" does real work. Nation-derived → identical
    * at every SF.
    */
  private[graft] def plannerFareAttrs(s: SparkSession): DataFrame =
    s.range(5).select(
      concat(lit("f"), col("id")).as("fare_id"),
      ((col("id") % 3 + 1) * 100).cast("long").as("price"),
      when(col("id") % 4 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 3).cast("int")).as("transfers"),
      when(col("id") === 3, lit(null).cast("long"))
        .otherwise(((col("id") % 2 + 1) * 40).cast("long"))
        .as("transfer_duration"))

  private[graft] def plannerFareRules(s: SparkSession, dir: String)
      : DataFrame = {
    val n = Tables(s, dir).nation
      .select(col("n_nationkey").cast("long").as("k"))
    n.select(concat(lit("f"), col("k") % 5).as("fare_id"),
        concat(lit("t"), col("k")).as("route_id"))
      .unionByName(n.select(concat(lit("f"), (col("k") + 2) % 5)
        .as("fare_id"), concat(lit("u"), col("k")).as("route_id")))
      .unionByName(n.select(concat(lit("f"), (col("k") * 3 + 1) % 5)
        .as("fare_id"), concat(lit("t"), col("k")).as("route_id")))
      .unionByName(n.select(concat(lit("f"), (col("k") * 3 + 4) % 5)
        .as("fare_id"), concat(lit("u"), col("k")).as("route_id")))
  }

  /** r27's fact-scale tariff: 3 fare levels keyed off the trip id, so
    * accumulated fares stay a small multiple set and the per-stop
    * fronts are tariff-bounded at any corpus size.
    */
  private[graft] def factTripFares(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem.select(col("l_orderkey").as("trip")).distinct()
      .select(col("trip"),
        ((col("trip") % 3 + 1) * 100).cast("long").as("fare"))

  /** r19's dual bucketed timetable layout, staged behind a build-once
    * guard (the [[ensureTradeEdgesTable]] pattern, keyed by sfDir): the
    * stop-bucketed copy and, as the RAPTOR loops' `byTrip`, the
    * trip-bucketed one — the pair that runs them at rest.
    */
  @volatile private var stopTimesTablesFor: String = null
  private def stopTimesAtRest(s: SparkSession, dir: String)
      : (DataFrame, Option[DataFrame]) = {
    synchronized {
      if (stopTimesTablesFor != dir) {
        val st = factStopTimes(s, dir).localCheckpoint()
        val buckets = graft.operators.Iteration.roundPartitions(s, st.count())
        Routing.stageStopTimesTables(st, "graft_st_by_stop",
          "graft_st_by_trip", buckets)
        stopTimesTablesFor = dir
      }
    }
    (s.table("graft_st_by_stop"), Some(s.table("graft_st_by_trip")))
  }

  /** Deterministic synthetic TIMETABLE over the 25-stop nation graph —
    * r16's network. Two trip families per nation key k: "t{k}" rides
    * k → (7k+3)%25 → (11k+5)%25 departing at 100k with (k%5+1)·10 per
    * hop; "u{k}" rides the reverse at 100k+50 with (k%3+1)·10 per hop.
    * Zero dwell (arr = dep); times strictly increase along each trip.
    */
  def syntheticStopTimes(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir).nation.select(col("n_nationkey").cast("long").as("k"))
    val base = n.select(col("k"), explode(expr("sequence(0, 2)")).as("j"))
    val s0 = col("k"); val s1 = (col("k") * 7 + 3) % 25
    val s2 = (col("k") * 11 + 5) % 25
    val fwd = base.select(
      concat(lit("t"), col("k")).as("trip"), col("j").cast("int").as("seq"),
      when(col("j") === 0, s0).when(col("j") === 1, s1).otherwise(s2)
        .cast("string").as("stop"),
      (col("k") * 100 + col("j") * ((col("k") % 5 + 1) * 10))
        .cast("long").as("t"))
    val rev = base.select(
      concat(lit("u"), col("k")).as("trip"), col("j").cast("int").as("seq"),
      when(col("j") === 0, s2).when(col("j") === 1, s1).otherwise(s0)
        .cast("string").as("stop"),
      (col("k") * 100 + 50 + col("j") * ((col("k") % 3 + 1) * 10))
        .cast("long").as("t"))
    fwd.unionByName(rev)
      .select(col("trip"), col("seq"), col("stop"),
        col("t").as("arr"), col("t").as("dep"))
  }

  /** Deterministic synthetic FOOTPATH rules over the 25-stop network —
    * r22's transfers.txt stand-in (the reference feed's
    * gtfs/transfers.txt carries 33 such type-2 min_transfer_time rules;
    * the golden test runs those, this runs a nation-derived mirror the
    * DuckDB oracle can rebuild). Each key k contributes
    * (3k+1)%25 ↔ (9k+4)%25 at (k%4+1)·5 seconds, both directions;
    * self-pairs dropped (k=12 maps to itself). The set is NOT
    * transitively closed — the engine's cross-round chain closure is
    * exercised, not assumed.
    */
  def syntheticTransfers(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir).nation.select(col("n_nationkey").cast("long").as("k"))
    val fs = ((col("k") * 3 + 1) % 25).cast("string")
    val ts = ((col("k") * 9 + 4) % 25).cast("string")
    val mtt = ((col("k") % 4 + 1) * 5).cast("long")
    n.select(fs.as("from_stop"), ts.as("to_stop"),
        mtt.as("min_transfer_time"))
      .unionByName(n.select(ts.as("from_stop"), fs.as("to_stop"),
        mtt.as("min_transfer_time")))
      .filter(col("from_stop") =!= col("to_stop"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G6 CLOSED IN-ENGINE: RAPTOR-shape earliest arrival with transfers
    // (Routing.earliestArrival) over the synthetic timetable — the
    // journey-planning query class the reference delegates to an
    // external OTP server (start.sh:8-9; our GTFS feed is its input).
    // Oracle: a time-respecting connection walk (recursive CTE over
    // consecutive-seq connections, dep >= state time) run to fixpoint —
    // provably the same labels as the round-based boarding form at
    // convergence.
    "r16_earliest_arrival" -> { (s, dir) =>
      Routing.earliestArrival(syntheticStopTimes(s, dir), "0", 0L,
          maxRounds = 30)
        .orderBy(col("stop"))
    },

    // The Pareto PROFILE r16 collapses: (stop, boardings k, arrival)
    // rows for every strict per-round improvement — the
    // arrival/transfers trade-off a planner serves. Oracle: the same
    // timetable through an unrolled label-correction chain (one stage
    // per round over within-trip segments; aggregates can't live in a
    // recursive term — the pageRankSql doctrine), emitting each
    // stage's strict improvements.
    "r18_arrival_profile" -> { (s, dir) =>
      Routing.arrivalProfile(syntheticStopTimes(s, dir), "0", 0L,
          maxRounds = 30)
        .orderBy(col("stop"), col("rounds"))
    },

    // r22 — TRANSFER-AWARE earliest arrival: the r16 timetable plus the
    // synthetic footpath rules (GTFS transfers.txt type-2 semantics, the
    // rules the reference feed ships and its OTP deployment honors).
    // Footpaths relax from the frontier each round at
    // +min_transfer_time, so chains close across rounds and the fixpoint
    // is the free-walking earliest-arrival labels. Oracle: the r18-style
    // unrolled label-correction chain with BOTH relaxations (within-trip
    // segments + footpaths) per stage, run past the fixpoint. The
    // transfer side rides a broadcast join (dimension-sized next to
    // stop_times at any scale); pass broadcastTransfers = false to
    // shuffle it as an equi-join instead.
    "r22_earliest_arrival_transfers" -> { (s, dir) =>
      Routing.earliestArrival(syntheticStopTimes(s, dir), "0", 0L,
          maxRounds = 40, transfers = Some(syntheticTransfers(s, dir)))
        .orderBy(col("stop"))
    },

    // r25 — the transfer-aware PARETO PROFILE (r18's face over the r22
    // network): per-round strict improvements, rounds counting legs
    // (boardings + footpath hops). The oracle hash-matches the
    // PER-ROUND slices, not just the fixpoint — stage-k improvements
    // from merged labels equal round-k frontier improvements by the
    // monotone argument (see arrivalProfileTransfersSql).
    "r25_arrival_profile_transfers" -> { (s, dir) =>
      Routing.arrivalProfile(syntheticStopTimes(s, dir), "0", 0L,
          maxRounds = 40, transfers = Some(syntheticTransfers(s, dir)))
        .orderBy(col("stop"), col("rounds"))
    },

    // r26 — BI-CRITERIA journeys (McRAPTOR class): the Pareto front of
    // (arrival, fare) per stop over the r16 network with per-trip
    // boarding fares — "cheapest vs fastest", the query class r18's
    // (arrival, transfers) axis and r24's fixed-itinerary costing both
    // miss. Oracle: staged label-set chain with the SAME canonical
    // per-stop prune (sort (arr, fare), keep iff fare beats the running
    // min of everything earlier) — the nondominated set is unique, so
    // the fixpoint hash-matches regardless of iteration path.
    "r26_pareto_journeys" -> { (s, dir) =>
      Routing.paretoJourneys(syntheticStopTimes(s, dir),
          syntheticTripFares(s, dir), "0", 0L, maxRounds = 40)
        .orderBy(col("stop"), col("arr_t"), col("fare"))
    },

    // r31 — r26 WITH FOOTPATHS: the fare-AND-transfer-aware Pareto
    // front, composing the round's two G6 extensions (r22's
    // transfers.txt rules, r26's label-set fares) — the itinerary set
    // an OTP-parity fare-aware planner actually serves. A footpath
    // moves a label at +min_transfer_time for FREE (walking costs
    // nothing under the per-boarding tariff), so cheap-but-slower
    // walk+ride fronts appear that neither r22 (no fares) nor r26 (no
    // footpaths) contains. Footpath cycles self-prune (a re-entry
    // label is dominated by its own origin); the oracle chain carries
    // the same footpath leg per stage.
    "r31_pareto_transfers" -> { (s, dir) =>
      Routing.paretoJourneys(syntheticStopTimes(s, dir),
          syntheticTripFares(s, dir), "0", 0L, maxRounds = 40,
          transfers = Some(syntheticTransfers(s, dir)))
        .orderBy(col("stop"), col("arr_t"), col("fare"))
    },

    // r32 — r31 at FACT SCALE over the r19 dual-bucketed layout: the
    // (arrival, fare) front within ≤6 legs on the ~6M-row timetable,
    // r23's 200 footpath rules riding the label-set loop (broadcast —
    // dimension-sized). Bounded-round semantics stays exact on both
    // sides WITH footpaths: a ride or footpath expansion depends only
    // on the label it expands, so re-expanding a settled label
    // re-derives candidates an earlier stage already min'd in or
    // pruned — the r27 induction, unchanged.
    "r32_pareto_transfers_factscale" -> { (s, dir) =>
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      Routing.paretoJourneys(byStop, factTripFares(s, dir), 0L, 0L,
          maxRounds = 6, warnOnTruncation = false,
          transfers = Some(factTransfers(s, dir)), byTrip = byTrip)
        .orderBy(col("stop"), col("arr_t"), col("fare"))
    },

    // r38 — McRAPTOR ITINERARIES: one canonical leg chain REALIZING
    // every label of r31's fare-and-transfer Pareto front (the
    // labels→legs step r33 made for earliest arrival, lifted to label
    // sets — Routing.paretoParentEvents' domination theorem: a
    // surviving label's tight predecessor is itself in the front, with
    // its fare exactly determined). The full fare-aware-planner answer:
    // WHICH rides and walks produce "17 ticks for 150" vs "30 for 30".
    // Oracle: the r31 label chain, the same canonical parent rule on
    // the final front, and a recursive backtrack keyed by the label
    // TRIPLE.
    "r38_pareto_itineraries" -> { (s, dir) =>
      val st = syntheticStopTimes(s, dir)
      val tf = syntheticTripFares(s, dir)
      val xf = syntheticTransfers(s, dir)
      val front = Routing.paretoJourneys(st, tf, "0", 0L, maxRounds = 40,
        transfers = Some(xf))
      Routing.paretoJourneyForest(st, tf, front, "0", 0L,
          transfers = Some(xf))
        .orderBy(col("dest_stop"), col("dest_arr"), col("dest_fare"),
          col("leg_seq"))
    },

    // r40 — r38 at FACT SCALE: McRAPTOR ITINERARIES over the r19
    // dual-bucketed layout — the last uncomposed pair in the G6 family.
    // The (arrival, fare) front comes from r32's transfer-aware
    // label-set loop (maxRounds = 6 bounded-round semantics, exact on
    // both sides — the r27 induction), then paretoJourneyForest unrolls
    // every front label to its canonical leg chain against the ~6M-row
    // timetable: the parent pass is ONE batch join pair (front
    // broadcast — O(stops × fare levels), dimension-sized), the unroll
    // O(front × depth). Bounded-front provenance is deterministic on
    // both sides (a label whose creating predecessor was dominated in
    // the final round truncates its chain identically under the same
    // rule — see paretoJourneyForest), so the oracle replays rule-for-
    // rule and never sees the engine's round structure.
    "r40_pareto_itineraries_factscale" -> { (s, dir) =>
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      val tf = factTripFares(s, dir)
      val xf = factTransfers(s, dir)
      val front = Routing.paretoJourneys(byStop, tf, 0L, 0L, maxRounds = 6,
        warnOnTruncation = false, transfers = Some(xf), byTrip = byTrip)
      // staged-copy parent probes measured and REJECTED (r15 paired
      // subset: 7.97 -> 7.94 s, flat — the one-shot probes' lineitem
      // re-derivation is not the bottleneck; the label loop + windows
      // are); keep the self-contained form
      Routing.paretoJourneyForest(factStopTimes(s, dir), tf, front,
          0L, 0L, transfers = Some(xf))
        .orderBy(col("dest_stop"), col("dest_arr"), col("dest_fare"),
          col("leg_seq"))
    },

    // r44 — FARES ON THE McRAPTOR PLANNER OUTPUT AT FACT SCALE: the
    // full fare-aware product arc closed end-to-end on the ~6M-row
    // timetable — Pareto front (r32's loop) → leg chains (r40's
    // forest) → priced itineraries (the r24 tariff engine). Each front
    // label's ride legs (walking is free) renumber densely and route
    // through Fares.itineraryFares under the 25-fare/40-route fact
    // tariff with transfer allowances and expiry windows; the itinerary
    // id is the label TRIPLE (one priced row per Pareto alternative —
    // "the cheap 13:05 one costs 3 purchases" is the product answer).
    // Oracle: the r40 stack + the r24 single-successor fare-fold
    // recursion keyed by the triple.
    "r44_pareto_fares_factscale" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      val tf = factTripFares(s, dir)
      val xf = factTransfers(s, dir)
      val front = Routing.paretoJourneys(byStop, tf, 0L, 0L, maxRounds = 6,
        warnOnTruncation = false, transfers = Some(xf), byTrip = byTrip)
      val forest = Routing.paretoJourneyForest(factStopTimes(s, dir), tf,
        front, 0L, 0L, transfers = Some(xf))
      val legs = forest.filter(col("kind") === "ride")
        .withColumn("ls", row_number().over(
          Window.partitionBy(col("dest_stop"), col("dest_arr"),
            col("dest_fare")).orderBy(col("leg_seq"))))
        .select(concat_ws(":", col("dest_stop"), col("dest_arr"),
            col("dest_fare")).as("itin_id"),
          col("ls").as("leg_seq"), col("dep_t").as("board_t"),
          (col("trip") % 40).cast("string").as("route_id"))
      graft.gtfs.Fares.itineraryFares(legs, factFareRules(s),
          factFareAttrs(s))
        .orderBy(col("itin_id"))
    },

    // r26 at FACT SCALE, round-BOUNDED: the (arrival, fare) front
    // within ≤6 boardings over the ~6M-row timetable with a 3-level
    // per-trip tariff — bounded rounds keep the label space (and both
    // engines' candidate volumes) tariff-bounded, and the bounded
    // semantics is exact on both sides: stage-k of the merged-label
    // chain EQUALS round-k of the frontier loop (re-expanding a settled
    // label re-derives only candidates the earlier stage already
    // min'd in or pruned — the same induction as r18's oracle, lifted
    // to label sets under the canonical prune).
    "r27_pareto_factscale" -> { (s, dir) =>
      // rides r19's dual bucketed layout (build-once guard shared):
      // measured sf0.1 ~10.4 -> ~7.2 s vs the in-memory loop (the
      // residual is the label-set frames + per-round prune windows,
      // which the layout cannot elide)
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      Routing.paretoJourneys(byStop, factTripFares(s, dir), 0L, 0L,
          maxRounds = 6, warnOnTruncation = false, byTrip = byTrip)
        .orderBy(col("stop"), col("arr_t"), col("fare"))
    },

    // r30 — ISOCHRONE bands, the transit-product face of G6 ("what is
    // reachable within T?" — the query an OTP deployment renders as
    // rings on a map): earliest-arrival labels from the hub over the
    // SAME dual-bucketed at-rest layout r19 stages (zero extra staging,
    // zero fact-table shuffles per round), cut at a 1200-tick budget
    // and banded into 200-tick rings (the network's arrival spread is
    // 0..~1700 — a transfer-dense mesh reaches everything in a few
    // boardings) — per-ring reachable-stop counts and the ring's
    // arrival envelope. Oracle: r17's recursive walk + the same
    // banding.
    "r30_isochrone_bands" -> { (s, dir) =>
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      Routing.earliestArrival(byStop, 0L, 0L, maxRounds = 60,
          byTrip = byTrip)
        .filter(col("arr_t") <= 1200L)
        .withColumn("band", floor(col("arr_t") / 200L).cast("int"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_stops"),
          min(col("arr_t")).as("min_arr"), max(col("arr_t")).as("max_arr"))
        .orderBy(col("band"))
    },

    // r33 — JOURNEY RECONSTRUCTION: the RAPTOR family's labels turned
    // into LEGS (the OTP product shape — "board trip T at A, alight at
    // B, walk to C"), for EVERY reachable destination of the r22
    // network: the canonical parent forest (Routing.parentEvents — a
    // batch post-pass over the fixpoint labels, no pointer columns in
    // the loop) unrolled into per-destination itineraries. Oracle: the
    // r22 label chain, the SAME canonical tight-parent rule on the
    // final labels (path-independent by construction), and a recursive
    // backtrack — it never sees the engine's round structure.
    "r33_journey_forest" -> { (s, dir) =>
      Routing.journeyForestLegs(syntheticStopTimes(s, dir), "0", 0L,
          maxRounds = 40, transfers = Some(syntheticTransfers(s, dir)))
        .orderBy(col("dest"), col("leg_seq"))
    },

    // r34 — FARES ON PLANNER OUTPUT: r24 costs synthetic itineraries;
    // this costs the r33 journeys themselves — ride legs of every
    // destination's reconstructed itinerary (walking is free) through
    // gtfs.Fares.itineraryFares under a 5-fare tariff with transfer
    // allowances and expiry windows. The full planner→fare pipeline a
    // GTFS consumer runs: plan, reconstruct, price.
    "r34_planner_fares" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val forest = Routing.journeyForestLegs(syntheticStopTimes(s, dir),
        "0", 0L, maxRounds = 40,
        transfers = Some(syntheticTransfers(s, dir)))
      // ride legs only, re-numbered dense per itinerary (foot legs
      // carry no route and cost nothing under the tariff)
      val legs = forest.filter(col("kind") === "ride")
        .withColumn("ls", row_number().over(
          Window.partitionBy(col("dest")).orderBy(col("leg_seq"))))
        .select(col("dest").as("itin_id"), col("ls").as("leg_seq"),
          col("dep_t").as("board_t"), col("trip").as("route_id"))
      graft.gtfs.Fares.itineraryFares(legs, plannerFareRules(s, dir),
          plannerFareAttrs(s))
        .orderBy(col("itin_id"))
    },

    // r33 at FACT SCALE over the r19/r23 dual-bucketed layout: labels
    // from the at-rest transfer-aware loop (no fact-table shuffle per
    // round), then the parent pass probes the ~6M-row timetable twice
    // with the O(500) label set BROADCAST — journeys to all 500 stops,
    // one-shot joins, no loop beyond the O(depth) forest unroll.
    "r35_journey_forest_factscale" -> { (s, dir) =>
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      val xf = factTransfers(s, dir)
      val labels = Routing.earliestArrival(byStop, 0L, 0L, maxRounds = 40,
        transfers = Some(xf), byTrip = byTrip)
      // staged-copy parent probes measured and REJECTED (see the r40
      // adjudication: paired-flat; 6.35 -> 6.59 here)
      Routing.journeyForestFromLabels(factStopTimes(s, dir), labels,
          0L, transfers = Some(xf))
        .orderBy(col("dest"), col("leg_seq"))
    },

    "r01_bfs_hops" -> { (s, dir) =>
      // 25-node synthetic graph: fits in one partition, so the Pregel
      // edge layout would only add per-round task fan-out (see bfsHops)
      Routing.bfsHops(syntheticEdges(s, dir), "0", maxIter = 25,
          prePartitionEdges = false)
        .orderBy(col("node"))
    },

    // Frontier BFS at fact-table scale (the measured evidence that the
    // iterative loop shape holds beyond the 25-node synthetic graph).
    // The 10-hop bound is BY DESIGN (the oracle mirrors `hops < 10`), so
    // the truncation warning is suppressed — it must stay meaningful for
    // loops where hitting maxIter means wrong results.
    "r03_bfs_trade_graph" -> { (s, dir) =>
      // V bounded by dim-table cardinality (see r07) -> the peak
      // frontier satisfies the broadcast contract (Routing.bfsHops doc).
      // Long node ids + no distinct (tradeEdgesLong doc) — the loop runs
      // on integers; the string labels the oracle compares are restored
      // in one V-sized projection at the end.
      Routing.bfsHops(tradeEdgesLong(s, dir, dedup = false),
          tradeSourceLong(s, dir), maxIter = 10,
          warnOnTruncation = false, broadcastFrontier = true)
        .select(decodeTradeNode(col("node")).as("node"), col("hops"))
        .orderBy(col("node"))
    },

    // Connected components on the FULL trade graph via the dupClusters
    // frontier loop — the ~12M-edge scale run — now HASH-ORACLED through
    // seed-sampled reachability (round-10 demand #7): all-pairs
    // reachability is intractable for DuckDB on a 16k-node main
    // component, but an UNBOUNDED per-seed reachability CTE is frontier-
    // based and tractable, so the check projects the full CC labeling
    // onto 4 deterministic extremal seeds (min/max customer, min/max
    // supplier): (seed, its component's min-id label, its component
    // size). The engine still computes EVERY label — only the checked
    // projection is sampled. Long node ids (tradeEdgesLong encoding:
    // numeric min-label replaces lexicographic, mirrored by the oracle).
    "r04_cc_trade_graph" -> { (s, dir) =>
      val t = Tables(s, dir)
      val p = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("ca"),
          (col("l_suppkey").cast("long") * 2 + 1).as("cb"))
        .distinct()
      // distinct (even, odd) pairs under least/greatest stay distinct
      // with a < b strict → canonical
      val pairs = p.select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"))
      // spark.graft.checkpoint.dir routes reliable per-round checkpoints
      // into the fixed (SparkSession, dir) query signature — the cluster
      // deployment mode (executor loss mid-iteration survives); unset =
      // localCheckpoint, the single-node default.
      val lab = graft.operators.Dedup.dupClusters(pairs,
        pairsCanonical = true,
        checkpointDir = s.conf.getOption("spark.graft.checkpoint.dir"),
        broadcastFrontier = true) // V bounded by dim tables, see r07
      val sizes = lab.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"))
      val or = t.orders.agg(min(col("o_custkey")).cast("long"),
        max(col("o_custkey")).cast("long")).collect()(0)
      val li = t.lineitem.agg(min(col("l_suppkey")).cast("long"),
        max(col("l_suppkey")).cast("long")).collect()(0)
      val seedIds = Seq(2 * or.getLong(0), 2 * or.getLong(1),
        2 * li.getLong(0) + 1, 2 * li.getLong(1) + 1).distinct
      import s.implicits._
      seedIds.toDF("seed_id")
        .join(lab, col("seed_id") === lab("member"))
        .join(sizes, Seq("cluster"))
        .select(decodeTradeNode(col("seed_id")).as("seed"),
          decodeTradeNode(col("cluster")).as("cluster"),
          col("n_members"))
        .orderBy(col("seed"))
    },

    // The ORACLE-CHECKED companion to r04: connected components through
    // the same dupClusters loop, on a key-bounded slice of the trade
    // graph (custkey ≤ 40, suppkey ≤ 20 → ≤ ~60 nodes at every SF), so
    // the d06 recursive-CTE all-pairs-reachability oracle is tractable.
    // r04 stays as the ~600k-edge scale run; this pins the loop's
    // cluster/rollup semantics on fact-table-derived data.
    "r05_cc_subgraph" -> { (s, dir) =>
      val t = Tables(s, dir)
      val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_custkey") <= 40 && col("l_suppkey") <= 20)
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      // distinct with "c…" < "s…" on every row → canonical; ≤ ~60 nodes
      // BY DESIGN, so skip the Pregel edge layout (see bfsHops)
      graft.operators.Dedup.dupClusters(pairs, pairsCanonical = true,
        prePartitionEdges = false)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("cluster"))
    },

    // r28 — STRONGLY connected components: the directed-graph primitive
    // none of the undirected family (r04/r05 CC, r10 k-core, r13 LPA)
    // can express — mutual reachability. The digraph is value-driven
    // and SF-stable: nodes are (order-quarter band, key residue);
    // returned items ('R') edge WITHIN their quarter band — low-quantity
    // c→s, high-quantity s→c, so every band closes cycles — while kept
    // items edge one way into the NEXT quarter's band (Q4's excluded:
    // no wrap), so bands chain acyclically. Result: 4 nontrivial band
    // SCCs plus stragglers at every SF (an absolute key
    // bound would starve at sf0.1 — key ranges scale with SF; residues
    // don't), small enough that the all-pairs mutual-reachability
    // oracle stays tractable. The engine runs the forward-backward
    // coloring loop (graph/Scc.scala — trim, forward min-color
    // fixpoint, backward mark, settle; Orzan/Fleischer et al.), which
    // the band chain genuinely exercises: band labels are
    // anti-aligned with the chain direction (upstream quarters carry
    // LARGER band ids), so every band's min is its own color root and
    // all four SCCs settle in one outer round — the coloring scheme's
    // best case, an honest pivot-order lever (label-based SCC is
    // otherwise sequential along a condensation chain whose upstream
    // holds the global min; SccSpec pins that adversarial order).
    "r28_scc_subgraph" -> { (s, dir) =>
      graft.graph.Scc.scc(bandedDigraph(s, dir), prePartitionEdges = false)
        .groupBy(col("scc"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("scc"))
    },

    // r36 — SCC on a SCALE-ADAPTIVE digraph (the r28 graph is
    // SF-invariant by design; this one GROWS): nodes = hashed
    // orderkeys mod nn (nn = 8·max(|orders|/400, 8) — ~50 rows per
    // residue keeps every node present w.h.p. at every SF, the r10
    // sizing doctrine), 8 nodes per BLOCK, each block wiring two
    // 3-cycles (A: r0→r1→r2→r0; B: r3→r4→r5→r3), a value-driven
    // bridge A→B (orderkeys ≡0 mod 3 landing on r1 emit r1→r3), and a
    // tail r6→r7→B. SCC COUNT therefore grows linearly with SF
    // (2 cycles + 2 singletons per block: ~1500 components at sf0.1,
    // ~15k at sf1) while every component stays O(1)-sized — so the
    // all-pairs mutual-reachability oracle stays tractable (reach is
    // block-local, ≤8 rows per node) and the coloring loop faces a
    // V-scale frame with thousands of PARALLEL color roots, settling
    // in ~2 outer rounds at every SF (A marks behind its own min;
    // B recolors after A settles) — the parallel regime FW-BW
    // coloring is built for, now measured on growing structure.
    "r36_scc_scaled" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      val nn = 8L * math.max(o.count() / 400, 8L)
      val h0 = o.select(col("o_orderkey"),
        (graft.functions.text.saltedHash32(
          col("o_orderkey").cast("string"), 1) % nn).cast("long").as("n"))
      val r = col("n") % 8
      val blockBase = col("n") - r
      val ring = h0.select(col("n").as("src"),
        when(r === 2 || r === 5, col("n") - 2)
          .when(r === 7, blockBase + 3)
          .otherwise(col("n") + 1).as("dst"))
      val bridge = h0.filter(col("o_orderkey") % 3 === 0 && r === 1)
        .select(col("n").as("src"), (blockBase + 3).as("dst"))
      graft.graph.Scc.scc(ring.unionByName(bridge))
        .groupBy(col("scc"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("scc"))
    },

    // r37 — RANDOM-WALK CORPUS GENERATION (graph/Walks — DeepWalk-class
    // truncated walks as training sequences, the graph→tokenizer
    // bridge): 8-step walks over the fact-scale trade graph from a
    // bounded seed panel (customers ≤ 25), each step a DETERMINISTIC
    // hash draw (argmin of saltedHash32("walk:step:candidate") — the
    // p16 A-Res doctrine) so the oracle replays the exact corpus as an
    // unrolled per-step argmin chain. State = one row per live walk;
    // per-round shuffle O(walks·degree), never O(E) state.
    "r37_random_walks" -> { (s, dir) =>
      val seeds = Tables(s, dir).orders
        .filter(col("o_custkey") <= 25)
        .select(col("o_custkey")).distinct()
        .select(concat(lit("w"), col("o_custkey")).as("walk_id"),
          (col("o_custkey").cast("long") * 2).as("node"))
      graft.graph.Walks.randomWalks(tradeEdgesLong(s, dir, dedup = false),
          seeds, len = 8)
        .orderBy(col("walk_id"), col("step"))
    },

    // r39 — SKIP-GRAM CO-OCCURRENCE COUNTS over the r37 walk corpus
    // (Walks.skipGramCounts — the word2vec training-pair face DeepWalk
    // feeds its walks into): pairs generated INSIDE each sequence's
    // array (nested transform over forward slices — no self-join), the
    // only shuffle the output-sized (center, context) count. Oracle:
    // the r37 chain's step rows self-joined on (walk, step distance ≤
    // window), both directions.
    "r39_skipgram_counts" -> { (s, dir) =>
      val seeds = Tables(s, dir).orders
        .filter(col("o_custkey") <= 25)
        .select(col("o_custkey")).distinct()
        .select(concat(lit("w"), col("o_custkey")).as("walk_id"),
          (col("o_custkey").cast("long") * 2).as("node"))
      val seqs = graft.graph.Walks.walkSequences(
        tradeEdgesLong(s, dir, dedup = false), seeds, len = 8)
      graft.graph.Walks.skipGramCounts(seqs, window = 3)
        .orderBy(col("center"), col("context"))
    },

    // r41 — SGNS/PPMI TRAINING-PAIR WEIGHTS over the r39 counts
    // (Walks.ppmiPairs — Levy & Goldberg 2014: SGNS factorizes the
    // shifted-PMI matrix; the explicit positive part trains on
    // positive-PMI pairs): the exact rational PMI ratio in basis
    // points, DECIMAL(38,0) arithmetic, PMI ≤ 0 rows dropped. The
    // graph→embedding bridge's weighting step: walks → windows →
    // counts → training weights, all hash-oracle-able. Every frame
    // after the counts is output-sized (marginal aggs + key joins);
    // the corpus is never re-scanned.
    "r41_sgns_ppmi" -> { (s, dir) =>
      val seeds = Tables(s, dir).orders
        .filter(col("o_custkey") <= 25)
        .select(col("o_custkey")).distinct()
        .select(concat(lit("w"), col("o_custkey")).as("walk_id"),
          (col("o_custkey").cast("long") * 2).as("node"))
      val seqs = graft.graph.Walks.walkSequences(
        tradeEdgesLong(s, dir, dedup = false), seeds, len = 8)
      graft.graph.Walks.ppmiPairs(
          graft.graph.Walks.skipGramCounts(seqs, window = 3))
        .orderBy(col("center"), col("context"))
    },

    // r42 — node2vec-CLASS BIASED WALKS (Walks.biasedWalks — Grover &
    // Leskovec 2016): the r37 sampler conditioned on the PREVIOUS
    // node. Return penalty 2·10⁴ (p = 2), in-out penalty 5·10³
    // (q = 0.5 — the DFS-leaning setting), neutral 10⁴ for distance-1
    // candidates probed by one left join per round against the deduped
    // edge set. Same deterministic-draw doctrine as r37: the oracle
    // replays the per-step scaled-rank argmin with the same adjacency
    // probe, so the whole biased corpus hash-matches.
    "r42_node2vec_walks" -> { (s, dir) =>
      val seeds = Tables(s, dir).orders
        .filter(col("o_custkey") <= 25)
        .select(col("o_custkey")).distinct()
        .select(concat(lit("w"), col("o_custkey")).as("walk_id"),
          (col("o_custkey").cast("long") * 2).as("node"))
      graft.graph.Walks.biasedWalks(tradeEdgesLong(s, dir, dedup = false),
          seeds, len = 8, returnBp = 20000, inoutBp = 5000)
        .orderBy(col("walk_id"), col("step"))
    },

    // r43 — DETERMINISTIC NEGATIVE SAMPLING over the r39 counts
    // (Walks.negativeSamples — Mikolov et al. 2013: k noise draws per
    // center from unigram^(3/4)): exact integer inverse-CDF over the
    // isqrt-composed weight table, draws bucket-equi-joined to their
    // covering segment (never a corpus-scale range join). With r41
    // this completes the SGNS training-pair corpus: positives weighted
    // by PPMI, negatives from the noise table, all hash-oracle-able.
    "r43_sgns_negatives" -> { (s, dir) =>
      val seeds = Tables(s, dir).orders
        .filter(col("o_custkey") <= 25)
        .select(col("o_custkey")).distinct()
        .select(concat(lit("w"), col("o_custkey")).as("walk_id"),
          (col("o_custkey").cast("long") * 2).as("node"))
      val seqs = graft.graph.Walks.walkSequences(
        tradeEdgesLong(s, dir, dedup = false), seeds, len = 8)
      graft.graph.Walks.negativeSamples(
          graft.graph.Walks.skipGramCounts(seqs, window = 3), k = 5)
        .orderBy(col("center"), col("j"))
    },

    // r45 — EXPLICIT SGNS FACTORIZATION (Walks.ppmiPowerEmbed — Levy
    // & Goldberg 2014: SGNS implicitly factorizes the shifted-PMI
    // matrix; the explicit counterpart factorizes PPMI directly):
    // 3 rounds of exact-integer subspace power iteration over the r41
    // PPMI matrix, 4 deterministically-seeded dimensions, per-dim
    // basis-point rescale after every multiply. Closes the
    // graph→embedding arc end to end — walks → windows → counts →
    // PPMI weights → node EMBEDDINGS — with every step
    // hash-oracle-able. Each round is one join+agg matvec (the
    // bfsHops shuffle shape, dims·8-byte state per node); the maxes
    // are 1-row broadcast frames.
    "r45_ppmi_power_embed" -> { (s, dir) =>
      val seeds = Tables(s, dir).orders
        .filter(col("o_custkey") <= 25)
        .select(col("o_custkey")).distinct()
        .select(concat(lit("w"), col("o_custkey")).as("walk_id"),
          (col("o_custkey").cast("long") * 2).as("node"))
      val seqs = graft.graph.Walks.walkSequences(
        tradeEdgesLong(s, dir, dedup = false), seeds, len = 8)
      graft.graph.Walks.ppmiPowerEmbed(
          graft.graph.Walks.ppmiPairs(
            graft.graph.Walks.skipGramCounts(seqs, window = 3)),
          dims = 4, iters = 3)
        .orderBy(col("node"))
    },

    // r29 — the CONDENSATION DAG layered by longest path: collapse the
    // r28 digraph to its SCC quotient (always a DAG), then topological
    // layers (layer 0 = no incoming edge; else 1 + max predecessor) —
    // the batch schedule every DAG execution/critical-path analysis
    // needs, and the reason SCC is the precondition for DAG analytics
    // on arbitrary directed data. Frontier max-relaxation
    // (Scc.dagLayers); the quarter-band chain gives a real 4-deep
    // layering, not a flat one.
    "r29_condensation_layers" -> { (s, dir) =>
      val e = bandedDigraph(s, dir)
      val labels = graft.graph.Scc.scc(e, prePartitionEdges = false)
      val cond = graft.graph.Scc.condensation(e, labels)
        .select(col("src_scc").as("src"), col("dst_scc").as("dst"))
      val layers = graft.graph.Scc.dagLayers(cond)
        .withColumnRenamed("node", "scc")
      labels.groupBy(col("scc"))
        .agg(count(lit(1)).as("n_members"))
        .join(layers, Seq("scc"), "left") // isolated SCCs: layer 0
        .select(col("scc"), col("n_members"),
          coalesce(col("layer"), lit(0)).as("layer"))
        .orderBy(col("scc"))
    },

    // The CLUSTER DEPLOYMENT mode of the frontier-BFS family — r03's
    // bucketed variant: same hop counts over the same trade graph, but
    // the edge frame is staged as a src-bucketed table first, so every
    // round's O(E) expansion side reads the bucket layout straight from
    // the metastore and NEVER shuffles — only the frontier moves, with
    // no V-fits-executor-memory contract (contrast r03's
    // broadcastFrontier). Staging sits behind the build-once guard (the
    // d17/s02 adjudicated pattern: the timed body measures the LOOP;
    // the one-time write amortizes over every frontier query after it)
    // but still runs inside the first call, so a corrupted bucket
    // layout would hash-mismatch the oracle. Bucket count tracks the
    // measured round-partition lever (~128k rows/bucket, clamped to
    // session width) — the r08 lesson: rounds plan AT bucket width.
    "r15_bfs_trade_bucketed" -> { (s, dir) =>
      ensureTradeEdgesTable(s, dir)
      Routing.bfsHops(s.table("graft_trade_edges"), tradeSourceLong(s, dir),
          maxIter = 10, warnOnTruncation = false)
        .select(decodeTradeNode(col("node")).as("node"), col("hops"))
        .orderBy(col("node"))
    },

    // r16 at FACT SCALE: the same RAPTOR loop over a lineitem-derived
    // timetable — trip = orderkey, seq = linenumber (unique, increasing
    // per order), stop = suppkey mod 500, time = (orderkey mod 1000)·100
    // + linenumber (strictly increasing along each trip). ~6M stop_time
    // rows at sf1 — the scale evidence that time-dependent routing
    // rides the frontier machinery, not a toy network. The oracle's
    // board→alight hops join seq-pairs DIRECTLY (b.seq > a.seq), so no
    // gapless-sequence assumption; integer stop ids stay undecoded.
    "r17_transit_factscale" -> { (s, dir) =>
      Routing.earliestArrival(factStopTimes(s, dir), 0L, 0L, maxRounds = 60)
        .orderBy(col("stop"))
    },

    // r17's own named lever (VERDICT r11): the SAME fact-scale RAPTOR
    // run over the dual stop-/trip-bucketed at-rest layout — the
    // in-memory loop re-exchanges the ~6M-row timetable twice per round
    // for ~60 rounds; here neither fact-table side ever shuffles, only
    // the frontier/board/candidate frames (round-output-sized) move.
    // Staging sits behind the build-once guard (the r15 pattern: the
    // timed body measures the LOOP; the one-time dual write amortizes
    // over every journey query after it) but runs inside the first
    // call, so a corrupted bucket layout would hash-mismatch the oracle.
    "r19_transit_bucketed" -> { (s, dir) =>
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      Routing.earliestArrival(byStop, 0L, 0L, maxRounds = 60,
          byTrip = byTrip)
        .orderBy(col("stop"))
    },

    // r22 at FACT SCALE: the r17 timetable (~6M rows at sf1) plus 200
    // footpath rules ([[factTransfers]]) — the scale evidence that the
    // transfer leg rides the frontier machinery: the footpath join is a
    // broadcast of a dimension-sized rule set against the round's
    // frontier (never the timetable), so per-round cost is unchanged
    // except the rule fan-out. Oracle: the r22-style MATERIALIZED stage
    // chain (the recursive walk of r17's mirror cannot carry footpath
    // edges — arr+mtt generates unboundedly increasing rows); 14 stages
    // = measured engine fixpoint 11 (RoundProbe, sf0.1 AND sf1; 3 at
    // sf0.001, 7 at sf0.01) + margin, and the merged-label chain
    // converges at least as fast as the frontier loop.
    "r23_transit_transfers_factscale" -> { (s, dir) =>
      // rides the SAME dual-bucketed layout r19 stages (build-once
      // guard shared): the transfer leg only ever joins the frontier,
      // so the bucketed elision of both fact-table probes carries over
      // unchanged — measured sf0.1 ~10.5 → ~5.5 s vs the in-memory loop
      val (byStop, byTrip) = stopTimesAtRest(s, dir)
      Routing.earliestArrival(byStop, 0L, 0L, maxRounds = 40,
          transfers = Some(factTransfers(s, dir)), byTrip = byTrip)
        .orderBy(col("stop"))
    },

    // GTFS FARE COSTING at fact scale (gtfs/Fares.itineraryFares — the
    // query capability behind the K5 pass-through fare tables; FaresSpec
    // pins the reference's own 7-fare tariff by hand): each order is an
    // itinerary (legs = line items, dense seq, strictly increasing
    // board times), the tariff is a 25-fare / 80-rule synthetic with
    // mixed allowances (null = unlimited, 0 = none, finite) and expiry
    // windows. Both fare lookups ride broadcasts; the fact side pays
    // exactly two exchanges — the leg-key distinct and the itinerary
    // window (the fold's groupBy REUSES the window's itin partitioning,
    // plan-verified: ObjectHashAggregate sits exchange-free on it) —
    // and the fold is an aggregate HOF over journey-length arrays.
    // Oracle: a recursive leg-walk carrying the
    // (active fare, purchase time, allowance) state — one row per leg,
    // single-successor recursion, no blowup.
    "r24_itinerary_fares" -> { (s, dir) =>
      graft.gtfs.Fares.itineraryFares(factLegs(s, dir),
          factFareRules(s), factFareAttrs(s))
        .orderBy(col("itin_id"))
    },

    "r02_sssp_distances" -> { (s, dir) =>
      // Weighted SSSP — oracled against a hop-bounded recursive-CTE walk
      // with min-dist aggregation (shortest paths are simple, so ≤24 hops
      // covers every optimum on the 25-node graph).
      Routing.sssp(syntheticEdges(s, dir), "0", maxIter = 25,
          prePartitionEdges = false) // one-partition graph, see r01
        .select(col("node"), round(col("dist_m"), 6).as("dist"))
        .orderBy(col("node"))
    },

    // Integer PageRank (graph.Ranking): hash-matched against a DuckDB
    // mirror of the exact fixed-point recurrence — the loop semantics
    // are fully oracled, unlike float PageRank (sum-order drift).
    "r06_pagerank" -> { (s, dir) =>
      // 25-node graph: the rank frame trivially fits the broadcast
      // contract (see Ranking.pageRank scaladoc)
      Ranking.pageRank(syntheticEdges(s, dir), iters = 10,
          broadcastRanks = true)
        .orderBy(col("node"))
    },

    // The fact-scale run: rank the bipartite customer–supplier trade
    // graph (~600k directed edges at sf0.1) — the domain-weighting
    // shape a crawl pipeline runs. Fewer rounds: rank pipelines use a
    // fixed round budget, and each round here is a full-E shuffle.
    "r07_pagerank_trade" -> { (s, dir) =>
      // V = |customers| + |suppliers| — bounded by dim-table cardinality
      // (~16k at sf0.1, ~16 bytes/row), so the rank frame satisfies the
      // broadcast contract at any fact-table volume; the O(E) side never
      // shuffles per round. Long-id staging (the r03/r21 lesson: string
      // node ids dominated the per-round join at fact scale — r21
      // measured 23.9 → 11.1 s at sf1 from this change alone); labels
      // decode on the V-sized output only. dedup = true: degrees are
      // multiplicity-sensitive.
      Ranking.pageRank(tradeEdgesLong(s, dir, dedup = true), iters = 5,
          broadcastRanks = true)
        .select(decodeTradeNode(col("node")).as("node"), col("r"))
        .orderBy(col("node"))
    },

    // PERSONALIZED PageRank (Ranking.personalizedPageRank): random walk
    // with restart from ONE trusted seed (the smallest ordering
    // customer) over the same fact-scale trade graph as r07 — the
    // "relevance to known-good sources" weighting a curation pipeline
    // runs next to global rank. Same per-round shuffle shape as r07
    // (the is_seed flag rides the staged node frame at zero per-round
    // cost); nodes outside the seed's 5-hop ball report 0.
    "r21_ppr_trade" -> { (s, dir) =>
      // long-id staging (the r03 lesson: string node ids were the whole
      // per-round join cost at fact scale — 23.9 → ~15 s at sf1);
      // dedup = true: PageRank degrees are multiplicity-sensitive.
      // Output decodes back to the reference labels in one V-sized
      // projection.
      Ranking.personalizedPageRank(tradeEdgesLong(s, dir, dedup = true),
          seeds = s.range(1).select(lit(tradeSourceLong(s, dir))
            .cast("long").as("node")),
          iters = 5, broadcastRanks = true)
        .select(decodeTradeNode(col("node")).as("node"), col("r"))
        .orderBy(col("node"))
    },

    // The cluster deployment mode (Ranking.pageRankOnTable): identical
    // integer recurrence over a src-bucketed edge table, where the
    // O(E) side provably never shuffles per round (RankingSpec pins the
    // plan property). The bucketed WRITE is part of the query — like
    // s02, a corrupted bucket layout would hash-mismatch the oracle.
    "r08_pagerank_bucketed" -> { (s, dir) =>
      Ranking.writeBucketedEdges(syntheticEdges(s, dir),
        "graft_rank_edges", buckets = 4)
      Ranking.pageRankOnTable(s, "graft_rank_edges", iters = 10)
        .orderBy(col("node"))
    },

    // Triangle counting (graph.Triangles: degree-ordered orientation,
    // O(m^1.5) wedge bound) on a md5-mixed Erdős–Rényi-style graph
    // over 3000 nodes with one edge per order row — |E| scales with
    // the fact table (≈1.5k/14k/140k draws at sf0.001/0.01/0.1), so
    // the triangle density sweeps sparse → dense across SFs while V
    // stays fixed. Per-node participation counts; found-once-per-
    // triangle semantics pinned by TrianglesSpec.
    "r09_triangle_counts" -> { (s, dir) =>
      val edges = Tables(s, dir).orders
        .select(col("o_orderkey").cast("string").as("k"))
        .select(
          (graft.functions.text.saltedHash32(col("k"), 1) % 3000)
            .cast("int").as("src"),
          (graft.functions.text.saltedHash32(col("k"), 2) % 3000)
            .cast("int").as("dst"))
      Triangles.triangleCounts(edges).orderBy(col("node"))
    },

    // k-core (k=7) of a hashed order graph — iterative peel to fixpoint
    // (graph/Cores doc has the per-round O(E) shape). The graph is
    // SCALE-ADAPTIVE: node count = |orders|/35 keeps average degree ~10
    // at every SF, so the peel has real structure everywhere (a fixed
    // modulus makes the graph complete at sf0.1 and dust at sf0.001).
    // The |orders| count is one metadata-scale action — at 100 TB a
    // COUNT(*) over a columnar table is a stats read, not a scan. The
    // oracle replays the peel as a recursive CTE carrying the alive
    // set as a LIST, with UNION dedup as the fixpoint brake.
    "r10_kcore_members" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      val nn = math.max(o.count() / 35, 8L)
      val e0 = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").cast("string").as("k"))
        .select(
          (graft.functions.text.saltedHash32(col("k"), 1) % nn)
            .cast("int").as("s"),
          (graft.functions.text.saltedHash32(col("k"), 2) % nn)
            .cast("int").as("t"))
      val canon = e0.filter(col("s") =!= col("t"))
        .select(least(col("s"), col("t")).as("a"),
          greatest(col("s"), col("t")).as("b"))
        .distinct()
      val sym = canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst")))
      Cores.kCore(sym, k = 7,
          checkpointDir = s.conf.getOption("spark.graft.checkpoint.dir"))
        .orderBy(col("node"))
    },

    // WEIGHTED PageRank on the trade graph: edge weight = line items
    // traded between the pair, so rank follows trade VOLUME, not mere
    // adjacency (Ranking.pageRankWeighted doc — same exact-integer
    // fixed point and shuffle shape as r07, contributions (r·w)/Σw).
    "r14_weighted_pagerank" -> { (s, dir) =>
      // long-id staging, as r07/r21: the weighted aggregation groups on
      // the long keys directly (cheaper hash+shuffle than 'c123'
      // strings); labels decode on the V-sized output only
      val t = Tables(s, dir)
      val p = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      val sym = p.unionByName(p.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      Ranking.pageRankWeighted(sym, iters = 5, broadcastRanks = true)
        .select(decodeTradeNode(col("node")).as("node"), col("r"))
        .orderBy(col("node"))
    },

    // Community detection: 4 synchronous LPA rounds over the full
    // trade graph (~600k directed edges at sf0.1), reported as
    // community sizes (Communities.labelPropagation doc: fixed rounds
    // + total tiebreak = engine-replayable determinism; per-round
    // argmax is a reducible min(struct) aggregate, no window).
    "r13_lpa_communities" -> { (s, dir) =>
      // tradeEdgesLong with dedup = true (LPA's duplicate-free contract;
      // numeric tie-break mirrored by the oracle in the same encoding);
      // labels decode to the reference strings on the output only
      Communities.labelPropagation(tradeEdgesLong(s, dir, dedup = true),
          rounds = 4,
          checkpointDir = s.conf.getOption("spark.graft.checkpoint.dir"),
          broadcastLabels = true) // V bounded by dim tables, see r07
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"))
        .select(decodeTradeNode(col("label")).as("label"),
          col("n_members"))
        .orderBy(col("label"))
    },

    // r13's cluster-deployment mode: the SAME 4-round LPA over a
    // frame of the dst-bucketed at-rest edge table (labelPropagation
    // reads it at rest) — no
    // V-fits-in-memory contract (contrast r13's broadcastLabels, the
    // r07 doctrine): the O(E) side of every round's label join reads
    // the bucket layout from the metastore and never exchanges, at any
    // V. Same oracle as r13 — identical labels, different plan.
    "r20_lpa_bucketed" -> { (s, dir) =>
      ensureLpaEdgesTable(s, dir)
      Communities.labelPropagation(s.table("graft_trade_edges_dst"),
          rounds = 4,
          checkpointDir = s.conf.getOption("spark.graft.checkpoint.dir"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"))
        .select(decodeTradeNode(col("label")).as("label"),
          col("n_members"))
        .orderBy(col("label"))
    },

    // Bipartite projection: the supplier co-purchase graph — supplier
    // pairs weighted by distinct shared customers, hub customers (> 35
    // distinct suppliers) dropped before the quadratic self-join
    // (Projection doc: a left node shared by everyone is the bipartite
    // stopword; the cap bounds the join at C(35,2) pairs per customer).
    "r12_copurchase_projection" -> { (s, dir) =>
      val t = Tables(s, dir)
      // suppkeys are 32-bit at any realistic SF (10k·SF) — the int cast
      // selects the operator's packed-pair aggregation path; results
      // are cast back to long for the oracle's BIGINT columns
      val edges = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_suppkey").cast("int").as("l_suppkey"))
      Projection.bipartiteProject(edges, "o_custkey", "l_suppkey",
          maxDeg = 35)
        .select(col("r1").cast("long").as("r1"),
          col("r2").cast("long").as("r2"), col("weight"))
        .orderBy(col("r1"), col("r2"))
    },

    // Seed-panel harmonic centrality: ONE multi-source BFS loop carries
    // all three waves (state keyed (seed, node) — the Eppstein-Wang
    // sampled-closeness shape), then per node the exact-integer rollup
    // harmonic_bp = Σ_{seeds at d>0} (10000 div d), n_reached = #seeds
    // with a finite positive distance. Unreached (seed, node) pairs
    // simply never enter the frame — no ∞ sentinel needed.
    "r11_harmonic_centrality" -> { (s, dir) =>
      val d = Routing.multiSourceBfsHops(syntheticEdges(s, dir),
        Seq("0", "7", "13"), maxIter = 25, prePartitionEdges = false)
      d.filter(col("hops") > 0)
        .groupBy(col("node"))
        .agg(count(lit(1)).cast("bigint").as("n_reached"),
          sum(expr("10000 div hops")).cast("bigint").as("harmonic_bp"))
        .orderBy(col("node"))
    }
  )

  /** Shared r13/r20 mirror: 4 non-recursive chained rounds, each the
    * definitional count-then-argmax (row_number form); l0 = every node
    * labels itself.
    */
  private lazy val lpaOracleSql: String = {
    val rounds = (1 to 4).map { i =>
      s"""n$i AS (
         |  SELECT pe.src, l${i - 1}.label, COUNT(*) AS c
         |  FROM pe JOIN l${i - 1} ON l${i - 1}.node = pe.dst
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT src AS node, label FROM (
         |    SELECT src, label, row_number() OVER (PARTITION BY src
         |      ORDER BY c DESC, label) AS rn FROM n$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |pe AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |l0 AS (SELECT DISTINCT dst AS node, dst AS label FROM pe),
       |$rounds
       |SELECT CASE WHEN label % 2 = 0 THEN 'c' || (label // 2)
       |            ELSE 's' || (label // 2) END AS label,
       |       COUNT(*) AS n_members FROM l4
       |GROUP BY 1 ORDER BY label""".stripMargin
  }

  /** DuckDB mirror of [[graft.graph.Ranking.pageRank]]: an unrolled CTE
    * chain (aggregates are not allowed in a recursive term), one CTE per
    * round, same integer ops — `//` is DuckDB's integer division, `div`
    * Spark's; SUM is cast back from HUGEINT to BIGINT.
    * `preCtes` must define e(src, dst).
    */
  private def pageRankSql(preCtes: String, iters: Int,
                          scale: Long = 1000000L): String = {
    val base = 15L * scale / 100
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST($base AS BIGINT) + (85 * COALESCE(f.inflow, 0)) // 100 AS r
         |  FROM (SELECT node FROM r0) n
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.r // deg.od) AS BIGINT) AS inflow
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |           JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) f ON f.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $preCtes,
       |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS r
       |       FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |$rounds
       |SELECT node, r FROM r$iters ORDER BY node""".stripMargin
  }

  /** Personalized variant of [[pageRankSql]]: initial mass and teleport
    * land only on the `seeds` CTE's nodes (expects `seeds(node)` in
    * preCtes).
    */
  private def pprSql(preCtes: String, iters: Int,
                     scale: Long = 1000000L): String = {
    val base = 15L * scale / 100
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST(CASE WHEN n.node IN (SELECT node FROM seeds)
         |              THEN $base ELSE 0 END AS BIGINT)
         |           + (85 * COALESCE(f.inflow, 0)) // 100 AS r
         |  FROM (SELECT node FROM r0) n
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.r // deg.od) AS BIGINT) AS inflow
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |           JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) f ON f.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $preCtes,
       |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
       |r0 AS (SELECT node,
       |         CAST(CASE WHEN node IN (SELECT node FROM seeds)
       |              THEN $scale ELSE 0 END AS BIGINT) AS r
       |       FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |$rounds
       |SELECT node, r FROM r$iters ORDER BY node""".stripMargin
  }

  /** Weighted variant of [[pageRankSql]]: contributions (r·w)//Σw. */
  private def pageRankWeightedSql(preCtes: String, iters: Int,
                                  scale: Long = 1000000L): String = {
    val base = 15L * scale / 100
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST($base AS BIGINT) + (85 * COALESCE(f.inflow, 0)) // 100 AS r
         |  FROM (SELECT node FROM r0) n
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |           CAST(SUM((p.r * e.w) // ws.wsum) AS BIGINT) AS inflow
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |           JOIN ws ON ws.src = e.src
         |    GROUP BY e.dst) f ON f.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $preCtes,
       |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e
       |       GROUP BY src),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS r
       |       FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |$rounds
       |SELECT node, r FROM r$iters ORDER BY node""".stripMargin
  }

  /** SQL mirror of [[syntheticStopTimes]] — shared by r16/r18. */
  private val stopTimesSql: String =
    """st AS (
      |  SELECT 't' || n_nationkey AS trip, j AS seq,
      |         CAST(CASE WHEN j = 0 THEN n_nationkey
      |                   WHEN j = 1 THEN (n_nationkey*7+3)%25
      |                   ELSE (n_nationkey*11+5)%25 END AS VARCHAR) AS stop,
      |         CAST(n_nationkey*100 + j*((n_nationkey%5+1)*10) AS BIGINT) AS t
      |  FROM nation, (VALUES (0),(1),(2)) v(j)
      |  UNION ALL
      |  SELECT 'u' || n_nationkey, j,
      |         CAST(CASE WHEN j = 0 THEN (n_nationkey*11+5)%25
      |                   WHEN j = 1 THEN (n_nationkey*7+3)%25
      |                   ELSE n_nationkey END AS VARCHAR),
      |         CAST(n_nationkey*100 + 50 + j*((n_nationkey%3+1)*10) AS BIGINT)
      |  FROM nation, (VALUES (0),(1),(2)) v(j))""".stripMargin

  /** Unrolled round-label chain mirroring [[graft.graph.Routing
    * .arrivalProfile]]: lab_k = min(lab_{k-1}, one boarding from any
    * lab_{k-1} stop riding to any LATER position of the trip), emitted
    * as each stage's strict improvements. Segments (seq < seq'), not
    * consecutive connections: a ride across several positions must
    * stay ONE boarding per round (the fixpoint walk of r16 may chain
    * freely — per-round labels may not).
    */
  private def arrivalProfileSql(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""lab$i AS (
         |  SELECT stop, MIN(t) AS arr FROM (
         |    SELECT stop, arr AS t FROM lab${i - 1}
         |    UNION ALL
         |    SELECT s.ts, s.arr FROM seg s JOIN lab${i - 1} p
         |      ON s.fs = p.stop AND s.dep >= p.arr
         |  ) GROUP BY stop),
         |pk$i AS (
         |  SELECT k.stop, $i AS rounds, k.arr FROM lab$i k
         |  LEFT JOIN lab${i - 1} p ON k.stop = p.stop
         |  WHERE p.stop IS NULL OR k.arr < p.arr)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds)
      .map(i => s"SELECT * FROM pk$i").mkString("\n UNION ALL ")
    s"""WITH $stopTimesSql,
       |seg AS (
       |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
       |  FROM st a JOIN st b ON a.trip = b.trip AND a.seq < b.seq),
       |lab0 AS (SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr),
       |$stages
       |SELECT stop, CAST(rounds AS INT) AS rounds, arr AS arr_t FROM (
       | SELECT '0' AS stop, 0 AS rounds, CAST(0 AS BIGINT) AS arr
       | UNION ALL $unions)
       |ORDER BY stop, rounds""".stripMargin
  }

  /** The transfer-aware PROFILE mirror — [[arrivalProfileSql]]'s stage
    * chain with the footpath relaxation added per stage, emitting each
    * stage's strict improvements. Stage-k improvements from the merged
    * labels EQUAL round-k frontier improvements (relaxing an unchanged
    * label re-produces candidates the earlier stage already min'd in —
    * the monotone argument r18's oracle rests on), so the per-round
    * slices hash-match, not just the fixpoint.
    */
  private def arrivalProfileTransfersSql(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""lab$i AS MATERIALIZED (
         |  SELECT stop, MIN(t) AS arr FROM (
         |    SELECT stop, arr AS t FROM lab${i - 1}
         |    UNION ALL
         |    SELECT s.ts, s.arr FROM seg s JOIN lab${i - 1} p
         |      ON s.fs = p.stop AND s.dep >= p.arr
         |    UNION ALL
         |    SELECT x.ts, p.arr + x.mtt FROM xf x JOIN lab${i - 1} p
         |      ON x.fs = p.stop
         |  ) GROUP BY stop),
         |pk$i AS (
         |  SELECT k.stop, $i AS rounds, k.arr FROM lab$i k
         |  LEFT JOIN lab${i - 1} p ON k.stop = p.stop
         |  WHERE p.stop IS NULL OR k.arr < p.arr)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds)
      .map(i => s"SELECT * FROM pk$i").mkString("\n UNION ALL ")
    s"""WITH $stopTimesSql,
       |seg AS MATERIALIZED (
       |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
       |  FROM st a JOIN st b ON a.trip = b.trip AND a.seq < b.seq),
       |xf0 AS (
       |  SELECT CAST((n_nationkey*3+1)%25 AS VARCHAR) AS fs,
       |         CAST((n_nationkey*9+4)%25 AS VARCHAR) AS ts,
       |         CAST((n_nationkey%4+1)*5 AS BIGINT) AS mtt FROM nation
       |  UNION ALL
       |  SELECT CAST((n_nationkey*9+4)%25 AS VARCHAR),
       |         CAST((n_nationkey*3+1)%25 AS VARCHAR),
       |         CAST((n_nationkey%4+1)*5 AS BIGINT) FROM nation),
       |xf AS (SELECT * FROM xf0 WHERE fs <> ts),
       |lab0 AS (SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr),
       |$stages
       |SELECT stop, CAST(rounds AS INT) AS rounds, arr AS arr_t FROM (
       | SELECT '0' AS stop, 0 AS rounds, CAST(0 AS BIGINT) AS arr
       | UNION ALL $unions)
       |ORDER BY stop, rounds""".stripMargin
  }

  /** Unrolled label-correction chain with BOTH relaxations per stage —
    * within-trip segments (one boarding) and footpaths
    * (+min_transfer_time) — mirroring the transfer-aware fixpoint of
    * [[graft.graph.Routing.earliestArrival]]. Stages run past the
    * fixpoint; only the final stage's labels are emitted (both sides
    * compute the same monotone fixpoint, so extra stages are no-ops).
    */
  private def earliestArrivalTransfersSql(stages: Int): String = {
    // AS MATERIALIZED: each stage references its predecessor three
    // times (carry + ride + footpath); inlining re-expands the chain
    // 3^stages-fold and blows the fd limit (the r18 cap lesson, worse
    // here) — materialization keeps it linear.
    val chain = (1 to stages).map { i =>
      s"""lab$i AS MATERIALIZED (
         |  SELECT stop, MIN(t) AS arr FROM (
         |    SELECT stop, arr AS t FROM lab${i - 1}
         |    UNION ALL
         |    SELECT s.ts, s.arr FROM seg s JOIN lab${i - 1} p
         |      ON s.fs = p.stop AND s.dep >= p.arr
         |    UNION ALL
         |    SELECT x.ts, p.arr + x.mtt FROM xf x JOIN lab${i - 1} p
         |      ON x.fs = p.stop
         |  ) GROUP BY stop)""".stripMargin
    }.mkString(",\n")
    s"""WITH $stopTimesSql,
       |seg AS MATERIALIZED (
       |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
       |  FROM st a JOIN st b ON a.trip = b.trip AND a.seq < b.seq),
       |xf0 AS (
       |  SELECT CAST((n_nationkey*3+1)%25 AS VARCHAR) AS fs,
       |         CAST((n_nationkey*9+4)%25 AS VARCHAR) AS ts,
       |         CAST((n_nationkey%4+1)*5 AS BIGINT) AS mtt FROM nation
       |  UNION ALL
       |  SELECT CAST((n_nationkey*9+4)%25 AS VARCHAR),
       |         CAST((n_nationkey*3+1)%25 AS VARCHAR),
       |         CAST((n_nationkey%4+1)*5 AS BIGINT) FROM nation),
       |xf AS (SELECT * FROM xf0 WHERE fs <> ts),
       |lab0 AS (SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr),
       |$chain
       |SELECT stop, arr AS arr_t FROM lab$stages ORDER BY stop""".stripMargin
  }

  /** The toy footpath-rule CTE pair (mirrors [[syntheticTransfers]]) —
    * shared by the r22/r25 oracles' inline copies and the journey stack.
    */
  private val toyXfSql: String =
    """xf0 AS (
      |  SELECT CAST((n_nationkey*3+1)%25 AS VARCHAR) AS fs,
      |         CAST((n_nationkey*9+4)%25 AS VARCHAR) AS ts,
      |         CAST((n_nationkey%4+1)*5 AS BIGINT) AS mtt FROM nation
      |  UNION ALL
      |  SELECT CAST((n_nationkey*9+4)%25 AS VARCHAR),
      |         CAST((n_nationkey*3+1)%25 AS VARCHAR),
      |         CAST((n_nationkey%4+1)*5 AS BIGINT) FROM nation),
      |xf AS (SELECT * FROM xf0 WHERE fs <> ts)""".stripMargin

  /** The fact-scale timetable + footpath CTEs (mirror [[factStopTimes]]
    * / [[factTransfers]]) — shared by the r23/r32 oracles' inline
    * copies and the r35 journey stack.
    */
  private val factStSql: String =
    """st AS (
      |  SELECT l_orderkey AS trip, l_linenumber AS seq,
      |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
      |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
      |  FROM lineitem)""".stripMargin

  private val factXfSql: String =
    """xf0 AS (SELECT CAST(s*5 AS BIGINT) AS fs,
      |               CAST((s*5*7+13)%500 AS BIGINT) AS ts,
      |               CAST(((s*5)%4+1)*10 AS BIGINT) AS mtt
      |        FROM range(100) r(s)),
      |xf AS (SELECT fs, ts, mtt FROM xf0
      |       UNION ALL SELECT ts, fs, mtt FROM xf0)""".stripMargin

  /** Shared CTE stack for the fact-scale McRAPTOR reconstruction
    * oracles (r40/r44): r32's EXACTLY-6-stage bounded label chain,
    * r38's canonical parent rule on the final front, and the recursive
    * backtrack keyed by the label TRIPLE. Callers append a final
    * SELECT over `walk` (dest triple, kind, from_stop, to_stop, trip,
    * dep_t, arr_t, fare) — or extend the WITH with more CTEs first.
    */
  private val paretoForestFactCtes: String = {
    val chain = (1 to 6).map { i =>
      s"""lab$i AS MATERIALIZED (
         |  SELECT stop, arr, fare FROM (
         |    SELECT stop, arr, fare,
         |           MIN(fare) OVER (PARTITION BY stop ORDER BY arr, fare
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |             AS pm
         |    FROM (SELECT DISTINCT stop, arr, fare FROM (
         |      SELECT stop, arr, fare FROM lab${i - 1}
         |      UNION ALL
         |      SELECT s.ts, s.arr, p.fare + ((s.trip % 3 + 1) * 100)
         |      FROM seg s JOIN lab${i - 1} p
         |        ON s.fs = p.stop AND s.dep >= p.arr
         |      UNION ALL
         |      SELECT x.ts, p.arr + x.mtt, p.fare
         |      FROM xf x JOIN lab${i - 1} p ON x.fs = p.stop)))
         |  WHERE pm IS NULL OR fare < pm)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $factStSql,
       |seg AS MATERIALIZED (
       |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
       |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
       |$factXfSql,
       |lab0 AS (SELECT CAST(0 AS BIGINT) AS stop, CAST(0 AS BIGINT) AS arr,
       |                CAST(0 AS BIGINT) AS fare),
       |$chain,
       |lab AS (SELECT stop, arr, fare FROM lab6),
       |pev AS (
       |  SELECT s.ts AS stop, lb.arr AS arr_t, lb.fare AS fare,
       |         0 AS k, 'ride' AS kind, s.fs AS from_stop,
       |         la.arr AS from_arr, la.fare AS from_fare,
       |         s.trip AS trip, s.dep AS dep_t
       |  FROM seg s
       |  JOIN lab la ON la.stop = s.fs AND s.dep >= la.arr
       |  JOIN lab lb ON lb.stop = s.ts AND lb.arr = s.arr
       |             AND lb.fare = la.fare + ((s.trip % 3 + 1) * 100)
       |  WHERE la.arr < lb.arr
       |  UNION ALL
       |  SELECT x.ts, lt.arr, lt.fare, 1, 'foot', x.fs, lf.arr,
       |         lf.fare, NULL, lf.arr
       |  FROM xf x
       |  JOIN lab lf ON lf.stop = x.fs
       |  JOIN lab lt ON lt.stop = x.ts AND lt.arr = lf.arr + x.mtt
       |             AND lt.fare = lf.fare),
       |parents AS MATERIALIZED (
       |  SELECT stop, arr_t, fare, kind, from_stop, from_arr,
       |         from_fare, trip, dep_t FROM (
       |    SELECT *, row_number() OVER (PARTITION BY stop, arr_t, fare
       |      ORDER BY k, from_stop, CAST(trip AS VARCHAR), dep_t) AS rn
       |    FROM pev
       |    WHERE NOT (stop = 0 AND arr_t = 0 AND fare = 0))
       |  WHERE rn = 1),
       |walk(dest_stop, dest_arr, dest_fare, kind, from_stop, to_stop,
       |     trip, dep_t, arr_t, fare, cs, ca, cf) AS (
       |  SELECT stop, arr_t, fare, kind, from_stop, stop, trip,
       |         dep_t, arr_t, fare, from_stop, from_arr, from_fare
       |  FROM parents
       |  UNION ALL
       |  SELECT w.dest_stop, w.dest_arr, w.dest_fare, p.kind,
       |         p.from_stop, p.stop, p.trip, p.dep_t, p.arr_t,
       |         p.fare, p.from_stop, p.from_arr, p.from_fare
       |  FROM walk w JOIN parents p ON p.stop = w.cs
       |    AND p.arr_t = w.ca AND p.fare = w.cf)""".stripMargin
  }

  /** Shared CTE stack for the journey-reconstruction oracles
    * (r33/r34/r35): the transfer-aware label chain run past the
    * fixpoint, then the SAME canonical tight-parent rule
    * [[graft.graph.Routing.parentEvents]] applies to the FINAL labels
    * (ride before foot, then from_stop, trip-as-string, dep_t — a pure
    * function of the fixpoint, so the oracle never mirrors the
    * engine's rounds), then a recursive backtrack unrolling every
    * destination's chain into legs. Callers append a final SELECT
    * over `walk` (dest, kind, from_stop, to_stop, trip, dep_t, arr_t).
    */
  private def journeyForestCtes(stCte: String, xfCtes: String,
                                lab0: String, stages: Int,
                                srcLit: String): String = {
    val chain = (1 to stages).map { i =>
      s"""lab$i AS MATERIALIZED (
         |  SELECT stop, MIN(t) AS arr FROM (
         |    SELECT stop, arr AS t FROM lab${i - 1}
         |    UNION ALL
         |    SELECT s.ts, s.arr FROM seg s JOIN lab${i - 1} p
         |      ON s.fs = p.stop AND s.dep >= p.arr
         |    UNION ALL
         |    SELECT x.ts, p.arr + x.mtt FROM xf x JOIN lab${i - 1} p
         |      ON x.fs = p.stop
         |  ) GROUP BY stop)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $stCte,
       |seg AS MATERIALIZED (
       |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
       |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
       |$xfCtes,
       |lab0 AS ($lab0),
       |$chain,
       |lab AS (SELECT stop, arr FROM lab$stages),
       |pev AS (
       |  SELECT s.ts AS stop, 0 AS k, 'ride' AS kind, s.fs AS from_stop,
       |         s.trip AS trip, s.dep AS dep_t, s.arr AS arr_t
       |  FROM seg s JOIN lab la ON la.stop = s.fs
       |             JOIN lab lb ON lb.stop = s.ts
       |  WHERE s.dep >= la.arr AND s.arr = lb.arr AND la.arr < lb.arr
       |  UNION ALL
       |  SELECT x.ts, 1, 'foot', x.fs, NULL, lf.arr, lt.arr
       |  FROM xf x JOIN lab lf ON lf.stop = x.fs
       |            JOIN lab lt ON lt.stop = x.ts
       |  WHERE lf.arr + x.mtt = lt.arr),
       |parents AS MATERIALIZED (
       |  SELECT stop, kind, from_stop, trip, dep_t, arr_t FROM (
       |    SELECT *, row_number() OVER (PARTITION BY stop
       |      ORDER BY k, from_stop, CAST(trip AS VARCHAR), dep_t) AS rn
       |    FROM pev WHERE stop <> $srcLit)
       |  WHERE rn = 1),
       |walk(dest, kind, from_stop, to_stop, trip, dep_t, arr_t, cur) AS (
       |  SELECT stop, kind, from_stop, stop, trip, dep_t, arr_t, from_stop
       |  FROM parents
       |  UNION ALL
       |  SELECT w.dest, p.kind, p.from_stop, p.stop, p.trip, p.dep_t,
       |         p.arr_t, p.from_stop
       |  FROM walk w JOIN parents p ON p.stop = w.cur)""".stripMargin
  }

  private val journeyForestSelect: String =
    """SELECT dest, CAST(row_number() OVER (PARTITION BY dest
      |         ORDER BY arr_t, to_stop) AS INT) AS leg_seq,
      |       kind, from_stop, to_stop, trip, dep_t, arr_t
      |FROM walk ORDER BY dest, leg_seq""".stripMargin

  def oracle: Map[String, String] = Map(
    // the r22 stack (10-stage fixpoint chain) + the canonical
    // tight-parent rule + recursive backtrack — see journeyForestCtes
    "r33_journey_forest" ->
      (journeyForestCtes(stopTimesSql, toyXfSql,
        "SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr", 10, "'0'") +
        "\n" + journeyForestSelect),

    // the r23 stack (14-stage chain over the fact timetable) + the
    // same parent rule + backtrack, at fact scale
    "r35_journey_forest_factscale" ->
      (journeyForestCtes(factStSql, factXfSql,
        "SELECT CAST(0 AS BIGINT) AS stop, CAST(0 AS BIGINT) AS arr",
        14, "0") + "\n" + journeyForestSelect),

    // r33's ride legs renumbered per destination, then the r24 fare
    // fold (single-successor recursion) under the planner tariff
    "r34_planner_fares" ->
      (journeyForestCtes(stopTimesSql, toyXfSql,
        "SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr", 10, "'0'") +
        """,
          |rlegs AS MATERIALIZED (
          |  SELECT dest AS itin,
          |         CAST(row_number() OVER (PARTITION BY dest
          |           ORDER BY arr_t, to_stop) AS INT) AS seq,
          |         dep_t AS t, trip AS route
          |  FROM walk WHERE kind = 'ride'),
          |fares AS (
          |  SELECT 'f' || k AS fare_id, CAST((k%3+1)*100 AS BIGINT) AS price,
          |         CASE WHEN k%4=0 THEN NULL ELSE CAST(k%3 AS INT) END
          |           AS transfers,
          |         CASE WHEN k=3 THEN NULL
          |              ELSE CAST((k%2+1)*40 AS BIGINT) END AS dur
          |  FROM range(5) t(k)),
          |rts AS (
          |  SELECT 't' || n_nationkey AS route,
          |         'f' || (n_nationkey%5) AS fare_id FROM nation
          |  UNION ALL
          |  SELECT 'u' || n_nationkey, 'f' || ((n_nationkey+2)%5)
          |  FROM nation
          |  UNION ALL
          |  SELECT 't' || n_nationkey, 'f' || ((n_nationkey*3+1)%5)
          |  FROM nation
          |  UNION ALL
          |  SELECT 'u' || n_nationkey, 'f' || ((n_nationkey*3+4)%5)
          |  FROM nation),
          |app AS (SELECT DISTINCT route, fare_id FROM rts),
          |cheap AS (
          |  SELECT route, fare_id, price, transfers, dur FROM (
          |    SELECT a.route, f.fare_id, f.price, f.transfers, f.dur,
          |           row_number() OVER (PARTITION BY a.route
          |             ORDER BY f.price, f.fare_id) AS rn
          |    FROM app a JOIN fares f USING (fare_id)) WHERE rn = 1),
          |w AS (
          |  SELECT l.itin, l.seq, c.fare_id AS af, l.t AS pt,
          |         COALESCE(c.transfers, -1) AS rem, c.dur AS adur,
          |         COALESCE(c.price, 0) AS tot,
          |         CASE WHEN c.fare_id IS NULL THEN 0 ELSE 1 END AS np,
          |         0 AS nf,
          |         CASE WHEN c.fare_id IS NULL THEN 1 ELSE 0 END AS nu
          |  FROM rlegs l LEFT JOIN cheap c ON c.route = l.route
          |  WHERE l.seq = 1
          |  UNION ALL
          |  SELECT itin, seq,
          |    CASE WHEN free THEN af
          |         WHEN cf IS NOT NULL THEN cf ELSE af END,
          |    CASE WHEN free OR cf IS NULL THEN pt ELSE t END,
          |    CASE WHEN free THEN (CASE WHEN rem > 0 THEN rem - 1 ELSE rem END)
          |         WHEN cf IS NOT NULL THEN COALESCE(ctr, -1) ELSE rem END,
          |    CASE WHEN free OR cf IS NULL THEN adur ELSE cdur END,
          |    tot + CASE WHEN NOT free AND cf IS NOT NULL THEN cp ELSE 0 END,
          |    np + CASE WHEN NOT free AND cf IS NOT NULL THEN 1 ELSE 0 END,
          |    nf + CASE WHEN free THEN 1 ELSE 0 END,
          |    nu + CASE WHEN NOT free AND cf IS NULL THEN 1 ELSE 0 END
          |  FROM (
          |    SELECT w.itin, l.seq, l.t, w.af, w.pt, w.rem, w.adur,
          |           w.tot, w.np, w.nf, w.nu,
          |           COALESCE(w.af IS NOT NULL AND a.fare_id IS NOT NULL
          |             AND w.rem <> 0
          |             AND (w.adur IS NULL OR l.t <= w.pt + w.adur),
          |             FALSE) AS free,
          |           c.fare_id AS cf, c.price AS cp, c.transfers AS ctr,
          |           c.dur AS cdur
          |    FROM w
          |    JOIN rlegs l ON l.itin = w.itin AND l.seq = w.seq + 1
          |    LEFT JOIN app a ON a.route = l.route AND a.fare_id = w.af
          |    LEFT JOIN cheap c ON c.route = l.route))
          |SELECT w.itin AS itin_id, CAST(w.tot AS BIGINT) AS total_price,
          |       CAST(w.np AS INT) AS n_purchases,
          |       CAST(w.nf AS INT) AS n_free_transfers,
          |       CAST(w.nu AS INT) AS n_uncovered
          |FROM w JOIN (SELECT itin, MAX(seq) AS ms FROM rlegs
          |             GROUP BY itin) m
          |  ON w.itin = m.itin AND w.seq = m.ms
          |ORDER BY itin_id""".stripMargin),

    // 6 stages = measured fixpoint 4 + 2 margin (round 5 improves nothing;
    // the 25-stop timetable is nation-derived, identical at every SF).
    // Stage count is capped because inlined CTE chains re-expand the
    // scan per reference — 30 stages blew the fd limit; past the
    // fixpoint extra stages add no rows on either side anyway.
    "r18_arrival_profile" -> arrivalProfileSql(6),

    // 10 stages = measured fixpoint + margin (footpath chains lengthen
    // the relaxation diameter vs r16/r18's ride-only chain; nation-
    // derived network, identical at every SF).
    "r22_earliest_arrival_transfers" -> earliestArrivalTransfersSql(10),

    // 10 stages = the r22 fixpoint bound (same network + rules); the
    // profile emits every stage's strict improvements, so stage count
    // past the fixpoint adds no rows on either side.
    "r25_arrival_profile_transfers" -> arrivalProfileTransfersSql(10),

    // 8 stages = measured fixpoint + margin (DuckDB-stable from stage
    // 6; label-set chains converge at least as fast as the frontier
    // loop — see paretoJourneys). The prune window is the SAME
    // canonical rule as the engine's, so the front is the unique
    // nondominated set on both sides.
    "r26_pareto_journeys" -> {
      val chain = (1 to 8).map { i =>
        s"""lab$i AS MATERIALIZED (
           |  SELECT stop, arr, fare FROM (
           |    SELECT stop, arr, fare,
           |           MIN(fare) OVER (PARTITION BY stop ORDER BY arr, fare
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |             AS pm
           |    FROM (SELECT DISTINCT stop, arr, fare FROM (
           |      SELECT stop, arr, fare FROM lab${i - 1}
           |      UNION ALL
           |      SELECT s.ts, s.arr, p.fare + f.fare
           |      FROM seg s JOIN lab${i - 1} p
           |        ON s.fs = p.stop AND s.dep >= p.arr
           |      JOIN tf f ON f.trip = s.trip)))
           |  WHERE pm IS NULL OR fare < pm)""".stripMargin
      }.mkString(",\n")
      s"""WITH $stopTimesSql,
         |seg AS MATERIALIZED (
         |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
         |  FROM st a JOIN st b ON a.trip = b.trip AND a.seq < b.seq),
         |tf AS (
         |  SELECT 't' || n_nationkey AS trip,
         |         CAST((n_nationkey%9+1)*100 AS BIGINT) AS fare FROM nation
         |  UNION ALL
         |  SELECT 'u' || n_nationkey,
         |         CAST((n_nationkey%7+1)*100 AS BIGINT) FROM nation),
         |lab0 AS (SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr,
         |                CAST(0 AS BIGINT) AS fare),
         |$chain
         |SELECT stop, arr AS arr_t, fare FROM lab8
         |ORDER BY stop, arr_t, fare""".stripMargin
    },

    // r26's staged label chain + a FREE footpath leg per stage (fare
    // rides along unchanged); 14 stages = fixpoint-plus-margin with
    // footpath hops counting as rounds (the r25 depth).
    "r31_pareto_transfers" -> {
      val chain = (1 to 14).map { i =>
        s"""lab$i AS MATERIALIZED (
           |  SELECT stop, arr, fare FROM (
           |    SELECT stop, arr, fare,
           |           MIN(fare) OVER (PARTITION BY stop ORDER BY arr, fare
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |             AS pm
           |    FROM (SELECT DISTINCT stop, arr, fare FROM (
           |      SELECT stop, arr, fare FROM lab${i - 1}
           |      UNION ALL
           |      SELECT s.ts, s.arr, p.fare + f.fare
           |      FROM seg s JOIN lab${i - 1} p
           |        ON s.fs = p.stop AND s.dep >= p.arr
           |      JOIN tf f ON f.trip = s.trip
           |      UNION ALL
           |      SELECT x.ts, p.arr + x.mtt, p.fare
           |      FROM xf x JOIN lab${i - 1} p ON x.fs = p.stop)))
           |  WHERE pm IS NULL OR fare < pm)""".stripMargin
      }.mkString(",\n")
      s"""WITH $stopTimesSql,
         |seg AS MATERIALIZED (
         |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
         |  FROM st a JOIN st b ON a.trip = b.trip AND a.seq < b.seq),
         |tf AS (
         |  SELECT 't' || n_nationkey AS trip,
         |         CAST((n_nationkey%9+1)*100 AS BIGINT) AS fare FROM nation
         |  UNION ALL
         |  SELECT 'u' || n_nationkey,
         |         CAST((n_nationkey%7+1)*100 AS BIGINT) FROM nation),
         |xf0 AS (
         |  SELECT CAST((n_nationkey*3+1)%25 AS VARCHAR) AS fs,
         |         CAST((n_nationkey*9+4)%25 AS VARCHAR) AS ts,
         |         CAST((n_nationkey%4+1)*5 AS BIGINT) AS mtt FROM nation
         |  UNION ALL
         |  SELECT CAST((n_nationkey*9+4)%25 AS VARCHAR),
         |         CAST((n_nationkey*3+1)%25 AS VARCHAR),
         |         CAST((n_nationkey%4+1)*5 AS BIGINT) FROM nation),
         |xf AS (SELECT * FROM xf0 WHERE fs <> ts),
         |lab0 AS (SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr,
         |                CAST(0 AS BIGINT) AS fare),
         |$chain
         |SELECT stop, arr AS arr_t, fare FROM lab14
         |ORDER BY stop, arr_t, fare""".stripMargin
    },

    // Single-successor recursion (one row per leg, seq -> seq+1), the
    // fare-state fold in SQL: active fare applicability via a LEFT JOIN
    // against the rule set, cheapest-candidate via a per-route argmin.
    "r24_itinerary_fares" ->
      """WITH RECURSIVE legs AS (
        |  SELECT itin, seq,
        |         CAST((itin % 1000) * 10
        |           + seq * ((itin % 7 + 1) * 120) AS BIGINT) AS t,
        |         CAST(rt AS VARCHAR) AS route
        |  FROM (
        |    SELECT itin, ln, rt,
        |           CAST(row_number() OVER (PARTITION BY itin
        |             ORDER BY ln, rt) AS INT) AS seq
        |    FROM (SELECT DISTINCT l_orderkey AS itin,
        |                 CAST(l_linenumber AS INT) AS ln,
        |                 CAST(l_suppkey % 40 AS INT) AS rt
        |          FROM lineitem))),
        |fares AS (
        |  SELECT 'f' || k AS fare_id, CAST((k%9+1)*1000 AS BIGINT) AS price,
        |         CASE WHEN k%4=0 THEN NULL ELSE CAST(k%3 AS INT) END AS transfers,
        |         CASE WHEN k%6=5 THEN NULL
        |              ELSE CAST((k%5+1)*600 AS BIGINT) END AS dur
        |  FROM range(25) t(k)),
        |rts AS (
        |  SELECT CAST(r AS VARCHAR) AS route, 'f' || (r%25) AS fare_id
        |  FROM range(40) t(r)
        |  UNION ALL
        |  SELECT CAST(r AS VARCHAR), 'f' || ((r*7+3)%25) FROM range(40) t(r)),
        |app AS (SELECT DISTINCT route, fare_id FROM rts),
        |cheap AS (
        |  SELECT route, fare_id, price, transfers, dur FROM (
        |    SELECT a.route, f.fare_id, f.price, f.transfers, f.dur,
        |           row_number() OVER (PARTITION BY a.route
        |             ORDER BY f.price, f.fare_id) AS rn
        |    FROM app a JOIN fares f USING (fare_id)) WHERE rn = 1),
        |w AS (
        |  SELECT l.itin, l.seq, c.fare_id AS af, l.t AS pt,
        |         COALESCE(c.transfers, -1) AS rem, c.dur AS adur,
        |         COALESCE(c.price, 0) AS tot,
        |         CASE WHEN c.fare_id IS NULL THEN 0 ELSE 1 END AS np,
        |         0 AS nf,
        |         CASE WHEN c.fare_id IS NULL THEN 1 ELSE 0 END AS nu
        |  FROM legs l LEFT JOIN cheap c ON c.route = l.route
        |  WHERE l.seq = 1
        |  UNION ALL
        |  SELECT itin, seq,
        |    CASE WHEN free THEN af
        |         WHEN cf IS NOT NULL THEN cf ELSE af END,
        |    CASE WHEN free OR cf IS NULL THEN pt ELSE t END,
        |    CASE WHEN free THEN (CASE WHEN rem > 0 THEN rem - 1 ELSE rem END)
        |         WHEN cf IS NOT NULL THEN COALESCE(ctr, -1) ELSE rem END,
        |    CASE WHEN free OR cf IS NULL THEN adur ELSE cdur END,
        |    tot + CASE WHEN NOT free AND cf IS NOT NULL THEN cp ELSE 0 END,
        |    np + CASE WHEN NOT free AND cf IS NOT NULL THEN 1 ELSE 0 END,
        |    nf + CASE WHEN free THEN 1 ELSE 0 END,
        |    nu + CASE WHEN NOT free AND cf IS NULL THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT w.itin, l.seq, l.t, w.af, w.pt, w.rem, w.adur,
        |           w.tot, w.np, w.nf, w.nu,
        |           COALESCE(w.af IS NOT NULL AND a.fare_id IS NOT NULL
        |             AND w.rem <> 0
        |             AND (w.adur IS NULL OR l.t <= w.pt + w.adur),
        |             FALSE) AS free,
        |           c.fare_id AS cf, c.price AS cp, c.transfers AS ctr,
        |           c.dur AS cdur
        |    FROM w
        |    JOIN legs l ON l.itin = w.itin AND l.seq = w.seq + 1
        |    LEFT JOIN app a ON a.route = l.route AND a.fare_id = w.af
        |    LEFT JOIN cheap c ON c.route = l.route))
        |SELECT w.itin AS itin_id, CAST(w.tot AS BIGINT) AS total_price,
        |       CAST(w.np AS INT) AS n_purchases,
        |       CAST(w.nf AS INT) AS n_free_transfers,
        |       CAST(w.nu AS INT) AS n_uncovered
        |FROM w JOIN (SELECT itin, MAX(seq) AS ms FROM legs GROUP BY itin) m
        |  ON w.itin = m.itin AND w.seq = m.ms
        |ORDER BY itin_id""".stripMargin,

    // EXACTLY 6 stages — the bounded-round semantics, not a fixpoint:
    // stage-k of this chain equals round-k of the frontier loop (see
    // the r27 query comment), so the stage count must match maxRounds.
    "r27_pareto_factscale" -> {
      val chain = (1 to 6).map { i =>
        s"""lab$i AS MATERIALIZED (
           |  SELECT stop, arr, fare FROM (
           |    SELECT stop, arr, fare,
           |           MIN(fare) OVER (PARTITION BY stop ORDER BY arr, fare
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |             AS pm
           |    FROM (SELECT DISTINCT stop, arr, fare FROM (
           |      SELECT stop, arr, fare FROM lab${i - 1}
           |      UNION ALL
           |      SELECT s.ts, s.arr, p.fare + ((s.trip % 3 + 1) * 100)
           |      FROM seg s JOIN lab${i - 1} p
           |        ON s.fs = p.stop AND s.dep >= p.arr)))
           |  WHERE pm IS NULL OR fare < pm)""".stripMargin
      }.mkString(",\n")
      s"""WITH st AS (
         |  SELECT l_orderkey AS trip, l_linenumber AS seq,
         |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
         |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
         |  FROM lineitem),
         |seg AS MATERIALIZED (
         |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
         |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
         |lab0 AS (SELECT CAST(0 AS BIGINT) AS stop, CAST(0 AS BIGINT) AS arr,
         |                CAST(0 AS BIGINT) AS fare),
         |$chain
         |SELECT stop, arr AS arr_t, fare FROM lab6
         |ORDER BY stop, arr_t, fare""".stripMargin
    },

    // r27's EXACTLY-6-stage chain + the free footpath leg per stage
    // (r23's fact transfer set); same bounded-round induction.
    "r32_pareto_transfers_factscale" -> {
      val chain = (1 to 6).map { i =>
        s"""lab$i AS MATERIALIZED (
           |  SELECT stop, arr, fare FROM (
           |    SELECT stop, arr, fare,
           |           MIN(fare) OVER (PARTITION BY stop ORDER BY arr, fare
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |             AS pm
           |    FROM (SELECT DISTINCT stop, arr, fare FROM (
           |      SELECT stop, arr, fare FROM lab${i - 1}
           |      UNION ALL
           |      SELECT s.ts, s.arr, p.fare + ((s.trip % 3 + 1) * 100)
           |      FROM seg s JOIN lab${i - 1} p
           |        ON s.fs = p.stop AND s.dep >= p.arr
           |      UNION ALL
           |      SELECT x.ts, p.arr + x.mtt, p.fare
           |      FROM xf x JOIN lab${i - 1} p ON x.fs = p.stop)))
           |  WHERE pm IS NULL OR fare < pm)""".stripMargin
      }.mkString(",\n")
      s"""WITH st AS (
         |  SELECT l_orderkey AS trip, l_linenumber AS seq,
         |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
         |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
         |  FROM lineitem),
         |seg AS MATERIALIZED (
         |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
         |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
         |xf0 AS (SELECT CAST(s*5 AS BIGINT) AS fs,
         |               CAST((s*5*7+13)%500 AS BIGINT) AS ts,
         |               CAST(((s*5)%4+1)*10 AS BIGINT) AS mtt
         |        FROM range(100) r(s)),
         |xf AS (SELECT fs, ts, mtt FROM xf0
         |       UNION ALL SELECT ts, fs, mtt FROM xf0),
         |lab0 AS (SELECT CAST(0 AS BIGINT) AS stop, CAST(0 AS BIGINT) AS arr,
         |                CAST(0 AS BIGINT) AS fare),
         |$chain
         |SELECT stop, arr AS arr_t, fare FROM lab6
         |ORDER BY stop, arr_t, fare""".stripMargin
    },

    // 14 stages = measured engine fixpoint 11 + margin (RoundProbe at
    // sf0.1/sf1; the staged chain converges at least as fast). seg is
    // within-trip (seq'>seq) segments — one boarding per relaxation.
    "r23_transit_transfers_factscale" -> {
      val chain = (1 to 14).map { i =>
        s"""lab$i AS MATERIALIZED (
           |  SELECT stop, MIN(t) AS arr FROM (
           |    SELECT stop, arr AS t FROM lab${i - 1}
           |    UNION ALL
           |    SELECT s.ts, s.arr FROM seg s JOIN lab${i - 1} p
           |      ON s.fs = p.stop AND s.dep >= p.arr
           |    UNION ALL
           |    SELECT x.ts, p.arr + x.mtt FROM xf x JOIN lab${i - 1} p
           |      ON x.fs = p.stop
           |  ) GROUP BY stop)""".stripMargin
      }.mkString(",\n")
      s"""WITH st AS (
         |  SELECT l_orderkey AS trip, l_linenumber AS seq,
         |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
         |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
         |  FROM lineitem),
         |seg AS MATERIALIZED (
         |  SELECT a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
         |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
         |xf0 AS (SELECT CAST(s*5 AS BIGINT) AS fs,
         |               CAST((s*5*7+13)%500 AS BIGINT) AS ts,
         |               CAST(((s*5)%4+1)*10 AS BIGINT) AS mtt
         |        FROM range(100) r(s)),
         |xf AS (SELECT fs, ts, mtt FROM xf0
         |       UNION ALL SELECT ts, fs, mtt FROM xf0),
         |lab0 AS (SELECT CAST(0 AS BIGINT) AS stop, CAST(0 AS BIGINT) AS arr),
         |$chain
         |SELECT stop, arr AS arr_t FROM lab14 ORDER BY stop""".stripMargin
    },

    "r16_earliest_arrival" ->
      """WITH RECURSIVE st AS (
        |  SELECT 't' || n_nationkey AS trip, j AS seq,
        |         CAST(CASE WHEN j = 0 THEN n_nationkey
        |                   WHEN j = 1 THEN (n_nationkey*7+3)%25
        |                   ELSE (n_nationkey*11+5)%25 END AS VARCHAR) AS stop,
        |         CAST(n_nationkey*100 + j*((n_nationkey%5+1)*10) AS BIGINT) AS t
        |  FROM nation, (VALUES (0),(1),(2)) v(j)
        |  UNION ALL
        |  SELECT 'u' || n_nationkey, j,
        |         CAST(CASE WHEN j = 0 THEN (n_nationkey*11+5)%25
        |                   WHEN j = 1 THEN (n_nationkey*7+3)%25
        |                   ELSE n_nationkey END AS VARCHAR),
        |         CAST(n_nationkey*100 + 50 + j*((n_nationkey%3+1)*10) AS BIGINT)
        |  FROM nation, (VALUES (0),(1),(2)) v(j)),
        |conn AS (
        |  SELECT a.trip, a.stop AS from_stop, a.t AS dep,
        |         b.stop AS to_stop, b.t AS arr
        |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq = a.seq + 1),
        |walk(stop, t) AS (
        |  SELECT '0', CAST(0 AS BIGINT)
        |  UNION
        |  SELECT c.to_stop, c.arr FROM walk w
        |  JOIN conn c ON c.from_stop = w.stop AND c.dep >= w.t)
        |SELECT stop, MIN(t) AS arr_t FROM walk
        |GROUP BY stop ORDER BY stop""".stripMargin,

    "r14_weighted_pagerank" -> pageRankWeightedSql(
      """p AS (
        |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
        |         COUNT(*) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src, dst, w FROM p
        |      UNION ALL SELECT dst, src, w FROM p)""".stripMargin,
      iters = 5),

    "r06_pagerank" -> pageRankSql(
      """e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS src,
        |         CAST((n_nationkey*7+3)%25 AS VARCHAR) AS dst FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS VARCHAR),
        |         CAST((n_nationkey*11+5)%25 AS VARCHAR) FROM nation)""".stripMargin,
      iters = 10),

    "r07_pagerank_trade" -> pageRankSql(
      """p AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p)""".stripMargin,
      iters = 5),

    "r21_ppr_trade" -> pprSql(
      """p AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |seeds AS (SELECT 'c' || MIN(o_custkey) AS node FROM orders)""".stripMargin,
      iters = 5),

    // same recurrence as r06 — the bucketed layout must not change the
    // answer, only the plan
    "r08_pagerank_bucketed" -> pageRankSql(
      """e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS src,
        |         CAST((n_nationkey*7+3)%25 AS VARCHAR) AS dst FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS VARCHAR),
        |         CAST((n_nationkey*11+5)%25 AS VARCHAR) FROM nation)""".stripMargin,
      iters = 10),

    "r01_bfs_hops" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS src,
        |         CAST((n_nationkey*7+3)%25 AS VARCHAR) AS dst FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS VARCHAR),
        |         CAST((n_nationkey*11+5)%25 AS VARCHAR) FROM nation),
        |walk(node, hops) AS (
        |  SELECT '0', 0
        |  UNION
        |  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.hops < 25)
        |SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    // Weighted SSSP: enumerate every ≤25-hop walk from the source (UNION
    // dedups on (node, dist, hops) so the state stays tiny on 25 nodes),
    // then min-dist per node = Dijkstra's answer.
    "r02_sssp_distances" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS src,
        |         CAST((n_nationkey*7+3)%25 AS VARCHAR) AS dst,
        |         CAST((n_nationkey%5)+1 AS DOUBLE) AS w FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS VARCHAR),
        |         CAST((n_nationkey*11+5)%25 AS VARCHAR),
        |         CAST((n_nationkey%3)+1 AS DOUBLE) FROM nation),
        |walk(node, d, hops) AS (
        |  SELECT '0', CAST(0 AS DOUBLE), 0
        |  UNION
        |  SELECT e.dst, w.d + e.w, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.hops < 25)
        |SELECT node, round(MIN(d), 6) AS dist FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    // board→alight hops over seq-PAIRS (b.seq > a.seq — one hop per
    // ride segment, no gapless assumption), UNION-deduped walk to
    // fixpoint, min arrival per stop — the r16 oracle shape on fact data
    "r17_transit_factscale" ->
      """WITH RECURSIVE st AS (
        |  SELECT l_orderkey AS trip, l_linenumber AS seq,
        |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
        |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
        |  FROM lineitem),
        |conn AS (
        |  SELECT a.stop AS from_stop, a.t AS dep, b.stop AS to_stop,
        |         b.t AS arr
        |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
        |walk(stop, t) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT c.to_stop, c.arr FROM walk w
        |  JOIN conn c ON c.from_stop = w.stop AND c.dep >= w.t)
        |SELECT stop, MIN(t) AS arr_t FROM walk
        |GROUP BY stop ORDER BY stop""".stripMargin,

    // r17's walk, cut at the 1200 budget and banded into 200-tick rings
    "r30_isochrone_bands" ->
      """WITH RECURSIVE st AS (
        |  SELECT l_orderkey AS trip, l_linenumber AS seq,
        |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
        |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
        |  FROM lineitem),
        |conn AS (
        |  SELECT a.stop AS from_stop, a.t AS dep, b.stop AS to_stop,
        |         b.t AS arr
        |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
        |walk(stop, t) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT c.to_stop, c.arr FROM walk w
        |  JOIN conn c ON c.from_stop = w.stop AND c.dep >= w.t),
        |lab AS (SELECT stop, MIN(t) AS arr_t FROM walk GROUP BY stop)
        |SELECT CAST(arr_t // 200 AS INT) AS band,
        |       COUNT(*) AS n_stops,
        |       MIN(arr_t) AS min_arr, MAX(arr_t) AS max_arr
        |FROM lab WHERE arr_t <= 1200
        |GROUP BY 1 ORDER BY band""".stripMargin,

    // r19 computes the same labels as r17 over the at-rest layout — the
    // oracle is the same recursive walk; a corrupted bucket staging
    // would hash-mismatch here
    "r19_transit_bucketed" ->
      """WITH RECURSIVE st AS (
        |  SELECT l_orderkey AS trip, l_linenumber AS seq,
        |         CAST(l_suppkey % 500 AS BIGINT) AS stop,
        |         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS t
        |  FROM lineitem),
        |conn AS (
        |  SELECT a.stop AS from_stop, a.t AS dep, b.stop AS to_stop,
        |         b.t AS arr
        |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
        |walk(stop, t) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT c.to_stop, c.arr FROM walk w
        |  JOIN conn c ON c.from_stop = w.stop AND c.dep >= w.t)
        |SELECT stop, MIN(t) AS arr_t FROM walk
        |GROUP BY stop ORDER BY stop""".stripMargin,

    // Seed-sampled reachability over the FULL trade graph (long-encoded
    // ids): per seed, one unbounded frontier walk (UNION-deduped
    // recursive CTE carrying the seed label, the r11 shape) = its whole
    // component; label = MIN id, size = row count. Mirrors the engine's
    // min-label CC projected onto the same 4 extremal seeds.
    "r04_cc_trade_graph" ->
      """WITH RECURSIVE p AS (
        |  SELECT DISTINCT 2*o_custkey AS ca, 2*l_suppkey+1 AS cb
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT ca AS src, cb AS dst FROM p
        |      UNION ALL SELECT cb, ca FROM p),
        |seeds(sid) AS (
        |  SELECT 2*MIN(o_custkey) FROM orders
        |  UNION SELECT 2*MAX(o_custkey) FROM orders
        |  UNION SELECT 2*MIN(l_suppkey)+1 FROM lineitem
        |  UNION SELECT 2*MAX(l_suppkey)+1 FROM lineitem),
        |walk(sid, node) AS (
        |  SELECT sid, sid FROM seeds
        |  UNION
        |  SELECT w.sid, e.dst FROM walk w JOIN e ON e.src = w.node),
        |comp AS (
        |  SELECT sid, MIN(node) AS cl, COUNT(*) AS n_members
        |  FROM walk GROUP BY sid)
        |SELECT CASE WHEN sid % 2 = 0 THEN 'c' || (sid // 2)
        |            ELSE 's' || (sid // 2) END AS seed,
        |       CASE WHEN cl % 2 = 0 THEN 'c' || (cl // 2)
        |            ELSE 's' || (cl // 2) END AS cluster,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM comp ORDER BY seed""".stripMargin,

    // d06's reachability pattern on the bounded trade slice: every node
    // reaches out along undirected edges; cluster = min reachable id.
    "r05_cc_subgraph" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey <= 40 AND l_suppkey <= 20),
        |pe AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
        |reach(node, r) AS (
        |  SELECT src, src FROM pe
        |  UNION
        |  SELECT pe.dst, reach.r FROM reach JOIN pe ON pe.src = reach.node),
        |lab AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node)
        |SELECT cluster, count(*) AS n_members FROM lab
        |GROUP BY cluster ORDER BY cluster""".stripMargin,

    // mutual reachability over DIRECTED edges: scc(v) = min node u with
    // v →* u AND u →* v (reflexive seed keeps singletons); the
    // forward-only closure is the r05 pattern minus the symmetrization.
    "r28_scc_subgraph" ->
      s"""WITH RECURSIVE $bandedDigraphSql,
        |n AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |reach(a, d) AS (
        |  SELECT v, v FROM n
        |  UNION
        |  SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.d),
        |lab AS (
        |  SELECT r1.a AS node, MIN(r1.d) AS scc
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.d AND r1.d = r2.a
        |  GROUP BY r1.a)
        |SELECT scc, count(*) AS n_members FROM lab
        |GROUP BY scc ORDER BY scc""".stripMargin,

    // the r31 label-set chain to the fixpoint, then the SAME canonical
    // tight-parent rule on the final front (parent label pinned by
    // (from_stop, from_fare) — fare is exactly determined and a front
    // stop's fare determines its arrival uniquely), then a recursive
    // backtrack keyed by the label TRIPLE
    "r38_pareto_itineraries" -> {
      val chain = (1 to 14).map { i =>
        s"""lab$i AS MATERIALIZED (
           |  SELECT stop, arr, fare FROM (
           |    SELECT stop, arr, fare,
           |           MIN(fare) OVER (PARTITION BY stop ORDER BY arr, fare
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |             AS pm
           |    FROM (SELECT DISTINCT stop, arr, fare FROM (
           |      SELECT stop, arr, fare FROM lab${i - 1}
           |      UNION ALL
           |      SELECT s.ts, s.arr, p.fare + f.fare
           |      FROM seg s JOIN lab${i - 1} p
           |        ON s.fs = p.stop AND s.dep >= p.arr
           |      JOIN tf f ON f.trip = s.trip
           |      UNION ALL
           |      SELECT x.ts, p.arr + x.mtt, p.fare
           |      FROM xf x JOIN lab${i - 1} p ON x.fs = p.stop)))
           |  WHERE pm IS NULL OR fare < pm)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE $stopTimesSql,
         |seg AS MATERIALIZED (
         |  SELECT a.trip, a.stop AS fs, a.t AS dep, b.stop AS ts, b.t AS arr
         |  FROM st a JOIN st b ON a.trip = b.trip AND b.seq > a.seq),
         |tf AS (
         |  SELECT 't' || n_nationkey AS trip,
         |         CAST((n_nationkey%9+1)*100 AS BIGINT) AS fare FROM nation
         |  UNION ALL
         |  SELECT 'u' || n_nationkey,
         |         CAST((n_nationkey%7+1)*100 AS BIGINT) FROM nation),
         |$toyXfSql,
         |lab0 AS (SELECT '0' AS stop, CAST(0 AS BIGINT) AS arr,
         |                CAST(0 AS BIGINT) AS fare),
         |$chain,
         |lab AS (SELECT stop, arr, fare FROM lab14),
         |pev AS (
         |  SELECT s.ts AS stop, lb.arr AS arr_t, lb.fare AS fare,
         |         0 AS k, 'ride' AS kind, s.fs AS from_stop,
         |         la.arr AS from_arr, la.fare AS from_fare,
         |         s.trip AS trip, s.dep AS dep_t
         |  FROM seg s
         |  JOIN lab la ON la.stop = s.fs AND s.dep >= la.arr
         |  JOIN tf f ON f.trip = s.trip
         |  JOIN lab lb ON lb.stop = s.ts AND lb.arr = s.arr
         |             AND lb.fare = la.fare + f.fare
         |  WHERE la.arr < lb.arr
         |  UNION ALL
         |  SELECT x.ts, lt.arr, lt.fare, 1, 'foot', x.fs, lf.arr,
         |         lf.fare, NULL, lf.arr
         |  FROM xf x
         |  JOIN lab lf ON lf.stop = x.fs
         |  JOIN lab lt ON lt.stop = x.ts AND lt.arr = lf.arr + x.mtt
         |             AND lt.fare = lf.fare),
         |parents AS MATERIALIZED (
         |  SELECT stop, arr_t, fare, kind, from_stop, from_arr,
         |         from_fare, trip, dep_t FROM (
         |    SELECT *, row_number() OVER (PARTITION BY stop, arr_t, fare
         |      ORDER BY k, from_stop, CAST(trip AS VARCHAR), dep_t) AS rn
         |    FROM pev
         |    WHERE NOT (stop = '0' AND arr_t = 0 AND fare = 0))
         |  WHERE rn = 1),
         |walk(dest_stop, dest_arr, dest_fare, kind, from_stop, to_stop,
         |     trip, dep_t, arr_t, fare, cs, ca, cf) AS (
         |  SELECT stop, arr_t, fare, kind, from_stop, stop, trip,
         |         dep_t, arr_t, fare, from_stop, from_arr, from_fare
         |  FROM parents
         |  UNION ALL
         |  SELECT w.dest_stop, w.dest_arr, w.dest_fare, p.kind,
         |         p.from_stop, p.stop, p.trip, p.dep_t, p.arr_t,
         |         p.fare, p.from_stop, p.from_arr, p.from_fare
         |  FROM walk w JOIN parents p ON p.stop = w.cs
         |    AND p.arr_t = w.ca AND p.fare = w.cf)
         |SELECT dest_stop, dest_arr, dest_fare,
         |       CAST(row_number() OVER (PARTITION BY dest_stop,
         |         dest_arr, dest_fare
         |         ORDER BY arr_t, to_stop, fare) AS INT) AS leg_seq,
         |       kind, from_stop, to_stop, trip, dep_t, arr_t, fare
         |FROM walk
         |ORDER BY dest_stop, dest_arr, dest_fare, leg_seq""".stripMargin
    },

    // r40 — r32's EXACTLY-6-stage bounded label chain at fact scale
    // (fare inlined as the factTripFares formula (trip%3+1)*100), then
    // r38's canonical parent rule on the final front and the recursive
    // backtrack keyed by the label TRIPLE. Bounded-front provenance
    // truncates identically on both sides (same rule, same front).
    "r40_pareto_itineraries_factscale" -> (paretoForestFactCtes +
      """
        |SELECT dest_stop, dest_arr, dest_fare,
        |       CAST(row_number() OVER (PARTITION BY dest_stop,
        |         dest_arr, dest_fare
        |         ORDER BY arr_t, to_stop, fare) AS INT) AS leg_seq,
        |       kind, from_stop, to_stop, trip, dep_t, arr_t, fare
        |FROM walk
        |ORDER BY dest_stop, dest_arr, dest_fare, leg_seq""".stripMargin),

    // r44 — the r40 stack's ride legs renumbered per label TRIPLE, then
    // the r24 single-successor fare-fold recursion under the fact
    // tariff (route = trip % 40; the r24 fares/rts mirrors verbatim)
    "r44_pareto_fares_factscale" -> (paretoForestFactCtes +
      """,
        |rlegs AS MATERIALIZED (
        |  SELECT dest_stop || ':' || dest_arr || ':' || dest_fare AS itin,
        |         CAST(row_number() OVER (PARTITION BY dest_stop,
        |           dest_arr, dest_fare
        |           ORDER BY arr_t, to_stop, fare) AS INT) AS seq,
        |         dep_t AS t, CAST(trip % 40 AS VARCHAR) AS route
        |  FROM walk WHERE kind = 'ride'),
        |fares AS (
        |  SELECT 'f' || k AS fare_id, CAST((k%9+1)*1000 AS BIGINT) AS price,
        |         CASE WHEN k%4=0 THEN NULL ELSE CAST(k%3 AS INT) END
        |           AS transfers,
        |         CASE WHEN k%6=5 THEN NULL
        |              ELSE CAST((k%5+1)*600 AS BIGINT) END AS dur
        |  FROM range(25) t(k)),
        |rts AS (
        |  SELECT CAST(r AS VARCHAR) AS route, 'f' || (r%25) AS fare_id
        |  FROM range(40) t(r)
        |  UNION ALL
        |  SELECT CAST(r AS VARCHAR), 'f' || ((r*7+3)%25) FROM range(40) t(r)),
        |app AS (SELECT DISTINCT route, fare_id FROM rts),
        |cheap AS (
        |  SELECT route, fare_id, price, transfers, dur FROM (
        |    SELECT a.route, f.fare_id, f.price, f.transfers, f.dur,
        |           row_number() OVER (PARTITION BY a.route
        |             ORDER BY f.price, f.fare_id) AS rn
        |    FROM app a JOIN fares f USING (fare_id)) WHERE rn = 1),
        |w AS (
        |  SELECT l.itin, l.seq, c.fare_id AS af, l.t AS pt,
        |         COALESCE(c.transfers, -1) AS rem, c.dur AS adur,
        |         COALESCE(c.price, 0) AS tot,
        |         CASE WHEN c.fare_id IS NULL THEN 0 ELSE 1 END AS np,
        |         0 AS nf,
        |         CASE WHEN c.fare_id IS NULL THEN 1 ELSE 0 END AS nu
        |  FROM rlegs l LEFT JOIN cheap c ON c.route = l.route
        |  WHERE l.seq = 1
        |  UNION ALL
        |  SELECT itin, seq,
        |    CASE WHEN free THEN af
        |         WHEN cf IS NOT NULL THEN cf ELSE af END,
        |    CASE WHEN free OR cf IS NULL THEN pt ELSE t END,
        |    CASE WHEN free THEN (CASE WHEN rem > 0 THEN rem - 1 ELSE rem END)
        |         WHEN cf IS NOT NULL THEN COALESCE(ctr, -1) ELSE rem END,
        |    CASE WHEN free OR cf IS NULL THEN adur ELSE cdur END,
        |    tot + CASE WHEN NOT free AND cf IS NOT NULL THEN cp ELSE 0 END,
        |    np + CASE WHEN NOT free AND cf IS NOT NULL THEN 1 ELSE 0 END,
        |    nf + CASE WHEN free THEN 1 ELSE 0 END,
        |    nu + CASE WHEN NOT free AND cf IS NULL THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT w.itin, l.seq, l.t, w.af, w.pt, w.rem, w.adur,
        |           w.tot, w.np, w.nf, w.nu,
        |           COALESCE(w.af IS NOT NULL AND a.fare_id IS NOT NULL
        |             AND w.rem <> 0
        |             AND (w.adur IS NULL OR l.t <= w.pt + w.adur),
        |             FALSE) AS free,
        |           c.fare_id AS cf, c.price AS cp, c.transfers AS ctr,
        |           c.dur AS cdur
        |    FROM w
        |    JOIN rlegs l ON l.itin = w.itin AND l.seq = w.seq + 1
        |    LEFT JOIN app a ON a.route = l.route AND a.fare_id = w.af
        |    LEFT JOIN cheap c ON c.route = l.route))
        |SELECT w.itin AS itin_id, CAST(w.tot AS BIGINT) AS total_price,
        |       CAST(w.np AS INT) AS n_purchases,
        |       CAST(w.nf AS INT) AS n_free_transfers,
        |       CAST(w.nu AS INT) AS n_uncovered
        |FROM w JOIN (SELECT itin, MAX(seq) AS ms FROM rlegs
        |             GROUP BY itin) m
        |  ON w.itin = m.itin AND w.seq = m.ms
        |ORDER BY itin_id""".stripMargin),


    // the walk chain unrolled one CTE per step (aggregates can't live
    // in a recursive term — the pageRankSql doctrine), same argmin rank
    "r37_random_walks" -> {
      val steps = (1 to 8).map { k =>
        s"""w$k AS (
           |  SELECT wid, node FROM (
           |    SELECT p.wid, e.dst AS node,
           |           row_number() OVER (PARTITION BY p.wid ORDER BY
           |             ${saltedHash32Sql(s"p.wid || ':$k:' || e.dst", 0)},
           |             e.dst) AS rn
           |    FROM w${k - 1} p JOIN e ON e.src = p.node)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8)
        .map(k => s"SELECT wid, $k AS step, node FROM w$k")
        .mkString("\n UNION ALL ")
      s"""WITH p AS (
         |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |w0 AS (
         |  SELECT 'w' || o_custkey AS wid,
         |         CAST(2*o_custkey AS BIGINT) AS node
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_custkey <= 25)),
         |$steps
         |SELECT wid AS walk_id, CAST(step AS INT) AS step, node FROM (
         | SELECT wid, 0 AS step, node FROM w0
         | UNION ALL $unions)
         |ORDER BY walk_id, step""".stripMargin
    },

    // the r37 step rows self-joined within the window, both directions
    "r39_skipgram_counts" -> {
      val steps = (1 to 8).map { k =>
        s"""w$k AS (
           |  SELECT wid, node FROM (
           |    SELECT p.wid, e.dst AS node,
           |           row_number() OVER (PARTITION BY p.wid ORDER BY
           |             ${saltedHash32Sql(s"p.wid || ':$k:' || e.dst", 0)},
           |             e.dst) AS rn
           |    FROM w${k - 1} p JOIN e ON e.src = p.node)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8)
        .map(k => s"SELECT wid, $k AS step, node FROM w$k")
        .mkString("\n UNION ALL ")
      s"""WITH p AS (
         |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |w0 AS (
         |  SELECT 'w' || o_custkey AS wid,
         |         CAST(2*o_custkey AS BIGINT) AS node
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_custkey <= 25)),
         |$steps,
         |rows0 AS (
         | SELECT wid, 0 AS step, node FROM w0
         | UNION ALL $unions),
         |fwd AS (
         |  SELECT a.node AS center, b.node AS context
         |  FROM rows0 a JOIN rows0 b
         |    ON a.wid = b.wid AND b.step > a.step AND b.step <= a.step + 3)
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT center, context FROM fwd
         |  UNION ALL
         |  SELECT context, center FROM fwd)
         |GROUP BY center, context
         |ORDER BY center, context""".stripMargin
    },

    // r39's count chain + marginals + the exact rational PMI ratio in
    // basis points (HUGEINT arithmetic mirrors the engine's
    // DECIMAL(38,0); both divisions floor on positive operands)
    "r41_sgns_ppmi" -> {
      val steps = (1 to 8).map { k =>
        s"""w$k AS (
           |  SELECT wid, node FROM (
           |    SELECT p.wid, e.dst AS node,
           |           row_number() OVER (PARTITION BY p.wid ORDER BY
           |             ${saltedHash32Sql(s"p.wid || ':$k:' || e.dst", 0)},
           |             e.dst) AS rn
           |    FROM w${k - 1} p JOIN e ON e.src = p.node)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8)
        .map(k => s"SELECT wid, $k AS step, node FROM w$k")
        .mkString("\n UNION ALL ")
      s"""WITH p AS (
         |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |w0 AS (
         |  SELECT 'w' || o_custkey AS wid,
         |         CAST(2*o_custkey AS BIGINT) AS node
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_custkey <= 25)),
         |$steps,
         |rows0 AS (
         | SELECT wid, 0 AS step, node FROM w0
         | UNION ALL $unions),
         |fwd AS (
         |  SELECT a.node AS center, b.node AS context
         |  FROM rows0 a JOIN rows0 b
         |    ON a.wid = b.wid AND b.step > a.step AND b.step <= a.step + 3),
         |cnt AS MATERIALIZED (
         |  SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT center, context FROM fwd
         |    UNION ALL
         |    SELECT context, center FROM fwd)
         |  GROUP BY center, context),
         |tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn FROM cnt),
         |cm AS (SELECT center, CAST(SUM(n) AS HUGEINT) AS nc
         |       FROM cnt GROUP BY center),
         |xm AS (SELECT context, CAST(SUM(n) AS HUGEINT) AS nx
         |       FROM cnt GROUP BY context)
         |SELECT center, context, n, ppmi_bp FROM (
         |  SELECT c.center, c.context, c.n,
         |         CAST(CAST(c.n AS HUGEINT) * t.nn * 10000
         |              // (m.nc * x.nx) AS BIGINT) AS ppmi_bp
         |  FROM cnt c CROSS JOIN tot t
         |  JOIN cm m ON m.center = c.center
         |  JOIN xm x ON x.context = c.context)
         |WHERE ppmi_bp > 10000
         |ORDER BY center, context""".stripMargin
    },

    // r39's count chain + the isqrt^2 weight table, running-sum
    // segments, and the exact integer inverse-CDF draw — DuckDB's
    // range join replays the bucket-join's semantics (the bucket is
    // pure acceleration, it never changes which segment covers u)
    "r43_sgns_negatives" -> {
      val steps = (1 to 8).map { k =>
        s"""w$k AS (
           |  SELECT wid, node FROM (
           |    SELECT p.wid, e.dst AS node,
           |           row_number() OVER (PARTITION BY p.wid ORDER BY
           |             ${saltedHash32Sql(s"p.wid || ':$k:' || e.dst", 0)},
           |             e.dst) AS rn
           |    FROM w${k - 1} p JOIN e ON e.src = p.node)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8)
        .map(k => s"SELECT wid, $k AS step, node FROM w$k")
        .mkString("\n UNION ALL ")
      s"""WITH p AS (
         |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |w0 AS (
         |  SELECT 'w' || o_custkey AS wid,
         |         CAST(2*o_custkey AS BIGINT) AS node
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_custkey <= 25)),
         |$steps,
         |rows0 AS (
         | SELECT wid, 0 AS step, node FROM w0
         | UNION ALL $unions),
         |fwd AS (
         |  SELECT a.node AS center, b.node AS context
         |  FROM rows0 a JOIN rows0 b
         |    ON a.wid = b.wid AND b.step > a.step AND b.step <= a.step + 3),
         |cnt AS MATERIALIZED (
         |  SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT center, context FROM fwd
         |    UNION ALL
         |    SELECT context, center FROM fwd)
         |  GROUP BY center, context),
         |vocab AS (
         |  SELECT context AS node, CAST(SUM(n) AS BIGINT) AS n
         |  FROM cnt GROUP BY context),
         |segs AS (
         |  SELECT node,
         |         CAST(FLOOR(SQRT(n * FLOOR(SQRT(n)))) AS BIGINT) AS w,
         |         CAST(SUM(CAST(FLOOR(SQRT(n * FLOOR(SQRT(n)))) AS BIGINT))
         |              OVER (ORDER BY node) AS BIGINT) AS cum_hi
         |  FROM vocab),
         |segs2 AS MATERIALIZED (
         |  SELECT node, cum_hi - w AS cum_lo, cum_hi FROM segs),
         |tot AS (SELECT MAX(cum_hi) AS tw FROM segs2),
         |draws AS MATERIALIZED (
         |  SELECT c.center, g.j,
         |         CAST(CAST(${saltedHash32Sql("c.center || ':' || g.j", 0)}
         |              AS HUGEINT) * t.tw // 4294967296 AS BIGINT) AS u
         |  FROM (SELECT DISTINCT center FROM cnt) c
         |  CROSS JOIN tot t
         |  CROSS JOIN generate_series(1, 5) g(j))
         |SELECT d.center, CAST(d.j AS INT) AS j, s.node AS negative
         |FROM draws d JOIN segs2 s ON d.u >= s.cum_lo AND d.u < s.cum_hi
         |ORDER BY center, j""".stripMargin
    },

    // r41's PPMI chain + 3 unrolled exact-integer power-iteration
    // rounds: matvec in HUGEINT, per-dimension GREATEST(MAX(ABS),1)
    // rescale with abs-first truncating division (so // agrees with
    // Spark's div on negatives), init = (hash32 % 20001) - 10^4
    "r45_ppmi_power_embed" -> {
      val steps = (1 to 8).map { k =>
        s"""w$k AS (
           |  SELECT wid, node FROM (
           |    SELECT p.wid, e.dst AS node,
           |           row_number() OVER (PARTITION BY p.wid ORDER BY
           |             ${saltedHash32Sql(s"p.wid || ':$k:' || e.dst", 0)},
           |             e.dst) AS rn
           |    FROM w${k - 1} p JOIN e ON e.src = p.node)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8)
        .map(k => s"SELECT wid, $k AS step, node FROM w$k")
        .mkString("\n UNION ALL ")
      val dims = 0 until 4
      val initCols = dims.map(d =>
        s"(${saltedHash32Sql(s"node || ':$d'", 0)} % 20001) - 10000 AS x$d")
        .mkString(",\n  ")
      val iterCtes = (1 to 3).map { t =>
        val ys = dims.map(d =>
          s"SUM(CAST(p.ppmi_bp AS HUGEINT) * x.x$d) AS y$d").mkString(", ")
        val ms = dims.map(d =>
          s"GREATEST(MAX(ABS(y$d)), 1) AS m$d").mkString(", ")
        val xs = dims.map(d =>
          s"CAST(CASE WHEN y$d < 0 THEN -(((-y$d) * 10000) // m$d) " +
            s"ELSE (y$d * 10000) // m$d END AS BIGINT) AS x$d")
          .mkString(",\n    ")
        s"""y$t AS MATERIALIZED (
           |  SELECT p.center AS node, $ys
           |  FROM ppmi p JOIN emb${t - 1} x ON x.node = p.context
           |  GROUP BY p.center),
           |mx$t AS (SELECT $ms FROM y$t),
           |emb$t AS MATERIALIZED (
           |  SELECT node,
           |    $xs
           |  FROM y$t CROSS JOIN mx$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (
         |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |w0 AS (
         |  SELECT 'w' || o_custkey AS wid,
         |         CAST(2*o_custkey AS BIGINT) AS node
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_custkey <= 25)),
         |$steps,
         |rows0 AS (
         | SELECT wid, 0 AS step, node FROM w0
         | UNION ALL $unions),
         |fwd AS (
         |  SELECT a.node AS center, b.node AS context
         |  FROM rows0 a JOIN rows0 b
         |    ON a.wid = b.wid AND b.step > a.step AND b.step <= a.step + 3),
         |cnt AS MATERIALIZED (
         |  SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT center, context FROM fwd
         |    UNION ALL
         |    SELECT context, center FROM fwd)
         |  GROUP BY center, context),
         |tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn FROM cnt),
         |cm AS (SELECT center, CAST(SUM(n) AS HUGEINT) AS nc
         |       FROM cnt GROUP BY center),
         |xm AS (SELECT context, CAST(SUM(n) AS HUGEINT) AS nx
         |       FROM cnt GROUP BY context),
         |ppmi AS MATERIALIZED (
         |  SELECT center, context, ppmi_bp FROM (
         |    SELECT c.center, c.context,
         |           CAST(CAST(c.n AS HUGEINT) * t.nn * 10000
         |                // (m.nc * x.nx) AS BIGINT) AS ppmi_bp
         |    FROM cnt c CROSS JOIN tot t
         |    JOIN cm m ON m.center = c.center
         |    JOIN xm x ON x.context = c.context)
         |  WHERE ppmi_bp > 10000),
         |nodes AS (
         |  SELECT center AS node FROM ppmi
         |  UNION SELECT context FROM ppmi),
         |emb0 AS (
         |  SELECT node,
         |  $initCols
         |  FROM nodes),
         |$iterCtes
         |SELECT node, x0, x1, x2, x3 FROM emb3 ORDER BY node""".stripMargin
    },

    // the r37 chain with the 2nd-order penalty: each step carries prev,
    // probes adjacency with one LEFT JOIN, and scales the hash rank by
    // the CASE penalty (return 20000 / distance-1 10000 / else 5000;
    // step 1's NULL prev falls through to neutral) — same argmin
    "r42_node2vec_walks" -> {
      val steps = (1 to 8).map { k =>
        s"""w$k AS (
           |  SELECT wid, node, prev FROM (
           |    SELECT p.wid, e.dst AS node, p.node AS prev,
           |           row_number() OVER (PARTITION BY p.wid ORDER BY
           |             ${saltedHash32Sql(s"p.wid || ':$k:' || e.dst", 0)} *
           |             (CASE WHEN e.dst = p.prev THEN 20000
           |                   WHEN a.src IS NOT NULL THEN 10000
           |                   WHEN p.prev IS NULL THEN 10000
           |                   ELSE 5000 END),
           |             e.dst) AS rn
           |    FROM w${k - 1} p JOIN e ON e.src = p.node
           |    LEFT JOIN adj a ON a.src = p.prev AND a.dst = e.dst)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8)
        .map(k => s"SELECT wid, $k AS step, node FROM w$k")
        .mkString("\n UNION ALL ")
      s"""WITH p AS (
         |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey+1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |adj AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
         |w0 AS (
         |  SELECT 'w' || o_custkey AS wid,
         |         CAST(2*o_custkey AS BIGINT) AS node,
         |         CAST(NULL AS BIGINT) AS prev
         |  FROM (SELECT DISTINCT o_custkey FROM orders
         |        WHERE o_custkey <= 25)),
         |$steps
         |SELECT wid AS walk_id, CAST(step AS INT) AS step, node FROM (
         | SELECT wid, 0 AS step, node FROM w0
         | UNION ALL $unions)
         |ORDER BY walk_id, step""".stripMargin
    },

    // the r28 mutual-reachability pattern on the scale-adaptive block
    // graph: reach is block-local (≤8 rows/node), so the closure stays
    // linear in V at every SF
    "r36_scc_scaled" ->
      s"""WITH RECURSIVE nv AS (
         |  SELECT 8 * GREATEST(COUNT(*) // 400, 8) AS nn FROM orders),
         |h0 AS (
         |  SELECT o_orderkey,
         |         CAST(${saltedHash32Sql("CAST(o_orderkey AS VARCHAR)", 1)}
         |              % nv.nn AS BIGINT) AS n
         |  FROM orders, nv),
         |ring AS (
         |  SELECT DISTINCT n AS src,
         |    CASE WHEN n % 8 IN (2, 5) THEN n - 2
         |         WHEN n % 8 = 7 THEN n - (n % 8) + 3
         |         ELSE n + 1 END AS dst
         |  FROM h0),
         |br AS (
         |  SELECT DISTINCT n AS src, n - (n % 8) + 3 AS dst
         |  FROM h0 WHERE o_orderkey % 3 = 0 AND n % 8 = 1),
         |e AS (SELECT src, dst FROM ring UNION SELECT src, dst FROM br),
         |n2 AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         |reach(a, d) AS (
         |  SELECT v, v FROM n2
         |  UNION
         |  SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.d),
         |lab AS (
         |  SELECT r1.a AS node, MIN(r1.d) AS scc
         |  FROM reach r1 JOIN reach r2 ON r1.a = r2.d AND r1.d = r2.a
         |  GROUP BY r1.a)
         |SELECT scc, count(*) AS n_members FROM lab
         |GROUP BY scc ORDER BY scc""".stripMargin,

    // r28's lab CTE, then the SCC quotient edges and a longest-path
    // walk over the (acyclic) condensation: layer = max walk length
    // into each quotient node — terminates because the quotient is a
    // DAG, the same guarantee the engine's dagLayers leans on.
    "r29_condensation_layers" ->
      s"""WITH RECURSIVE $bandedDigraphSql,
        |n AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |reach(a, d) AS (
        |  SELECT v, v FROM n
        |  UNION
        |  SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.d),
        |lab AS (
        |  SELECT r1.a AS node, MIN(r1.d) AS scc
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.d AND r1.d = r2.a
        |  GROUP BY r1.a),
        |cond AS (
        |  SELECT DISTINCT ls.scc AS src, ld.scc AS dst
        |  FROM e JOIN lab ls ON ls.node = e.src
        |         JOIN lab ld ON ld.node = e.dst
        |  WHERE ls.scc <> ld.scc),
        |walk(v, l) AS (
        |  SELECT scc, 0 FROM (SELECT DISTINCT scc FROM lab)
        |  UNION
        |  SELECT cond.dst, walk.l + 1 FROM walk JOIN cond ON cond.src = walk.v),
        |lay AS (SELECT v, MAX(l) AS layer FROM walk GROUP BY v),
        |cnt AS (SELECT scc, COUNT(*) AS n_members FROM lab GROUP BY scc)
        |SELECT cnt.scc, cnt.n_members, CAST(lay.layer AS INT) AS layer
        |FROM cnt JOIN lay ON lay.v = cnt.scc
        |ORDER BY cnt.scc""".stripMargin,

    // textual mirror of the orientation algorithm: DuckDB row-value
    // comparisons ((d, n) < …) express the same (degree, id) rank the
    // Spark struct ordering uses; each triangle closes once at its
    // lowest-rank vertex in both engines.
    "r09_triangle_counts" ->
      s"""WITH e0 AS (
         |  SELECT CAST(${saltedHash32Sql("CAST(o_orderkey AS VARCHAR)", 1)}
         |              % 3000 AS INT) AS s,
         |         CAST(${saltedHash32Sql("CAST(o_orderkey AS VARCHAR)", 2)}
         |              % 3000 AS INT) AS t
         |  FROM orders),
         |canon AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |          FROM e0 WHERE s <> t),
         |deg AS (SELECT n, COUNT(*) AS d FROM
         |          (SELECT a AS n FROM canon
         |           UNION ALL SELECT b AS n FROM canon)
         |        GROUP BY n),
         |o AS (SELECT
         |        CASE WHEN (da.d, c.a) < (db.d, c.b) THEN c.a ELSE c.b END AS u,
         |        CASE WHEN (da.d, c.a) < (db.d, c.b) THEN c.b ELSE c.a END AS v,
         |        CASE WHEN (da.d, c.a) < (db.d, c.b) THEN db.d ELSE da.d END AS dv
         |      FROM canon c JOIN deg da ON da.n = c.a
         |                   JOIN deg db ON db.n = c.b),
         |w AS (SELECT o1.u, o1.v AS x, o2.v AS y
         |      FROM o o1 JOIN o o2 ON o1.u = o2.u
         |      WHERE (o1.dv, o1.v) < (o2.dv, o2.v)),
         |tri AS (SELECT w.u, w.x, w.y
         |        FROM w JOIN o ON o.u = w.x AND o.v = w.y),
         |nodes AS (SELECT u AS node FROM tri
         |          UNION ALL SELECT x FROM tri
         |          UNION ALL SELECT y FROM tri)
         |SELECT node, COUNT(*) AS n_triangles FROM nodes
         |GROUP BY node ORDER BY node""".stripMargin,

    // the peel as a list-carrying recursive CTE: each round recomputes
    // in-alive degrees by joining the symmetric edges against TWO
    // unnests of the carried alive list (hash joins — a list_contains
    // probe would be O(E·V) per round); plain UNION is the fixpoint
    // brake (the first repeated alive list is deduped, the working
    // table empties, recursion stops). Final core = shortest list.
    "r10_kcore_members" ->
      s"""WITH RECURSIVE nv AS (
         |  SELECT GREATEST(COUNT(*) // 35, 8) AS nn FROM orders),
         |e0 AS (
         |  SELECT CAST(${saltedHash32Sql("CAST(o_orderkey AS VARCHAR)", 1)}
         |              % nv.nn AS INT) AS s,
         |         CAST(${saltedHash32Sql("CAST(o_orderkey AS VARCHAR)", 2)}
         |              % nv.nn AS INT) AS t
         |  FROM orders, nv WHERE o_orderkey % 7 = 0),
         |canon AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |          FROM e0 WHERE s <> t),
         |sym AS (SELECT a AS src, b AS dst FROM canon
         |        UNION ALL SELECT b, a FROM canon),
         |walk(alive) AS (
         |  SELECT (SELECT list(DISTINCT src ORDER BY src) FROM sym)
         |  UNION
         |  SELECT (SELECT COALESCE(list(n ORDER BY n), []) FROM (
         |       SELECT al.n AS n
         |       FROM unnest(w.alive) AS al(n)
         |       JOIN sym ON sym.src = al.n
         |       JOIN unnest(w.alive) AS al2(m) ON sym.dst = al2.m
         |       GROUP BY al.n HAVING COUNT(*) >= 7))
         |  FROM walk w),
         |final AS (SELECT alive FROM walk ORDER BY len(alive) LIMIT 1)
         |SELECT unnest(alive) AS node FROM final ORDER BY node""".stripMargin,

    // identical recurrence to r03 — the bucketed layout must not change
    // the answer, only the plan (the r08 pairing)
    "r15_bfs_trade_bucketed" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ee AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |walk(node, hops) AS (
        |  SELECT 'c' || (SELECT min(o_custkey) FROM orders), 0
        |  UNION
        |  SELECT ee.dst, w.hops + 1 FROM walk w JOIN ee ON ee.src = w.node
        |  WHERE w.hops < 10)
        |SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    "r03_bfs_trade_graph" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ee AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |walk(node, hops) AS (
        |  SELECT 'c' || (SELECT min(o_custkey) FROM orders), 0
        |  UNION
        |  SELECT ee.dst, w.hops + 1 FROM walk w JOIN ee ON ee.src = w.node
        |  WHERE w.hops < 10)
        |SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    "r13_lpa_communities" -> lpaOracleSql,

    // r20 computes the same labels as r13 over the at-rest layout — the
    // oracle is the same 4-round replay; a corrupted bucket staging
    // would hash-mismatch here
    "r20_lpa_bucketed" -> lpaOracleSql,

    "r12_copurchase_projection" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS l, l_suppkey AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |d AS (SELECT l FROM e GROUP BY l HAVING COUNT(*) <= 35),
        |k AS (SELECT e.l, e.r FROM e JOIN d USING (l))
        |SELECT a.r AS r1, b.r AS r2, COUNT(*) AS weight
        |FROM k a JOIN k b ON a.l = b.l AND a.r < b.r
        |GROUP BY a.r, b.r ORDER BY r1, r2""".stripMargin,

    // per-seed BFS as one recursive CTE carrying the seed label, then
    // the same exact-integer harmonic rollup
    "r11_harmonic_centrality" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS src,
        |         CAST((n_nationkey*7+3)%25 AS VARCHAR) AS dst FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS VARCHAR),
        |         CAST((n_nationkey*11+5)%25 AS VARCHAR) FROM nation),
        |walk(seed, node, hops) AS (
        |  SELECT s.s, s.s, 0 FROM (VALUES ('0'), ('7'), ('13')) s(s)
        |  UNION
        |  SELECT w.seed, e.dst, w.hops + 1 FROM walk w
        |  JOIN e ON e.src = w.node WHERE w.hops < 25),
        |d AS (SELECT seed, node, MIN(hops) AS hops FROM walk
        |      GROUP BY seed, node)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_reached,
        | CAST(SUM(10000 // hops) AS BIGINT) AS harmonic_bp
        |FROM d WHERE hops > 0
        |GROUP BY node ORDER BY node""".stripMargin
  )
}
