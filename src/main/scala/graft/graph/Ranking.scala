package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis ranking over an edge list — the crawl-pipeline side of
  * the graph surface (domain/page ranking for source weighting is a
  * standard ingredient of large-scale training-data curation, alongside
  * the dedup/contamination passes in `graft.operators`).
  *
  * PageRank (Brin & Page 1998) with EXACT INTEGER arithmetic: ranks are
  * maintained in fixed-point units of 1/`scale`, every per-edge
  * contribution is an integer division, and every update is an
  * order-free integer sum — so the result is bit-identical on any
  * engine, partitioning, or plan, and a SQL oracle can hash-match it
  * (floating-point PageRank cannot: cross-engine libm and sum-order
  * drift). Truncation deterministically sheds < 1 unit of mass per
  * edge per round; that loss is part of the defined semantics and the
  * oracle reproduces it exactly.
  */
object Ranking {

  /** Integer PageRank over directed `edges` (src, dst) for a FIXED
    * number of rounds (the production form: rank pipelines run a fixed
    * round budget; convergence detection on exact integers adds a probe
    * job per round for no decision value at typical budgets).
    *
    * Semantics per round, all in integer units:
    *   contrib(u→v) = r(u) div outdeg(u)
    *   r'(v)        = (15·scale) div 100  +  (85 · Σ contrib(·→v)) div 100
    * Nodes with no in-edges keep the base term; nodes with no out-edges
    * (dangling) keep their rank but redistribute nothing — the standard
    * simplification, acceptable for ranking use (no normalized
    * probability interpretation is claimed).
    *
    * Scale shape: the edge frame is materialized ONCE with out-degree
    * attached; each round is a join of the V-sized rank frame against
    * it, the dst-keyed inflow aggregation (the round's main exchange),
    * and a V-sized left join re-attaching rankless nodes. With
    * `broadcastRanks` the O(E) frame never re-shuffles; where V
    * outgrows executor memory, write the edge frame as a src-BUCKETED
    * table (sources/Warehouse) — bucketed SMJ then pins the E side
    * exchange-free with only the rank frame shuffling per round. (A
    * checkpoint alone cannot pin it: AQE checkpoints drop
    * outputPartitioning — PlanSpec.) Rounds cost O(E) map work + one
    * O(E→V) shuffle — nothing accumulates across rounds.
    *
    * `broadcastRanks`: opt-in per-round broadcast of the V-sized rank
    * frame. The rank frame is a checkpoint (unknown stats → no static
    * broadcast), and AQE's runtime conversion only downgrades the
    * shuffle READ — the planned O(E) shuffle WRITE of the edge side
    * still runs every round. The hint skips that write entirely; paired
    * 5-pass bench mins at sf0.1: r07 4.39→3.82 s, r06 1.55→1.47 s
    * (results bit-identical — RankingSpec pins the equality). Caller
    * asserts V·rowbytes fits the executors (like every broadcast
    * contract); for unbounded V use the default, or the bucketed table
    * mode which needs no broadcast at all.
    *
    * `scale` bounds: Σ ranks ≤ V·scale, and the update multiplies by 85,
    * so V·scale must stay below 2^63/85 ≈ 10^17 — at 10^9 nodes the
    * default 10^6 scale is exactly at the safe bound; lower `scale` for
    * larger graphs.
    *
    * `checkpointDir`: reliable per-round checkpoints for cluster runs
    * (see [[graft.operators.Iteration.materializer]]).
    * Output: (node, r) — r in units of 1/scale.
    *
    * MEASURED AND REJECTED (benchmark before re-trying): pinning the
    * edge frame to an explicit repartition(defaultParallelism, src)
    * before the checkpoint — paired 5-pass mins at sf0.1 read r07
    * 5.90→7.50 s and r06 1.63→2.57 s. AQE's byte-based coalescing of
    * the materialized frame is already the right granularity here; the
    * extra per-round task fan-out costs more than the map-parallelism
    * it buys. (On a real cluster the checkpoint blocks spread over
    * executors regardless — the knob would only matter if a round's
    * map work measurably serialized, which it does not.)
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000L,
               checkpointDir: Option[String] = None,
               broadcastRanks: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    // The caller's edge frame is often an expensive derivation (r07:
    // fact-join + distinct + symmetrize), and it feeds THREE consumers
    // below (out-degree, the degree join's probe side, the node set).
    // Without this materialization each consumer re-runs the whole
    // upstream query — paired 5-pass bench mins at sf0.1: r07
    // 6.41→4.79 s, r06 1.81→1.54 s. One O(E) checkpoint replaces two
    // full upstream recomputes; at cluster scale the same trade holds
    // (one edge-list write vs two re-scans of the fact join).
    val e0 = ckpt(edges.select(col("src"), col("dst")))
    // out-degree attached to every edge ONCE, then materialized so no
    // round re-derives it
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val in = graft.operators.Iteration.stage(e0.join(deg, Seq("src")),
      "src", ckpt)
    val nodes = ckpt(
      e0.select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .distinct())
    iterate(in, nodes, iters, scale, broadcastRanks, ckpt)
  }

  /** WEIGHTED PageRank: contributions proportional to edge weight over
    * the source's total out-weight — rank flows where the volume flows
    * (trade value, link count), the form crawl/domain weighting
    * actually uses. Same exact-integer fixed point as [[pageRank]]
    * (per-edge contribution = (r·w) div Σw — products bounded by
    * scale·V·maxW, well inside long range at dim-bounded V), same
    * shuffle shape: out-weights attach to edges once, each round is
    * one edge⋈rank join + one receiver aggregate. `edges` needs
    * (src, dst, w) with integer w ≥ 1.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int,
                       scale: Long = 1000000L,
                       checkpointDir: Option[String] = None,
                       broadcastRanks: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    // the "integer w ≥ 1" contract is ENFORCED, not just documented: a
    // w = 0 edge can zero wsum and turn (r*w) div wsum null (silently
    // dropped from the inflow sum — rank corruption, while the oracle
    // errors), and negative w corrupts ranks outright. The check rides
    // the one-time e0 materialization pass, so the per-round loop never
    // re-pays it.
    val e0 = ckpt(edges.select(col("src"), col("dst"),
      when(col("w") >= 1, col("w")).otherwise(raise_error(concat(
        lit("pageRankWeighted: edge weight must be >= 1, got "),
        // coalesce: a NULL w must not null the diagnostic itself
        coalesce(col("w").cast("string"), lit("NULL"))))).as("w")))
    val ws = e0.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val in = graft.operators.Iteration.stage(e0.join(ws, Seq("src")),
      "src", ckpt)
    val nodes = ckpt(
      e0.select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .distinct())
    iterate(in, nodes, iters, scale, broadcastRanks, ckpt,
      contrib = "(r * w) div wsum")
  }

  /** PERSONALIZED PageRank (random walk with restart): teleport mass
    * returns to the SEED set instead of spreading uniformly — the
    * "relevance to these known-good sources" score a crawl/curation
    * pipeline uses to weight pages near trusted domains (vs
    * [[pageRank]]'s global importance). Same exact-integer fixed point
    * and identical per-round shuffle shape; the only changes are the
    * initial mass (scale on seeds, 0 elsewhere) and the base term
    * (15%·scale on seeds, 0 elsewhere):
    *   r0(v)  = scale·1[v∈S]
    *   r'(v)  = 1[v∈S]·(15·scale div 100) + (85·Σ contrib(·→v)) div 100
    * `seeds` is a 1-column (node) frame; membership rides the node frame
    * as an is_seed flag attached ONCE at staging (a V-sized left join),
    * so rounds pay nothing extra. Nodes unreachable from the seeds in
    * `iters` hops report rank 0 — correct for the restart semantics.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           scale: Long = 1000000L,
                           checkpointDir: Option[String] = None,
                           broadcastRanks: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    val e0 = ckpt(edges.select(col("src"), col("dst")))
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val in = graft.operators.Iteration.stage(e0.join(deg, Seq("src")),
      "src", ckpt)
    val nodes = ckpt(
      e0.select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .distinct()
        .join(seeds.select(col("node")).distinct()
          .withColumn("is_seed", lit(1)), Seq("node"), "left")
        .na.fill(0, Seq("is_seed")))
    // fail loudly on a seed set disjoint from the graph (typos, ids from
    // the wrong namespace, isolated nodes): every rank would be silently
    // zero otherwise — `nodes` is already materialized, so the guard is
    // one cheap probe, not an extra pass
    require(!nodes.filter(col("is_seed") === 1).isEmpty,
      "personalizedPageRank: no seed appears as an edge endpoint — " +
        "the restart distribution would be empty and every rank 0")
    iterate(in, nodes, iters, scale, broadcastRanks, ckpt,
      personalized = true)
  }

  /** [[pageRank]] over a src-bucketed edge table written by
    * [[writeBucketedEdges]] — the cluster deployment mode for rank
    * iteration. Every round's rank join reads the bucket layout straight
    * from the metastore, so the O(E) side NEVER shuffles, round after
    * round, no matter how large V grows. The checkpoint-based form
    * cannot promise that (AQE checkpoints drop partitioning — PlanSpec);
    * at 100 TB, re-scanning a bucketed columnar table per round is the
    * cheaper side of the trade against re-shuffling it per round.
    * Identical integer semantics to [[pageRank]] (RankingSpec pins the
    * equality); RankingSpec also pins the plan property: with broadcast
    * disabled, a round has exchanges ONLY on the V-sized frames. The
    * table is staged by [[graft.operators.Iteration.stage]], so one not
    * bucketed on src runs in memory, as [[pageRank]] does.
    */
  def pageRankOnTable(spark: org.apache.spark.sql.SparkSession,
                      table: String, iters: Int, scale: Long = 1000000L,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    // (src, dst, od), bucketed by src: read at rest
    val in = graft.operators.Iteration.stage(spark.table(table), "src", ckpt)
    val nodes = ckpt(
      in.frame.select(col("src").as("node"))
        .unionByName(in.frame.select(col("dst").as("node")))
        .distinct())
    iterate(in, nodes, iters, scale, bcastRanks = false, ckpt)
  }

  /** Stage the edge side of [[pageRankOnTable]]: out-degree precomputed,
    * bucketed AND sorted by src (the sort removes the per-task sort from
    * every round's sort-merge join).
    */
  def writeBucketedEdges(edges: DataFrame, table: String,
                         buckets: Int): Unit = {
    val e0 = edges.select(col("src"), col("dst"))
    graft.sources.Warehouse.writeBucketed(
      e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("od")),
        Seq("src")),
      table, "src", buckets)
  }

  /** MEASURED AND REJECTED (benchmark before re-trying): chaining the
    * fixed rounds LAZILY into one plan (no per-round materialization
    * when `checkpointDir` is unset — there is no convergence probe, so
    * nothing forces a job per round). Paired 5-pass mins at sf0.1, same
    * host, minutes apart: r06 1.81→2.00 s, r07 6.41→6.27 s, r08
    * 2.24→2.34 s — a wash. The per-round jobs the lazy form saves are
    * repaid in optimizing a plan that deepens by a join+agg+join every
    * round; and at user-chosen high `iters` that unmaterialized depth
    * turns into runaway analysis time, where the eager form stays flat.
    */
  private def iterate(in: graft.operators.Iteration.LoopInput,
                      nodes: DataFrame, iters: Int,
                      scale: Long, bcastRanks: Boolean,
                      ckpt: DataFrame => DataFrame,
                      contrib: String = "r div od",
                      personalized: Boolean = false): DataFrame = {
    val spark = nodes.sparkSession
    // the node frame narrows to the round width like the staged edges
    // (in broadcast-ranks mode a round's task width is their partition
    // count, not the conf)
    val nodesR =
      if (in.parts < nodes.rdd.getNumPartitions) nodes.coalesce(in.parts)
      else nodes
    in.run {
      val r0 =
        if (personalized)
          nodesR.select(col("node"), col("is_seed"),
            when(col("is_seed") === 1, lit(scale)).otherwise(lit(0L))
              .as("r"))
        else nodesR.withColumn("r", lit(scale))
      var r = ckpt(r0)
      var i = 0
      while (i < iters) {
        // rounds over a table read at rest plan without AQE — the
        // Iteration.withoutAdaptive lever; the IN-MEMORY rounds KEEP it:
        // their per-round E-scale shuffles measured 40-75% slower without
        // AQE's post-shuffle coalescing (r07 3.07→5.35, r14 3.67→5.33,
        // r21 3.51→5.32 under a global AQE-off — BENCH_NOTES.md §Round 16)
        val round = rankRound(in.frame, nodesR,
          r.select(col("node"), col("r")), scale, bcastRanks, contrib,
          personalized)
        r = if (in.atRest)
              graft.operators.Iteration.withoutAdaptive(spark)(ckpt(round))
            else ckpt(round)
        i += 1
      }
      r.select(col("node"), col("r"))
    }
  }

  /** One un-materialized round: contributions routed along edges, summed
    * per receiver, damped update re-attached to the full node set.
    * Exposed inside the package so the plan properties can be asserted
    * on exactly the frame the loop materializes.
    */
  private[graft] def rankRound(ew: DataFrame, nodes: DataFrame,
                               r: DataFrame, scale: Long,
                               bcastRanks: Boolean = false,
                               contrib: String = "r div od",
                               personalized: Boolean = false): DataFrame = {
    val base = 15L * scale / 100
    // personalized: the teleport term lands ONLY on seeds (is_seed rides
    // the node frame, attached once at staging — no per-round cost)
    val baseCol =
      if (personalized) when(col("is_seed") === 1, lit(base))
        .otherwise(lit(0L))
      else lit(base)
    val rSide = if (bcastRanks) broadcast(r) else r
    val inflow = ew.join(rSide, ew("src") === r("node"))
      .select(col("dst").as("node"), expr(contrib).as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
    // the left join re-attaches nodes that received nothing this round
    nodes
      .join(inflow, Seq("node"), "left")
      .select(col("node"),
        (baseCol + expr("(85 * coalesce(inflow, 0L)) div 100"))
          .as("r"))
  }
}
