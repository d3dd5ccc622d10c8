package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the one graph
  * primitive the undirected family (Dedup.dupClusters' CC, Cores, LPA)
  * cannot express: mutual reachability. In a curation pipeline this is
  * the link-graph cycle structure (citation/quote loops, mutual-follow
  * cores, crawl traps) and the precondition for any DAG analytics
  * (condensation; the reference's route graphs are directed, so "which
  * stops are mutually reachable" is exactly this query).
  *
  * Algorithm: forward-backward COLORING (Orzan 2004's coloring variant
  * of Fleischer/Hendrickson/Pinar FW-BW — the standard distributed SCC
  * scheme; Hong et al. 2013 measure its round counts small on
  * real-world graphs). Each outer round, over the still-active
  * subgraph:
  *
  *   1. TRIM — a node with no active in-edge or no active out-edge can
  *      sit on no cycle: settle it as a singleton SCC. One pass per
  *      outer round (removals expose new trims, which the next round
  *      collects — folding the fixpoint into the outer loop instead of
  *      nesting a third loop).
  *   2. COLOR — propagate min node id FORWARD to fixpoint:
  *      color(v) = min over active u with u →* v (own id included).
  *      A frontier loop: only nodes whose color improved propagate.
  *   3. MARK — the root of every color class is the class id itself
  *      (if any active u < c reached c it would also reach, and
  *      therefore recolor, c's whole class); the SCC of
  *      root c is exactly the nodes of class c that reach c BACKWARD
  *      without leaving the class, and every intermediate node of such
  *      a path is itself in class c, so a backward frontier loop
  *      restricted to same-color edges finds it whole.
  *   4. SETTLE — marked nodes take scc = color; active shrinks, edges
  *      with a settled endpoint drop (an SCC is wholly inside one
  *      color class, so cross-class edges can never join a future SCC
  *      with a settled one).
  *
  * Every outer round settles at least the SCC of the minimum active
  * node (it colors its whole forward set), so ≤ #SCC outer rounds;
  * in practice a handful (each round settles EVERY color root's SCC
  * in parallel, plus all trims).
  *
  * Scale shape: state frames are V-scale (node, color/scc); the O(E)
  * edge frame is pre-hash-partitioned on src (the forward join key) and
  * re-materialized only when it shrinks (once per OUTER round, not per
  * propagation round). Inner loops shuffle only frontier-sized frames —
  * the [[Routing.bfsHops]] doctrine. The edge frame is staged like
  * [[Routing.bfsHops]]' ([[graft.operators.Iteration.stage]]) and every
  * round plans at its width.
  */
object Scc {

  /** (node, scc) for every node of `edges` (src, dst) — scc is the
    * smallest node id in the component. Deterministic: a pure function
    * of the graph, so a DuckDB mutual-reachability oracle hash-matches.
    *
    * `maxOuter` bounds outer rounds (≤ #SCC needed; each settles every
    * current color root's component). `maxColorRounds` bounds each
    * forward/backward propagation (graph diameter suffices).
    *
    * PICKING `maxOuter`: a round settles every color ROOT's class, so
    * the needed count is the length of the longest chain in the
    * condensation along which ids DECREASE (each such link delays its
    * downstream SCC by one round — the min floods forward and only the
    * global root is its own color). Anti-aligned ids (labels increasing
    * along the chain) settle in O(1) rounds; the adversarial order
    * (e.g. a 100-node id-increasing path, ~1 SCC/round after trims)
    * needs maxOuter ≈ #SCC. Truncation ABORTS with the sound settled
    * prefix and the standard warning — partial, never wrong (SccSpec
    * pins the 12-cycle truncation case); raise maxOuter toward the
    * expected condensation-chain length when the warning fires.
    */
  def scc(edges: DataFrame, maxOuter: Int = 50, maxColorRounds: Int = 100,
          warnOnTruncation: Boolean = true,
          checkpointDir: Option[String] = None,
          prePartitionEdges: Boolean = true): DataFrame = {
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    val eSel = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
    val in = graft.operators.Iteration.stage(eSel, "src", ckpt,
      repartition = prePartitionEdges, sized = prePartitionEdges)
    in.run {
      var e = in.frame
      var active = ckpt(e.select(col("src").as("node"))
        .union(e.select(col("dst"))).distinct())
      // settled accumulates (node, scc); grown by union + ckpt per outer
      // round so lineage stays flat
      var settled: Option[DataFrame] = None
      def settle(rows: DataFrame): Unit = {
        val s = settled match {
          case Some(acc) => acc.unionByName(rows)
          case None      => rows
        }
        settled = Some(ckpt(s))
      }
      // Frontier fixpoint for the two inner loops: run `step` until no
      // __new rows or maxColorRounds; (state, converged).
      def fixpoint(init: DataFrame,
                   step: (DataFrame, DataFrame) => DataFrame)
          : (DataFrame, Boolean) = {
        var state = ckpt(init)
        var frontier = state.filter(col("__new"))
        var i = 0
        while (i < maxColorRounds && !frontier.isEmpty) {
          state = ckpt(step(state, frontier))
          frontier = state.filter(col("__new"))
          i += 1
        }
        (state.drop("__new"), frontier.isEmpty)
      }
      var outer = 0
      var aborted = false
      while (outer < maxOuter && !aborted && !active.isEmpty) {
        // 1. TRIM — singleton-settle nodes missing an in- or out-edge
        // (INTERSECT deduplicates both sides itself — no pre-distinct)
        val canCycle = ckpt(e.select(col("src").as("node"))
          .intersect(e.select(col("dst").as("node"))))
        val trimmed = active.join(canCycle, Seq("node"), "left_anti")
        settle(trimmed.select(col("node"), col("node").as("scc")))
        active = canCycle
        if (!active.isEmpty) {
          // 2. COLOR — forward min-label fixpoint over the active subgraph
          val eAct = ckpt(
            e.join(active.withColumnRenamed("node", "src"), Seq("src"))
              .join(active.withColumnRenamed("node", "dst"), Seq("dst"))
              .select(col("src"), col("dst")))
          val (colorF, colorOk) = fixpoint(
            active.select(col("node"), col("node").as("color"),
              lit(true).as("__new")),
            (color, frontier) => {
              val cand = frontier.join(eAct, frontier("node") === eAct("src"))
                .groupBy(eAct("dst").as("node"))
                .agg(min(col("color")).as("cand"))
              color.drop("__new")
                .join(cand, Seq("node"), "full")
                .select(col("node"),
                  least(col("color"), col("cand")).as("color"),
                  (col("cand").isNotNull &&
                    col("cand") < col("color")).as("__new"))
            })
          // MARK's soundness REQUIRES each inner FIXPOINT: settling from
          // a truncated coloring (or a truncated backward mark) would
          // SPLIT an SCC into wrong fragments — a different failure class
          // than partial output. On truncation, abort with the sound
          // prefix: everything settled so far (trims + earlier rounds)
          // is correct, the rest is honestly missing, and the truncation
          // warning fires below.
          if (!colorOk) aborted = true
          else {
            // 3. MARK — backward frontier from every color root, edges
            // restricted to the root's own class (a backward path to the
            // root cannot leave the class — see the object doc)
            val eColored = ckpt(eAct
              .join(colorF.withColumnRenamed("node", "src")
                .withColumnRenamed("color", "src_color"), Seq("src"))
              .join(colorF.withColumnRenamed("node", "dst")
                .withColumnRenamed("color", "dst_color"), Seq("dst"))
              .filter(col("src_color") === col("dst_color"))
              .select(col("src"), col("dst"), col("src_color").as("color")))
            val (marked, markOk) = fixpoint(
              colorF.filter(col("node") === col("color"))
                .withColumn("__new", lit(true)),
              (m, mf) => {
                val cand = mf
                  .join(eColored, mf("node") === eColored("dst") &&
                    mf("color") === eColored("color"))
                  .select(eColored("src").as("node"),
                    eColored("color").as("cand_color"))
                  .distinct()
                m.drop("__new")
                  .join(cand, Seq("node"), "full")
                  .select(col("node"),
                    coalesce(col("color"), col("cand_color")).as("color"),
                    col("color").isNull.as("__new"))
              })
            if (!markOk) aborted = true
            else {
              // 4. SETTLE — marked nodes form whole SCCs (id = the root)
              val found = marked.select(col("node"), col("color").as("scc"))
              settle(found)
              active = ckpt(active.join(found.select(col("node")),
                Seq("node"), "left_anti"))
              e = ckpt(eAct
                .join(found.select(col("node").as("src")), Seq("src"),
                  "left_anti")
                .join(found.select(col("node").as("dst")), Seq("dst"),
                  "left_anti")
                .select(col("src"), col("dst")))
            }
          }
        }
        outer += 1
      }
      graft.operators.Iteration.warnIfTruncated("scc", active,
        if (aborted) maxOuter else outer, maxOuter, warnOnTruncation)
      settled.getOrElse( // empty input graph: typed empty result
        eSel.select(col("src").as("node"), col("src").as("scc")).limit(0))
    }
  }

  /** Condensation edges: the DAG the graph collapses to under [[scc]] —
    * distinct (scc(src), scc(dst)) pairs with different endpoints. One
    * join of the edge frame against the V-scale label frame per side +
    * a distinct: the standard post-SCC step every cycle-aware analysis
    * (topological batching, longest path) runs on.
    */
  def condensation(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.withColumnRenamed("node", "src")
        .withColumnRenamed("scc", "src_scc"), Seq("src"))
      .join(labels.withColumnRenamed("node", "dst")
        .withColumnRenamed("scc", "dst_scc"), Seq("dst"))
      .filter(col("src_scc") =!= col("dst_scc"))
      .select(col("src_scc"), col("dst_scc"))
      .distinct()

  /** Longest-path LAYERS of a DAG (node, layer): layer 0 = no incoming
    * edge, otherwise 1 + max over predecessors — the topological
    * batching every DAG scheduler/critical-path analysis runs on the
    * [[condensation]] (which is what makes it total: an arbitrary
    * directed graph gets layered THROUGH its SCC collapse; feeding a
    * cyclic graph here would never converge, so `maxIter` guards it
    * with the standard truncation warning).
    *
    * Frontier relaxation with a max-merge: a round relaxes only nodes
    * whose layer grew last round — ≤ depth rounds, per-round shuffle
    * O(frontier·out-degree), the [[Routing.bfsHops]] shape with max
    * instead of first-discovery.
    */
  def dagLayers(dagEdges: DataFrame, maxIter: Int = 100,
                warnOnTruncation: Boolean = true,
                checkpointDir: Option[String] = None): DataFrame = {
    val spark = dagEdges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    val e = ckpt(dagEdges.select(col("src"), col("dst")).distinct())
    var layer = ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .select(col("node"), lit(0).as("layer"), lit(true).as("__new")))
    var frontier = layer.filter(col("__new"))
    var i = 0
    while (i < maxIter && !frontier.isEmpty) {
      val cand = frontier.join(e, frontier("node") === e("src"))
        .groupBy(e("dst").as("node"))
        .agg(max(col("layer") + 1).as("cand"))
      layer = ckpt(layer.drop("__new")
        .join(cand, Seq("node"), "full")
        .select(col("node"),
          greatest(col("layer"), col("cand")).as("layer"),
          (col("cand").isNotNull && col("cand") > col("layer"))
            .as("__new")))
      frontier = layer.filter(col("__new"))
      i += 1
    }
    graft.operators.Iteration.warnIfTruncated("dagLayers", frontier, i,
      maxIter, warnOnTruncation)
    layer.drop("__new")
  }
}
