package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (LPA,
  * Raghavan et al. 2007) over a FIXED round count: every node starts
  * as its own label; each round it adopts the most frequent label among
  * its neighbors, ties to the smallest label. In a curation pipeline
  * this is the domain/community clustering of the link graph — the
  * coarse partition crawl quotas and mixture budgets hang off.
  *
  * Determinism, stated plainly: classic LPA (random order, random
  * ties, run to convergence) is not reproducible, and synchronous LPA
  * can oscillate between two colorings forever on bipartite structure.
  * This operator therefore runs a FIXED number of synchronous rounds
  * with a total tiebreak (count desc, then smallest label) — the
  * result is a pure function of (graph, rounds), identical on every
  * engine/partitioning/rerun, which is what lets a DuckDB oracle
  * replay it round for round. `rounds` is the caller's contract, like
  * PageRank's iteration count (r06-r08's doctrine).
  *
  * Scale shape per round: one equi-join of the edge frame against the
  * keys-scale label frame (edges pre-hash-partitioned on dst — the
  * join key — so the label side is the only mover; over a frame of a
  * dst-bucketed edge table even that elides, the r08 doctrine), then
  * TWO map-side-combined aggregates: (src, label) counts, and the
  * per-src argmax as `min(struct(-count, label))` — an
  * ordinary reducible aggregate, NO window, so the argmax combines on
  * the map side instead of sorting each src's candidates. Labels are
  * materialized per round through the shared Iteration materializer
  * (lineage stays flat; reliable checkpoint in cluster mode).
  *
  * `edges` must be SYMMETRIC and duplicate-free (the [[Cores]]
  * contract); labels weight each neighbor once.
  */
object Communities {

  /** (node, label) after `rounds` synchronous rounds.
    *
    * `broadcastLabels`: the label frame is V-scale (node + label ids) —
    * when V is dim-table-bounded (the r07 broadcast-ranks contract) the
    * per-round join broadcasts it and the O(E) side never exchanges;
    * leave false when V outgrows the broadcast budget (the join then
    * shuffles labels to the dst-partitioned edges).
    *
    * `edges` picks the layout ([[graft.operators.Iteration.stage]]): a
    * frame over a dst-BUCKETED edge table
    * ([[graft.sources.Warehouse.writeBucketed]] on dst) is read at rest —
    * the O(E) side of every round's label join reads the bucket layout
    * from the metastore and never exchanges, at any V, with no
    * V-fits-in-memory contract; only the label frame and the candidate
    * aggregates move. Any other frame is staged in memory,
    * hash-partitioned on dst unless `prePartitionEdges = false`.
    * Identical labels either way (CoresSpec pins equality and the
    * exchange count).
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       checkpointDir: Option[String] = None,
                       prePartitionEdges: Boolean = true,
                       broadcastLabels: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    val in = graft.operators.Iteration.stage(
      edges.select(col("src"), col("dst")), "dst", ckpt,
      repartition = prePartitionEdges)
    val e = in.frame
    in.run {
      var labels = ckpt(e.select(col("dst").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
      // rounds plan without AQE (the Iteration.withoutAdaptive lever:
      // fixed round count, fixed shape, width already derived — paired
      // numbers in BENCH_NOTES.md §Round 16)
      for (_ <- 1 to rounds) labels =
        graft.operators.Iteration.withoutAdaptive(spark)(
          ckpt(lpaRound(e, labels, broadcastLabels)))
      labels
    }
  }

  /** One un-materialized synchronous LPA round — package-visible for
    * plan pins (the Routing.raptorRoundOn pattern).
    */
  private[graft] def lpaRound(e: DataFrame, labels: DataFrame,
                              broadcastLabels: Boolean = false): DataFrame = {
    val lSide = labels.select(col("node").as("dst"), col("label"))
    e.join(if (broadcastLabels) broadcast(lSide) else lSide, Seq("dst"))
      .groupBy(col("src"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("src"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
        .as("m"))
      .select(col("src").as("node"), col("m.l").as("label"))
  }
}
