package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive-hierarchy aggregation — the BOM-explosion / org-chart
  * rollup class (SQL's RECURSIVE CTE + GROUP BY): every node of a
  * parent-pointer forest reports the aggregate over its whole subtree.
  * A single-node engine walks the recursion row-by-row; here the
  * fixpoint is a LEVEL-SYNCHRONOUS loop of joins — the same doctrine as
  * the graph frontier loops (graph.Routing/Ranking), so 10⁹-node
  * hierarchies cost depth × O(V) shuffles, not O(V) recursion steps.
  *
  * Recurrence (exact integers): total₀(k) = value(k);
  *   totalᵢ(k) = value(k) + Σ_{parent(c)=k} totalᵢ₋₁(c)
  * After i rounds totalᵢ is exact for every node whose subtree HEIGHT
  * is ≤ i (bottom-up induction: leaves are exact at round 0), and once
  * every node is exact the recurrence is a fixpoint — extra rounds are
  * no-ops. `rounds` is a BOUND, not the iteration count: the loop
  * stops at the MEASURED fixpoint (one cheap changed-row probe per
  * round over the just-checkpointed frame — the bfsHops empty-frontier
  * doctrine), so a shallow forest with a deep key scheme (sf1's
  * key-shifted copies are mostly roots) pays for its actual height,
  * not for the depth the key range implies. HierarchySpec pins both
  * the overshoot-is-harmless property and the early exit.
  */
object Hierarchy {

  /** Subtree totals over a parent-pointer forest.
    * `nodes`: one row per node — (keyCol, parentCol, valueCol); roots
    * have NULL parent; keys must be unique and the structure acyclic
    * (a cycle never converges — caller contract, as for any recursive
    * CTE). Output: (k, total, n_desc) — the value sum over the node's
    * subtree (itself included) and its proper-descendant count.
    */
  def subtreeAggregate(nodes: DataFrame, keyCol: String, parentCol: String,
                       valueCol: String, rounds: Int,
                       checkpointDir: Option[String] = None): DataFrame =
    subtreeAggregateCounted(nodes, keyCol, parentCol, valueCol, rounds,
      checkpointDir)._1

  /** [[subtreeAggregate]] plus the number of rounds actually executed —
    * package-visible so HierarchySpec can pin the measured-height early
    * exit (roundsRun = height + 1: the last round verifies the fixpoint).
    */
  private[graft] def subtreeAggregateCounted(
      nodes: DataFrame, keyCol: String, parentCol: String,
      valueCol: String, rounds: Int,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    require(rounds >= 0, "rounds must be non-negative")
    val ckpt = Iteration.materializer(nodes.sparkSession, checkpointDir)
    val in = Iteration.stage(nodes.select(col(keyCol).as("k"),
      col(parentCol).as("p"), col(valueCol).cast("long").as("v")), "k", ckpt)
    in.run {
      // the parent pointer AND value ride the loop frame — recovering
      // either with a per-round t⋈base join would add a V-sized shuffle
      // join per round for columns the rebuild already has in hand
      var t = ckpt(in.frame.select(col("k"), col("p"), col("v"),
        col("v").as("total"), lit(0L).as("n_desc")))
      var i = 0
      var converged = false
      while (i < rounds && !converged) {
        // children's round-(i-1) totals, grouped to their parent: one
        // V-sized aggregate + one V-sized join per round — nothing
        // accumulates across rounds (each round rebuilds from the loop
        // frame). The group key is ALIASED to a fresh attribute: t and
        // up share lineage, and an un-aliased groupBy would put the
        // same attribute on both sides of the join
        // (DetectAmbiguousSelfJoin rejects it)
        val up = t.filter(col("p").isNotNull)
          .groupBy(col("p").as("__up_p"))
          .agg(sum(col("total")).as("ct"),
            sum(col("n_desc") + 1L).as("cd"))
        val total2 = (t("v") + coalesce(col("ct"), lit(0L)))
        val nDesc2 = coalesce(col("cd"), lit(0L))
        val tn = ckpt(t
          .join(up, t("k") === up("__up_p"), "left")
          .select(t("k"), t("p"), t("v"),
            total2.as("total"), nDesc2.as("n_desc"),
            (total2 =!= t("total") || nDesc2 =!= t("n_desc")).as("__chg")))
        // fixpoint probe: if NO node's (total, n_desc) moved, next
        // round's inputs are identical — stop. A narrow filter + take(1)
        // over the checkpoint just written, the bfsHops isEmpty pattern.
        converged = tn.filter(col("__chg")).isEmpty
        t = tn.drop("__chg")
        i += 1
      }
      (t.select(col("k"), col("total"), col("n_desc")), i)
    }
  }
}
