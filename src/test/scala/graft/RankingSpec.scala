package graft

import org.apache.spark.sql.functions._
import graft.graph.Ranking

/** Integer PageRank (graph.Ranking): fixed-point invariants that are
  * exact by construction, plus partitioning-independence — the property
  * the integer formulation exists for. The full recurrence is oracled
  * end-to-end by r06/r07 (DuckDB CTE mirror).
  */
class RankingSpec extends SparkTestBase {
  import spark.implicits._

  test("2-cycle is a fixed point: ranks stay exactly `scale`") {
    // a⇄b, outdeg 1 each: r' = 150000 + 85·1000000 div 100 = 1000000
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Ranking.pageRank(e, iters = 7)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 1000000L, "b" -> 1000000L))
  }

  test("hub of a star outranks the leaves; leaves tie exactly") {
    // b,c,d → a and a → b,c,d: the hub aggregates three contributions,
    // each leaf gets one third of the hub's
    val e = Seq(("b", "a"), ("c", "a"), ("d", "a"),
      ("a", "b"), ("a", "c"), ("a", "d")).toDF("src", "dst")
    val r = Ranking.pageRank(e, iters = 10)
      .as[(String, Long)].collect().toMap
    assert(r("a") > r("b"))
    assert(r("b") == r("c") && r("c") == r("d"))
  }

  test("one round matches the hand-computed recurrence incl. truncation") {
    // a→b, a→c, c→b. outdeg(a)=2, outdeg(c)=1; scale 10 → base 1 (15·10
    // div 100), contrib(a→·) = 10 div 2 = 5, contrib(c→b) = 10.
    // r1(a) = 1 + 0            = 1
    // r1(b) = 1 + 85·15 div 100 = 1 + 12 = 13   (1275/100 truncates)
    // r1(c) = 1 + 85·5 div 100  = 1 + 4  = 5
    val e = Seq(("a", "b"), ("a", "c"), ("c", "b")).toDF("src", "dst")
    val r = Ranking.pageRank(e, iters = 1, scale = 10L)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 1L, "b" -> 13L, "c" -> 5L))
  }

  test("result is identical on any input partitioning") {
    val base = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("b", "d")).toDF("src", "dst")
    val expected = Ranking.pageRank(base, iters = 6)
      .as[(String, Long)].collect().toSortedRanks
    for (parts <- Seq(1, 7)) {
      val got = Ranking.pageRank(base.repartition(parts), iters = 6)
        .as[(String, Long)].collect().toSortedRanks
      assert(got == expected, s"parts=$parts")
    }
  }

  test("broadcastRanks changes the plan, not the answer") {
    val base = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("b", "d")).toDF("src", "dst")
    val expected = Ranking.pageRank(base, iters = 6)
      .as[(String, Long)].collect().toSortedRanks
    val got = Ranking.pageRank(base, iters = 6, broadcastRanks = true)
      .as[(String, Long)].collect().toSortedRanks
    assert(got == expected)
  }

  test("zero iterations returns the uniform seed over all nodes") {
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = Ranking.pageRank(e, iters = 0)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 1000000L, "b" -> 1000000L, "c" -> 1000000L))
  }

  test("pageRankOnTable equals pageRank; the edge table never shuffles") {
    val e = (1 to 120)
      .map(i => (s"n${i % 17}", s"n${(i * 5 + 2) % 17}")).toDF("src", "dst")
    Ranking.writeBucketedEdges(e, "graft_rank_edges_spec", buckets = 4)
    val want = Ranking.pageRank(e, iters = 5)
      .as[(String, Long)].collect().toMap
    val got = Ranking.pageRankOnTable(spark, "graft_rank_edges_spec",
        iters = 5).as[(String, Long)].collect().toMap
    assert(got == want)
    // the rank table is src-bucketed, so the loop layout rule reads its
    // src-keyed projections at rest and nothing joined on dst — without
    // launching a job to decide
    val (verdicts, jobs) = jobsDuring {
      val t = spark.table("graft_rank_edges_spec")
      Seq(graft.sources.Warehouse.bucketedOn(t.select("src", "dst"), "src"),
        graft.sources.Warehouse.bucketedOn(t.filter(col("od") > 1), "src"),
        graft.sources.Warehouse.bucketedOn(t, "dst"),
        graft.sources.Warehouse.bucketedOn(
          t.join(t.select(col("src").as("dst")), Seq("dst")), "src"))
    }
    assert(verdicts == Seq(true, true, false, false) && jobs == 0,
      s"$verdicts, $jobs jobs")

    // Plan property (the reason the variant exists): with broadcast off,
    // a round over the bucketed table needs one FEWER exchange than the
    // same round over a plain materialized edge frame — the bucket
    // layout substitutes for the E-side shuffle of the sort-merge join.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = spark.table("graft_rank_edges_spec")
      val plain = bucketed.localCheckpoint()
      val nodes = bucketed.select(col("src").as("node"))
        .unionByName(bucketed.select(col("dst").as("node")))
        .distinct().localCheckpoint()
      val r = nodes.withColumn("r", lit(1000000L)).localCheckpoint()
      def exchanges(ew: org.apache.spark.sql.DataFrame): Int =
        Ranking.rankRound(ew, nodes, r, 1000000L)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
      val (nb, np) = (exchanges(bucketed), exchanges(plain))
      assert(nb == np - 1,
        s"bucketed round has $nb exchanges vs plain $np — bucket layout not used")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pageRankWeighted: uniform weights equal the unweighted ranks; " +
    "a dominant edge pulls rank to its target") {
    // uniform weights must reproduce pageRank exactly — the integer
    // contribution (r·w) div (Σw) with w=c equals r div od only when
    // the division is the same exact floor, i.e. (r·c) div (od·c);
    // that identity is what this pins
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("src", "dst")
    val want = Ranking.pageRank(e, iters = 8)
      .as[(String, Long)].collect().toSortedRanks
    val gotUniform = Ranking
      .pageRankWeighted(e.withColumn("w", lit(7L)), iters = 8)
      .as[(String, Long)].collect().toSortedRanks
    assert(gotUniform == want)
    // skewed: a splits 99:1 between b and c, both of which only return
    // mass to a — under uniform weights b and c tie exactly; under the
    // skew b must dominate c
    val e2 = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val flat = Ranking.pageRankWeighted(e2.withColumn("w", lit(1L)),
      iters = 8).as[(String, Long)].collect().toMap
    assert(flat("b") == flat("c"), s"fixture: uniform must tie: $flat")
    val wts = Seq(("a", "b", 99L), ("a", "c", 1L), ("b", "a", 1L),
      ("c", "a", 1L)).toDF("src", "dst", "w")
    val skew = Ranking.pageRankWeighted(wts, iters = 8)
      .as[(String, Long)].collect().toMap
    assert(skew("b") > skew("c"), s"weighting ignored: $skew")
  }

  test("personalizedPageRank: hand-computed restart recurrence on a chain") {
    // a→b→c, seed {a}, scale 100 (base 15 on the seed only):
    //   r0: a=100 b=0  c=0
    //   r1: a=15  b=85·100 div 100 = 85          c=0
    //   r2: a=15  b=85·15 div 100  = 12          c=85·85 div 100 = 72
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r = Ranking.personalizedPageRank(e, seeds, iters = 2, scale = 100L)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 15L, "b" -> 12L, "c" -> 72L))
  }

  test("personalizedPageRank: all-nodes seed set equals global pageRank; " +
    "a node outside the seed's reach stays exactly 0") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("b", "d")).toDF("src", "dst")
    val all = Seq("a", "b", "c", "d").toDF("node")
    val ppr = Ranking.personalizedPageRank(e, all, iters = 6)
      .as[(String, Long)].collect().toSortedRanks
    val global = Ranking.pageRank(e, iters = 6)
      .as[(String, Long)].collect().toSortedRanks
    assert(ppr == global)
    // z→a only: z never receives mass and is not a seed → rank 0
    val e2 = Seq(("a", "b"), ("b", "a"), ("z", "a")).toDF("src", "dst")
    val r2 = Ranking.personalizedPageRank(e2, Seq("a").toDF("node"),
      iters = 5).as[(String, Long)].collect().toMap
    assert(r2("z") == 0L)
    assert(r2("a") > 0L && r2("b") > 0L)
  }

  private implicit class RankOps(rows: Array[(String, Long)]) {
    def toSortedRanks: Seq[(String, Long)] = rows.sortBy(_._1).toSeq
  }
}
