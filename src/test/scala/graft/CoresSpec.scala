package graft

import org.apache.spark.sql.functions._
import graft.graph.Cores

/** k-core peel: hand-checkable fixpoints on crafted graphs. */
class CoresSpec extends SparkTestBase {
  import spark.implicits._

  private def sym(pairs: (Int, Int)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("kCore: triangle survives the 2-core, pendant chain peels away") {
    // triangle 1-2-3 plus chain 3-4-5: peeling k=2 removes 5 (deg 1),
    // then 4 — the triangle is the 2-core
    val e = sym((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    val core = Cores.kCore(e, k = 2).as[Int].collect().sorted
    assert(core.toSeq == Seq(1, 2, 3))
  }

  test("kCore: cascade — losing one member drops neighbors below k") {
    // K4 on 1-4 with a tail 4-5-6-5? no: K4 plus vertex 5 attached to
    // 3 and 4 only (deg 2): 3-core = K4 (5 dies, K4 degrees stay 3)
    val e = sym((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (3, 5), (4, 5))
    assert(Cores.kCore(e, k = 3).as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4))
    // k=4: K4 has degree 3 — everything cascades to empty
    assert(Cores.kCore(e, k = 4).count() == 0)
  }

  test("delta round: frontier broadcasts, edge side sees no exchange") {
    // the per-round shape kCore builds when the removed frontier fits
    // the broadcast budget: e ⋈ broadcast(frontier) must plan as a
    // BroadcastHashJoin with no shuffle on the O(E) probe side — the
    // whole point of delta peeling vs the recompute-from-scratch form
    val e = sym((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    val frontier = Seq(5).toDF("dst")
    val delta = e.join(broadcast(frontier), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("__dec"))
    val plan = delta.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    val joinSection = plan.substring(0, plan.indexOf("HashAggregate"))
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"edge side shuffled before the frontier join:\n$plan")
  }

  test("kCore equals a serial peel on the r10 hashed graph") {
    val o = Tables(spark, sfSmoke).orders
    val nn = math.max(o.count() / 35, 8L)
    val e0 = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").cast("string").as("k"))
      .select(
        (graft.functions.text.saltedHash32(col("k"), 1) % nn)
          .cast("int").as("s"),
        (graft.functions.text.saltedHash32(col("k"), 2) % nn)
          .cast("int").as("t"))
      .filter(col("s") =!= col("t"))
      .as[(Int, Int)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    // serial reference peel
    var adj = e0.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    var changed = true
    while (changed) {
      val dead = adj.collect { case (n, ns) if ns.size < 7 => n }.toSet
      changed = dead.nonEmpty
      adj = adj.collect { case (n, ns) if !dead(n) => n -> (ns -- dead) }
    }
    val got = Cores.kCore(sym(e0.toIndexedSeq: _*), k = 7)
      .as[Int].collect().sorted
    assert(got.toSeq == adj.keys.toSeq.sorted)
  }

  test("kCore fallback: a zero broadcast budget (every round takes the " +
    "mass-round equi-join path) changes nothing") {
    // the same graphs as above, forced down the non-broadcast branch
    val e1 = sym((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    assert(Cores.kCore(e1, k = 2, broadcastRemovedMax = 0L)
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    val e2 = sym((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (3, 5), (4, 5))
    assert(Cores.kCore(e2, k = 3, broadcastRemovedMax = 0L)
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    assert(Cores.kCore(e2, k = 4, broadcastRemovedMax = 0L).count() == 0)
  }

  test("labelPropagation: two cliques with a bridge resolve to two " +
    "communities; serial replay parity on the hashed graph") {
    import graft.graph.Communities
    // K4 on 1-4 and K4 on 11-14, bridged 4-11: labels converge to the
    // min member of each clique; fixed 4 rounds are enough here
    val k4a = for (a <- 1 to 4; b <- 1 to 4 if a != b) yield (a, b)
    val k4b = for (a <- 11 to 14; b <- 11 to 14 if a != b) yield (a, b)
    val e = (k4a ++ k4b ++ Seq((4, 11), (11, 4)))
      .map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
    val got = Communities.labelPropagation(e, rounds = 4)
      .as[(String, String)].collect().toMap
    assert(Seq("1", "2", "3").forall(n => got(n) == got("1")))
    assert(Seq("11", "12", "13", "14").forall(n => got(n) == got("11")))
    assert(got("1") != got("11"))
    // serial synchronous replay with the exact tiebreak
    val adj = (k4a ++ k4b ++ Seq((4, 11), (11, 4)))
      .map { case (a, b) => (a.toString, b.toString) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lab = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lab = adj.map { case (n, ns) =>
        val cnt = ns.groupBy(lab).map { case (l, xs) => l -> xs.size }
        n -> cnt.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    assert(got == lab)
  }

  test("labelPropagation over a dst-bucketed table reads it at rest and " +
    "equals the in-memory loop; the edge table never exchanges in a round") {
    import graft.graph.Communities
    // denser symmetric graph so buckets carry >1 row
    val half = (1 to 150).map(i => (s"n${i % 23}", s"n${(i * 7 + 3) % 23}"))
      .filter { case (a, b) => a != b }.distinct
    val sym = (half ++ half.map(_.swap)).distinct
    val e = sym.toDF("src", "dst")
    graft.sources.Warehouse.writeBucketed(e, "lpa_spec_edges", "dst", 4)
    try {
      val want = Communities.labelPropagation(e, rounds = 4)
        .as[(String, String)].collect().toMap
      val table = spark.table("lpa_spec_edges")
      val (in, jobs) = jobsDuring(graft.operators.Iteration.stage(
        table.select(col("src"), col("dst")), "dst", _.localCheckpoint()))
      in.run(())
      assert(in.atRest && jobs == 0, s"at rest ${in.atRest}, $jobs jobs")
      val got = Communities.labelPropagation(table, rounds = 4)
        .as[(String, String)].collect().toMap
      assert(got == want && got.nonEmpty)
      assert(spark.sharedState.cacheManager.isEmpty)
      // plan pin: a round over the dst-bucketed table needs one FEWER
      // hash exchange than over a plain materialized frame (the bfsHops
      // at-rest pin applied to the LPA join)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val bucketed = spark.table("lpa_spec_edges")
          .select(col("src"), col("dst"))
        val labels = e.select(col("dst").as("node")).distinct()
          .select(col("node"), col("node").as("label")).localCheckpoint()
        def exchanges(ed: org.apache.spark.sql.DataFrame): Int =
          graft.operators.Iteration.withShufflePartitions(spark, 4) {
            Communities.lpaRound(ed, labels).queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
              .linesIterator.count(_.contains("Exchange hashpartitioning"))
          }
        val (nb, np) = (exchanges(bucketed), exchanges(bucketed.localCheckpoint()))
        assert(nb == np - 1,
          s"bucketed round has $nb exchanges vs plain $np — layout unused")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS lpa_spec_edges")
  }

  test("labelPropagation stages a table bucketed on src, not its dst " +
    "join key, in memory — with identical labels") {
    import graft.graph.Communities
    val half = (1 to 150).map(i => (s"n${i % 23}", s"n${(i * 7 + 3) % 23}"))
      .filter { case (a, b) => a != b }.distinct
    val e = (half ++ half.map(_.swap)).distinct.toDF("src", "dst")
    graft.sources.Warehouse.writeBucketed(e, "lpa_spec_src_edges", "src", 4)
    try {
      val table = spark.table("lpa_spec_src_edges")
      val (atRest, jobs) = jobsDuring(
        graft.sources.Warehouse.bucketedOn(table, "dst"))
      assert(!atRest && jobs == 0, s"at rest $atRest, $jobs jobs")
      val in = graft.operators.Iteration.stage(table, "dst",
        _.localCheckpoint(), repartition = true)
      assert(!in.atRest && in.tinyBound > 0)
      assert(Communities.labelPropagation(table, rounds = 4)
          .as[(String, String)].collect().toMap ==
        Communities.labelPropagation(e, rounds = 4)
          .as[(String, String)].collect().toMap)
    } finally spark.sql("DROP TABLE IF EXISTS lpa_spec_src_edges")
  }
}
