package graft

import org.apache.spark.sql.functions._
import graft.graph.Walks

/** Random-walk corpus generation: deterministic-draw replay, dead-end
  * termination, panel independence, sequence shape.
  */
class WalksSpec extends SparkTestBase {
  import spark.implicits._

  private val edges = Seq(
    ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "a"),
    ("d", "d") // self-loop: a walk reaching d stays at d
  ).toDF("src", "dst")

  /** Serial replay of the exact draw rule. */
  private def serialWalk(adj: Map[String, Seq[String]], wid: String,
                         seed: String, len: Int): Seq[(Int, String)] = {
    val out = scala.collection.mutable.ListBuffer(0 -> seed)
    var cur = seed
    var k = 1
    var alive = true
    while (k <= len && alive) {
      adj.get(cur) match {
        case Some(ns) if ns.nonEmpty =>
          cur = ns.minBy(d =>
            (graft.functions.text.saltedHash32Long(s"$wid:$k:$d", 0), d))
          out += k -> cur
          k += 1
        case _ => alive = false
      }
    }
    out.toSeq
  }

  test("randomWalks equals a serial replay of the deterministic draw") {
    val adj = Seq("a" -> Seq("b", "c"), "b" -> Seq("c", "d"),
      "c" -> Seq("a"), "d" -> Seq("d")).toMap
    val seeds = Seq(("w1", "a"), ("w2", "b"), ("w3", "c"))
      .toDF("walk_id", "node")
    val got = Walks.randomWalks(edges, seeds, len = 6)
      .as[(String, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)
        .toSeq).toMap
    for ((wid, seed) <- Seq("w1" -> "a", "w2" -> "b", "w3" -> "c"))
      assert(got(wid) == serialWalk(adj, wid, seed, 6),
        s"$wid diverged: ${got(wid)}")
    // every walk ran the full 6 steps (this graph has no dead ends)
    assert(got.values.forall(_.size == 7))
  }

  test("dead ends stop a walk early; others continue") {
    val e = Seq(("a", "b"), ("b", "z"), ("a", "a")).toDF("src", "dst")
    // z has no out-edge: any walk reaching z ends there
    val seeds = Seq(("w1", "b")).toDF("walk_id", "node")
    val got = Walks.randomWalks(e, seeds, len = 5)
      .as[(String, Int, String)].collect().sortBy(_._2).toSeq
    assert(got == Seq(("w1", 0, "b"), ("w1", 1, "z")))
  }

  test("two walks from the same seed de-correlate (id salts the draw)") {
    val seeds = Seq(("p1", "a"), ("p2", "a"), ("p3", "a"), ("p4", "a"))
      .toDF("walk_id", "node")
    val seqs = Walks.walkSequences(edges, seeds, len = 8)
      .as[(String, Seq[String])].collect().toMap
    assert(seqs.size == 4 && seqs.values.forall(_.head == "a"))
    // at least two of the four 8-step walks differ — a constant draw
    // (salt ignored) would make them identical
    assert(seqs.values.toSeq.distinct.size >= 2, seqs.toString)
  }

  test("skipGramCounts: hand-computed window-2 pairs, symmetric, " +
    "counted across sequences") {
    val seqs = Seq(("w1", Seq("a", "b", "c", "d")), ("w2", Seq("a", "b")))
      .toDF("walk_id", "nodes")
    val got = Walks.skipGramCounts(seqs, window = 2)
      .as[(String, String, Long)].collect().toSet
    // w1 forward: (a,b)(a,c)(b,c)(b,d)(c,d); w2 adds (a,b); symmetric
    val w1f = Seq("a" -> "b", "a" -> "c", "b" -> "c", "b" -> "d",
      "c" -> "d")
    val want = (w1f ++ Seq("a" -> "b")) // counts per direction
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .groupBy(identity).map { case ((x, y), v) => (x, y, v.size.toLong) }
      .toSet
    assert(got == want, s"got=$got")
  }

  test("duplicate edges do not bias the draw (min over a set)") {
    val dup = edges.unionAll(edges).unionAll(edges)
    val seeds = Seq(("w1", "a"), ("w2", "b")).toDF("walk_id", "node")
    val a = Walks.randomWalks(edges, seeds, 6)
      .as[(String, Int, String)].collect().toSet
    val b = Walks.randomWalks(dup, seeds, 6)
      .as[(String, Int, String)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("ppmiPairs: hand-computed basis points, PMI<=0 rows dropped") {
    // symmetric counts; N=38, marginals a=10 b=10 c=18:
    //   (a,b): 10^4*1*38/(10*10) = 3800  -> dropped (PMI < 0)
    //   (a,c): 10^4*9*38/(10*18) = 19000 -> kept
    val counts = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 9L),
      ("c", "a", 9L), ("b", "c", 9L), ("c", "b", 9L))
      .toDF("center", "context", "n")
    val got = Walks.ppmiPairs(counts)
      .as[(String, String, Long, Long)].collect().toSet
    val want = Set(("a", "c", 9L, 19000L), ("c", "a", 9L, 19000L),
      ("b", "c", 9L, 19000L), ("c", "b", 9L, 19000L))
    assert(got == want, s"got=$got")
  }

  test("ppmiPairs: floor division is exact (no double rounding)") {
    // N=24; center marginals a=9 b=5 c=7 x=3 (contexts symmetric):
    //   (a,c): 10^4*7*24/(9*7) = 1680000/63 = 26666.67 -> floor 26666
    //   (a,b): 10^4*2*24/(9*5) =  480000/45 = 10666.67 -> floor 10666
    val counts = Seq(("a", "b", 2L), ("b", "a", 2L), ("a", "c", 7L),
      ("c", "a", 7L), ("b", "x", 3L), ("x", "b", 3L))
      .toDF("center", "context", "n")
    val got = Walks.ppmiPairs(counts)
      .as[(String, String, Long, Long)].collect()
      .map { case (c, x, _, bp) => ((c, x), bp) }.toMap
    assert(got(("a", "c")) == 26666L, s"got=$got")
    assert(got(("a", "b")) == 10666L, s"got=$got")
  }

  /** Serial replay of the biased (2nd-order) scaled-rank draw rule. */
  private def serialBiased(adj: Map[String, Seq[String]], wid: String,
                           seed: String, len: Int, returnBp: Long,
                           inoutBp: Long): Seq[(Int, String)] = {
    val out = scala.collection.mutable.ListBuffer(0 -> seed)
    var prev: String = null
    var cur = seed
    var k = 1
    var alive = true
    while (k <= len && alive) {
      adj.get(cur) match {
        case Some(ns) if ns.nonEmpty =>
          val nxt = ns.minBy { d =>
            val pen =
              if (prev != null && d == prev) returnBp
              else if (prev != null && adj.get(prev).exists(_.contains(d)))
                10000L
              else if (prev == null) 10000L
              else inoutBp
            (graft.functions.text.saltedHash32Long(s"$wid:$k:$d", 0) * pen, d)
          }
          prev = cur
          cur = nxt
          out += k -> cur
          k += 1
        case _ => alive = false
      }
    }
    out.toSeq
  }

  test("biasedWalks equals a serial replay of the 2nd-order draw") {
    val adj = Seq("a" -> Seq("b", "c"), "b" -> Seq("c", "d"),
      "c" -> Seq("a"), "d" -> Seq("d")).toMap
    val seeds = Seq(("w1", "a"), ("w2", "b"), ("w3", "c"))
      .toDF("walk_id", "node")
    val got = Walks.biasedWalks(edges, seeds, len = 6,
        returnBp = 20000, inoutBp = 5000)
      .as[(String, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)
        .toSeq).toMap
    for ((wid, seed) <- Seq("w1" -> "a", "w2" -> "b", "w3" -> "c"))
      assert(got(wid) == serialBiased(adj, wid, seed, 6, 20000L, 5000L),
        s"$wid diverged: ${got(wid)}")
  }

  test("biasedWalks hub hybrid: a source past hubDegreeCap probes " +
    "through the edge-pair join with identical results") {
    // e is a hub (out-degree 4 > cap 2); the others stay on the set
    // probe. The hybrid must reproduce both the pure set-probe plan's
    // output and the serial replay.
    val hubEdges = Seq(
      ("e", "a"), ("e", "b"), ("e", "c"), ("e", "d"),
      ("a", "e"), ("a", "b"), ("b", "e"), ("b", "c"),
      ("c", "e"), ("d", "e")).toDF("src", "dst")
    val adj = Seq("e" -> Seq("a", "b", "c", "d"), "a" -> Seq("e", "b"),
      "b" -> Seq("e", "c"), "c" -> Seq("e"), "d" -> Seq("e")).toMap
    val seeds = Seq(("w1", "e"), ("w2", "a"), ("w3", "d"))
      .toDF("walk_id", "node")
    val hybrid = Walks.biasedWalks(hubEdges, seeds, len = 6,
        returnBp = 20000, inoutBp = 5000, hubDegreeCap = 2)
      .as[(String, Int, String)].collect()
    val pure = Walks.biasedWalks(hubEdges, seeds, len = 6,
        returnBp = 20000, inoutBp = 5000, hubDegreeCap = Int.MaxValue)
      .as[(String, Int, String)].collect()
    assert(hybrid.toSet == pure.toSet && hybrid.nonEmpty)
    val byWalk = hybrid.groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
    for ((wid, seed) <- Seq("w1" -> "e", "w2" -> "a", "w3" -> "d"))
      assert(byWalk(wid) ==
        serialBiased(adj, wid, seed, 6, 20000L, 5000L),
        s"$wid diverged: ${byWalk(wid)}")
    // every source is a hub: the set-probe frame is empty, the
    // edge-pair path carries the whole distance-1 probe
    val allHub = Walks.biasedWalks(hubEdges, seeds, len = 6,
        returnBp = 20000, inoutBp = 5000, hubDegreeCap = 1)
      .as[(String, Int, String)].collect()
    assert(allHub.toSet == pure.toSet)
  }

  test("biasedWalks with neutral penalties equals randomWalks " +
    "(rank scaling by a constant preserves the argmin)") {
    val seeds = Seq(("w1", "a"), ("w2", "b"), ("w3", "c"))
      .toDF("walk_id", "node")
    val a = Walks.randomWalks(edges, seeds, 6)
      .as[(String, Int, String)].collect().toSet
    val b = Walks.biasedWalks(edges, seeds, 6,
        returnBp = 10000, inoutBp = 10000)
      .as[(String, Int, String)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  /** Serial replay of the inverse-CDF negative draw. */
  private def serialNegatives(counts: Seq[(String, String, Long)], k: Int)
      : Set[(String, Int, String)] = {
    def isqrt(n: Long): Long = math.floor(math.sqrt(n.toDouble)).toLong
    val vocab = counts.groupBy(_._2).view
      .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
    val segs = vocab.scanLeft(("", 0L, 0L)) { case ((_, _, hi), (v, n)) =>
      (v, hi, hi + isqrt(n * isqrt(n)))
    }.tail // (node, cum_lo, cum_hi)
    val tw = segs.last._3
    for {
      c <- counts.map(_._1).distinct.toSet[String]
      j <- 1 to k
    } yield {
      val u = (BigInt(graft.functions.text.saltedHash32Long(s"$c:$j", 0)) *
        tw / BigInt(4294967296L)).toLong
      val neg = segs.find(s => u >= s._2 && u < s._3).get._1
      (c, j, neg)
    }
  }

  test("negativeSamples equals a serial replay of the inverse-CDF draw") {
    val counts = Seq(("a", "b", 9L), ("b", "a", 9L), ("a", "c", 4L),
      ("c", "a", 4L), ("b", "c", 1L), ("c", "b", 1L))
      .toDF("center", "context", "n")
    val got = Walks.negativeSamples(counts, k = 7)
      .as[(String, Int, String)].collect().toSet
    val want = serialNegatives(Seq(("a", "b", 9L), ("b", "a", 9L),
      ("a", "c", 4L), ("c", "a", 4L), ("b", "c", 1L), ("c", "b", 1L)), 7)
    assert(got == want, s"got=$got\nwant=$want")
    // exact-k contract: every center gets exactly k draws
    assert(got.groupBy(_._1).values.forall(_.size == 7))
    // every negative is a vocabulary member
    assert(got.map(_._3).subsetOf(Set("a", "b", "c")))
  }

  test("negativeSamples: the bucket count never changes the draw " +
    "(buckets are pure acceleration)") {
    val counts = Seq(("a", "b", 9L), ("b", "a", 9L), ("a", "c", 4L),
      ("c", "a", 4L)).toDF("center", "context", "n")
    val a = Walks.negativeSamples(counts, k = 5, buckets = 1)
      .as[(String, Int, String)].collect().toSet
    val b = Walks.negativeSamples(counts, k = 5, buckets = 4096)
      .as[(String, Int, String)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("negativeSamples: heavier vocabulary entries are drawn more " +
    "often (unigram^(3/4) bias)") {
    // one dominant context (weight isqrt(10000*100)=1000) vs 9 rare
    // ones (weight 1 each): over 100 centers x 5 draws the dominant
    // node must take the overwhelming majority
    val rows = (1 to 100).flatMap { c =>
      ("c" + c, "BIG", 10000L) +: (1 to 9).map(v => ("c" + c, "v" + v, 1L))
    }
    val counts = rows.toDF("center", "context", "n")
    val got = Walks.negativeSamples(counts, k = 5)
      .as[(String, Int, String)].collect()
    assert(got.length == 500)
    val bigShare = got.count(_._3 == "BIG").toDouble / got.length
    assert(bigShare > 0.95, s"bigShare=$bigShare")
  }

  /** Serial replay of the exact subspace-power-iteration arithmetic. */
  private def serialPowerEmbed(ppmi: Seq[(String, String, Long)],
                               dims: Int, iters: Int)
      : Map[String, Seq[Long]] = {
    val nodes = (ppmi.map(_._1) ++ ppmi.map(_._2)).distinct
    var x: Map[String, Seq[Long]] = nodes.map { v =>
      v -> (0 until dims).map(d =>
        (graft.functions.text.saltedHash32Long(s"$v:$d", 0) % 20001L)
          - 10000L)
    }.toMap
    for (_ <- 1 to iters) {
      val y = ppmi.groupBy(_._1).view.mapValues { rows =>
        (0 until dims).map(d => rows.collect {
          case (_, ctx, w) if x.contains(ctx) =>
            BigInt(w) * BigInt(x(ctx)(d))
        }.sum)
      }.toMap
      val mx = (0 until dims).map(d =>
        y.values.map(_(d).abs).maxOption.getOrElse(BigInt(1)) max BigInt(1))
      x = y.view.mapValues(ys => (0 until dims).map { d =>
        val v = ys(d)
        val q = (v.abs * 10000) / mx(d)
        (if (v < 0) -q else q).toLong
      }.toSeq).toMap
    }
    x
  }

  test("ppmiPowerEmbed equals a serial replay of the exact " +
    "matvec + basis-point rescale") {
    val rows = Seq(("a", "b", 15000L), ("b", "a", 15000L),
      ("a", "c", 12000L), ("c", "a", 12000L),
      ("b", "c", 11000L), ("c", "b", 11000L))
    val ppmi = rows.map { case (c, x, w) => (c, x, 1L, w) }
      .toDF("center", "context", "n", "ppmi_bp")
    val got = Walks.ppmiPowerEmbed(ppmi, dims = 2, iters = 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3)).toMap
    val want = serialPowerEmbed(rows, dims = 2, iters = 3)
    assert(got == want, s"got=$got\nwant=$want")
    // rescale contract: every coordinate in [-10^4, 10^4], and each
    // dimension attains it somewhere (the max divides itself to 10^4)
    assert(got.values.flatten.forall(v => v.abs <= 10000L))
    for (d <- 0 to 1)
      assert(got.values.map(_(d).abs).max == 10000L)
  }

  test("ppmiPowerEmbed: a context never seen as a center seeds round 1 " +
    "then drops out") {
    // z only ever appears as context: it contributes to a's round-1
    // sum but gets no embedding row itself
    val ppmi = Seq(("a", "z", 1L, 20000L), ("a", "b", 1L, 15000L),
      ("b", "a", 1L, 15000L))
      .toDF("center", "context", "n", "ppmi_bp")
    val got = Walks.ppmiPowerEmbed(ppmi, dims = 2, iters = 2)
      .as[(String, Long, Long)].collect().map(_._1).toSet
    assert(got == Set("a", "b"))
  }

  test("partition invariance: every walk-tier operator returns the " +
    "same set regardless of input partitioning") {
    val seeds = Seq(("w1", "a"), ("w2", "b"), ("w3", "c"))
      .toDF("walk_id", "node")
    val e7 = edges.repartition(7)
    val s5 = seeds.repartition(5)
    assert(Walks.randomWalks(edges, seeds, 6)
      .as[(String, Int, String)].collect().toSet ==
      Walks.randomWalks(e7, s5, 6)
        .as[(String, Int, String)].collect().toSet)
    assert(Walks.biasedWalks(edges, seeds, 6, 20000, 5000)
      .as[(String, Int, String)].collect().toSet ==
      Walks.biasedWalks(e7, s5, 6, 20000, 5000)
        .as[(String, Int, String)].collect().toSet)
    val counts = Seq(("a", "b", 9L), ("b", "a", 9L), ("a", "c", 4L),
      ("c", "a", 4L), ("b", "c", 1L), ("c", "b", 1L))
      .toDF("center", "context", "n")
    assert(Walks.ppmiPairs(counts)
      .as[(String, String, Long, Long)].collect().toSet ==
      Walks.ppmiPairs(counts.repartition(11))
        .as[(String, String, Long, Long)].collect().toSet)
    assert(Walks.negativeSamples(counts, 5)
      .as[(String, Int, String)].collect().toSet ==
      Walks.negativeSamples(counts.repartition(11), 5)
        .as[(String, Int, String)].collect().toSet)
    val seqs = Seq(("w1", Seq("a", "b", "c", "d")), ("w2", Seq("a", "b")))
      .toDF("walk_id", "nodes")
    assert(Walks.skipGramCounts(seqs, 2)
      .as[(String, String, Long)].collect().toSet ==
      Walks.skipGramCounts(seqs.repartition(3), 2)
        .as[(String, String, Long)].collect().toSet)
  }

  test("biasedWalks: a heavy return penalty suppresses backtracking " +
    "on a path graph") {
    // path x <-> y <-> z: from y (came from x) the return candidate x
    // must lose to z whenever the penalty outweighs the hash gap; with
    // an extreme penalty the walk ping-pongs only at the ends
    val e = Seq(("x", "y"), ("y", "x"), ("y", "z"), ("z", "y"))
      .toDF("src", "dst")
    val seeds = Seq(("w1", "x")).toDF("walk_id", "node")
    val got = Walks.biasedWalks(e, seeds, len = 2,
        returnBp = 1000000000, inoutBp = 10000)
      .as[(String, Int, String)].collect().sortBy(_._2).map(_._3).toSeq
    // step1: x -> y (only choice); step2: return to x is penalized
    // 10^9 x, z is distance-2 from x at neutral-ish 10^4 -> z wins
    assert(got == Seq("x", "y", "z"), s"got=$got")
  }

  test("randomWalks reads a src-bucketed edge table at rest: the same " +
      "walks, no edge checkpoint, and a step plans one hash exchange fewer") {
    import graft.graph.Routing
    import graft.operators.Iteration
    Routing.stageEdgesTable(edges, "graft_walk_edges_spec", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val table = spark.table("graft_walk_edges_spec")
      val seeds = Seq(("w1", "a"), ("w2", "b"), ("w3", "c"))
        .toDF("walk_id", "node")
      // the walks launch one job per step plus the seeds' checkpoint,
      // and in memory one more: the edges' checkpoint
      val (atRest, restJobs) =
        jobsDuring(Walks.randomWalks(table, seeds, len = 6))
      val (inMemory, memJobs) =
        jobsDuring(Walks.randomWalks(edges, seeds, len = 6))
      assert(restJobs == memJobs - 1, s"$restJobs vs $memJobs jobs")
      assert(atRest.collect().toSet == inMemory.collect().toSet)
      assert(spark.sharedState.cacheManager.isEmpty)
      val in = Iteration.stage(table.select(col("src"), col("dst")), "src",
        _.localCheckpoint(), sized = false)
      try {
        assert(in.atRest)
        val cur = seeds.localCheckpoint()
        def exchanges(e: org.apache.spark.sql.DataFrame): Int =
          Iteration.withShufflePartitions(spark, in.parts) {
            Walks.walkStep(e, cur, 1, 0).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
              .linesIterator.count(_.contains("Exchange hashpartitioning"))
          }
        val (nb, np) = (exchanges(in.frame),
          exchanges(edges.select(col("src"), col("dst")).localCheckpoint()))
        assert(nb == np - 1,
          s"a step over the table has $nb exchanges vs plain $np")
      } finally in.run(())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_walk_edges_spec")
    }
  }
}
