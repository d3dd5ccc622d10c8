package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Random-walk CORPUS GENERATION (DeepWalk, Perozzi et al. 2014 —
  * truncated random walks as training sequences; the node2vec/metapath
  * family generalizes the same sampler): the bridge between the graph
  * tier and the tokenizer tier of a training-data pipeline — walks over
  * an entity graph ARE sequence corpus rows (skip-gram windows, session
  * synthesis, graph-aware negatives).
  *
  * The step draw is DETERMINISTIC (the p16 A-Res doctrine): step k of
  * walk w at node v moves to the out-neighbor d minimizing
  * saltedHash32("w:k:d") — a fixed pseudo-random rank a SQL mirror
  * replays exactly, so the whole corpus is hash-oracle-able while still
  * being a uniform-ish draw per (walk, step) (each step re-salts with k,
  * so consecutive steps are independent draws; duplicate edges cannot
  * bias the draw — the min over a set ignores multiplicity).
  *
  * Scale shape: the state is one row per LIVE walk (walks are a bounded
  * panel — seeds × walks-per-seed — never O(E)); each of the `len`
  * rounds is one join of the walk frame against the edge list on the
  * current node plus a per-walk argmin — the [[Routing.bfsHops]] shuffle
  * shape with a fixed round count and NON-GROWING state. Dead-end nodes
  * end their walk early (the join simply drops it). The O(E) side
  * re-joins per round; hand in a src-bucketed table
  * ([[Routing.stageEdgesTable]]) when rounds dominate at cluster scale:
  * it is read at rest ([[graft.operators.Iteration.stage]]) and only the
  * walk frame shuffles — same remedy as every frontier loop here.
  */
object Walks {

  /** Walk step rows (walk_id, step, node), step 0 = the seed. `seeds`:
    * (walk_id, node) — walk_id must be unique (one row per walk); a
    * caller wanting W walks per seed replicates seeds with distinct
    * ids, which also de-correlates their draws (the id salts the hash).
    */
  def randomWalks(edges: DataFrame, seeds: DataFrame, len: Int,
                  salt: Int = 0,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(len >= 1, s"len must be >= 1, got $len")
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    // unsized: a step plans at the session width, so counting the edges
    // would cost a job for nothing
    val in = graft.operators.Iteration.stage(
      edges.select(col("src"), col("dst")), "src", ckpt, sized = false)
    var cur = ckpt(seeds.select(col("walk_id"), col("node")))
    val slices = scala.collection.mutable.ListBuffer(
      cur.select(col("walk_id"), lit(0).as("step"), col("node")))
    in.run(for (k <- 1 to len) {
      // steps plan without AQE (the frontierFixpoint classic-round
      // lever: panel-sized state, fixed shape — paired numbers in
      // BENCH_NOTES.md §Round 16)
      cur = graft.operators.Iteration.withoutAdaptive(spark)(
        ckpt(walkStep(in.frame, cur, k, salt)))
      slices += cur.select(col("walk_id"), lit(k).as("step"), col("node"))
    })
    slices.reduce(_ unionByName _)
  }

  /** One un-materialized [[randomWalks]] step — package-visible for plan
    * pins (the Routing.bfsRound pattern).
    */
  private[graft] def walkStep(e: DataFrame, cur: DataFrame, k: Int,
                              salt: Int): DataFrame = {
    // rank = deterministic draw for (walk, step, candidate); dst
    // tie-break keeps the argmin total even on 32-bit hash collisions
    val rank = graft.functions.text.saltedHash32(
      concat_ws(":", col("walk_id"), lit(k), e("dst")), salt)
    cur.join(e, cur("node") === e("src"))
      .groupBy(col("walk_id"))
      .agg(min_by(e("dst"), struct(rank.as("r"), e("dst").as("d")))
        .as("node"))
  }

  /** BIASED (node2vec-class) walks — [[randomWalks]] with 2nd-order
    * transition weights (Grover & Leskovec 2016): the draw at step k
    * conditions on the PREVIOUS node t. node2vec weights a candidate x
    * by 1/p (x = t, return), 1 (x adjacent to t), 1/q (otherwise);
    * here the candidate's deterministic rank is SCALED by an integer
    * penalty in basis points — `returnBp` for the return candidate,
    * 10⁴ neutral for a distance-1 candidate, `inoutBp` otherwise — so
    * returnBp ≈ 10⁴·p and inoutBp ≈ 10⁴·q reproduce the 1/p and 1/q
    * biases (penalty up = less likely to win the argmin). The exact
    * A-Res exponent weighting (u^(1/w)) needs libm; the scaled rank is
    * the log-free stand-in — monotone in the weights, deterministic,
    * SQL-replayable digit-for-digit (the t17 doctrine), and the first
    * step (no previous node) is the plain first-order draw.
    *
    * Scale shape: [[randomWalks]]' loop plus, per round, one LEFT join
    * of the O(walks·degree) candidate frame against the deduped edge
    * set on (prev, dst) — the distance-1 probe; state carries ONE
    * extra column (prev), still one row per live walk.
    *
    * `hubDegreeCap` guards the probe against power-law hubs: sources
    * whose out-degree exceeds the cap are EXCLUDED from the V-sized
    * neighbor-set frame (their row would be O(out-degree) wide — a
    * 10⁷-neighbor hub is a row Spark may not even hold) and their
    * adjacency is probed through a constant-row-size edge-pair left
    * join on (prev, dst) instead. The split is decided by one degree
    * aggregate + a 1-row driver probe before the loop; a hub-free
    * graph (every entity-graph regime measured so far) skips the
    * hybrid entirely and keeps the pure set-probe plan, paired at
    * −34% vs the edge-pair form (r42 subset, BENCH_NOTES r15).
    */
  def biasedWalks(edges: DataFrame, seeds: DataFrame, len: Int,
                  returnBp: Int, inoutBp: Int, salt: Int = 0,
                  checkpointDir: Option[String] = None,
                  hubDegreeCap: Int = 1 << 16): DataFrame = {
    require(len >= 1, s"len must be >= 1, got $len")
    require(returnBp >= 1 && inoutBp >= 1,
      s"penalties must be positive basis points, got $returnBp/$inoutBp")
    require(hubDegreeCap >= 1, s"hubDegreeCap must be >= 1, got $hubDegreeCap")
    val spark = edges.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    val in = graft.operators.Iteration.stage(
      edges.select(col("src"), col("dst")), "src", ckpt, sized = false)
    val e = in.frame
    // distance-1 probe as a V-SIZED neighbor-set frame (one row per
    // source node, out-neighbors collected into a set): the per-round
    // left join then probes |V| rows instead of |E| (measured r42
    // paired subset: 6.73 → 4.41 s, −34%, with the unchanged r37 as
    // in-window control at −9%) and the membership test is an
    // array_contains over the prev node's out-degree. Hub sources
    // (out-degree > hubDegreeCap) never enter this frame — see the
    // hybrid note above. The hub test counts RAW out-edge rows (a
    // map-side-combinable count, an UPPER bound on distinct degree):
    // a duplicate-heavy source can fall back to the edge-pair path
    // early, which is conservative and never wrong, and a hub-free
    // graph pays exactly one light count aggregate + the 1-row probe
    // on top of the unchanged set-probe plan (the first hybrid cut
    // materialized a deduped edge copy before probing and paired at
    // +14% on r42 — rejected; this form pairs at +0.25 s median ≈ +5%,
    // the accepted price of default-on protection — BENCH_NOTES r16).
    // hubDegreeCap = Int.MaxValue disables the guard entirely (no
    // probe job) for callers that know their graph is hub-free.
    val hubSrcs = e.groupBy(col("src"))
      .agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") > hubDegreeCap)
      .select(col("src"))
    val hasHubs = hubDegreeCap != Int.MaxValue &&
      !hubSrcs.isEmpty // 1-row guard probe (the mtt doctrine)
    val (nbrs, hubEdges) =
      if (!hasHubs)
        (ckpt(e.groupBy(col("src").as("__ps"))
          .agg(collect_set(col("dst")).as("__pn"))), null)
      else {
        val ed = ckpt(e.distinct())
        val hubs = ckpt(hubSrcs)
        (ckpt(ed.join(hubs, Seq("src"), "left_anti")
          .groupBy(col("src").as("__ps"))
          .agg(collect_set(col("dst")).as("__pn"))),
          ckpt(ed.join(hubs, Seq("src"))
            .select(col("src").as("__hs"), col("dst").as("__hd"))))
      }
    val nodeType = seeds.schema("node").dataType
    var cur = ckpt(seeds.select(col("walk_id"), col("node"),
      lit(null).cast(nodeType).as("prev")))
    val slices = scala.collection.mutable.ListBuffer(
      cur.select(col("walk_id"), lit(0).as("step"), col("node")))
    in.run(for (k <- 1 to len) {
      val cand = cur.join(e, cur("node") === e("src"))
        .select(col("walk_id"), cur("node").as("__vn"), col("prev"),
          e("dst").as("__d"))
      // return case FIRST (a self-loop makes t adjacent to itself);
      // prev NULL (step 1) has no nbrs match (join misses, __pn null,
      // array_contains → null) so it falls through to the neutral arm
      val dist1 =
        if (hasHubs)
          array_contains(col("__pn"), col("__d")) <=> lit(true) ||
            col("__hs").isNotNull
        else array_contains(col("__pn"), col("__d"))
      val pen = when(col("__d") === col("prev"), lit(returnBp.toLong))
        .when(dist1, lit(10000L))
        .otherwise(when(col("prev").isNull, lit(10000L))
          .otherwise(lit(inoutBp.toLong)))
      val rank = graft.functions.text.saltedHash32(
        concat_ws(":", col("walk_id"), lit(k), col("__d")), salt) * pen
      val probed0 = cand.join(nbrs, col("prev") === col("__ps"), "left")
      val probed = if (hasHubs)
        probed0.join(hubEdges,
          col("prev") === col("__hs") && col("__d") === col("__hd"), "left")
      else probed0
      // steps plan without AQE — same lever as randomWalks' loop
      cur = graft.operators.Iteration.withoutAdaptive(spark)(
        ckpt(probed
          .groupBy(col("walk_id"))
          .agg(min_by(struct(col("__d").as("node"), col("__vn").as("prev")),
            struct(rank.as("r"), col("__d").as("d"))).as("__n"))
          .select(col("walk_id"), col("__n.node").as("node"),
            col("__n.prev").as("prev"))))
      slices += cur.select(col("walk_id"), lit(k).as("step"), col("node"))
    })
    slices.reduce(_ unionByName _)
  }

  /** The walks as ordered SEQUENCES (walk_id, nodes array) — the corpus
    * row shape a tokenizer/skip-gram stage consumes. One per-walk sort
    * of ≤ len+1 elements; the array is journey-length bounded (W7/W8
    * ordered-fold doctrine).
    */
  def walkSequences(edges: DataFrame, seeds: DataFrame, len: Int,
                    salt: Int = 0,
                    checkpointDir: Option[String] = None): DataFrame =
    randomWalks(edges, seeds, len, salt, checkpointDir)
      .groupBy(col("walk_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("step"), col("node")))),
        x => x.getField("node")).as("nodes"))

  /** SKIP-GRAM co-occurrence counts over walk sequences — the word2vec
    * training-pair corpus (Mikolov et al. 2013) DeepWalk feeds its
    * walks into: (center, context, n) for every ordered pair of nodes
    * within `window` positions of each other in some sequence (both
    * directions, the symmetric skip-gram convention). Pairs are
    * generated INSIDE each row's array (nested `transform` over
    * forward `slice`s — pure codegen-able HOFs, no self-join, no
    * explode-then-join shuffle): per sequence the blowup is ≤
    * 2·window·len pairs, array-bounded, and the only shuffle is the
    * final (center, context) count — output-sized. `sequences`:
    * (walk_id, nodes array).
    */
  def skipGramCounts(sequences: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // Both directions emitted INSIDE the HOF — per forward pair (center
    // at i, context at i+1..i+window) the swapped pair rides in the
    // same 2-element array, so the sequence scan + pair generation runs
    // ONCE (the round-14 version produced the symmetric direction as a
    // second explode leg under unionAll — two full scans, no exchange
    // between them to reuse).
    val pairs = flatten(transform(col("nodes"), (x, i) =>
      flatten(transform(slice(col("nodes"), i + lit(2), lit(window)),
        y => array(struct(x.as("center"), y.as("context")),
          struct(y.as("center"), x.as("context")))))))
    sequences
      .select(explode(pairs).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** PPMI-WEIGHTED SGNS TRAINING PAIRS over [[skipGramCounts]] output —
    * the weighting step that turns co-occurrence counts into the
    * training signal (Levy & Goldberg 2014: SGNS implicitly factorizes
    * the shifted-PMI matrix, and its explicit counterpart trains on the
    * POSITIVE-PMI pairs). LOG-FREE (the t17/NgramLm no-libm doctrine):
    * the weight is the exact rational PMI ratio in basis points,
    * ppmi_bp = ⌊10⁴ · n · N / (n_c · n_ctx)⌋ with N = Σn and n_c/n_ctx
    * the center/context marginals, computed in DECIMAL(38,0) (n·N·10⁴
    * ≤ 10²⁸ at any real corpus size — never overflows, never rounds) —
    * strictly monotone in PMI, so thresholds and rankings match the
    * log form exactly and a SQL oracle replays it digit-for-digit.
    * Rows at ratio ≤ 10⁴ (PMI ≤ 0) are dropped — the "positive" in
    * PPMI, and exactly the pairs SGNS's positive sampler never draws.
    *
    * Scale shape: two marginal aggs and two key joins, every frame
    * sized by the (center, context) count table itself (output-sized —
    * the corpus is never re-scanned), plus one 1-row broadcast total.
    * Returns (center, context, n, ppmi_bp).
    */
  def ppmiPairs(counts: DataFrame): DataFrame = {
    val tot = broadcast(
      counts.agg(sum(col("n")).cast("decimal(38,0)").as("__N")))
    val cm = counts.groupBy(col("center"))
      .agg(sum(col("n")).cast("decimal(38,0)").as("__nc"))
    val xm = counts.groupBy(col("context"))
      .agg(sum(col("n")).cast("decimal(38,0)").as("__nx"))
    counts.crossJoin(tot) // 1-row broadcast frame (the Similarity shape)
      .join(cm, Seq("center"))
      .join(xm, Seq("context"))
      .withColumn("ppmi_bp", expr(
        "CAST(n AS DECIMAL(38,0)) * __N * 10000 div (__nc * __nx)"))
      .filter(col("ppmi_bp") > 10000L)
      .select(col("center"), col("context"), col("n"), col("ppmi_bp"))
  }

  /** DETERMINISTIC NEGATIVE SAMPLING for SGNS over [[skipGramCounts]]
    * output — the other half of the word2vec training-pair corpus
    * (Mikolov et al. 2013: k noise words per center, drawn from the
    * unigram distribution raised to the 3/4 power). The draw is EXACT
    * inverse-CDF sampling over the integer weight table, fully
    * deterministic and SQL-replayable:
    *
    *   - weight w(v) = ⌊√(n_v · ⌊√n_v⌋)⌋ ≈ n_v^(3/4) — two composed
    *     integer square roots (the p10 isqrt doctrine: √ of an exact
    *     integer double is correctly rounded and consecutive squares
    *     are > 2√n apart, so the floor is engine-agnostic; exact while
    *     n_v^1.5 < 2⁵³, i.e. n_v < ~4·10¹⁰ — far above any real
    *     marginal), over the CONTEXT marginal (the noise distribution
    *     vocabulary);
    *   - the vocab becomes cumulative segments [cum_lo, cum_hi) by a
    *     DISTRIBUTED two-level prefix sum ordered by node (range-shuffle
    *     the vocab on node, per-range-partition subtotals collected to
    *     the driver — at most `spark.sql.shuffle.partitions` rows, a
    *     config-bounded constant, never data-sized — running offsets
    *     broadcast back, then a per-partition window adds the local
    *     cumsum): the exact integers of a global running sum with no
    *     single-partition window anywhere, so a 10⁸–10⁹-node entity
    *     vocabulary never funnels through one task;
    *   - draw j for center c is u = ⌊hash32("c:j") · W / 2³²⌋ ∈ [0, W)
    *     (exact in DECIMAL(38,0)), and the sample is the unique segment
    *     containing u.
    *
    * Scale shape: the segment lookup is NOT a range join — segments are
    * exploded onto the `buckets` fixed-width buckets they overlap
    * (total expansion ≤ vocab + buckets) and draws equi-join on their
    * bucket, then one residual range filter keeps the unique covering
    * segment. Draws are |centers|·k rows; everything shuffles on real
    * keys, nothing is corpus-sized. Bucket-index arithmetic runs in
    * DECIMAL(38,0) (cum·buckets would overflow a long once total weight
    * exceeds 2⁶³/buckets ≈ 2.25·10¹⁵ at the default 4096 — the draw u
    * already took the decimal path; the only residual exactness bound is
    * the isqrt one above). Collisions (negative == a true context, or ==
    * the center) are emitted as drawn — the standard implementations
    * mask or resample at training time; masking here would make the draw
    * count data-dependent and break the exact-k contract. Returns
    * (center, j, negative).
    */
  def negativeSamples(counts: DataFrame, k: Int, salt: Int = 0,
                      buckets: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val spark = counts.sparkSession
    val vocab = counts.groupBy(col("context").as("node"))
      .agg(sum(col("n")).as("n"))
      .withColumn("w",
        floor(sqrt(col("n") * floor(sqrt(col("n"))))).cast("long"))
    // Two-level prefix sum. RangePartitioner's partition indices are
    // range-ORDERED (partition i holds strictly smaller nodes than
    // i+1), so offset(p) = Σ subtotal(p' < p) makes the per-partition
    // cumsum globally exact. localCheckpoint pins the partition ids:
    // both the subtotal pass and the window pass must read the SAME
    // placement (spark_partition_id is plan-dependent otherwise).
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ranged = vocab.repartitionByRange(nParts, col("node"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val offsetRows = ranged.groupBy(col("__pid"))
      .agg(sum(col("w")).as("__pw"))
      .collect() // ≤ nParts rows — config-bounded, the codebook contract
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    // offset(p) = exclusive prefix sum of the subtotals in pid order
    val offsets = offsetRows.map(_._1)
      .zip(offsetRows.scanLeft(0L)(_ + _._2).init).toSeq
    import spark.implicits._
    val offFrame = broadcast(offsets.toDF("__pid", "__off"))
    val segs = ranged
      .withColumn("__lc", sum(col("w")).over(
        Window.partitionBy(col("__pid")).orderBy(col("node"))))
      .join(offFrame, Seq("__pid"))
      .withColumn("cum_hi", col("__lc") + col("__off"))
      .withColumn("cum_lo", col("cum_hi") - col("w"))
    val tot = broadcast(segs.agg(max(col("cum_hi")).as("tw")))
    val segB = segs.crossJoin(tot)
      .withColumn("b", explode(sequence(
        expr(s"CAST(cum_lo AS DECIMAL(38,0)) * $buckets div tw"),
        expr(s"CAST(cum_hi - 1 AS DECIMAL(38,0)) * $buckets div tw"))))
      .select(col("b"), col("node"), col("cum_lo"), col("cum_hi"))
    val draws = counts.select(col("center")).distinct()
      .select(col("center"), explode(sequence(lit(1), lit(k))).as("j"))
      .crossJoin(tot)
      .withColumn("__h", graft.functions.text.saltedHash32(
        concat_ws(":", col("center"), col("j")), salt))
      .withColumn("u",
        expr("CAST(__h AS DECIMAL(38,0)) * tw div 4294967296"))
      .withColumn("b", expr(s"CAST(u AS DECIMAL(38,0)) * $buckets div tw"))
    draws.join(segB, Seq("b"))
      .filter(col("u") >= col("cum_lo") && col("u") < col("cum_hi"))
      .select(col("center"), col("j"), col("node").as("negative"))
  }

  /** EXPLICIT SGNS FACTORIZATION over [[ppmiPairs]] output — the step
    * that turns the training-pair corpus into the product a pipeline
    * actually consumes: node EMBEDDINGS. Levy & Goldberg 2014 show SGNS
    * implicitly factorizes the (shifted) PMI matrix; the explicit
    * counterpart factorizes it directly, and the cheapest distributed
    * factorizer is SUBSPACE POWER ITERATION: `dims` independent
    * deterministic init vectors, `iters` rounds of x ← A·x against the
    * sparse PPMI matrix, with a per-dimension rescale to basis points
    * after every multiply.
    *
    * Everything is EXACT integer arithmetic, hash-oracle-able
    * digit-for-digit (the t17/r41 no-libm doctrine):
    *   - init x_d(v) = (hash32(v ":" d) mod 20001) − 10⁴ ∈ [−10⁴, 10⁴];
    *   - multiply y_d(c) = Σ_ctx ppmi_bp(c,ctx) · x_d(ctx) in
    *     DECIMAL(38,0) (|y| ≤ 10⁴ · Σ ppmi_bp per row — never near 10³⁸);
    *   - rescale x'_d = sign(y_d) · ⌊|y_d| · 10⁴ / max_c |y_d(c)|⌋
    *     (abs-first so truncating division agrees across engines; the
    *     max is a 1-row broadcast frame — the Similarity shape).
    *
    * Without per-step orthogonalization the `dims` columns all converge
    * toward the dominant eigenvector as iters → ∞ (a QR step needs
    * sqrt/div chains no SQL mirror replays exactly); at the small fixed
    * iteration counts a pipeline uses (2–4) the independently-seeded
    * columns stay separated and the result is the standard randomized
    * subspace sketch of the PPMI matrix. Callers wanting orthogonal
    * factors run one driver-side QR over the RETURNED (V × dims) frame
    * — dims² driver state, codebook-sized.
    *
    * Scale shape: `iters` join+agg matvecs, each shuffling on real keys
    * (context, then center) with dims·8-byte state per node — the
    * [[Routing.bfsHops]] shuffle shape with dimension-bounded payload;
    * the PPMI side re-joins per round (stage it context-bucketed at
    * cluster scale, same remedy as every frontier loop here). Expects
    * the symmetric corpus [[skipGramCounts]] emits (contexts ⊆ centers);
    * a context never seen as a center contributes its init-round terms
    * and then drops out (inner-join semantics = its embedding is 0 from
    * round 2 on). Returns (node, x0..x{dims-1}) for every center.
    */
  def ppmiPowerEmbed(ppmi: DataFrame, dims: Int = 4, iters: Int = 3,
                     salt: Int = 0,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(dims >= 1 && dims <= 16, s"dims must be in [1,16], got $dims")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = ppmi.sparkSession
    val ckpt = graft.operators.Iteration.materializer(spark, checkpointDir)
    val in = graft.operators.Iteration.stage(
      ppmi.select(col("center"), col("context"), col("ppmi_bp")), "context",
      ckpt)
    val m = in.frame
    val nodes = m.select(col("center").as("node"))
      .union(m.select(col("context").as("node"))).distinct()
    // the rounds KEEP AQE, like the in-memory pagerank rounds: the
    // matvec's E-scale join+agg measured FASTER with it in paired A/B
    // (sf0.1 6.39 vs 7.02, sf1 10.97 vs 11.67 — OPTIMIZATION_r17.md §4)
    in.run {
      var x = ckpt(nodes.select(col("node") +: (0 until dims).map { d =>
        (pmod(graft.functions.text.saltedHash32(
          concat_ws(":", col("node"), lit(d)), salt), lit(20001L)) -
          lit(10000L)).cast("long").as(s"x$d")
      }: _*))
      for (_ <- 1 to iters) {
        val sums = (0 until dims).map(d =>
          sum(expr(s"CAST(ppmi_bp AS DECIMAL(38,0)) * x$d")).as(s"y$d"))
        val y = m.join(x, m("context") === x("node"))
          .groupBy(m("center")).agg(sums.head, sums.tail: _*)
          .withColumnRenamed("center", "node")
        val maxes = (0 until dims).map(d =>
          greatest(max(abs(col(s"y$d"))), lit(1)).as(s"m$d"))
        val mx = broadcast(y.agg(maxes.head, maxes.tail: _*))
        x = ckpt(y.crossJoin(mx) // 1-row broadcast frame (Similarity shape)
          .select(col("node") +: (0 until dims).map { d =>
            expr(s"CAST(CASE WHEN y$d < 0 THEN -(((-y$d) * 10000) div m$d)" +
              s" ELSE (y$d * 10000) div m$d END AS BIGINT)").as(s"x$d")
          }: _*))
      }
      x
    }
  }
}
