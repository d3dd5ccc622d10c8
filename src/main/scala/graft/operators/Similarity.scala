package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.vectors

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and a sign-bit-bucketed (LSH/IVF-style) variant as the scale
  * path — candidates are restricted to the query's bucket, turning a full
  * scan into a partition-pruned scan when the data is written bucketed.
  */
object Similarity {

  /** Cosine of every row against a one-row query frame (broadcast — the
    * query side is a single row, so this is a map-side operation).
    * `query` must have a single row with `vecCol` (any float/double array).
    */
  def withCosine(df: DataFrame, query: DataFrame, vecCol: String): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qvec")))
    df.crossJoin(q)
      .withColumn("cosine", vectors.cosine(
        vectors.asDouble(col(vecCol)), vectors.asDouble(col("__qvec"))))
      .drop("__qvec")
  }

  /** Exact brute-force top-k by cosine (rounded for cross-engine
    * determinism, id tiebreak).
    */
  def bruteForceTopK(df: DataFrame, query: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame =
    withCosine(df, query, vecCol)
      .withColumn("cos4", round(col("cosine"), 4))
      .orderBy(col("cos4").desc, col(idCol))
      .limit(k)

  /** k-NN majority-vote labeling — the semi-supervised propagation step
    * that bootstraps a quality/topic classifier from a small labeled
    * pool (kNN classification over embeddings; the label-transfer pass
    * of dataset distillation pipelines): for every query vector, take
    * its k nearest LABELED neighbors by rounded cosine and emit the
    * plurality label. Ties break deterministically everywhere: neighbor
    * rank by (cos4 desc, id), vote by (n_votes desc, label) — so the
    * assigned label is a pure function of the data on any engine.
    *
    * Output: (qid, label, n_votes, best_cos4) per query — n_votes the
    * winning label's share of k, best_cos4 the winner's closest
    * neighbor (a confidence pair downstream thresholds use).
    *
    * Scale shape: the query panel BROADCASTS (it is the small labeled
    * probe set by construction); the corpus side is scanned once with a
    * per-row codegen cosine and never shuffles until the per-query
    * top-k, which moves |C|·|Q| scored ids-only rows keyed by qid.
    * This is the EXACT brute-force face — at corpus scale, shortlist
    * first ([[ivfProbeCells]] / [[ivfPqTopK]], the v09 composition) and
    * run the identical vote on the shortlist; the vote itself is
    * keys-scale whatever produced the candidates.
    */
  def knnVoteLabel(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(col(idCol).as("qid"),
      vectors.asDouble(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("__cid"),
      col(labelCol).as("label"), vectors.asDouble(col(vecCol)).as("__cv"))
    val scored = c.join(broadcast(q))
      .select(col("qid"), col("__cid"), col("label"),
        round(vectors.cosine(col("__cv"), col("__qv")), 4).as("cos4"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cos4").desc, col("__cid"))
    val votes = scored
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= k)
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("n_votes"), max(col("cos4")).as("best_cos4"))
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("__vr", row_number().over(wVote))
      .filter(col("__vr") === 1)
      .select(col("qid"), col("label"), col("n_votes"), col("best_cos4"))
  }

  /** Maximal Marginal Relevance re-rank: greedily pick `k` results from
    * a relevance shortlist, each step maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the standard
    * diversified-retrieval objective (Carbonell & Goldstein '98), and
    * the selection pass a training-data curator runs so the k examples
    * kept from a near-dup-heavy neighborhood aren't k copies.
    *
    * Determinism doctrine: relevance and pairwise similarity are
    * integer ten-thousandths of the 4dp-rounded cosine (the repo-wide
    * cos4 parity contract), λ is the rational lamNum/lamDen, and every
    * comparison is exact integer arithmetic at scale lamDen with id
    * tiebreak — so the greedy walk is bit-reproducible in any engine
    * (the oracle replays it as a DuckDB recursive CTE).
    *
    * Scale shape: the DISTRIBUTED work is shortlist generation (brute
    * force here; swap ivfPqTopK for the indexed path) and the
    * shortlist² pairwise-cosine self-join. The greedy walk itself runs
    * on the driver over `shortlist` ids + `shortlist²` integer sims —
    * BOUNDED collects (25 rows / 600 pairs at the defaults),
    * corpus-size-independent, the graph-backtrack precedent. O(k·n)
    * driver integer ops; no per-step Spark jobs.
    */
  def mmrTopK(df: DataFrame, query: DataFrame, idCol: String,
              vecCol: String, shortlist: Int = 25, k: Int = 10,
              lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    require(k <= shortlist, s"k=$k must be <= shortlist=$shortlist")
    require(0 <= lamNum && lamNum <= lamDen && lamDen > 0,
      s"lambda $lamNum/$lamDen outside [0,1]")
    val spark = df.sparkSession
    val short = bruteForceTopK(df, query, idCol, vecCol, shortlist)
      .withColumn("rel", round(col("cos4") * 10000).cast("int"))
      .select(col(idCol), col(vecCol), col("rel"))
      .localCheckpoint() // two consumers (sims self-join + collect)
    val l = short.select(col(idCol).as("__a"), col(vecCol).as("__va"))
    val r = short.select(col(idCol).as("__b"), col(vecCol).as("__vb"))
    val simRows = l.join(r, col("__a") =!= col("__b"))
      .withColumn("__s", round(round(vectors.cosine(
        vectors.asDouble(col("__va")), vectors.asDouble(col("__vb"))), 4)
        * 10000).cast("int"))
      .select(col("__a"), col("__b"), col("__s"))
      .collect()
    val sims = simRows.map(r0 =>
      (r0.getLong(0), r0.getLong(1)) -> r0.getInt(2)).toMap
    val cands = short.select(col(idCol), col("rel")).collect()
      .map(r0 => r0.getLong(0) -> r0.getInt(1)).toMap
    var selected = Vector.empty[(Int, Long, Int)] // (rank, id, rel)
    var chosen = Set.empty[Long]
    while (selected.size < math.min(k, cands.size)) {
      val step = selected.size + 1
      val best = cands.iterator.filterNot(c => chosen(c._1)).map {
        case (id, rel) =>
          val score =
            if (chosen.isEmpty) lamDen.toLong * rel // step 1: pure relevance
            else lamNum.toLong * rel - (lamDen - lamNum).toLong *
              chosen.iterator.map(s => sims((id, s))).max
          (id, rel, score)
      }.minBy { case (id, _, score) => (-score, id) }
      selected :+= ((step, best._1, best._2))
      chosen += best._1
    }
    import spark.implicits._
    selected.toDF("rank", idCol, "rel")
      .select(col("rank"), col(idCol),
        (col("rel").cast("double") / 10000).as("cos4"))
  }

  /** Deterministic sign-bit bucket over selected components: bit i set iff
    * vec[positions(i)] > 0. With data written partitioned/bucketed by this
    * value, an ANN probe reads a single bucket.
    */
  def signBucket(vecCol: Column, positions: Seq[Int]): Column =
    positions.zipWithIndex.map { case (p, i) =>
      when(element_at(vecCol, p) > 0f, lit(1 << (positions.size - 1 - i)))
        .otherwise(lit(0))
    }.reduce[Column](_ + _)

  /** Multi-probe IVF: the query's `nprobe` nearest codebook cells (same
    * rounded-cosine scoring and id tiebreak as [[ivfCell]], so the
    * nprobe=1 head equals ivfCell). Scanning these cells instead of one
    * trades scan width for recall — the standard IVF knob; the probe
    * filter is `array_contains(ivfProbeCells(q, cb, n), cell)`.
    */
  def ivfProbeCells(vecCol: Column, codebook: Seq[(Int, Array[Double])],
                    nprobe: Int): Column = {
    require(nprobe >= 1 && nprobe <= codebook.size)
    val scored = codebook.sortBy(_._1).map { case (cid, ctr) =>
      struct(round(vectors.cosine(vectors.asDouble(vecCol), lit(ctr)), 4).as("s"),
        lit(-cid).as("negid"))
    }
    // sort struct array descending: (score, -cid) desc == score desc with
    // smallest cid first on ties — matching ivfCell's tiebreak
    val top = slice(reverse(array_sort(array(scored: _*))), 1, nprobe)
    transform(top, t => -t.getField("negid"))
  }

  /** One distributed Lloyd (k-means) iteration: assign every vector to its
    * nearest codebook centroid (per-row codegen, no join — see
    * [[ivfCell]]), then recompute per-cell component means. Long-form
    * output (cell, component idx 1-based, n_members, mean_val) — one row
    * per centroid component.
    *
    * Determinism across engines: components are quantized to 1e-6 integers
    * BEFORE summing, so the aggregation is order-free exact long
    * arithmetic and the final mean is a single IEEE division — the same
    * bits on any engine and any partitioning. (A double sum's value would
    * depend on reduction order.) This is also the 100 TB shape: ONE
    * corpus pass with no row expansion — dim sum buffers per cell key
    * (one `sum` aggregate per component, all map-side combined), so the
    * shuffle carries K·dim partials per task, never corpus·dim exploded
    * rows. The long (cell, idx) form is recovered by posexploding the
    * K aggregated rows — model-sized work.
    */
  def kmeansStep(df: DataFrame, vecCol: String,
                 codebook: Seq[(Int, Array[Double])]): DataFrame = {
    val dim = codebook.head._2.length
    val qsums = (0 until dim).map(i =>
      sum(round(element_at(col("__v"), i + 1) * 1e6).cast("bigint")))
    val aggs = count(lit(1)).as("n_members") +:
      qsums.zipWithIndex.map { case (c, i) => c.as(s"q$i") }
    df.withColumn("cell", ivfCell(col(vecCol), codebook))
      .select(col("cell"), vectors.asDouble(col(vecCol)).as("__v"))
      .groupBy(col("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cell"), col("n_members"),
        posexplode(array((0 until dim).map(i => col(s"q$i")): _*))
          .as(Seq("idx0", "qsum")))
      .select(col("cell"), (col("idx0") + 1).as("idx"), col("n_members"),
        (col("qsum").cast("double") / (col("n_members") * lit(1e6)))
          .as("mean_val"))
  }

  /** Full Lloyd k-means TRAINING ([[kmeansStep]] is one iteration):
    * iterate assignment + centroid recompute a FIXED `rounds` times from
    * `init` and return the trained codebook. Fixed rounds, not a
    * convergence probe — deterministic and oracle-replayable (the same
    * doctrine as the PageRank loops), and each round's K·dim long-form
    * means collect to the driver: the codebook IS the model artifact (a
    * bounded constant, like a BPE merge table), so a driver-sized
    * result per round is the point, not a bottleneck. A cell that loses
    * every member keeps its previous centroid (the standard empty-cell
    * rule; the oracle replays it as a LEFT JOIN + COALESCE).
    *
    * Scale shape per round: one corpus pass — per-row codegen cell
    * assignment ([[ivfCell]], no join) into ONE map-side-combined
    * (cell, idx) aggregate — then a K·dim collect. Nothing else touches
    * the driver; at 100 TB each round is a single shuffle of K·dim
    * partial sums. Centroid means stay bit-identical across engines
    * (kmeansStep's 1e-6 integer quantization), so round n+1's rounded-
    * cosine assignment sees identical centroids everywhere.
    */
  /** Training rounds are eager driver-collected actions (the codebook is
    * the model artifact), so they get the Iteration loop-family treatment
    * (round-17, guide §2): the round's ONLY shuffle carries M·K partial
    * aggregate rows (M = corpus map tasks, K = codebook size — model-
    * sized, never corpus-sized), so the reduce width is derived from
    * that row count via [[trainPartitions]] instead of the
    * session width (32 near-empty reducers at local sf0.1; still scales
    * to full width when M·K is cluster-sized), and the round plans
    * without AQE ([[Iteration.withoutAdaptive]] — one job per shuffle
    * stage with a driver re-planning gap per round is pure overhead on
    * a bounded single-shuffle round).
    * Paired numbers in OPTIMIZATION_r17.md (v23/v24/v25).
    */
  private def trainRound[T](df: DataFrame, modelRows: Long)(body: => T): T = {
    val spark = df.sparkSession
    Iteration.withShufflePartitions(spark, trainPartitions(df, modelRows))(
      Iteration.withoutAdaptive(spark)(body))
  }

  /** [[trainRound]]'s width: [[Iteration.roundPartitions]] of M·K, each
    * of the M map tasks emitting at most K = `modelRows` partial rows.
    * M is read from the planned partitioning, so no job runs: asking an
    * adaptive plan for its RDD runs every shuffle below it (the
    * corpus's [[graft.Graft.kernelParallel]] repartition) only to count
    * its output. An exchange on top fixes M: AQE keeps an explicit
    * repartition's count and only ever lowers a hash shuffle's. A plan
    * that reports no count falls back to its RDD, which for a plain
    * scan costs no job.
    */
  private[graft] def trainPartitions(df: DataFrame, modelRows: Long): Int = {
    val planned = df.queryExecution.sparkPlan.outputPartitioning.numPartitions
    val mapTasks = if (planned > 0) planned else df.rdd.getNumPartitions
    Iteration.roundPartitions(df.sparkSession, mapTasks.toLong * modelRows)
  }

  def kmeansTrain(df: DataFrame, vecCol: String,
                  init: Seq[(Int, Array[Double])],
                  rounds: Int): Seq[(Int, Array[Double])] = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    var cb = init
    for (_ <- 1 to rounds) {
      val means: Map[Int, Array[Double]] = trainRound(df, cb.size.toLong)(
        kmeansStep(df, vecCol, cb)
          .select(col("cell"), col("idx"), col("mean_val"))
          .collect())
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.map(r => (r.getInt(1), r.getDouble(2)))
            .sortBy(_._1).map(_._2)
        }
      cb = cb.map { case (cid, ctr) => cid -> means.getOrElse(cid, ctr) }
    }
    cb
  }

  /** One distributed Lloyd iteration in EVERY PQ SUBSPACE at once: each
    * vector's m subvectors are assigned to their exact-integer-L2-nearest
    * codeword slices (ONE [[graft.plans.PqEncode]] kernel call per row —
    * the identical assignment [[pqCodes]] ships, so training and encoding
    * can never disagree), then per-(subspace, codeword) component means
    * are recomputed. Long-form output (j 1-based subspace, cell, idx
    * 1-based component within the subspace, n_members, mean_val).
    *
    * Scale shape: one corpus pass — per-row codegen assignment, explode
    * only to the m (j, cell, subvector) rows (NOT to individual
    * components: each subspace row carries sub sum buffers, one `sum`
    * aggregate per component, all map-side combined), ONE aggregate;
    * the result is m·K·sub rows (model-sized, not corpus-sized)
    * recovered by posexploding the m·K aggregated rows. Means use
    * [[kmeansStep]]'s 1e-6 integer quantization, so they are
    * bit-identical on any engine and partitioning.
    */
  def pqStep(df: DataFrame, vecCol: String,
             codebook: Seq[(Int, Array[Double])], m: Int): DataFrame = {
    val dim = codebook.head._2.length
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val ev = vectors.asDouble(col(vecCol))
    val perJ = (1 to m).map { j =>
      struct(lit(j).as("j"), col("__pq_codes").getItem(j - 1).as("cell"),
        slice(ev, (j - 1) * sub + 1, sub).as("sv"))
    }
    val qsums = (0 until sub).map(i =>
      sum(round(element_at(col("sv"), i + 1) * 1e6).cast("bigint")))
    val aggs = count(lit(1)).as("n_members") +:
      qsums.zipWithIndex.map { case (c, i) => c.as(s"q$i") }
    df.withColumn("__pq_codes",
        graft.plans.PqEncode.pqEncode(ev, codebook, m))
      .select(explode(array(perJ: _*)).as("s"))
      .select(col("s.j").as("j"), col("s.cell").as("cell"),
        col("s.sv").as("sv"))
      .groupBy(col("j"), col("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("j"), col("cell"), col("n_members"),
        posexplode(array((0 until sub).map(i => col(s"q$i")): _*))
          .as(Seq("idx0", "qsum")))
      .select(col("j"), col("cell"), (col("idx0") + 1).as("idx"),
        col("n_members"),
        (col("qsum").cast("double") / (col("n_members") * lit(1e6)))
          .as("mean_val"))
  }

  /** PQ codebook TRAINING (Jégou et al. §III: independent k-means per
    * subspace): iterate [[pqStep]] a FIXED `rounds` times from `init`
    * (each subspace's init = the slice of the full-dim init codebook)
    * and return the trained codebook in [[pqCodes]]' full-dim layout —
    * codeword cid's vector is the concatenation of its m trained
    * sub-codewords. Fixed rounds, not a convergence probe —
    * deterministic and oracle-replayable ([[kmeansTrain]]'s doctrine);
    * a (subspace, codeword) pair that loses every member keeps its
    * previous slice (the empty-cell rule, per subspace).
    *
    * Scale shape per round: one corpus pass into one map-side-combined
    * aggregate, then an m·K·sub driver collect — the codebook IS the
    * model artifact, a bounded constant like the BPE merge table.
    */
  def pqTrain(df: DataFrame, vecCol: String,
              init: Seq[(Int, Array[Double])], m: Int,
              rounds: Int): Seq[(Int, Array[Double])] = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val dim = init.head._2.length
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    var cb = init
    for (_ <- 1 to rounds) {
      val means: Map[(Int, Int), Array[Double]] =
        trainRound(df, cb.size.toLong * m)(pqStep(df, vecCol, cb, m)
          .select(col("j"), col("cell"), col("idx"), col("mean_val"))
          .collect())
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k, rows) =>
            k -> rows.map(r => (r.getInt(2), r.getDouble(3)))
              .sortBy(_._1).map(_._2)
          }
      cb = cb.map { case (cid, ctr) =>
        cid -> (0 until m).flatMap { j0 =>
          means.getOrElse((j0 + 1, cid),
            ctr.slice(j0 * sub, (j0 + 1) * sub)).toSeq
        }.toArray
      }
    }
    cb
  }

  /** Product-quantization codes: the vector is split into `m` equal
    * subvectors; each is assigned the id of the L2-nearest codeword slice
    * — the compression step of PQ-based ANN (Jégou et al., TPAMI'11): at
    * 100 TB the m small codes (here 4 bytes) stand in for the full vector
    * in memory-resident candidate scans, with exact re-ranking only on
    * the short list.
    *
    * Determinism across engines: component deltas are quantized to 1e-6
    * integers BEFORE squaring/summing (see [[kmeansStep]]), so each
    * distance is exact long arithmetic and the argmin (smallest codeword
    * id on ties, via struct ordering) is bit-stable on any engine and
    * partitioning. The codebook is a driver-held constant — assignment is
    * a per-row expression chain, no join, no shuffle.
    */
  def pqCodes(vecCol: Column, codebook: Seq[(Int, Array[Double])],
              m: Int): Seq[Column] = {
    val dim = codebook.head._2.length
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(codebook.forall(_._2.length == dim))
    // one native codegen kernel per row (graft.plans.PqEncode) instead of
    // m×|codebook| interpreted aggregate(zip_with(...)) chains (HOFs are
    // CodegenFallback, ~1 ms/row on wide vectors; measured v07 at sf0.1:
    // 2.23 s HOF → 0.26 s kernel). Same exact-integer distances, pinned
    // to the HOF form by TextKernelsSpec parity.
    val codes = graft.plans.PqEncode.pqEncode(
      vectors.asDouble(vecCol), codebook, m)
    (0 until m).map(j => codes.getItem(j).as(s"c${j + 1}"))
  }

  /** The HOF form [[pqCodes]] replaced — kept (test-only) as the parity
    * oracle for the PqEncode kernel, the same pattern as TextKernels.
    */
  private[graft] def pqCodesHof(vecCol: Column,
                                codebook: Seq[(Int, Array[Double])],
                                m: Int): Seq[Column] = {
    val dim = codebook.head._2.length
    val sub = dim / m
    val ev = vectors.asDouble(vecCol)
    (0 until m).map { j =>
      val scored = codebook.sortBy(_._1).map { case (cid, ctr) =>
        val d = aggregate(
          zip_with(slice(ev, j * sub + 1, sub),
            lit(ctr.slice(j * sub, (j + 1) * sub)),
            (x, y) => {
              val q = round((x - y) * 1e6).cast("bigint")
              q * q
            }),
          lit(0L), (acc, x) => acc + x)
        struct(d.as("d"), lit(cid).as("cid"))
      }
      array_min(array(scored: _*)).getField("cid").as(s"c${j + 1}")
    }
  }

  /** PQ-encode a table: (idCol, c1..cm) — see [[pqCodes]]. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: Seq[(Int, Array[Double])], m: Int): DataFrame =
    df.select(col(idCol) +: pqCodes(col(vecCol), codebook, m): _*)

  /** The ADC lookup table: m × |codebook| quantized L2² distances between
    * the query's subvectors and every codeword slice. Evaluated BY Spark
    * on a one-row constant projection, so its round() semantics are the
    * engine's own — the same exact-integer distances as [[pqCodes]],
    * bit-stable across engines. Bounded like the codebook itself
    * (m·|codebook| longs), a driver-held constant.
    */
  def pqAdcLut(spark: org.apache.spark.sql.SparkSession,
               codebook: Seq[(Int, Array[Double])], query: Array[Double],
               m: Int): Map[(Int, Int), Long] = {
    val dim = codebook.head._2.length
    require(query.length == dim && m >= 1 && dim % m == 0)
    val sub = dim / m
    val sorted = codebook.sortBy(_._1)
    val lutExprs = for {
      j <- 0 until m
      (cid, ctr) <- sorted
    } yield aggregate(
      zip_with(lit(query.slice(j * sub, (j + 1) * sub)),
        lit(ctr.slice(j * sub, (j + 1) * sub)),
        (x, y) => {
          val q = round((x - y) * 1e6).cast("bigint")
          q * q
        }),
      lit(0L), (acc, x) => acc + x).as(s"l_${j}_$cid")
    val lutRow = spark.range(1).select(lutExprs: _*).head()
    (for {
      j <- 0 until m
      (cid, _) <- sorted
    } yield (j, cid) -> lutRow.getAs[Long](s"l_${j}_$cid")).toMap
  }

  /** The ADC sum over already-materialized code columns c1..cm: each
    * small code maps through the literal LUT — no vector math at all.
    */
  private def adcExpr(lut: Map[(Int, Int), Long],
                      codebook: Seq[(Int, Array[Double])], m: Int): Column = {
    val sorted = codebook.sortBy(_._1)
    (0 until m).map { j =>
      val cj = col(s"c${j + 1}")
      sorted.tail.foldLeft(
        when(cj === sorted.head._1, lit(lut((j, sorted.head._1))))) {
        case (acc, (cid, _)) => acc.when(cj === cid, lit(lut((j, cid))))
      }
    }.reduce[Column](_ + _)
  }

  /** PQ asymmetric-distance (ADC) top-k over a PRE-ENCODED codes table
    * ((idCol, c1..cm) — [[pqEncode]]'s output, at scale materialized to
    * storage once and reused across queries): approximate L2² between the
    * query and every row as the sum of per-subspace LUT entries. This is
    * the PQ search path where the scan genuinely touches ONLY the m codes
    * (here 4 ints standing in for 64 floats; at 100 TB the codes fit in
    * memory where the vectors never could), and the per-row work is m
    * table lookups — no vector math. Output: (idCol, c1..cm, adc) — the k
    * smallest, ties on id.
    */
  def pqAdcTopKFromCodes(coded: DataFrame, idCol: String,
                         codebook: Seq[(Int, Array[Double])],
                         query: Array[Double], m: Int, k: Int): DataFrame = {
    val lut = pqAdcLut(coded.sparkSession, codebook, query, m)
    coded.withColumn("adc", adcExpr(lut, codebook, m))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** [[pqAdcTopKFromCodes]] with encoding fused into the same scan — one
    * pass over the raw vectors (encode kernel + LUT sum + TakeOrdered).
    * NOTE this pass reads the full vectors by construction; the
    * memory-resident codes-only scan PQ exists for is the FromCodes
    * variant over a materialized [[pqEncode]] table.
    */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                codebook: Seq[(Int, Array[Double])], query: Array[Double],
                m: Int, k: Int): DataFrame =
    pqAdcTopKFromCodes(pqEncode(df, idCol, vecCol, codebook, m), idCol,
      codebook, query, m, k)

  /** The composed production ANN path (IVF-ADC, Jégou et al. §IV): IVF
    * probe prunes the scan to the query's `nprobe` nearest cells, the PQ
    * ADC sum ranks the survivors by code arithmetic alone, and only the
    * `shortlist` best get an exact re-rank against the raw vectors —
    * top-k by rounded cosine (id tiebreak), the same scoring as
    * [[bruteForceTopK]] so recall is directly comparable. Here the three
    * stages run fused in one pass over the probed vectors; in the 100 TB
    * deployment the cell filter becomes partition pruning (table written
    * partitioned by cell), the ADC stage runs [[pqAdcTopKFromCodes]]
    * over a MATERIALIZED [[pqEncode]] codes table (codes-only scan), and
    * only the exact re-rank reads `shortlist` full vectors.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                codebook: Seq[(Int, Array[Double])], query: Array[Double],
                m: Int, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k)
    val probed = df
      .withColumn("cell", ivfCell(col(vecCol), codebook))
      .filter(array_contains(
        ivfProbeCells(lit(query), codebook, nprobe), col("cell")))
    val short = pqAdcTopKFromCodes(
      pqEncode(probed, idCol, vecCol, codebook, m),
      idCol, codebook, query, m, shortlist)
    // the shortlist is ≤ `shortlist` ids — broadcast the semi join so the
    // re-rank never shuffles the vector table
    df.join(broadcast(short.select(col(idCol))), Seq(idCol), "left_semi")
      .withColumn("cos4", round(vectors.cosine(
        vectors.asDouble(col(vecCol)), lit(query)), 4))
      .orderBy(col("cos4").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic ±1 sign matrix for [[signedProjection]]: sign(i,j) =
    * +1 iff the first md5 hex digit of "i:j" is even (i = projection
    * 1..k, j = component 1..dim). md5-derived so a SQL oracle (or any
    * other engine) regenerates the identical matrix from the formula
    * alone — no literal shipping, same doctrine as the salted MinHash
    * hashes.
    */
  def md5Signs(k: Int, dim: Int): Seq[Array[Int]] =
    (1 to k).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      (1 to dim).map { j =>
        val h = md.digest(s"$i:$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xF) % 2 == 0) 1 else -1
      }.toArray
    }

  /** Signed random projection — the Johnson–Lindenstrauss /
    * Achlioptas-±1 dimensionality reduction: project a dim-d vector
    * onto k fixed ±1 sign rows, emitting `array<bigint>` of
    * `Σ_j sign(i,j)·round(x_j·10^6)`. Components are µ-quantized to
    * integers FIRST, so each projection is an exact, order-free
    * integer sum (bit-stable on any engine or partitioning — float
    * dot products are association-order-sensitive, the same reason
    * sq8/PQ score in integers). Rank fidelity: ±1 projections
    * preserve inner products in expectation (E[⟨Px,Py⟩] = k·⟨x,y⟩),
    * the JL guarantee every sketch-based ANN prefilter leans on.
    *
    * Scale shape: the sign matrix is a driver-held literal (k·dim
    * ints — a codebook-class constant), so projection is a pure
    * per-row expression over the scan: no join, no shuffle, and the
    * k-dim output (k ≪ dim) is what ships to any downstream
    * exchange — candidate generation then moves k·8 bytes/row
    * instead of dim·8, the d13/minhash ids-only doctrine applied to
    * the vector payload itself.
    */
  def signedProjection(vecCol: Column, signs: Seq[Array[Int]]): Column =
    signedProjectionQuantized(quantizeMicro(vecCol), signs)

  /** The µ-quantization [[signedProjection]] applies to each component —
    * exposed so call sites can materialize it ONCE per row (a
    * `withColumn` before the projection): the HOF tree is interpreted
    * (no Catalyst CSE across the k projection rows), so the fused form
    * re-rounds every component k times — k·dim BigDecimal HALF_UPs per
    * row where dim suffice.
    */
  def quantizeMicro(vecCol: Column): Column =
    transform(vectors.asDouble(vecCol),
      x => round(x * 1000000).cast("long"))

  /** [[signedProjection]] over pre-quantized components ([[quantizeMicro]]'s
    * output): pure ±1 integer sums, no rounding in the per-row loop.
    */
  def signedProjectionQuantized(qCol: Column,
                                signs: Seq[Array[Int]]): Column = {
    require(signs.nonEmpty, "need at least one projection row")
    require(signs.forall(_.length == signs.head.length),
      "sign rows must share the vector dimension")
    array(signs.map { s =>
      aggregate(zip_with(qCol, lit(s), (x, sg) => x * sg),
        lit(0L), (acc, x) => acc + x)
    }: _*)
  }

  /** Exact integer dot of two [[signedProjection]] outputs — the
    * compressed-domain score used to shortlist before an exact
    * re-rank.
    */
  def projectionDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Corpus-wide max |component| — the symmetric SQ8 quantization scale.
    * One engine-native aggregate (posexplode + max: map-side partial max,
    * no HOF); a bounded driver constant like a codebook. Computed over
    * corpus AND query so codes stay in [-127,127] with no clamp branch.
    */
  def sq8MaxAbs(df: DataFrame, vecCol: String): Double =
    df.select(posexplode(vectors.asDouble(col(vecCol))).as(Seq("__i", "__x")))
      .agg(max(abs(col("__x"))))
      .head().getDouble(0)

  /** Driver-side quantization of the query vector — the same
    * half-away-from-zero rounding as the per-row kernel.
    */
  def sq8Quantize(query: Array[Double], scale: Double): Seq[Int] =
    query.map(x => graft.plans.Sq8Dot.roundHalfAway(x * 127.0 / scale).toInt).toSeq

  /** Int8 scalar-quantized top-k (the SQ8 of FAISS/vector DBs): every
    * vector is quantized to `round(x·127/scale)` int8 codes and scored
    * against the pre-quantized query by EXACT integer dot product — a
    * 4× memory compression with none of PQ's codebook training, the
    * standard first rung of vector-search compression. One fused per-row
    * codegen pass (graft.plans.Sq8Dot): no join, no shuffle, and the
    * integer score is bit-stable on any engine/partitioning. Output:
    * (idCol, score), the k largest, ties on id.
    */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], scale: Double, k: Int): DataFrame =
    df.withColumn("score", graft.plans.Sq8Dot.sq8Dot(
        vectors.asDouble(col(vecCol)), sq8Quantize(query, scale), scale))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** SQ8-encode a table: (idCol, codes array<tinyint>) — the at-rest form
    * of [[sq8TopK]]'s quantization, ¼ the vector bytes by type, not by
    * claim. Scale must bound the corpus max |x| ([[sq8MaxAbs]]).
    */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String,
                scale: Double): DataFrame =
    df.select(col(idCol), graft.plans.Sq8Dot.sq8Encode(
      vectors.asDouble(col(vecCol)), scale).as("codes"))

  /** SQ8-encode for RANGE search: (idCol, codes, err) where `err` is the
    * vector's EXACT angular distortion — angle(x, dequant(codes)) —
    * computed once at encode time and stored with the codes. The stored
    * distortion is what makes the codes-only range prefilter *sound*
    * (see [[sq8RangeSearch]]): no modeled quantization-error bound, the
    * true per-vector angle, so the triangle inequality applies with no
    * slack assumptions. Row width is still ~¼ the float vectors
    * (64 int8 codes + 1 double vs 64 doubles).
    */
  /** The codes-only prefilter leg of [[sq8RangeSearch]] (exposed so its
    * pruning can be measured): ids whose sound angle lower bound admits
    * cos4 ≥ tau. Reads only (codes, err) — the scan-leg contract.
    */
  def sq8RangeCandidates(coded: DataFrame, idCol: String,
                         query: Array[Double], scale: Double,
                         tau: Double): DataFrame = {
    val cq = sq8Quantize(query, scale)
    val qDeq = cq.map(_ * scale / 127.0).toArray
    def dCos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val errQ = math.acos(math.max(-1.0, math.min(1.0, dCos(query, qDeq))))
    val qNorm = math.sqrt(cq.map(x => x.toDouble * x).sum)
    // degenerate QUERY: every |q_i| < scale/254 quantizes to the zero
    // code, so no code-space angle exists (0/0 = NaN) — the prefilter
    // has no information and must admit everything; cosine is
    // norm-invariant, so such a query still has well-defined exact
    // answers for the re-rank to find
    if (qNorm == 0.0 || errQ.isNaN) return coded.select(col(idCol))
    val tauAng = math.acos(tau - 1e-4) // cos4 HALF_UP rounding slack
    val codesNormSq = aggregate(col("codes"), lit(0L),
      (a, c) => a + c.cast("long") * c.cast("long"))
    val approxCos = graft.plans.Sq8Dot.sq8CodesDot(col("codes"), cq)
      .cast("double") / (sqrt(codesNormSq.cast("double")) * lit(qNorm))
    // degenerate ROW (all-zero codes → codes-norm 0 → approxCos and the
    // stored err are NaN): a NaN never satisfies `<=`, so without the
    // escape the row would be silently dropped — yet cosine is
    // norm-invariant, so a vector too small to quantize can still have
    // exact cos4 ≥ tau. Such rows must fall through to the exact
    // re-rank for the "identical to brute force" guarantee to hold.
    coded
      .filter(codesNormSq === 0 || col("err").isNull || isnan(col("err")) ||
        acos(least(lit(1d), greatest(lit(-1d), approxCos)))
          - col("err") - lit(errQ) <= lit(tauAng + 1e-6))
      .select(col(idCol))
  }

  def sq8RangeEncode(df: DataFrame, idCol: String, vecCol: String,
                     scale: Double): DataFrame =
    df.select(col(idCol), graft.plans.Sq8Dot.sq8Encode(
        vectors.asDouble(col(vecCol)), scale).as("codes"),
        vectors.asDouble(col(vecCol)).as("__v"))
      .select(col(idCol), col("codes"),
        acos(least(lit(1d), greatest(lit(-1d), vectors.cosine(col("__v"),
          transform(col("codes"),
            c => c.cast("double") * scale / 127.0))))).as("err"))

  /** RANGE (radius) search: every id whose exact rounded cosine vs the
    * query is ≥ `tau`, as (idCol, cos4), via a SOUND codes-only
    * prefilter + exact re-rank — the scale shape for cosine range
    * queries over data with no cluster structure (where IVF cell-radius
    * pruning degenerates: random high-dim corpora have ~90° cells).
    *
    * Prefilter soundness (triangle inequality on angles): with q' the
    * dequantized query and x' the dequantized codes,
    *   angle(q',x') ≤ angle(q',q) + angle(q,x) + angle(x,x')
    * so any x with cos4(q,x) ≥ tau — hence angle(q,x) ≤
    * acos(tau − 1e-4) (the cos4 rounding slack) — satisfies
    *   angle(q',x') − err(x) − errQ ≤ acos(tau − 1e-4),
    * where err(x) is the STORED exact distortion and errQ the
    * driver-computed query distortion. The filter keeps that whole set
    * plus an ε-margin (1e-6 rad) for the double acos — every true
    * answer survives, so the final exact cos4 ≥ tau filter makes the
    * result identical to a brute-force scan.
    *
    * Scale shape: the corpus-wide pass reads ONLY the codes table
    * (int8 + one double per row, enforced by storage like v14); the
    * full-precision vectors are touched only by the candidate-sized
    * equi-join re-rank. angle(q',x') comes from the integer code dot
    * ([[graft.plans.Sq8Dot]] kernel) and integer norms — no float
    * vector math on the scan leg.
    */
  def sq8RangeSearch(full: DataFrame, coded: DataFrame, idCol: String,
                     vecCol: String, query: Array[Double], scale: Double,
                     tau: Double): DataFrame = {
    val cand = sq8RangeCandidates(coded, idCol, query, scale, tau)
    full.join(cand, idCol)
      .withColumn("cos4", round(vectors.cosine(
        vectors.asDouble(col(vecCol)), lit(query)), 4))
      .filter(col("cos4") >= tau)
      .select(col(idCol), col("cos4"))
  }

  /** [[sq8TopK]] over a PRE-ENCODED codes table ([[sq8Encode]]'s output):
    * the scan reads only the int8 codes — no vector math, no join, no
    * shuffle — and scores by exact integer dot against the quantized
    * query. Same ranking as the fused form (same codes, same arithmetic).
    */
  def sq8TopKFromCodes(coded: DataFrame, idCol: String,
                       query: Array[Double], scale: Double,
                       k: Int): DataFrame =
    coded.withColumn("score", graft.plans.Sq8Dot.sq8CodesDot(
        col("codes"), sq8Quantize(query, scale)))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster the
    * corpus by nearest-centroid cell, then inside each cell drop every row
    * that has a LOWER-ID neighbor with cosine ≥ `tau` — the same
    * deterministic keep-first sweep the banded SimHash dedups use (a row
    * is dropped iff ANY lower id in its cell clears the threshold, whether
    * or not that neighbor itself survived). Output: the survivors with
    * their cell.
    *
    * Scale shape: cell assignment is the per-row [[ivfCell]] codegen
    * kernel (no join, no shuffle), and candidate generation ships ONLY
    * (id, cell) through the cell-keyed exchange — the vectors never ride
    * it (PlanSpec pins the cell exchange vector-free). That matters
    * twice at 100 TB: the cell key is the skewed one (a hot cell = a hot
    * partition, and fat rows multiply the damage), and the pair join's
    * output is O(Σ|cell|²) rows — ids-only keeps that quadratic term 8
    * bytes/row wide instead of dim·8. The cosine confirm re-joins the
    * vectors BY ID (uniform hash key, O(rows·dim) moved exactly once per
    * side — [[graft.operators.Dedup.minhashLshPairs]]'s documented
    * confirm shape; against an id-bucketed at-rest table even that
    * exchange elides). Comparisons never cross cells, so the pairwise
    * cost is Σ|cell|², the bound every SemDeDup deployment tunes with
    * its cluster count (nlist grows with the corpus so cells stay
    * bounded). A pathological hot cell is the same failure mode as a hot
    * LSH bucket — cap it upstream with
    * [[graft.operators.Dedup.capBuckets]] on the cell column if the
    * codebook can't be retrained.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    codebook: Seq[(Int, Array[Double])],
                    tau: Double): DataFrame = {
    val withCell = df.withColumn("cell", ivfCell(col(vecCol), codebook))
    // candidate generation: ids-only through the cell exchange
    val ids = withCell.select(col(idCol), col("cell"))
    val pairs = ids.select(col(idCol).as("__a"), col("cell").as("__acell"))
      .join(ids.select(col(idCol).as("__b"), col("cell").as("__bcell")),
        col("__acell") === col("__bcell") && col("__b") < col("__a"))
      .select(col("__a"), col("__b"))
    // cosine confirm: vectors re-joined by id (uniform key, once per side)
    val vecs = df.select(col(idCol), vectors.asDouble(col(vecCol)).as("__v"))
    val dropped = pairs
      .join(vecs.select(col(idCol).as("__b"), col("__v").as("__bvec")), "__b")
      .join(vecs.select(col(idCol).as("__a"), col("__v").as("__avec")), "__a")
      .filter(round(vectors.cosine(col("__avec"), col("__bvec")), 4) >= tau)
      .select(col("__a").as(idCol)).distinct()
    withCell.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** IVF cell assignment: nearest codebook centroid by cosine (rounded to
    * 4 dp for cross-engine determinism; smallest centroid id on ties).
    *
    * The codebook is a driver-held constant — bounded like any IVF
    * codebook, independent of table size — so assignment is a per-row
    * native codegen kernel (graft.plans.IvfCell, one generated call
    * regardless of nlist — the literal when-chain form it replaced grew
    * O(nlist²) generated source and would trip Janino's 64KB method
    * limit into interpreted fallback past a few hundred centroids): no
    * join, no shuffle, scales linearly with partitions. With data
    * written partitioned by `cell`, a probe reads one cell instead of
    * the table.
    */
  def ivfCell(vecCol: Column, codebook: Seq[(Int, Array[Double])]): Column =
    graft.plans.IvfCell.ivfCell(vectors.asDouble(vecCol), codebook)

  /** The literal when-chain [[ivfCell]] replaced — kept (test-only) as
    * the parity oracle for the IvfCell kernel (IvfCellSpec), the same
    * pattern as [[pqCodesHof]].
    */
  private[graft] def ivfCellWhenChain(vecCol: Column,
      codebook: Seq[(Int, Array[Double])]): Column = {
    val scored = codebook.sortBy(_._1).map { case (cid, ctr) =>
      cid -> round(vectors.cosine(vectors.asDouble(vecCol), lit(ctr)), 4)
    }
    val best = scored.map(_._2).reduce(greatest(_, _))
    scored.foldRight(lit(-1)) { case ((cid, s), el) =>
      when(s === best, lit(cid)).otherwise(el)
    }
  }

  /** Stage an IVF index AT REST: the corpus with its [[ivfCell]]
    * assignment, written as a cell-PARTITIONED table. This is the piece
    * that turns the v04/v06 probes from "scan everything, filter on a
    * per-row kernel" into "read only the probed cells' directories":
    * against the partitioned layout a probe's `cell IN (…)` is a
    * STATIC partition filter — pruned at planning time, so scan cost is
    * O(corpus/nlist · nprobe) instead of O(corpus), which is the entire
    * point of IVF at 100 TB. The assignment itself is the same per-row
    * codegen expression chain the online probes use (no join, no
    * shuffle on the way in; the write's only cost is the O(corpus)
    * pass any index build pays once, amortized over every query after).
    */
  def writeIvfIndex(df: DataFrame, vecCol: String,
                    codebook: Seq[(Int, Array[Double])],
                    table: String): Unit = {
    // a from-scratch rebuild defines a new snapshot: tombstones written
    // against the previous build must not apply to it
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `${table}__dels`")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `${table}__hwm`")
    graft.sources.Warehouse.writePartitioned(
      df.withColumn("cell", ivfCell(col(vecCol), codebook))
        .withColumn("__seq", lit(0L)),
      table, Seq("cell"))
    writeHwm(df.sparkSession, table, 0L)
  }

  /** The index's maintenance SEQUENCE high-water mark — a 1-row sibling
    * `<table>__hwm` metadata table (the lakehouse version-counter
    * shape). Maintenance ops are SINGLE-WRITER (the standard contract
    * for this whole sources/ maintenance family): the hwm
    * read-increment-rewrite is not transactional, so concurrent
    * appends/deletes against one index need external serialization —
    * a real lakehouse would CAS a commit log here. Every physical row of the index carries the `__seq` it was
    * written under (0 for the base build, hwm+1 per append) and every
    * tombstone the hwm AT DELETE TIME, so a tombstone kills exactly the
    * rows that existed when the delete ran and NEVER a later re-append
    * of the same id — delete-then-append-a-CHANGED-vector (the
    * update-via-delete path) yields only the new row, not a stale
    * duplicate (the round-12 ADVICE defect: id-only tombstone clearing
    * resurrected the old physical rows too).
    */
  private def writeHwm(spark: org.apache.spark.sql.SparkSession,
                       table: String, seq: Long): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeTable(Seq(seq).toDF("seq"),
      table + "__hwm")
  }

  private def readHwm(spark: org.apache.spark.sql.SparkSession,
                      table: String): Long =
    if (spark.catalog.tableExists(table + "__hwm"))
      spark.table(table + "__hwm").collect()(0).getLong(0)
    else 0L

  /** INCREMENTAL IVF maintenance: fold new vectors into an existing
    * [[writeIvfIndex]] table without touching what's there — assign
    * cells with the SAME frozen centroids (an index's centroids are its
    * contract; re-clustering is a rebuild, not an append) and append
    * into the matching cell directories. Existing files are never
    * rewritten (O(delta) cost), pruning keeps covering old + new files,
    * and a probe over the appended index is indistinguishable from one
    * over an index built from the union — the invariant the v27 oracle
    * hash-checks and IvfAppendSpec pins as a multiset equality. The
    * missing piece between "batch-built index" (v11) and "index under a
    * live corpus" — periodic
    * [[graft.sources.Compaction.compactHotPartitions]] of hot cells
    * handles the small-file accretion (v28), exactly as for any
    * partitioned log.
    */
  def appendIvfIndex(delta: DataFrame, vecCol: String,
                     codebook: Seq[(Int, Array[Double])],
                     table: String): Unit = {
    val spark = delta.sparkSession
    // appended rows are SEQUENCED past every tombstone written so far
    // (hwm+1): a prior delete of the same id keeps killing the OLD
    // physical rows but never this append — re-adding an id (identical
    // or updated vector) just works, with no tombstone rewrite at all
    // (the id-only resurrection this replaces brought the old rows
    // back too, duplicating updated ids)
    val seq = readHwm(spark, table) + 1L
    graft.sources.Warehouse.appendPartitioned(
      delta.withColumn("cell", ivfCell(col(vecCol), codebook))
        .withColumn("__seq", lit(seq)), table)
    writeHwm(spark, table, seq)
  }

  /** ROW-LEVEL DELETES for an at-rest IVF index — the s15 merge-on-read
    * face applied to a vector index: tombstones are written to a sibling
    * `<table>__dels` table, CELL-PARTITIONED WITH THE SAME frozen
    * centroids as the base, and the base files are NEVER rewritten
    * (O(deleted) cost, the v27 append economics in reverse). Because the
    * tombstones share the base's partition layout, a probe's `cell IN`
    * filter prunes BOTH sides at planning time — the anti-join that
    * applies the deletes only ever sees the probed cells' rows, never
    * O(deletes). `rows` must carry the deleted vectors' id AND embedding
    * (delete-by-row: the cell assignment needs the vector; an id-only
    * equality delete cannot be cell-routed and would force a global
    * anti-join — callers with ids only should join the base first).
    * Repeated deletes append more tombstones; duplicates are harmless
    * (anti-join semantics). IvfDeleteSpec pins base-files-untouched and
    * probe ≡ rebuild-without-deleted.
    */
  def deleteFromIvfIndex(rows: DataFrame, idCol: String, vecCol: String,
                         codebook: Seq[(Int, Array[Double])],
                         table: String): Unit = {
    val spark = rows.sparkSession
    // the tombstone records the hwm AT DELETE TIME: it applies to every
    // physical row written so far (__seq <= hwm) and to nothing written
    // after — the sequence axis the read's anti-join consults
    val dels = rows.select(col(idCol),
      ivfCell(col(vecCol), codebook).as("cell"))
      .withColumn("__seq", lit(readHwm(spark, table)))
    if (spark.catalog.tableExists(table + "__dels"))
      graft.sources.Warehouse.appendPartitioned(dels, table + "__dels")
    else
      graft.sources.Warehouse.writePartitioned(dels, table + "__dels",
        Seq("cell"))
  }

  /** Read the probed cells of a [[writeIvfIndex]] table with
    * [[deleteFromIvfIndex]] tombstones applied. The `cells` literals
    * reach both scans as static partition filters (planning-time
    * pruning, the v11 contract); the anti-join is left unhinted — the
    * tombstone side is unbounded in general and AQE downgrades it to a
    * broadcast at runtime exactly when it measures small (the q03
    * no-unbounded-hint invariant).
    */
  def readIvfIndexWithDeletes(spark: org.apache.spark.sql.SparkSession,
                              table: String, idCol: String,
                              cells: Seq[Int]): DataFrame = {
    val base = graft.sources.Warehouse.read(spark, table)
      .filter(col("cell").isin(cells: _*))
    if (!spark.catalog.tableExists(table + "__dels")) base.drop("__seq")
    else {
      // sequence-aware anti-join: a tombstone kills a row with the same
      // id only if the row was written AT OR BEFORE the delete
      // (base.__seq <= tombstone hwm) — later re-appends of the id
      // survive. The extra range conjunct rides the hash join on the
      // id key as a join filter; both scans still prune on `cells` at
      // planning time.
      val dels = graft.sources.Warehouse.read(spark, table + "__dels")
        .filter(col("cell").isin(cells: _*))
        .select(col(idCol).as("__del_id"), col("__seq").as("__del_seq"))
      base.join(dels,
          base(idCol) === col("__del_id") &&
            base("__seq") <= col("__del_seq"),
          "left_anti")
        .drop("__seq")
    }
  }
}
