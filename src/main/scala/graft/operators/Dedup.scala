package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.text

/** Document deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north star): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale posture (100 TB): everything is groupBy/join on content-derived
  * keys — fingerprints, band signatures, hash buckets — so work distributes
  * by shuffle on those keys and no driver-side state exists. Candidate
  * generation never compares all pairs: LSH bands / signature bytes bound
  * the comparison set to same-bucket collisions. The shingle arrays ride
  * along the candidate join here for simplicity; at extreme scale you'd
  * re-join the text by id after candidate generation instead (noted inline).
  */
object Dedup {

  /** Exact dedup by normalized-text md5 fingerprint: first-wins per group
    * (smallest id — deterministic, mirroring the reference's insertion-order
    * first-wins dedup, SURVEY §2.6 A2). Returns one row per distinct
    * fingerprint: (keeper id, n_copies).
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), text.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** One row per (doc, position, n-shingle) — fully codegen'd: posexplode
    * the token array, then window `lead`s build each shingle. Higher-order
    * functions (transform/zip_with) are CodegenFallback in Spark and cost
    * ~1 ms/doc interpreted; this long form is the at-scale shape (the
    * window shuffles by doc id, which downstream aggregations reuse).
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val parts = col("tok") +: (1 until shingleN).map(k => lead(col("tok"), k).over(w))
    docs.select(col(idCol), posexplode(text.tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"), concat_ws(" ", parts: _*).as("s"),
        parts.last.isNotNull.as("complete"))
      .filter(col("complete") && col("s") =!= "")
      .drop("complete")
  }

  /** EXACT substring dedup — maximal repeated spans (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": remove
    * any ≥ k-token span that appears twice anywhere in the corpus).
    * Their serial tool builds a suffix array; the distributed
    * reformulation bounds the suffix comparison at k tokens: a token
    * position is duplicated iff it lies inside some k-token window whose
    * content occurs ≥ 2 times corpus-wide (a second doc OR a second
    * position of the same doc), and the per-doc union of duplicated
    * windows, merged, is the union of all repeated spans of length ≥ k,
    * reported as maximal duplicated-POSITION intervals (a repeated span
    * [s, e] duplicates all its window starts s..e-k+1, whose [p, p+k-1]
    * intervals merge back to cover [s, e]; nothing shorter than k can
    * mark a position). Note a merged interval need not itself be ONE
    * repeated span: two abutting distinct repeated spans merge into a
    * single interval whose concatenation may be unrepeated — so a
    * keep-one-occurrence policy must operate on the underlying windows,
    * not the merged intervals; the cut action (drop every duplicated
    * position, Lee et al.'s removal mode) is sound on the intervals
    * directly. Detection output — the removal action is a trivial
    * downstream slice over [span_start, span_end].
    *
    * Scale shape: [[shingleRows]]'s one doc-keyed window builds the
    * k-gram rows; duplicate marking is one map-side-combined count on
    * the gram key plus one gram-keyed join back (ids-only); interval
    * merging is a second doc-keyed window (gaps-and-islands — all
    * intervals have length k, so the running end is `lag(pos) + k - 1`
    * and a new island starts iff `pos > lag(pos) + k`). Everything is
    * row-scale keyed exchanges, no driver state, no all-pairs. At
    * extreme scale the gram JOIN key would be a 64-bit hash (8-byte
    * shuffle rows, ~n²/2⁶⁴ collision odds); kept as the exact string
    * here — this is the one operator whose name promises exactness.
    *
    * Output: (idCol, span_start, span_end, n_tokens) in 1-based
    * inclusive token positions of the normalized text, one row per
    * maximal repeated span.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val grams = shingleRows(docs, idCol, textCol, k)
    val dup = grams.groupBy(col("s")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("s"))
    val occ = grams.join(dup, Seq("s"))
      .select(col(idCol), (col("pos") + 1).cast("bigint").as("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(w)
    occ
      .withColumn("__brk",
        when(prev.isNull || col("pos") > prev + k, 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** Distinct n-word shingles per doc as an array column; docs with none
    * are dropped.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    shingleRows(docs, idCol, textCol, shingleN)
      .groupBy(col(idCol))
      .agg(array_distinct(collect_list(col("s"))).as("sh"))

  /** MinHash signature columns m1..mK over n-word shingles: mJ = min over
    * shingles of a salted 32-bit hash. A per-row codegen kernel
    * (graft.plans.MinHashShingles) — the signature distributes with the
    * row; no token explosion, no shuffle. Values equal aggregating
    * text.saltedHash32 over exploded shingle rows (TextKernelsSpec).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleN: Int): DataFrame = {
    val ms = graft.plans.MinHashShingles
      .minhashShingles(text.normText(col(textCol)), k, shingleN)
    docs.select(col(idCol), ms.as("__ms"))
      .filter(col("__ms").isNotNull)
      .select(col(idCol) +:
        (1 to k).map(j => col("__ms.mins").getItem(j - 1).as(s"m$j")): _*)
  }

  /** MinHash-LSH candidate pairs with exact n-gram-Jaccard verification:
    * signature of `k` hashes split into `bands` bands; a pair is a candidate
    * iff some band signature collides; candidates get exact Jaccard over
    * distinct shingles. Output: (a, b, jaccard), a < b.
    *
    * Scale shape: the band join carries ONLY ids + band hashes; the (much
    * wider) shingle arrays are re-joined by id after candidate dedup, so
    * shuffle volume is O(docs·bands + candidates·shingles) instead of
    * O(docs·bands·shingles).
    */
  /** Drop rows whose value in `keyCol` occurs more than `cap` times —
    * the standard LSH hot-bucket guard: a degenerate band signature (e.g.
    * boilerplate shared by millions of docs) otherwise yields a quadratic
    * candidate-pair explosion on one reducer. Dropping is a coverage
    * trade-off the caller opts into; pairs inside oversized buckets are
    * NOT emitted (callers should record the cap in their run metadata).
    * Public: the same guard protects any blocked self-join (e.g. the
    * label-blocked embedding near-dup in queries.DedupQ).
    */
  def capBuckets(df: DataFrame, keyCol: String, cap: Option[Int]): DataFrame =
    cap.fold(df) { m =>
      val sizes = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= m)
        .select(col(keyCol))
      df.join(sizes, Seq(keyCol), "left_semi")
    }

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, bands: Int = 2, shingleN: Int = 3,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // One per-row kernel pass (graft.plans.MinHashShingles) produces BOTH
    // the k signature mins and the distinct shingle set — no explode, no
    // window, no aggregation shuffle anywhere before the band joins.
    // localCheckpoint (not cache): the frame feeds both sides of every
    // band join plus two id-joins — Spark's ReuseExchange can't dedupe
    // them (attribute ids differ per branch), so without materializing the
    // kernel runs 6×. Checkpoint blocks are owned by the RDD and freed by
    // the ContextCleaner once the result is no longer referenced; a
    // CacheManager entry would outlive the call until an explicit
    // unpersist, accreting in long-lived sessions. (At extreme scale,
    // materialize to storage instead.)
    val ms = graft.plans.MinHashShingles
      .minhashShingles(text.normText(col(textCol)), k, shingleN)
    val per = docs.select(col(idCol), ms.as("__ms"))
      .filter(col("__ms").isNotNull)
      .select(col(idCol) +: col("__ms.sh").as("sh") +:
        (0 until bands).map { b =>
          val cols = (b * r + 1 to (b + 1) * r)
            .map(j => col("__ms.mins").getItem(j - 1))
          md5(concat_ws(",", cols: _*)).as(s"band$b")
        }: _*)
      .localCheckpoint()
    val cands = (0 until bands).map { b =>
      val keyed = capBuckets(
        per.select(col(idCol), col(s"band$b").as("k")), "k", maxBucketSize)
      val left = keyed.select(col(idCol).as("a"), col("k"))
      val right = keyed.select(col(idCol).as("b"), col("k").as("rk"))
      left.join(right, col("k") === col("rk") && col("a") < col("b"))
        .select(col("a"), col("b"))
    }.reduce(_ unionByName _).dropDuplicates("a", "b")
    cands
      .join(per.select(col(idCol).as("a"), col("sh").as("da")), Seq("a"))
      .join(per.select(col(idCol).as("b"), col("sh").as("db")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("da"), col("db"))))
      .withColumn("uni", size(col("da")) + size(col("db")) - col("inter"))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** Exact token-Jaccard pairs above θ = thetaNum/thetaDen via PREFIX
    * FILTERING (AllPairs/ppjoin candidate scheme) — the deterministic
    * complement to MinHash-LSH: no hashing, exact recall. Each doc's
    * distinct tokens are globally ordered by (document frequency, token);
    * if J(A,B) ≥ θ then |A∩B| ≥ ceil(θ·|A|), and a subset of that size
    * cannot avoid A's first |A| − ceil(θ·|A|) + 1 tokens, so matching
    * pairs must collide on a prefix token. Candidates therefore come from
    * an equi-join on prefix tokens (rare tokens first ⇒ small buckets),
    * then exact verification with INTEGER threshold comparison
    * (inter·den ≥ union·num — no float boundary).
    *
    * Scale shape: df computation and the prefix join shuffle on the
    * token; the verify join ships each candidate pair's token arrays by
    * id. Output (a, b, jaccard) with jaccard rounded to 4 dp.
    *
    * `shingleN`: compare word-n-gram SETS instead of single-token sets.
    * Single tokens only discriminate on corpora with diverse
    * vocabularies; on templated text most docs share most tokens and the
    * prefix filter prunes nothing (measured: 57% of ALL testdata pairs
    * clear token-Jaccard 0.6 — a quadratic result no candidate scheme
    * can save). Shingles make near-uniqueness the common case.
    */
  /** Shared staging of the AllPairs prefix-filter family
    * ([[prefixJaccardPairs]], [[containmentPairs]]): per-doc distinct
    * shingle arrays (checkpointed ONCE — |docs| rows, doubling as the
    * verify side), the exploded posting table ranked on the global
    * (df, t) peel order, and the θ-prefix. Returns (shing, ranked,
    * pref).
    *
    * Notes that earned their shape (measured, don't re-try):
    * - per-row MinHashShingles kernel, not the transform/slice HOF
    *   (CodegenFallback at ~1 ms/doc — 9.3 s → 4 s at sf0.1);
    * - checkpoint the ARRAYS, not the exploded table (two
    *   ObjectHashAggregate+Exchange pairs and a 2M-row checkpoint
    *   serialization gone, ~6.5 → ~2.5 s at sf0.1);
    * - sz = size(sh) carried through the explode — a free projection
    *   instead of a second count window pass (2.35 → 2.22 s);
    * - prefix length sz − ⌈θ·sz⌉ + 1 with exact integer ceil.
    *
    * `maxDf`: tokens hotter than the cap leave the df table — they
    * vanish from ranking AND postings (candidate generation) but never
    * from the verify arrays. The capped ranking's leading ranks equal
    * the uncapped ranking's (the removed tokens are the HOTTEST, i.e.
    * the tail of the rarest-first order), so the prefix can only widen
    * relative to the exact filter — output remains a provable subset
    * that misses only pairs whose every shared prefix term exceeds the
    * cap (ContainmentSpec).
    */
  private def stagePrefixRanked(docs: DataFrame, idCol: String,
                                textCol: String, shingleN: Int,
                                thetaNum: Int, thetaDen: Int,
                                maxDf: Option[Long])
      : (DataFrame, DataFrame, DataFrame) = {
    require(thetaNum > 0 && thetaNum <= thetaDen)
    val items =
      if (shingleN == 1) array_distinct(text.tokens(col(textCol)))
      else coalesce(
        graft.plans.MinHashShingles
          .minhashShingles(text.normText(col(textCol)), 1, shingleN)
          .getField("sh"),
        array().cast("array<string>"))
    val shing = docs
      .select(col(idCol), array_remove(coalesce(items,
        array().cast("array<string>")), "").as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val tok = shing.select(col(idCol), size(col("sh")).as("sz"),
      explode(col("sh")).as("t"))
    val dfc0 = tok.groupBy(col("t")).agg(count(lit(1)).as("dfc"))
    val dfc = maxDf.map(cap => dfc0.filter(col("dfc") <= cap))
      .getOrElse(dfc0)
    val byDoc = Window.partitionBy(col(idCol))
    val ranked = tok.join(dfc, Seq("t"))
      .withColumn("rn", row_number().over(byDoc.orderBy(col("dfc"), col("t"))))
    val pref = ranked.filter(col("rn") <=
      col("sz") - expr(s"(($thetaNum * sz + $thetaDen - 1) div $thetaDen)") + 1)
    (shing, ranked, pref)
  }

  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         thetaNum: Int = 3, thetaDen: Int = 5,
                         shingleN: Int = 1): DataFrame = {
    val (shing, _, pref) = stagePrefixRanked(docs, idCol, textCol,
      shingleN, thetaNum, thetaDen, maxDf = None)
    // AllPairs length filter at candidate time: J(A,B) ≥ θ forces
    // θ·|A| ≤ |B| ≤ |A|/θ, so size-incompatible collisions never enter
    // the (array-shipping) verify join.
    // POSITIONAL filter (AllPairs §4, the d21/containmentPairs lever
    // applied to the symmetric case — round-17): a token matched at rank
    // pa of A and pb of B caps the intersection at min(na−pa, nb−pb)+1
    // (both lists share the global (df,t) order, so every shared token
    // sits at or after the match on BOTH sides). J ≥ θn/θd needs
    // I·(θn+θd) ≥ θn·(na+nb); a qualifying pair's FIRST shared token is
    // inside both prefixes (otherwise I < ⌈θ·na⌉ ≤ the required overlap)
    // and sees no shared tokens before it on either side, so its row's
    // bound ≥ the true intersection and the row survives — the
    // dropDuplicates keeps the pair; rows for later shared tokens may
    // fail, which only thins the pre-dedup volume. Exactness untouched
    // (TextKernelsSpec brute-force parity pins it).
    val cands = pref.select(col(idCol).as("a"), col("t"),
        col("rn").as("pa"), col("sz").as("sza"))
      .join(pref.select(col(idCol).as("b"), col("t").as("rt"),
          col("rn").as("pb"), col("sz").as("szb")),
        col("t") === col("rt") && col("a") < col("b") &&
          col("sza") * thetaNum <= col("szb") * thetaDen &&
          col("szb") * thetaNum <= col("sza") * thetaDen &&
          (least(col("sza") - col("pa"), col("szb") - col("pb")) + 1) *
            (thetaNum + thetaDen) >= (col("sza") + col("szb")) * thetaNum)
      .select(col("a"), col("b")).dropDuplicates("a", "b")
    // set intersection is order-free, so the raw (distinct) shingle
    // arrays verify directly — no sort, no re-aggregation. shuffle_hash,
    // not broadcast: the array frame is small by ROW count, so Catalyst
    // would broadcast it, but its BYTES are all the corpus's shingles —
    // the driver builds (and ships) a ~30 MB hash relation twice,
    // serially (measured +2.4 s at sf0.1). A shuffled hash join builds
    // per-partition tables in parallel, and at 100 TB the array side
    // couldn't broadcast anyway.
    cands
      .join(shing.select(col(idCol).as("a"), col("sh").as("ta"))
        .hint("shuffle_hash"), Seq("a"))
      .join(shing.select(col(idCol).as("b"), col("sh").as("tb"))
        .hint("shuffle_hash"), Seq("b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni", size(col("ta")) + size(col("tb")) - col("inter"))
      .filter(col("inter") * thetaDen >= col("uni") * thetaNum)
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** ASYMMETRIC CONTAINMENT pairs: C(a→b) = |A∩B| / |A| ≥ θ — "most of
    * a's content appears in b", the quote/excerpt/subset-detection
    * semantics Jaccard cannot express (a 50-shingle quote inside a
    * 5000-shingle article has J ≈ 0.01 but C = 1.0). The training-data
    * use is verbatim-quotation and doc-in-doc dedup: drop or down-weight
    * documents that are near-subsets of another document.
    *
    * Exactness via the asymmetric prefix filter: if |A∩B| ≥ ⌈θ·|A|⌉,
    * then ANY (|A| − ⌈θ·|A|⌉ + 1)-subset of A intersects B — so probing
    * with only the contained side's prefix (rarest-first global (df,t)
    * order, the d09/d20 peel) against the FULL posting list of the
    * container side loses no qualifying pair. The container side cannot
    * be prefix-filtered (every superset qualifies regardless of its own
    * size) — that asymmetry is intrinsic to containment, so the
    * candidate volume is Σ_t df_prefix(t)·df(t). On Zipfian text the
    * prefix lands on genuinely rare terms and the sum stays near-linear;
    * `maxDf` is the explicit 100 TB guard for adversarial densities —
    * terms hotter than the cap are excluded from CANDIDATE GENERATION
    * (both sides), so the output is a provable SUBSET of the exact
    * answer that can only miss pairs whose every shared prefix term
    * exceeds the cap (boilerplate-only overlap — the pairs quote
    * detection wants to ignore anyway; ContainmentSpec pins the subset
    * property). Default None = exact.
    *
    * Output: ordered pairs (a, b, containment) with a ≠ b — both
    * directions are emitted when both qualify (a quote and its source
    * are NOT symmetric roles).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       thetaNum: Int = 4, thetaDen: Int = 5,
                       shingleN: Int = 3,
                       maxDf: Option[Long] = None): DataFrame = {
    // shared AllPairs staging ([[stagePrefixRanked]] — incl. the maxDf
    // subset-property argument); the CONTAINED side probes with its
    // prefix, the container side keeps its full (sub-cap) posting
    val (shing, ranked, pref) = stagePrefixRanked(docs, idCol, textCol,
      shingleN, thetaNum, thetaDen, maxDf)
    // POSITIONAL filter (AllPairs §4): a token matched at rank pa of A
    // and pb of B caps the intersection at min(na−pa, nb−pb)+1 — both
    // lists are in the same global (df,t) order, so everything shared
    // sits at or after the match. A qualifying pair's FIRST shared
    // token sees no shared tokens before it on either side, so that
    // row's bound ≥ the true intersection ≥ ⌈θ·na⌉ and the row
    // survives — the dropDuplicates keeps the pair; rows for later
    // shared tokens may fail, which only thins the pre-dedup volume.
    // Exactness is therefore untouched (ContainmentSpec pins it).
    val cands = pref.select(col(idCol).as("a"), col("t"),
        col("rn").as("pa"), col("sz").as("na"))
      .join(ranked.select(col(idCol).as("b"), col("t").as("rt"),
          col("rn").as("pb"), col("sz").as("nb")),
        col("t") === col("rt") && col("a") =!= col("b") &&
          (least(col("na") - col("pa"), col("nb") - col("pb")) + 1) *
            thetaDen >= col("na") * thetaNum)
      .select(col("a"), col("b")).dropDuplicates("a", "b")
    cands
      .join(shing.select(col(idCol).as("a"), col("sh").as("ta"))
        .hint("shuffle_hash"), Seq("a"))
      .join(shing.select(col(idCol).as("b"), col("sh").as("tb"))
        .hint("shuffle_hash"), Seq("b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("inter") * thetaDen >= size(col("ta")) * thetaNum)
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / size(col("ta")), 4)
          .as("containment"))
  }

  /** Connected components over near-dup candidate pairs: every member is
    * labeled with the smallest doc id reachable through the pair graph
    * (the canonical "keeper" of its duplicate cluster). Frontier-based
    * min-label propagation — the same delta-iteration shape as
    * graph.Routing: per round, only nodes whose label improved push to
    * their neighbors; an empty frontier is convergence. Rounds are
    * bounded by the cluster diameter, which is small for near-dup graphs.
    * Input: (a, b) pairs. Output: (member, cluster).
    */
  /** `pairsCanonical = true` asserts the input is already DISTINCT with
    * `a < b` on every row (true for every pair generator in this file —
    * they all emit `a < b` after a dedup). The symmetrized edge list is
    * then distinct by construction and the full `distinct()` shuffle over
    * it is skipped (measured ~0.7 s of r04's 4.5 s at sf0.1). The
    * contract is VALIDATED (one extra pass over the pairs, loud failure)
    * when `spark.graft.debug.validate=true` — results would stay correct
    * on a violating input (min-label propagation is idempotent over
    * duplicate edges) but the skipped-shuffle perf claim would silently
    * degrade, so tests run with the flag on.
    *
    * `checkpointDir`: reliable per-round checkpoints instead of
    * `localCheckpoint` — required on a real cluster, where localCheckpoint
    * blocks are pinned to executors and one executor loss mid-iteration
    * kills the job (see [[graft.operators.Iteration.materializer]]).
    */
  /** `broadcastFrontier`: opt-in per-round broadcast of the improved-
    * label frontier — same mechanism and contract as
    * `Routing.bfsHops(broadcastFrontier)` / `Ranking.pageRank(
    * broadcastRanks)`; the peak frontier here is the FULL node set
    * (round 1: every node improves), so the caller asserts V fits
    * executor memory.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50,
                  pairsCanonical: Boolean = false,
                  checkpointDir: Option[String] = None,
                  prePartitionEdges: Boolean = true,
                  broadcastFrontier: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    if (pairsCanonical &&
        spark.conf.getOption("spark.graft.debug.validate").contains("true")) {
      val bad = pairs.select(col("a"), col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1 || col("a") >= col("b"))
      require(bad.isEmpty,
        "dupClusters(pairsCanonical = true) requires DISTINCT pairs with " +
          "a < b on every row; got violations, e.g. " +
          bad.limit(3).collect().mkString(", "))
    }
    // default localCheckpoint, not cache: reused every round, freed by GC
    // with the result instead of living in the CacheManager until unpersist
    val ckpt = Iteration.materializer(spark, checkpointDir)
    // Materialize the caller's pair frame before the symmetrize union
    // consumes it twice: callers hand in expensive derivations (r04:
    // fact join + distinct + canonical filter), and although ReuseExchange
    // shares the shuffle WRITE between the two union branches, each
    // branch still re-runs the post-shuffle distinct aggregation.
    // Paired 5-pass bench mins at sf0.1: r04 4.83→4.42 s, d06
    // 1.63→1.38 s, r05 1.87→1.60 s — the extra O(pairs) checkpoint is
    // cheaper than the spared re-aggregation even on small inputs, and
    // at cluster scale one pair write beats re-running the upstream
    // reduce twice.
    val p0 = ckpt(pairs.select(col("a"), col("b")))
    val sym = p0.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p0.select(col("b").as("src"), col("a").as("dst")))
    // Staged pre-partitioned on the per-round join key (src): r04
    // 3.85→3.53 s at sf0.1; see Routing.bfsHops for the mechanism and
    // when to pass `prePartitionEdges = false`. The symmetric edge frame
    // is derived from the caller's pairs, so it is always in memory.
    val in = Iteration.stage(if (pairsCanonical) sym else sym.distinct(),
      "src", ckpt, repartition = prePartitionEdges)
    // One checkpoint per round: the label set absorbs this round's
    // improvements through a single full-outer merge (same shape as
    // Routing.sssp — the previous lazy anti-join chain re-executed every
    // prior round's merge on deep iterations, and the separate frontier
    // checkpoint cost an extra job per round). One propagation HOP per
    // round is also deliberate: pushing candidate labels a second hop
    // before the merge (halving rounds) was measured at sf0.1 and
    // consistently hurt the ~600k-edge graph (r04 3.9→4.85 s, paired
    // 7-pass-min samples) — the second push re-joins every candidate
    // node against the edge list, doubling per-round shuffle volume,
    // and volume beats round count at scale. See Routing.sssp for the
    // matching observe-probe rejection.
    //
    // Seed label = min(self, min neighbor) in ONE aggregation over the
    // edge list: identical to what the first round of self-seeded
    // propagation computes, but as a groupBy instead of a full-frontier
    // join + groupBy + merge — one round (and its checkpoint) gone.
    // Every node appears as a src (edges are symmetric), so the seed
    // covers the full node set.
    in.run(ccLoop(in.frame, maxIter, ckpt, broadcastFrontier))
  }

  /** One un-materialized min-label round — package-visible for plan pins
    * (the Routing.bfsRound / Ranking.rankRound pattern).
    */
  private[graft] def ccRound(e: DataFrame, labels: DataFrame,
                             frontier: DataFrame,
                             broadcastFrontier: Boolean = false): DataFrame = {
    val fSide = if (broadcastFrontier) broadcast(frontier) else frontier
    val cand = fSide.join(e, frontier("node") === e("src"))
      .select(e("dst").as("node"), col("label").as("cand_label"))
      .groupBy("node").agg(min("cand_label").as("cand_label"))
    // every candidate node already carries a label (edges are
    // symmetric, so each dst seeded itself in round 0)
    val improved = col("cand_label").isNotNull &&
      col("cand_label") < col("label")
    labels.drop("__new")
      .join(cand, Seq("node"), "full")
      .select(col("node"),
        when(improved, col("cand_label")).otherwise(col("label")).as("label"),
        improved.as("__new"))
  }

  private def ccLoop(e: DataFrame, maxIter: Int,
                     ckpt: DataFrame => DataFrame,
                     broadcastFrontier: Boolean): DataFrame = {
    var labels = ckpt(e.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("min_nbr"))
      .select(col("node"), least(col("node"), col("min_nbr")).as("label"))
      .withColumn("__new", lit(true)))
    var frontier = labels.filter(col("__new"))
    var i = 0
    while (i < maxIter && !frontier.isEmpty) {
      labels = ckpt(ccRound(e, labels, frontier, broadcastFrontier))
      frontier = labels.filter(col("__new"))
      i += 1
    }
    Iteration.warnIfTruncated("dupClusters", frontier, i, maxIter)
    labels.select(col("node").as("member"), col("label").as("cluster"))
  }

  /** INCREMENTAL corpus dedup: drop `increment` rows whose `keyCol` value
    * already exists in `corpus` — the crawl-increment-vs-existing-corpus
    * step of a continuously-growing training set, shaped so the (huge)
    * corpus NEVER shuffles. Results are EXACT (plain anti-join
    * semantics, oracle-able); the Bloom filter is only a prefilter:
    *
    *  1. a Bloom sketch over the corpus keys (public `stat.bloomFilter`,
    *     a bounded driver constant like any codebook — ~1.2 MB per 1M
    *     keys at 1% fpp) is probed per increment row through a native
    *     codegen expression (plans/BloomMightContain): no join, no
    *     shuffle, and no false negatives, so nothing exact is lost;
    *  2. the surviving candidates (true dups + ~fpp·|increment| false
    *     positives) are CONFIRMED by a semi-join of the corpus against
    *     the broadcast candidate keys, then the tiny confirmed-dup key
    *     set broadcasts back into an anti-join on the increment.
    *
    * Both joins broadcast the small side — the corpus is scanned (twice:
    * sketch + confirm) but never shuffled, and the increment never
    * shuffles at all. At deployment scale the sketch is built once,
    * persisted, and amortized across increments (step 1's scan drops
    * out); `expectedKeys`/`fpp` size it.
    *
    * `keyCol` must be evaluable on both frames (e.g. a fingerprint of
    * the text column). Intra-increment duplicates are NOT collapsed —
    * that is [[exactGroups]]' job; this operator only subtracts what the
    * corpus already has.
    */
  def dedupAgainstCorpus(increment: DataFrame, corpus: DataFrame,
                         keyCol: Column, expectedKeys: Long,
                         fpp: Double = 0.01): DataFrame = {
    require(expectedKeys > 0 && fpp > 0 && fpp < 1)
    val keyed = increment.withColumn("__fp", keyCol)
    val corpusKeys = corpus.select(keyCol.as("__fp"))
    val bloom = corpusKeys.select(xxhash64(col("__fp")).as("__h"))
      .stat.bloomFilter("__h", expectedKeys, fpp)
    // per-row probe; an xxhash64 collision only ever ADDS a candidate,
    // which the exact confirm join removes — exactness is unconditional
    val cand = keyed.filter(graft.plans.BloomMightContain
      .mightContainLong(xxhash64(col("__fp")), bloom))
    val dupKeys = corpusKeys
      .join(broadcast(cand.select(col("__fp")).distinct()), Seq("__fp"),
        "left_semi")
      .distinct()
    keyed.join(broadcast(dupKeys), Seq("__fp"), "left_anti").drop("__fp")
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round alternative to
    * [[dupClusters]]'s O(diameter)-round min-label propagation. Each
    * round rewrites the whole edge set toward a star per component:
    * large-star points every larger neighbor of u at u's neighborhood
    * minimum; small-star does the same for the smaller neighbors. At
    * fixpoint every edge is (member, component-min). Same output contract
    * as [[dupClusters]]: (member, cluster), cluster = smallest reachable
    * id, roots included.
    *
    * Convergence check: per-round (count, xxhash64 checksum) of the edge
    * set — one tiny action per star instead of an edge-set subtract.
    *
    * Round economics vs min-label, measured on r04's ~600k-edge trade
    * graph at sf0.1 (two paired 7-pass-min runs, minutes apart): star
    * 5.19/5.01 s vs min-label 4.74/4.68 s — min-label wins ~8% and stays
    * r04's default. The trade graph's diameter is small, so min-label
    * pays few rounds over a frontier that SHRINKS as components settle,
    * while every star round rewrites and dedupes the FULL edge set
    * through groupBy+join+distinct. Star is the right tool when the
    * diameter is large relative to log n: on a 64-node path (diameter
    * 63) min-label TRUNCATES at its default 50-round budget while star
    * converges well inside its own (OperatorsSpec pins both) — kept as
    * the documented high-diameter complement, not dead code.
    */
  def dupClustersStar(pairs: DataFrame, maxIter: Int = 50,
                      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val ckpt = Iteration.materializer(spark, checkpointDir)
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // large-star (paper Alg. 1): over the SYMMETRIC neighborhood,
    // m(u) = min(Γ(u) ∪ u); emit (v, m) for every neighbor v > u.
    // v > u ≥ m, so no self-loops and edges stay larger→smaller.
    def largeStar(e: DataFrame): DataFrame = {
      val nb = sym(e)
      val mins = nb.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      nb.filter(col("v") > col("u")).join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star (paper Alg. 2): orient every edge toward its larger
    // endpoint u; m(u) = min of the smaller neighbors; emit (v, m) for
    // each smaller neighbor plus (u, m), dropping the (m, m) self-loop.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v"), col("m"))
        .unionByName(mins.select(col("u").as("v"), col("m")))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def checksum(e: DataFrame): (Long, String) = {
      // decimal sum: a long sum of 64-bit hashes overflows under ANSI
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    // sized from the INITIAL edge set; star rounds only ever shrink it
    val in = Iteration.stage(pairs.select(col("a").as("u"), col("b").as("v")),
      "u", ckpt)
    var edges = in.frame
    in.run {
      var prev = checksum(edges)
      var converged = false
      var i = 0
      while (i < maxIter && !converged) {
        edges = ckpt(smallStar(largeStar(edges)))
        val cur = checksum(edges)
        converged = cur == prev
        prev = cur
        i += 1
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"dupClustersStar stopped at maxIter=$maxIter without a stable " +
            "edge set; results may be partial — raise maxIter")
    }
    // The output projection sits OUTSIDE `in.run` ON PURPOSE: a lazy
    // frame returned from it would plan its distinct at the session width
    // anyway (the Iteration.withShufflePartitions laziness contract), and
    // that is the intended width for the hand-off downstream.
    // At fixpoint edges are (member, root): add the roots themselves.
    edges.select(col("u").as("member"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("member"), col("v").as("cluster")))
      .distinct()
  }

  /** 16-bit SimHash per document: bit b is the majority vote of bit b over
    * the 16-bit md5-derived hashes of all (non-distinct) tokens. A single
    * per-row codegen kernel (graft.plans.SimHash16) — no explode, no
    * shuffle: the signature distributes with the row, which is the shape
    * that matters at 100 TB (the exploded form multiplies rows by token
    * count and shuffles them back by doc id just to re-aggregate).
    */
  /** Winnowing near-dup pairs (the MOSS shape, Schleimer et al. 2003):
    * documents sharing at least `minShared` winnowed character-gram
    * fingerprints, with the shared count — span-level copy detection
    * that survives token-level edits between the copied spans, the
    * fourth rung of the dedup family (exact → near → span-charge →
    * winnowed-copy). Fingerprints are the t06 kernel's (k-gram rolling
    * hashes, window-min selected, distinct per doc).
    *
    * `maxDf` drops fingerprints appearing in more than that many docs
    * before pairing — boilerplate/stopword-grade spans would otherwise
    * make the fp-keyed self-join quadratic in the hottest key (every
    * MOSS deployment applies exactly this cut); with it the candidate
    * volume is bounded by Σ df² ≤ maxDf · |kept fps|, linear in the
    * corpus for fixed maxDf. Scale shape: one per-row kernel pass, a
    * df aggregate (map-side combined), the ids-only fp-keyed self-join,
    * and the (a,b) pair aggregate — no text ever rides a shuffle.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int, minShared: Long, maxDf: Long): DataFrame =
    sharedFingerprintPairs(
      docs.select(col(idCol),
        explode(graft.functions.text.winnowFingerprints(col(textCol), k, w))
          .as("fp")),
      idCol, "fp", minShared, maxDf)

  /** Generic fingerprint-overlap pairing — the second half of
    * [[winnowPairs]], factored out because ANY per-item fingerprint
    * frame pairs the same way (winnowed text grams, sampled video-frame
    * hashes, audio chroma prints…): df-band the fingerprints (df in
    * [2, maxDf] — singletons pair with nothing, boilerplate-grade
    * fingerprints would make the self-join quadratic in the hottest
    * key), ids-only fp-keyed self-join, per-pair shared count ≥
    * `minShared`. `fps` must be DISTINCT per (id, fingerprint); output
    * (a, b, n_shared) with a < b.
    */
  def sharedFingerprintPairs(fps: DataFrame, idCol: String, fpCol: String,
                             minShared: Long, maxDf: Long): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1 and maxDf >= 2, got $minShared/$maxDf")
    val inBand = fps.groupBy(col(fpCol))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col(fpCol))
    val kept = fps.join(inBand, Seq(fpCol))
    kept.select(col(fpCol), col(idCol).as("a"))
      .join(kept.select(col(fpCol), col(idCol).as("b")), Seq(fpCol))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // null-text docs are dropped, as the exploded pipeline did implicitly
    // (explode of a null token array emits no rows) and as the d03 oracle
    // does (unnest over a null split)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.plans.SimHash16.simhash16(text.normText(col(textCol)))
          .as("simhash"))

  /** 64-bit SimHash per document — the production-size signature (see
    * plans.SimHash64: 16-bit banding buckets are too coarse beyond demo
    * corpora). Same per-row no-shuffle shape as [[simhash16]].
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.plans.SimHash64.simhash64(text.normText(col(textCol)))
          .as("simhash64"))

  /** Near-dup pairs by 64-bit SimHash: 4 bands of 16 bits — guaranteed
    * recall for hamming ≤ 3 (a pair differing in ≤3 bits leaves ≥1 of the
    * 4 bands untouched), with 65536 bucket values per band so buckets
    * stay small at corpus scale (the structural fix for the 16-bit
    * signature's coarse buckets). Exact hamming filter after the band
    * joins; `maxBucketSize` guards degenerate signatures (e.g. the
    * all-zeros hash of boilerplate-heavy corpora). Output (a, b, hamming).
    */
  def simhash64Pairs(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Option[Int] = None): DataFrame =
    hamming64Pairs(simhash64(docs, idCol, textCol), idCol, "simhash64",
      maxHamming, maxBucketSize)

  /** Banded hamming near-dup pairs over ANY precomputed 64-bit
    * fingerprint column — text SimHash, media perceptual hash
    * ([[graft.multimodal.Multimodal.phash64]]), audio chroma print:
    * whatever produced the signature, the candidate structure is the
    * same 4×16-bit banding with guaranteed recall at hamming ≤ 3 and
    * exact `bit_count(xor)` confirm. Factored out of [[simhash64Pairs]]
    * (m04 pairs media hashes through it). Output (a, b, hamming).
    */
  def hamming64Pairs(df: DataFrame, idCol: String, simCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    val withBands = df
      .withColumn("b0", shiftright(col(simCol), 48).bitwiseAND(lit(0xffffL)))
      .withColumn("b1", shiftright(col(simCol), 32).bitwiseAND(lit(0xffffL)))
      .withColumn("b2", shiftright(col(simCol), 16).bitwiseAND(lit(0xffffL)))
      .withColumn("b3", col(simCol).bitwiseAND(lit(0xffffL)))
      .localCheckpoint()
    bandedHammingPairs(withBands, idCol, simCol,
      Seq("b0", "b1", "b2", "b3"), Seq(48, 32, 16, 0), 0xffffL,
      maxHamming, maxBucketSize)
  }

  /** CROSS-MODAL near-dup pairs: candidates generated by banding ONE
    * modality's 64-bit fingerprint (`candCol` — e.g. an image pHash),
    * confirmed against BOTH it and a SECOND modality's fingerprint
    * (`confirmCol` — e.g. the caption's SimHash). This is the d-tier
    * banding doctrine applied ACROSS columns of a paired
    * image+caption corpus: a pair survives iff the images are
    * near-dup (hamming(cand) ≤ maxHamCand — recall guaranteed by the
    * 4×16 banding for maxHamCand ≤ 3) AND the captions agree
    * (hamming(confirm) ≤ maxHamConfirm — a pure post-filter: the same
    * image re-captioned is NOT a duplicate document). Join traffic is
    * ids + two 8-byte signatures; the confirm column never drives
    * candidate generation, so its hamming bound can be loose without
    * touching the join. First-match-band disambiguation as in
    * [[hamming64Pairs]]. Output (a, b, hamming_cand, hamming_confirm).
    */
  def crossModal64Pairs(df: DataFrame, idCol: String, candCol: String,
                        confirmCol: String, maxHamCand: Int = 3,
                        maxHamConfirm: Int = 16): DataFrame = {
    val shifts = Seq(48, 32, 16, 0)
    val withBands = df
      .withColumn("b0", shiftright(col(candCol), 48).bitwiseAND(lit(0xffffL)))
      .withColumn("b1", shiftright(col(candCol), 32).bitwiseAND(lit(0xffffL)))
      .withColumn("b2", shiftright(col(candCol), 16).bitwiseAND(lit(0xffffL)))
      .withColumn("b3", col(candCol).bitwiseAND(lit(0xffffL)))
      .localCheckpoint()
    shifts.zipWithIndex.map { case (_, i) =>
      val l = withBands.select(col(idCol).as("a"),
        col(candCol).as("candA"), col(confirmCol).as("confA"),
        col(s"b$i").as("k"))
      val r = withBands.select(col(idCol).as("b"),
        col(candCol).as("candB"), col(confirmCol).as("confB"),
        col(s"b$i").as("rk"))
      val earlierDiffer = shifts.take(i).map { s =>
        shiftright(col("candA"), s).bitwiseAND(lit(0xffffL)) =!=
          shiftright(col("candB"), s).bitwiseAND(lit(0xffffL))
      }.foldLeft(lit(true))(_ && _)
      l.join(r, col("k") === col("rk") && col("a") < col("b") &&
          earlierDiffer)
        .withColumn("hamming_cand",
          bit_count(col("candA").bitwiseXOR(col("candB"))))
        .withColumn("hamming_confirm",
          bit_count(col("confA").bitwiseXOR(col("confB"))))
        .filter(col("hamming_cand") <= maxHamCand &&
          col("hamming_confirm") <= maxHamConfirm)
        .select(col("a"), col("b"), col("hamming_cand"),
          col("hamming_confirm"))
    }.reduce(_ unionByName _)
      .select(col("a"), col("b"),
        col("hamming_cand").cast("int").as("hamming_cand"),
        col("hamming_confirm").cast("int").as("hamming_confirm"))
  }

  /** Shared candidate-pair core for the banded SimHash joins: one
    * equi-join per band column, hamming filter before the union, and
    * FIRST-MATCH-BAND disambiguation when no bucket cap is set — band i
    * emits a pair iff bands 0..i-1 (recomputed from the signatures via
    * `shifts`/`mask`) DIFFER, so the band unions are disjoint by
    * construction and the dropDuplicates shuffle over every bucket
    * collision disappears. With a bucket cap the trick is unsound (a pair
    * capped out of its first matching band must still surface through a
    * later band), so capped mode keeps the dropDuplicates instead.
    */
  private def bandedHammingPairs(withBands: DataFrame, idCol: String,
                                 simCol: String, bandCols: Seq[String],
                                 shifts: Seq[Int], mask: Long,
                                 maxHamming: Int,
                                 maxBucketSize: Option[Int]): DataFrame = {
    val cands = bandCols.zipWithIndex.map { case (bandCol, i) =>
      val keyed = capBuckets(
        withBands.select(col(idCol), col(simCol), col(bandCol).as("k")),
        "k", maxBucketSize)
      val l = keyed.select(col(idCol).as("a"), col(simCol).as("simA"),
        col("k"))
      val r = keyed.select(col(idCol).as("b"), col(simCol).as("simB"),
        col("k").as("rk"))
      val earlierDiffer = shifts.take(i).map { s =>
        shiftright(col("simA"), s).bitwiseAND(lit(mask)) =!=
          shiftright(col("simB"), s).bitwiseAND(lit(mask))
      }.foldLeft(lit(true))(_ && _)
      val firstMatch =
        if (maxBucketSize.isEmpty) earlierDiffer else lit(true)
      // hamming filter BEFORE the union: hamming is deterministic per
      // pair, so filtering early keeps only the (rare) near-dup pairs.
      l.join(r, col("k") === col("rk") && col("a") < col("b") && firstMatch)
        .withColumn("hamming",
          bit_count(col("simA").bitwiseXOR(col("simB"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("a"), col("b"), col("hamming"))
    }.reduce(_ unionByName _)
    val deduped =
      if (maxBucketSize.isEmpty) cands else cands.dropDuplicates("a", "b")
    deduped.select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
  }

  /** Near-dup pairs by SimHash: band the 16-bit signature into 4 nibbles —
    * a pair with hamming distance ≤ 3 differs in at most 3 nibbles, so by
    * pigeonhole it collides on at least one of the 4 nibble buckets
    * (recall is guaranteed for maxHamming < number of bands; larger
    * maxHamming values trade recall for fewer joins). Exact hamming filter
    * after the bucket joins. Output (a, b, hamming).
    *
    * Scale note: 4-bit bands mean only 16 bucket values per band, so
    * bucket sizes grow linearly with the corpus — a 16-bit signature is a
    * demonstration size. At production scale use a wider signature (64-bit
    * with 16-bit bands keeps the same guarantee at hamming ≤ 3) and/or
    * `maxBucketSize` to cap the per-bucket join.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    val sim = simhash16(docs, idCol, textCol)
    // Candidate generation = one equi-join per nibble band, unioned.
    // An OR of the band-equalities in a single join predicate has no
    // equi-join keys, so Spark would fall back to a nested-loop join —
    // O(docs²) comparisons; the per-band equi-joins shuffle-hash on the
    // nibble value instead (same banding as minhashLshPairs).
    // localCheckpoint, not cache: feeds both sides of all 4 joins; freed
    // by GC with the result (see minhashLshPairs).
    val withBytes = sim
      .withColumn("n0", shiftright(col("simhash"), 12).bitwiseAND(lit(0xf)))
      .withColumn("n1", shiftright(col("simhash"), 8).bitwiseAND(lit(0xf)))
      .withColumn("n2", shiftright(col("simhash"), 4).bitwiseAND(lit(0xf)))
      .withColumn("n3", col("simhash").bitwiseAND(lit(0xf)))
      .localCheckpoint()
    bandedHammingPairs(withBytes, idCol, "simhash",
      Seq("n0", "n1", "n2", "n3"), Seq(12, 8, 4, 0), 0xfL,
      maxHamming, maxBucketSize)
  }

  /** Cross-corpus near-dup join — the batch face between
    * [[dedupAgainstCorpus]] (EXACT key, misses paraphrases) and
    * [[lshIndexLookup]] (one query at a time): every (increment doc,
    * corpus doc) pair sharing a MinHash band, confirmed with exact
    * distinct-shingle Jaccard ≥ `thetaNum/thetaDen` (cross-multiplied
    * integers — no float boundary). The "is today's crawl already in
    * the lake, NEAR-duplicate-wise" question every ingest gate asks.
    *
    * Scale shape: one kernel pass per side; the band join carries ids +
    * band hashes only and is an equi-join per band on the band value —
    * increment×corpus, never corpus×corpus, so the big side shuffles
    * once per band at ids-width and the quadratic term is bounded by
    * same-bucket CROSS-corpus collisions (cap hot buckets upstream with
    * [[capBuckets]] on the band column if the corpus carries megadup
    * boilerplate). Shingle sets re-join BY ID for the confirm —
    * [[minhashLshPairs]]' documented slim-shuffle shape.
    * Output: (inc_id, corp_id, jaccard 4dp), pairs clearing θ.
    */
  def crossCorpusNearDups(increment: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 8, bands: Int = 2, shingleN: Int = 3,
                          thetaNum: Int = 1, thetaDen: Int = 2): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(thetaNum > 0 && thetaDen > 0 && thetaNum <= thetaDen,
      s"need 0 < thetaNum/thetaDen <= 1, got $thetaNum/$thetaDen")
    val r = k / bands
    def per(df: DataFrame) = {
      val ms = graft.plans.MinHashShingles
        .minhashShingles(text.normText(col(textCol)), k, shingleN)
      df.select(col(idCol), ms.as("__ms"))
        .filter(col("__ms").isNotNull)
        .select(col(idCol) +: col("__ms.sh").as("sh") +:
          (0 until bands).map { b =>
            val cols = (b * r + 1 to (b + 1) * r)
              .map(j => col("__ms.mins").getItem(j - 1))
            md5(concat_ws(",", cols: _*)).as(s"band$b")
          }: _*)
        .localCheckpoint()
    }
    val inc = per(increment)
    val corp = per(corpus)
    val cands = (0 until bands).map { b =>
      inc.select(col(idCol).as("ia"), col(s"band$b").as("k"))
        .join(corp.select(col(idCol).as("ib"), col(s"band$b").as("rk")),
          col("k") === col("rk"))
        .select(col("ia"), col("ib"))
    }.reduce(_ unionByName _).dropDuplicates("ia", "ib")
    cands
      .join(inc.select(col(idCol).as("ia"), col("sh").as("da")), Seq("ia"))
      .join(corp.select(col(idCol).as("ib"), col("sh").as("db")), Seq("ib"))
      .withColumn("inter", size(array_intersect(col("da"), col("db"))))
      .withColumn("uni", size(col("da")) + size(col("db")) - col("inter"))
      .filter(col("inter") * thetaDen >= col("uni") * thetaNum)
      .select(col("ia").as("inc_id"), col("ib").as("corp_id"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** At-rest MinHash-LSH index — [[graft.operators.Similarity
    * .writeIvfIndex]]'s doctrine applied to text dedup: the corpus's
    * band-bucket rows (one per doc per band, carrying the doc's distinct
    * shingle set for in-index confirmation) written PARTITIONED by
    * (band, bucket-prefix), so an online "is this doc a near-dup of
    * anything we have?" lookup prunes to `bands` directories at
    * PLANNING time instead of scanning the corpus. This is the serving
    * face of [[minhashLshPairs]] (which answers the all-pairs batch
    * question): ingest gates, crawl frontier dedup, and interactive
    * "find my copies" all probe; only index builds pay the O(corpus)
    * pass, once.
    *
    * `bp` (first hex char of the md5 bucket) keeps the directory count
    * at bands·16 — partition dirs must stay bounded (a dir per bucket
    * would be one per DOC); the residual bucket equality is an ordinary
    * pushed row filter inside the pruned directories.
    */
  def writeLshIndex(docs: DataFrame, idCol: String, textCol: String,
                    table: String, k: Int = 8, bands: Int = 2,
                    shingleN: Int = 3): Unit = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val ms = graft.plans.MinHashShingles
      .minhashShingles(text.normText(col(textCol)), k, shingleN)
    val per = docs.select(col(idCol), ms.as("__ms"))
      .filter(col("__ms").isNotNull)
    val longForm = (0 until bands).map { b =>
      val cols = (b * r + 1 to (b + 1) * r)
        .map(j => col("__ms.mins").getItem(j - 1))
      per.select(col(idCol), lit(b).as("band"),
        md5(concat_ws(",", cols: _*)).as("bucket"),
        col("__ms.sh").as("sh"))
    }.reduce(_ unionByName _)
      .withColumn("bp", substring(col("bucket"), 1, 1))
    graft.sources.Warehouse.writePartitioned(longForm, table,
      Seq("band", "bp"))
  }

  /** Probe [[writeLshIndex]]'s table with one query text: returns every
    * indexed doc sharing a band bucket with the query, with its exact
    * shingle Jaccard (confirmed in-index — the stored shingle sets make
    * the lookup self-contained). The query's signature is one bounded
    * kernel evaluation (collected like every 1-row query vector in
    * queries.VectorQ); the scan then touches exactly the query's
    * (band, bp) directories — partition pruning is the storage
    * property, PlanSpec-style pinned in OperatorsSpec.
    */
  def lshIndexLookup(spark: org.apache.spark.sql.SparkSession,
                     table: String, idCol: String, queryText: String,
                     k: Int = 8, bands: Int = 2,
                     shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    import spark.implicits._
    val ms = graft.plans.MinHashShingles
      .minhashShingles(text.normText(col("text")), k, shingleN)
    val qRow = Seq(queryText).toDF("text")
      .select(ms.as("__ms"))
      .select(col("__ms.sh").as("sh") +: (0 until bands).map { b =>
        val cols = (b * r + 1 to (b + 1) * r)
          .map(j => col("__ms.mins").getItem(j - 1))
        md5(concat_ws(",", cols: _*)).as(s"band$b")
      }: _*)
      .collect()(0)
    val qsh = qRow.getSeq[String](0)
    val buckets = (0 until bands).map(b => qRow.getString(1 + b))
    // the partition predicate references ONLY partition columns so the
    // planner can prune directories; the residual bucket equality (a
    // data column) stays a separate conjunct — folding them into one OR
    // would make the whole predicate non-extractable and kill pruning
    val partPred = (0 until bands).map(b =>
      col("band") === b && col("bp") === buckets(b).substring(0, 1))
      .reduce(_ || _)
    val rowPred = (0 until bands).map(b =>
      col("band") === b && col("bucket") === buckets(b))
      .reduce(_ || _)
    graft.sources.Warehouse.read(spark, table)
      .filter(partPred && rowPred)
      .dropDuplicates(Seq(idCol))
      .withColumn("__inter",
        size(array_intersect(col("sh"), typedLit(qsh))))
      .select(col(idCol),
        round(col("__inter").cast("double") /
          (size(col("sh")) + qsh.size - col("__inter")), 4).as("jaccard"))
  }
}
