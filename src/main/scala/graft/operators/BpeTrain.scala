package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.text

/** BPE merge induction — tokenizer vocabulary TRAINING over the corpus
  * (Sennrich et al. 2016, the subword algorithm every LLM tokenizer
  * family descends from). Complements the inference-side tokenizers in
  * [[graft.functions.text]]: those apply a fixed rule; this LEARNS the
  * merge table from data.
  *
  * Algorithm (classic, word-level): collapse the corpus to its distinct
  * normalized words with frequencies; symbolize each word as its
  * character sequence; then `k` times pick the adjacent symbol pair
  * with the highest frequency-weighted count (ties: lexicographically
  * smallest pair — deterministic on any engine) and fuse its
  * occurrences left-to-right non-overlapping in every word.
  *
  * Pair counting weights EVERY adjacent position by the word's corpus
  * frequency (Sennrich's get_stats — overlapping runs count each
  * position). The merge pass is the EXACT left-to-right non-overlapping
  * fold over the symbol array ([[graft.plans.BpeApply]] — a native
  * codegen kernel; see its doc for why the earlier two-pass `replace`
  * form misfuses self-pair runs ≥ 5), mirrored in the DuckDB oracle by
  * the same fold as a list comprehension (SqlMacros.bpeFuseSql).
  *
  * Scale shape: the ONLY corpus-sized pass is the word-frequency
  * aggregation (map-side combined; at 100 TB the distinct-word table is
  * millions of rows, not trillions — the same collapse every production
  * BPE trainer performs). Each of the `k` rounds is then one
  * pair-count aggregation over that bounded vocab table plus a 1-row
  * argmax to the driver (the merge being learned IS the model
  * artifact, so a driver-sized result per round is the point, not a
  * bottleneck); the symbol table is localCheckpoint'd per round so
  * round `i` never re-executes rounds 1..i-1.
  *
  * Output: (merge_rank 1-based, lhs, rhs, cnt) — one row per learned
  * merge, fewer than `k` rows iff the vocabulary runs out of pairs.
  */
object BpeTrain {

  private val outSchema = StructType(Seq(
    StructField("merge_rank", IntegerType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** Learn the top-`k` BPE merges from `docs(textCol)`. */
  def learnMerges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = docs.sparkSession
    val wordFreq = docs
      .select(explode(split(text.normText(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // symbolize: chars joined by single spaces ("abc" -> "a b c")
    var syms = wordFreq
      .select(concat_ws(" ", split(col("word"), "")).as("sym"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var exhausted = false
    for (rank <- 1 to k if !exhausted) {
      val best = syms
        .select(split(col("sym"), " ").as("a"), col("freq"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(a) - 2), " +
            "j -> struct(a[j] AS l, a[j + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Row(rank, l, r, cnt)
        syms = syms
          .select(graft.plans.BpeApply.bpeApply(col("sym"), Seq((l, r)))
            .as("sym"), col("freq"))
          .localCheckpoint()
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1), outSchema)
  }

  /** Order-insensitive corpus fingerprint for [[learnMergesCached]]:
    * one map-side-combined aggregate over the text column (sum of
    * per-row xxhash64 in decimal), plus the
    * row count and `k`. One cheap corpus scan, vs the full train's
    * word-frequency pass + k merge rounds.
    */
  def corpusFingerprint(docs: DataFrame, textCol: String, k: Int): String = {
    val r = docs
      .select(xxhash64(col(textCol), col(textCol).isNull).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      .collect()(0)
    s"${r.get(0)}_${r.getLong(1)}_k$k"
  }

  /** [[learnMerges]] behind a PERSISTED merge table (the v11 at-rest
    * doctrine applied to a model artifact): the learned table is written
    * once to the warehouse stamped with a corpus fingerprint, and every
    * later call over the same corpus content reads the k rows back
    * instead of re-training — so t21 (encode) and p05 (token budget)
    * share ONE training run instead of each re-learning the merges per
    * query invocation. Staleness is guarded by content, not time: any
    * change to the text column (or `k`) changes the fingerprint and
    * forces a re-train + rewrite (the I2 content-hash gate, pointed at
    * a derived artifact instead of a sink). The fingerprint scan is the
    * only corpus-sized work on the hit path.
    */
  def learnMergesCached(docs: DataFrame, textCol: String, k: Int,
                        table: String = "graft_bpe_merges"): DataFrame = {
    val spark = docs.sparkSession
    val fp = corpusFingerprint(docs, textCol, k)
    val hit =
      if (spark.catalog.tableExists(table)) {
        val t = spark.table(table)
        // validate EVERY row's fp, not one arbitrary row: a failed /
        // partial overwrite can leave mixed-fingerprint rows that would
        // pass a limit(1) probe and replay a torn merge table. The k-row
        // aggregate is cache-sized, not corpus-sized.
        t.columns.contains("fp") && {
          val r = t.agg(count_distinct(col("fp")).as("d"),
            min(col("fp")).as("f")).collect()(0)
          r.getLong(0) == 1L && r.getString(1) == fp
        }
      } else false
    if (hit)
      spark.table(table).select("merge_rank", "lhs", "rhs", "cnt")
    else {
      val m = learnMerges(docs, textCol, k)
      graft.sources.Warehouse.writeTable(m.withColumn("fp", lit(fp)), table)
      spark.table(table).select("merge_rank", "lhs", "rhs", "cnt")
    }
  }

  /** Collect a [[learnMerges]] result to the driver-held merge table the
    * encode side applies — (lhs, rhs) in rank order. The merge table IS
    * the trained tokenizer (k rows, a model artifact like an IVF
    * codebook), so a driver collect here is the point, not a bottleneck.
    */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.select(col("merge_rank"), col("lhs"), col("rhs"))
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** Replay a learned merge table over a space-joined symbol string, in
    * rank order — each merge the SAME exact left-to-right fold the
    * training fuse runs ([[graft.plans.BpeApply]], one codegen kernel
    * call applying all k merges in a single pass), so encode and train
    * cannot disagree on fuse semantics. No UDF, no join, no shuffle —
    * tokenization distributes with the row.
    */
  def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    graft.plans.BpeApply.bpeApply(sym, merges)

  /** Word-separator symbol for whole-document encode: normText output is
    * [a-z0-9 ]-only, and merges are learned word-level, so '|' can never
    * be (part of) a learned symbol — fuses cannot cross it.
    */
  private val WordSep = "|"

  /** BPE-ENCODE a raw text column with a learned merge table: normalize
    * ([[text.normText]] — the training-side normalization, so encode sees
    * the distribution the merges were learned on), symbolize the WHOLE
    * document to characters with word boundaries as the unmergeable
    * [[WordSep]] symbol, replay the merges in rank order (one
    * [[graft.plans.BpeApply]] kernel call — no per-word higher-order
    * lambda, which would fall out of codegen), and return the flat token
    * array in word-major, left-to-right order (separators dropped). The
    * train-but-not-apply gap closer: token accounting that previously
    * ran on the [[text.bpeTokenCount]] regex approximation can run on
    * the REAL learned vocabulary.
    *
    * Scale shape: per-row kernel only (the merge table rides into
    * codegen as an `addReferenceObj` constant) — encoding 100 TB is
    * embarrassingly parallel with zero exchanges; any downstream
    * count/groupBy pays the usual map-side-combined aggregate, nothing
    * more. For corpora with heavy word repetition an encode-distinct-
    * words-then-rejoin variant would trade this scan for a vocab-sized
    * shuffle; per-row wins while the per-row cost is k bounded folds.
    */
  def encode(textCol: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall(m =>
      !m._1.contains(WordSep) && !m._2.contains(WordSep)),
      s"merge symbols must not contain the '$WordSep' word separator")
    val sym = concat_ws(" ",
      split(replace(text.normText(textCol), lit(" "), lit(WordSep)), ""))
    val toks = split(applyMerges(sym, merges), " ")
    filter(toks, t => t =!= WordSep && t =!= "")
  }

  /** Token count under [[encode]] — the real-token-budget accounting
    * column (p05's input). Empty/whitespace-only text counts 0.
    */
  def encodeTokenCount(textCol: Column, merges: Seq[(String, String)]): Column =
    size(encode(textCol, merges)).cast("bigint")

  /** [[encode]] RETAINING the word-separator tokens — the lossless
    * tokenization [[decode]] inverts ([[encode]], the budget/model
    * view, is exactly this minus the separators). Same kernel, same
    * merges, one fewer filter.
    */
  def encodeKeepSeps(textCol: Column,
                     merges: Seq[(String, String)]): Column = {
    require(merges.forall(m =>
      !m._1.contains(WordSep) && !m._2.contains(WordSep)),
      s"merge symbols must not contain the '$WordSep' word separator")
    val sym = concat_ws(" ",
      split(replace(text.normText(textCol), lit(" "), lit(WordSep)), ""))
    filter(split(applyMerges(sym, merges), " "), t => t =!= "")
  }

  /** Detokenize: the inverse of [[encodeKeepSeps]] — concatenate the
    * symbols and restore the spaces the separators stand for. Pure
    * per-row string work; `decode(encodeKeepSeps(x)) == normText(x)`
    * for every merge table (BpeTrainSpec round-trip property).
    */
  def decode(tokens: Column): Column =
    replace(array_join(tokens, ""), lit(WordSep), lit(" "))
}
