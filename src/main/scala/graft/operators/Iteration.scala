package graft.operators

import org.apache.spark.sql.DataFrame

/** The one way a loop runs: every loop stages its input through
  * [[stage]] (at rest in a bucketed table, or in memory) and runs its
  * rounds inside [[LoopInput.run]], at the width the staging chose.
  * [[withoutAdaptive]] turns AQE off for the rounds that measured faster
  * without it, [[frontierFixpoint]] drives __new-flagged frontier
  * rounds, [[materializer]] truncates lineage per round and
  * [[warnIfTruncated]] reports a loop cut off with work left. Outside
  * this object [[roundPartitions]] only sizes bucketed tables (GraphQ,
  * ScaleQ) and, with [[withShufflePartitions]], Similarity's training
  * rounds, whose width comes from the model size.
  */
private[graft] object Iteration {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-round materializer for iterative loop state.
    *
    * Default (`checkpointDir = None`): `localCheckpoint` — truncates
    * lineage with executor-local blocks, zero I/O. Correct and fast on a
    * single node, but the blocks are PINNED to the executors that hold
    * them, so on a real cluster one executor loss mid-iteration kills the
    * whole multi-round job.
    *
    * With `checkpointDir = Some(dir)`: reliable `Dataset.checkpoint` —
    * each round's state is written to `dir` (any Hadoop FS: HDFS/S3/…),
    * so executor loss only recomputes the current round's tasks. That is
    * the 100 TB deployment mode; the extra per-round write is the price
    * of fault tolerance. Checkpoint files accumulate per round unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (or the
    * caller deletes `dir` after the result is consumed — it is plain
    * data, not needed once the returned frame has been written out).
    */
  def materializer(spark: org.apache.spark.sql.SparkSession,
                   checkpointDir: Option[String]): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) =>
        // setCheckpointDir appends a fresh UUID subdir per call; one per
        // loop invocation keeps concurrent loops from sharing rdd ids
        spark.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }

  /** Loop-round shuffle sizing (measured round-10 adjudication,
    * BENCH_NOTES): an iterative operator's per-round frames are usually
    * far smaller than what the session's `shuffle.partitions` was sized
    * for, so every round schedules full-width stages over near-empty
    * partitions — the per-job floor that dominates the loop family at
    * local[32]/sf0.1 (r14 5.03 → 3.33 s, r07 4.46 → 3.52 s, r13
    * 4.05 → 3.40 s at 8 round partitions vs 32; 1 partition loses the
    * edge-join parallelism again — r13 8.2 s — so the count must track
    * the loop's LARGEST frame). The count is derived from the
    * MATERIALIZED loop input's rows at ~128k rows/task — per-task
    * overhead is ~10 ms against ~10 ns/row on these narrow loop rows,
    * so meaningfully smaller tasks are floor-dominated (8k rows/task
    * measured as a no-op: every sf0.1 edge frame clamped right back to
    * full width) — and CLAMPED to the session setting, so a
    * cluster-scale edge frame keeps its full parallelism: the knob
    * only ever shrinks empty-partition scheduling, never caps real
    * width below what the session planned for.
    */
  def roundPartitions(spark: org.apache.spark.sql.SparkSession,
                      rows: Long): Int = {
    val cur = spark.sessionState.conf.numShufflePartitions
    // clamp in Long BEFORE narrowing: (rows/131072 + 1).toInt overflows
    // negative past ~2.8e14 rows, which would collapse the min to 1 and
    // break the "never caps real width below the session setting" promise
    math.max(1L, math.min(cur.toLong, rows / 131072L + 1)).toInt
  }

  /** A loop input staged by [[stage]]: the frame the rounds probe, the
    * width they plan at, and whether the frame is read at rest from a
    * bucketed table. `copy` is the input's second at-rest layout, if the
    * loop was given one and reads at rest.
    */
  final class LoopInput private[Iteration] (val frame: DataFrame,
                                            val parts: Int,
                                            val atRest: Boolean,
                                            val copy: Option[DataFrame],
                                            ckpt: DataFrame => DataFrame) {
    private val held = scala.collection.mutable.ListBuffer.empty[DataFrame]
    if (atRest) held += frame

    /** [[frontierFixpoint]]'s tiny-state bound for this layout: classic
      * rounds (0) at rest, where driver-local state measured 10–30%
      * slower (the LocalRelation state side re-plans against the cached
      * bucketed scans: r19/r23/r27/r32), [[TinyStateBound]] in memory.
      */
    def tinyBound: Int = if (atRest) 0 else TinyStateBound

    /** Keep a frame derived from the input (the second layout, a side
      * pre-joined before the loop) for the loop's lifetime, the way the
      * input itself is kept: persisted at rest, since the cache keeps a
      * bucketed scan's partitioning and so the exchanges the layout
      * elides, and released after [[run]]; through `ckpt` in memory.
      */
    def keep(df: DataFrame): DataFrame =
      if (atRest) { val p = df.persist(); held += p; p } else ckpt(df)

    /** Run the rounds under [[parts]] shuffle partitions, then release
      * what was persisted for them. The rounds materialize every state
      * through `ckpt`, so what they return no longer reads the released
      * caches.
      */
    def run[T](body: => T): T =
      try withShufflePartitions(frame.sparkSession, parts)(body)
      finally held.foreach(_.unpersist(blocking = false))
  }

  /** Stage a loop's input by the layout it arrives in — the one place a
    * loop's layout is chosen. `key` is the column the rounds join the
    * input on.
    *
    *  - AT REST, when `input` is a projection or filter of one table
    *    bucketed on `key` ([[graft.sources.Warehouse.bucketedOn]]) and
    *    `copy`, if given, one of a table bucketed on its own key: the
    *    scan is persisted for the loop's lifetime (InMemoryRelation keeps
    *    the bucketed outputPartitioning, RoutingSpec pins it, so the
    *    O(input) side of every round's join never exchanges; without the
    *    cache every round re-decodes the parquet — r19 sf1 10.4 → 6.8 s).
    *    MEMORY_AND_DISK spills what does not fit, the residency class of
    *    the in-memory checkpoint. Rounds plan AT the bucket width: a
    *    smaller count would re-exchange the other join side against the
    *    fixed bucket partitioning every round (the r08 lesson), and a
    *    coalesce would strip the layout.
    *  - IN MEMORY, for any other frame (a merely repartitioned one
    *    included): `ckpt`, first hash-partitioned on `key` when
    *    `repartition`, rounds at [[roundPartitions]] of its row count and
    *    the frame narrowed to that width by a zero-copy coalesce.
    *    `sized = false` skips the count job and keeps the session width
    *    (the edge loops' one-partition-graph signal,
    *    `prePartitionEdges = false`). The staged frame serves every join
    *    key, so `copy` goes unused.
    *
    * Choosing reads the analyzed plans only and launches no job.
    */
  def stage(input: DataFrame, key: String, ckpt: DataFrame => DataFrame,
            repartition: Boolean = false, sized: Boolean = true,
            copy: Option[(DataFrame, String)] = None): LoopInput = {
    val spark = input.sparkSession
    val atRest = graft.sources.Warehouse.bucketedOn(input, key) &&
      copy.forall { case (c, k) => graft.sources.Warehouse.bucketedOn(c, k) }
    if (atRest) {
      val e = input.persist()
      new LoopInput(e, e.rdd.getNumPartitions, true, copy.map(_._1), ckpt)
    } else {
      val e0 = ckpt(if (repartition) input.repartition(col(key)) else input)
      val parts =
        if (sized) roundPartitions(spark, e0.count())
        else spark.sessionState.conf.numShufflePartitions
      val e = if (parts < e0.rdd.getNumPartitions) e0.coalesce(parts) else e0
      new LoopInput(e, parts, false, None, ckpt)
    }
  }

  /** Run `body` (a loop's rounds) under `n` shuffle partitions, then
    * restore the session setting.
    *
    * CONTRACT: the setting is session-global, so the loop must be the
    * only query planning on this SparkSession while inside the block
    * (true for the driver-sequential query surface here; a multi-tenant
    * session would need spark.newSession() per loop). And the knob only
    * affects work that PLANS inside the block: every call site
    * materializes each round (the ckpt per round), so the rounds are
    * covered — but a lazy frame merely RETURNED from the body plans its
    * shuffles after the conf is restored and silently ignores the
    * narrowed width; force (checkpoint) such frames inside the block
    * where the width is intended to apply. The loop's E-scale INPUT
    * materialization must happen before entering (at full width); only
    * the rounds plan under `n`.
    */
  def withShufflePartitions[T](spark: org.apache.spark.sql.SparkSession,
                               n: Int)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` (a loop's rounds) with adaptive query execution
    * disabled, then restore the session setting — the round-16
    * optimization-round lever (guide §1.2 step 3 applied to the loop
    * family; measured in BENCH_NOTES.md §Round 16, re-adjudicated with
    * paired alternating A/B runs in OPTIMIZATION_r17.md §1).
    *
    * Session-conf scoping caveat (ADVICE r16): the flip of
    * spark.sql.adaptive.enabled is session-global and non-atomic —
    * this engine's contract is ONE query planning per SparkSession at
    * a time (the driver surface is sequential; Bench/Verify run
    * queries serially). A multi-tenant deployment must give each
    * concurrent query its own spark.newSession() or the temporary
    * value can leak across queries.
    *
    * WHY: a fixpoint round's frames are bounded (frontier/label-set
    * sized) and its shuffle width is already derived from the
    * materialized loop INPUT ([[roundPartitions]] — data-derived at any
    * scale, not a local[32] constant), so AQE has nothing left to
    * decide; what it still costs is real: under AQE one checkpoint
    * action decomposes into one JOB PER SHUFFLE STAGE with a driver
    * re-optimization gap between each (measured on r32: 9 jobs/round,
    * 25–130 ms of planning gap per job — ~0.3 s/round of pure driver
    * latency on a 6-round loop, and the stage-at-a-time schedule also
    * serializes stages the static planner overlaps). Paired subset
    * (BENCH_SUBSET protocol, quiet canaries, this file's change only):
    * r17 4.66→4.51, r23 4.64→4.17, r27 5.87→5.10, r31 3.99→3.31,
    * r32 6.76→5.90 — and the forest/backtrack phases OUTSIDE
    * frontierFixpoint keep AQE (their one-shot broadcast-join plans
    * measured BETTER with it: r33/r35/r38 regressed under a global
    * AQE-off), which is why the scope is exactly the rounds that measured
    * faster without it. AQE is off inside `body` whatever the session
    * says, and the caller's setting is back afterwards, also when `body`
    * throws.
    */
  def withoutAdaptive[T](spark: org.apache.spark.sql.SparkSession)
                        (body: => T): T =
    withConf(spark, "spark.sql.adaptive.enabled", "false")(body)

  private def withConf[T](spark: org.apache.spark.sql.SparkSession,
                          key: String, value: String)(body: => T): T = {
    val old = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, old)
  }

  /** maxIter truncation with work left is otherwise indistinguishable
    * from convergence, so it logs a warning. Callers that bound hops BY
    * DESIGN (e.g. a query mirrored by a hop-bounded oracle) pass
    * `enabled = false` so the one log line that matters isn't trained
    * away. The frontier is localCheckpoint'd at every call site, so the
    * emptiness probe is cheap.
    */
  def warnIfTruncated(what: String, frontier: DataFrame, rounds: Int,
                      maxIter: Int, enabled: Boolean = true): Unit =
    if (enabled && rounds >= maxIter && !frontier.isEmpty)
      log.warn(s"$what stopped at maxIter=$maxIter with a non-empty " +
        "frontier; results are partial — raise maxIter (or pass " +
        "warnOnTruncation=false if the hop bound is intentional)")

  /** Tiny-state threshold for [[frontierFixpoint]]: 4096 narrow label
    * rows ≈ a few hundred KB on the driver — far under any sane driver
    * heap, far over every toy fixture and the 500-stop fact networks.
    */
  val TinyStateBound: Int = 4096

  /** The shared frontier-fixpoint driver for __new-flagged loop states:
    * run `round(state, frontier)` until the frontier (the __new filter
    * over the state) empties or `maxRounds` is hit (warned per
    * [[warnIfTruncated]]); returns the state without __new.
    *
    * TINY-STATE FAST PATH (measured adjudication in BENCH_NOTES r14):
    * while the materialized state holds ≤ `tinyBound` rows, it lives on
    * the DRIVER between rounds as a LocalRelation instead of a
    * checkpoint: each round is then ONE bounded `take(tinyBound+1)` of
    * the round output instead of a checkpoint job PLUS an isEmpty probe
    * job, and the emptiness/continuation test is free driver memory.
    * The round body is UNCHANGED. The moment a round's output exceeds
    * the bound, that round's output is recomputed once through `ckpt`
    * and the loop continues in the classic distributed shape
    * permanently — so state size is bounded by construction and a
    * 100 TB frontier never lands on the driver. Semantics are identical
    * in both modes and across the switch (RoutingSpec pins equality
    * with the bound forced to 0 / crossing / infinity); row ORDER may
    * differ, which no caller observes (every consumer is a
    * set-semantics aggregation/join — the same invariance the
    * partition-invariance specs pin).
    *
    * WHERE IT PAYS (paired same-host r14 adjudication): simple
    * in-memory rounds — bfs/sssp/raptor/profile (r16 1.01→0.82,
    * r01/r22/r25 small wins, r17 flat). WHERE IT DOESN'T: label-set
    * (pareto) rounds and loops over a bucketed input read at rest
    * ([[LoopInput.tinyBound]]) regressed 10–30% with it (r31 3.27→3.94, r23 4.73→6.13, r27 6.21→7.72 adjacent
    * pairs) — the LocalRelation state side re-plans against the
    * persisted/bucketed scans and the multi-partition take() runs the
    * incremental partial-scan protocol (several jobs/round; a
    * coalesce(1) pull measured even worse: it serializes the merge
    * stage). Those call sites pass tinyBound = 0 and keep the classic
    * shape — set the bound per loop family by measurement, not
    * principle.
    *
    * `perRound` (optional) observes (round index, that round's frontier
    * frame) after each materialization — the arrivalProfile hook.
    */
  def frontierFixpoint(init: DataFrame,
                       round: (DataFrame, DataFrame) => DataFrame,
                       maxRounds: Int, warnOnTruncation: Boolean,
                       name: String, ckpt: DataFrame => DataFrame,
                       tinyBound: Int = TinyStateBound,
                       perRound: (Int, DataFrame) => Unit = null)
      : DataFrame = {
    val spark = init.sparkSession
    import scala.jdk.CollectionConverters._
    def local(rows: Array[org.apache.spark.sql.Row],
              schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    var state: DataFrame = null
    var frontier: DataFrame = null
    var tiny = tinyBound > 0
    var newCount = -1L // unknown; driver-known in tiny mode
    // §1.5 job labels: every job a round schedules (checkpoint, AQE
    // sub-jobs, the emptiness probe) carries "<loop> round k" in the UI
    // and in Profile's per-job table — free, and it made the round-16
    // job-level profiling legible. Thread-local, restored after.
    val sc = spark.sparkContext
    // restore the CALLER's description, not null (ADVICE r16): a bench
    // harness labeling its own jobs around the loop keeps its label
    def described[T](label: String)(body: => T): T = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(label)
      try body finally sc.setJobDescription(prev)
    }
    // materialize a frame into the current mode; stays tiny only while
    // the FULL row set fits the bound (take(n+1) proves it: fewer than
    // n+1 rows back means it returned everything)
    def materialize(df: DataFrame, label: String): Unit = described(label) {
      if (tiny) {
        val rows = df.take(tinyBound + 1)
        if (rows.length <= tinyBound) {
          val schema = df.schema
          val newIdx = schema.fieldIndex("__new")
          state = local(rows, schema)
          newCount = rows.count(r => !r.isNullAt(newIdx) &&
            r.getBoolean(newIdx))
        } else {
          // crossover: the truncated take is useless — recompute this
          // round's output once, distributed, and stay there.
          // NOTE (ADVICE r16): the take() above already forced this
          // Dataset's executedPlan under AQE, so the withoutAdaptive
          // wrapper is a no-op for THIS one round (the recompute reuses
          // the cached AQE plan); correctness is unaffected and every
          // subsequent round builds a fresh plan under AQE-off. A
          // one-round plan rebuild was judged not worth the code: the
          // crossover fires at most once per loop.
          tiny = false
          state = withoutAdaptive(spark)(ckpt(df))
          newCount = -1
        }
      } else {
        // classic rounds plan WITHOUT AQE (see withoutAdaptive: the
        // per-stage re-optimization gaps dominate bounded round frames;
        // tiny-mode take() above keeps AQE — it measured FASTER with it)
        state = withoutAdaptive(spark)(ckpt(df))
        newCount = -1
      }
      frontier = state.filter(col("__new"))
    }
    materialize(init, s"$name init")
    var i = 0
    var done = false
    def frontierEmpty(): Boolean =
      if (newCount >= 0) newCount == 0
      else described(s"$name probe after round $i")(frontier.isEmpty)
    while (i < maxRounds && !done) {
      if (frontierEmpty()) done = true
      else {
        materialize(round(state, frontier), s"$name round ${i + 1}")
        i += 1
        if (perRound != null) perRound(i, frontier)
      }
    }
    warnIfTruncated(name, frontier, i, maxRounds, warnOnTruncation)
    state.drop("__new")
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
