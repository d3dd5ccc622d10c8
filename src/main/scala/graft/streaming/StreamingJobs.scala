package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.11): the reference's
  * "incremental batch" semantics (re-run on changed inputs, I1) plus the
  * streaming extensions a training-data pipeline needs — watermarked
  * tumbling-window rollups and stateful gap sessionization.
  *
  * Every transform here is expressed on a streaming DataFrame and works
  * identically on a batch frame (same plans minus the state store), which
  * is how the specs validate results deterministically.
  */
object StreamingJobs {

  /** I1: file-source incremental run — process whatever parquet has
    * appeared under `inputDir`, then stop (Trigger.AvailableNow), mirroring
    * the reference's "re-run on changed paths" Actions trigger.
    */
  def availableNowRollup(spark: SparkSession, inputDir: String, schema: String,
                         checkpoint: String, outDir: String): Unit =
    hourlyRollup(
      spark.readStream.schema(schema).parquet(inputDir))
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpoint)
      .option("path", outDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Watermarked tumbling-window rollup: counts + value sums per
    * (hour window, event_type); late data beyond 2 h is dropped.
    * Works on streaming and batch frames alike.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("bigint")).cast("double") / 100)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Ev(user_id: Long, ts_ms: Long)
  final case class SessionAgg(user_id: Long, session_start_ms: Long,
                              session_end_ms: Long, n_events: Long)
  final case class SessState(startMs: Long, lastMs: Long, cnt: Long)

  /** Stateful gap sessionization over a stream
    * (flatMapGroupsWithState + processing-time timeout): emits a session
    * row whenever a gap > `gapMs` closes it; the open session stays in
    * state. The batch Sessionize operator is the replay-equivalent.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[Ev], gapMs: Long):
      org.apache.spark.sql.Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = it.toSeq.sortBy(_.ts_ms)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_ms - s.lastMs <= gapMs =>
                cur = Some(s.copy(lastMs = e.ts_ms, cnt = s.cnt + 1))
              case Some(s) =>
                closed += SessionAgg(user, s.startMs, s.lastMs, s.cnt)
                cur = Some(SessState(e.ts_ms, e.ts_ms, 1))
              case None =>
                cur = Some(SessState(e.ts_ms, e.ts_ms, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  final case class FEv(user_id: Long, event_type: String, ts_us: Long)
  final case class FunnelProgress(user_id: Long, reached: Int, at_us: Long)
  final case class FunState(r: Int, t: Long)

  /** Streaming face of [[graft.operators.Funnel.funnelStages]]: per-user
    * funnel state (reached stage + its time) lives in the state store;
    * a row is EMITTED every time a user's stage advances (progressive
    * funnel output — the live-dashboard shape). Within a micro-batch
    * events sort by time, so for per-user in-order arrival the stream's
    * final state replays the batch fold exactly (spec-pinned).
    *
    * Out-of-order caveat, stated plainly: an event arriving in a LATER
    * micro-batch with an EARLIER timestamp than the current stage time
    * cannot retroactively advance the funnel (the batch fold, seeing
    * global ts order, might have) — stream `reached` is a lower bound
    * of batch `reached`, never ahead of it. That is the standard
    * streaming-funnel trade; exact reconciliation is a batch replay
    * (I1), the same pairing every stateful face here documents.
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[FEv],
                   stages: Seq[String], windowUs: Long):
      org.apache.spark.sql.Dataset[FunnelProgress] = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      "stages must be non-empty and distinct")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FEv], state: GroupState[FunState]) =>
          var s = state.getOption.getOrElse(FunState(0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelProgress]
          it.toSeq.filter(e => stages.contains(e.event_type))
            .sortBy(e => (e.ts_us, e.event_type))
            .foreach { e =>
              if (s.r < stages.length && e.event_type == stages(s.r) &&
                  e.ts_us > s.t &&
                  (s.r == 0 || e.ts_us <= s.t + windowUs)) {
                s = FunState(s.r + 1, e.ts_us)
                out += FunnelProgress(user, s.r, e.ts_us)
              }
            }
          state.update(s)
          out.iterator
      }
  }

  final case class CepEv(key: Long, ts_us: Long, tie: Long, sym: String)
  final case class CepMatch(key: Long, pattern: String, n_new: Long)
  final case class CepState(tail: String, counts: Seq[Long])

  /** Streaming face of [[graft.operators.Cep.patternCounts]] — the
    * Flink-CEP class e18 computes in batch: each key's state carries a
    * BOUNDED symbol tail (last `maxTail` symbols) plus, per pattern, the
    * match count already credited against that tail; every micro-batch
    * appends the batch's symbols (sorted by (ts_us, tie) within the
    * batch), re-counts non-overlapping matches over the tail, and EMITS
    * the per-pattern delta — so a pattern completing ACROSS batches
    * (half its symbols in last batch's tail) fires exactly once, on the
    * batch that completes it.
    *
    * Parity contract (the funnelStream doctrine, stated plainly): for
    * per-key in-order arrival with tails under `maxTail`, the summed
    * `n_new` per (key, pattern) EQUALS the batch count — leftmost
    * non-overlapping counting is append-monotone (a prefix's matches
    * survive any suffix: match starts scan left-to-right, and only a
    * final match abutting the string end can extend, where no later
    * start existed to swallow), so per-batch deltas telescope to the
    * full-string count. Out-of-order arrival across batches makes the
    * stream a LOWER BOUND of the batch count (a symbol stitched into
    * the past cannot retroactively complete a pattern); exact
    * reconciliation is a batch replay (I1).
    *
    * Truncation contract: when a key's tail overflows `maxTail`, the
    * cut lands AFTER the last credited match of every pattern, so no
    * character that contributed to a credited match survives into the
    * kept tail — NOTHING is ever credited twice (without the
    * last-match-end floor, a credited match straddling the cut could
    * re-complete from its kept suffix and fire again). Matches spanning
    * the cut are lost (under-count), and for patterns whose greedy
    * matches can MERGE across a cut (an unbounded trailing quantifier:
    * two credited `e{2,}` bursts separated by a cut are one burst in
    * the full string), the segmented count can exceed the single-string
    * leftmost-greedy count — every credit is still a real disjoint
    * occurrence. Size `maxTail` above expected per-key activity to
    * avoid cuts entirely. State per key is O(maxTail + patterns) —
    * bounded by construction, the hot-bucket doctrine applied to
    * stream state. In BYTES: symbols are single chars, so the stored
    * tail is ≤ 2·maxTail bytes as a JVM string (the default 4096 →
    * ~8 KiB/key) plus 8 bytes per pattern count; size a larger cap
    * against state-store memory ÷ expected live keys.
    *
    * The per-pattern counts are stored POSITIONALLY against `patterns`:
    * changing the pattern list (order, add, remove) across a restart
    * misaligns saved state — restart pattern changes from a fresh
    * checkpoint location, the standard stateful-schema-evolution rule.
    */
  def cepStream(events: org.apache.spark.sql.Dataset[CepEv],
                patterns: Seq[String], maxTail: Int = 4096):
      org.apache.spark.sql.Dataset[CepMatch] = {
    require(patterns.nonEmpty && patterns.distinct.size == patterns.size,
      "patterns must be non-empty and distinct")
    require(maxTail >= 1, "maxTail must be positive")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[CepState, CepMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[CepEv], state: GroupState[CepState]) =>
          // compiled per group-invocation: Pattern is not shareable
          // across the closure serialization boundary cheaply, and the
          // pattern list is a bounded constant
          val pats = patterns.map(java.util.regex.Pattern.compile)
          // (count, end index of the LAST match) per pattern — the end
          // feeds the truncation floor below
          def countIn(str: String): Seq[(Long, Int)] = pats.map { p =>
            val m = p.matcher(str); var n = 0L; var end = 0
            while (m.find()) { n += 1; end = m.end() }
            (n, end)
          }
          val s0 = state.getOption.getOrElse(
            CepState("", Seq.fill(patterns.size)(0L)))
          val newSyms = it.toSeq.sortBy(e => (e.ts_us, e.tie))
            .map(_.sym).mkString
          val full = s0.tail + newSyms
          val scanned = countIn(full)
          val totals = scanned.map(_._1)
          val out = patterns.indices.flatMap { i =>
            val d = totals(i) - s0.counts(i)
            // d < 0 cannot happen absent truncation (append-monotone);
            // after one, the stored baseline already matches the tail
            if (d > 0) Some(CepMatch(key, patterns(i), d)) else None
          }
          // bound the carried tail. The cut NEVER lands inside or
          // before a credited match: its floor is the furthest
          // last-match end across patterns, so no credited character
          // survives into the kept tail — a straddling match cannot
          // re-complete and fire twice (the truncation contract above)
          val (kept, baseline) =
            if (full.length <= maxTail) (full, totals)
            else {
              val cut = math.max(full.length - maxTail,
                scanned.map(_._2).max)
              val k = full.substring(cut)
              (k, countIn(k).map(_._1))
            }
          state.update(CepState(kept, baseline))
          out.iterator
      }
  }

  final case class Doc(doc_id: Long, fingerprint: String)

  /** Streaming exact dedup: emit each fingerprint's FIRST document across
    * micro-batches, suppress every later duplicate (the streaming face of
    * Dedup.exactGroups). State per fingerprint is the keeper id; at scale
    * state lives in the state store keyed by fingerprint — the same
    * content-derived partitioning as the batch groupBy.
    */
  def dedupStream(docs: org.apache.spark.sql.Dataset[Doc]):
      org.apache.spark.sql.Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Long, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, it: Iterator[Doc], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            // first batch containing this fingerprint: keep smallest id
            // (deterministic within the batch, first-arrival across them)
            val keeper = it.minBy(_.doc_id)
            state.update(keeper.doc_id)
            Iterator.single(keeper)
          }
      }
  }

  /** BOUNDED-STATE streaming dedup — the production complement to
    * [[dedupStream]]: that face keeps every fingerprint's state forever
    * (exact across the whole stream, O(distinct keys) state — fine for
    * a corpus, fatal for an unbounded firehose). This face bounds state
    * by event time: duplicates are suppressed only while they can still
    * arrive inside the watermark `delay`, after which the key's state is
    * EVICTED by the engine — O(keys-per-delay-window) state at any
    * stream length. The trade is explicit: a duplicate arriving later
    * than `delay` after the kept row re-emits (it is indistinguishable
    * from a new key once state is gone). This is Spark's
    * dropDuplicatesWithinWatermark contract, surfaced as the engine's
    * at-least-once-ingest dedup face (dedup of retried/replayed events
    * where replays are boundedly late by construction).
    */
  def dedupWithinWatermarkStream(events: DataFrame, keyCols: Seq[String],
                                 tsCol: String, delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class TEv(user_id: Long, ts_us: Long, event_id: Long,
                       event_type: String)
  final case class Transition(user_id: Long, from_state: String,
                              to_state: String, at_us: Long)
  final case class TransState(ts: Long, eid: Long, st: String)

  /** Streaming face of [[graft.operators.Markov.transitionMatrix]]'s
    * extraction step: emit a (from, to) transition row for every event
    * after a user's first, with per-user keyed state carrying only the
    * LAST event seen — O(users) state, not O(events). Downstream, a
    * plain streaming groupBy over (from_state, to_state) maintains the
    * live transition counts the batch operator computes at rest.
    *
    * Ordering semantics, stated plainly: WITHIN a micro-batch events
    * sort by (ts, event_id) — the batch operator's exact order — and
    * ACROSS batches transitions follow arrival order (an event arriving
    * in a later batch chains onto the stored last event even if its
    * event time precedes it). That is the standard streaming trade: the
    * state store holds one tuple per user, so there is no buffer to
    * re-order late arrivals into; when strict event-time order matters,
    * use [[transitionStreamEventTime]] (the watermarked buffering
    * variant) or replay through the batch operator (same code path the
    * I1 AvailableNow restart uses). No timeout is set — a user's last
    * event is a legitimate chain head forever; bound state with a
    * ProcessingTimeTimeout if the key universe is unbounded.
    */
  def transitionStream(events: org.apache.spark.sql.Dataset[TEv]):
      org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TEv], state: GroupState[TransState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(l =>
              out += Transition(uid, l.st, e.event_type, e.ts_us))
            last = Some(TransState(e.ts_us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class TEvT(user_id: Long, ts: java.sql.Timestamp,
                        event_id: Long, event_type: String)
  final case class TransEtState(last: Option[TransState],
                                buf: Seq[TransState])

  /** EVENT-TIME STRICT face of [[transitionStream]]: transitions chain
    * in (event time, event id) order across micro-batches, not arrival
    * order — the watermark variant the arrival-order doc points to.
    * Per-user state buffers events still inside the watermark horizon;
    * once the watermark passes an event, no earlier event can be
    * admitted, so the buffered prefix is emitted in event-time order,
    * chaining off the last emitted event. Events arriving AFTER the
    * watermark passed their timestamp are dropped (the funnelStream
    * contract: the stream is a lower bound of a batch replay — equality
    * on in-watermark data is spec-pinned, and the batch operator
    * remains the replay path for exact recovery of dropped rows). An
    * EventTimeTimeout at the earliest buffered event flushes users that
    * receive no further input.
    *
    * State per user is O(events inside the watermark horizon), not
    * O(1) like the arrival-order face — the price of re-ordering; the
    * delay knob bounds it.
    */
  def transitionStreamEventTime(events: org.apache.spark.sql.Dataset[TEvT],
                                delay: String = "10 seconds"):
      org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransEtState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[TEvT], state: GroupState[TransEtState]) =>
          val wmMs = state.getCurrentWatermarkMs
          val wmUs = wmMs * 1000L
          val prev = state.getOption.getOrElse(TransEtState(None, Nil))
          // beyond-watermark arrivals: dropped, never chained (strict)
          val incoming = it
            .map(e => TransState(e.ts.getTime * 1000L, e.event_id,
              e.event_type))
            .filter(_.ts >= wmUs).toSeq
          val all = (prev.buf ++ incoming).sortBy(e => (e.ts, e.eid))
          // watermark promise: nothing earlier than wm can arrive, so
          // the < wm prefix is final and safe to chain
          val (ripe, hold) = all.partition(_.ts < wmUs)
          val out = Seq.newBuilder[Transition]
          var last = prev.last
          ripe.foreach { e =>
            last.foreach(l => out += Transition(uid, l.st, e.st, e.ts))
            last = Some(e)
          }
          state.update(TransEtState(last, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(hold.map(_.ts).min / 1000L, wmMs + 1))
          out.result().iterator
      }
  }

  /** Streaming ingest prefilter: drop stream rows whose key is (very
    * probably) already in the static corpus — the Bloom face of
    * [[graft.operators.Dedup.dedupAgainstCorpus]] for CONTINUOUS
    * ingestion, where the batch confirm join is unavailable (a streaming
    * candidate set can't broadcast). The sketch is built ONCE from the
    * static corpus at stream start and probed per row (native codegen
    * expression, no state store, no shuffle).
    *
    * Exactness trade-off, stated plainly: no false negatives (every true
    * duplicate is dropped), but ~fpp of genuinely-new rows are falsely
    * dropped too. Size `fpp` to the acceptable loss, or run the batch
    * confirm over the kept rows downstream when exactness matters.
    *
    * Late data: this operator is STATELESS BY DESIGN — the probe is a
    * pure per-row predicate against a sketch frozen at stream start, so
    * there is no event-time state to expire and no watermark to declare.
    * A late-arriving row is deduped IDENTICALLY to an on-time one: same
    * sketch, same probe, same verdict regardless of arrival order,
    * micro-batch boundaries, or replays (the filter is idempotent). The
    * usual watermark question — "when may buffered state be dropped?" —
    * has no referent here because nothing is buffered; watermark
    * semantics belong to the stateful face ([[dedupStream]], whose
    * keeper state is the thing a timeout policy would bound). What the
    * static sketch does NOT see is corpus growth after stream start:
    * rows ingested since the sketch was built are "new" to it by
    * construction (again independent of lateness). Rebuild the sketch on
    * corpus publish — the I1 AvailableNow restart pattern — when that
    * window matters.
    */
  def bloomPrefilterStream(stream: DataFrame,
                           keyCol: org.apache.spark.sql.Column,
                           corpus: DataFrame,
                           corpusKeyCol: org.apache.spark.sql.Column,
                           expectedKeys: Long,
                           fpp: Double = 0.01): DataFrame = {
    require(expectedKeys > 0 && fpp > 0 && fpp < 1)
    val bloom = corpus.select(xxhash64(corpusKeyCol).as("__h"))
      .stat.bloomFilter("__h", expectedKeys, fpp)
    stream.filter(!graft.plans.BloomMightContain
      .mightContainLong(xxhash64(keyCol), bloom))
  }

  /** Streaming volume-anomaly alerts: watermarked hourly counts per
    * series key from the live stream, joined against a STATIC baseline
    * of per-series stats (graft.operators.Anomaly.seriesStats over
    * history), flagging windows that breach the same exact-integer
    * ±sigma·σ inequality as the batch sweep — so a replay of the
    * stream through the batch operator flags the identical buckets.
    *
    * Shape: stream-static equi-join. The baseline is keys-scale and
    * broadcast; Spark re-resolves the static side per micro-batch, so
    * a nightly-refreshed baseline table is picked up without a stream
    * restart. The stream side's only state is the windowed count
    * aggregate (bounded by the watermark); append mode emits each
    * window's verdict once, when the watermark closes it.
    */
  def spikeAlertStream(events: DataFrame, keyCol: String,
                       baseline: DataFrame, sigma: Int,
                       flagLow: Boolean = true): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(baseline), Seq(keyCol))
      .filter(graft.operators.Anomaly.breach(sigma, flagLow))
      .select(col(keyCol), col("w.start").as("window_start"), col("n"))

  /** Streaming face of [[graft.operators.Intervals.pointInInterval]]:
    * a live point stream (user_id, ts, event_id) joined to a live
    * interval-opening stream (user_id, ts, event_id→ref_id) whose
    * windows span `lenSeconds` from their opening event — the
    * stream-stream inner join WITH A TIME-RANGE CONDITION, which is
    * what lets Spark bound both sides' state: each side is watermarked,
    * and the range `i_ts ≤ p_ts < i_ts + len` tells the engine exactly
    * how long a buffered interval can still match a future point (and
    * vice versa), so state expires at watermark + len instead of
    * growing forever. The batch operator bins; the stream buffers —
    * same results for in-watermark data (spec-pinned against
    * pointInInterval on the identical rows), late arrivals beyond the
    * watermark are dropped, so the stream is a lower bound of a batch
    * replay — the funnelStream contract.
    */
  def intervalJoinStream(points: DataFrame, intervals: DataFrame,
                         lenSeconds: Long, watermark: String = "2 hours")
      : DataFrame = {
    require(lenSeconds > 0, s"lenSeconds must be positive, got $lenSeconds")
    val p = points
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))
      .withWatermark("p_ts", watermark)
    val iv = intervals
      .select(col("user_id").as("i_user"), col("ts").as("i_ts"),
        col("event_id").as("ref_id"))
      .withWatermark("i_ts", watermark)
    p.join(iv, expr(
        s"user_id = i_user AND p_ts >= i_ts AND " +
          s"p_ts < i_ts + interval $lenSeconds seconds"))
      .select(col("user_id"), col("event_id"), col("ref_id"), col("p_ts"))
  }

  final case class Ping(trace_id: Long, lon: Double, lat: Double)
  final case class RouteMatch(trace_id: Long, route: Int, n_points: Long)
  final case class MatchVotes(votes: Map[Int, Long], current: Int)

  /** Streaming face of g10 map-matching: GPS pings arrive per trace
    * (vehicle), each ping snaps to its nearest route via the SAME fused
    * [[graft.plans.MapMatch]] kernel the batch query uses (stateless,
    * codegen'd, before any state), and per-trace state keeps the route
    * vote counts — a row is emitted whenever a trace's MODAL route
    * changes (first ping always emits), carrying the votes seen so far.
    * The modal tiebreak (max count, then smallest route id) is the
    * batch g10 argmax, so once all pings have arrived the last emitted
    * route per trace equals the batch attribution on the same data
    * (spec-pinned); intermediate emissions depend on batch boundaries,
    * the documented arrival-order contract shared with
    * [[transitionStream]].
    *
    * Scale shape: state per trace is O(|routes|) — a bounded panel, the
    * codebook doctrine — and lives in the state store keyed by trace;
    * the kernel's polylines ride into codegen as constants. No timeout
    * is set — a parked vehicle is a legitimate open trace; bound state
    * with a ProcessingTimeTimeout if the trace universe is unbounded.
    */
  def mapMatchStream(pings: org.apache.spark.sql.Dataset[Ping],
                     routes: Seq[(Int, Seq[Seq[Double]])]):
      org.apache.spark.sql.Dataset[RouteMatch] = {
    import pings.sparkSession.implicits._
    pings
      .select(col("trace_id"),
        graft.plans.MapMatch.mapMatch(array(col("lon"), col("lat")), routes)
          .getField("r").as("route"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MatchVotes, RouteMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (trace: Long, it: Iterator[(Long, Int)],
         state: GroupState[MatchVotes]) =>
          val s = state.getOption.getOrElse(MatchVotes(Map.empty, -1))
          var votes = s.votes
          it.foreach { case (_, r) =>
            votes = votes.updated(r, votes.getOrElse(r, 0L) + 1L)
          }
          val modal =
            if (votes.isEmpty) s.current
            else votes.toSeq.minBy { case (r, n) => (-n, r) }._1
          state.update(MatchVotes(votes, modal))
          if (modal != s.current)
            Iterator.single(RouteMatch(trace, modal, votes.values.sum))
          else Iterator.empty
      }
  }

  /** One micro-batch of the streaming lakehouse MERGE
    * ([[changelogMergeStream]]'s foreachBatch body, exposed for the
    * batch-parity spec): fold `batch` (CDC rows) into the managed
    * snapshot table and rewrite it.
    *
    * The snapshot carries `seqCol` as an applied-version column, so
    * out-of-order rows WITHIN the stream are handled in two layers:
    * inside a batch the highest seq wins (SnapshotDiff.applyChangelog's
    * window); across batches a row whose seq is ≤ the key's applied seq
    * is dropped before the merge (the stale-update filter every
    * merge-on-read format runs). Deletes leave no tombstone — a
    * deleted key's seq floor is forgotten, so a pre-delete row arriving
    * in a LATER batch would resurrect the key; the contract is per-key
    * seq-ordered arrival across files (the Kafka-partition CDC
    * guarantee), with in-batch disorder handled exactly.
    *
    * `compactTargetRows`: route the rewrite through
    * [[graft.sources.Compaction.compactSorted]] (key-sorted,
    * row-bounded files) — the s09 maintenance pass riding the same
    * incremental trigger; None keeps a plain table write.
    *
    * Scale shape: the batch compacts first (increment-sized shuffle),
    * the snapshot moves through ONE full-outer key join + the rewrite —
    * the merge-on-read compaction cost every lakehouse pays per apply.
    * The localCheckpoint before the overwrite is correctness, not
    * tuning: the next frame lazily reads the table being replaced. A
    * production deployment writes a NEW snapshot version and swaps a
    * pointer (ACID table formats); a managed-table overwrite is the
    * single-catalog equivalent.
    */
  def changelogMergeBatch(spark: SparkSession, snapshotTable: String,
                          batch: DataFrame, keyCol: String, seqCol: String,
                          opCol: String, payloadCols: Seq[String],
                          compactTargetRows: Option[Long] = None): Unit = {
    val snap = spark.table(snapshotTable)
    val fresh = batch
      .join(snap.select(col(keyCol), col(seqCol).as("__applied")),
        Seq(keyCol), "left")
      .filter(col("__applied").isNull || col(seqCol) > col("__applied"))
      .drop("__applied")
    // seqCol rides as payload so the snapshot always knows each key's
    // applied version
    val next = graft.operators.SnapshotDiff.applyChangelog(
      snap, fresh, keyCol, seqCol, opCol, payloadCols :+ seqCol)
      .localCheckpoint()
    compactTargetRows match {
      case Some(t) => graft.sources.Compaction
        .compactSorted(next, snapshotTable, keyCol, t)
      case None => graft.sources.Warehouse.writeTable(next, snapshotTable)
    }
  }

  /** s06/s09's STREAMING face — incremental lakehouse MERGE: CDC parquet
    * files land under `changelogDir`; each `Trigger.AvailableNow` run
    * folds exactly the newly-arrived files into `snapshotTable` via
    * [[changelogMergeBatch]] (foreachBatch), then stops — the same
    * re-run-on-changed-inputs shape as [[availableNowRollup]] (I1),
    * pointed at table maintenance instead of aggregation. The initial
    * snapshot must exist as a managed table carrying `seqCol` (seed it
    * with lit(0)); StreamingSpec pins cross-batch parity with one batch
    * applyChangelog over the concatenated changelog.
    */
  def changelogMergeStream(spark: SparkSession, changelogDir: String,
                           schema: String, checkpoint: String,
                           snapshotTable: String, keyCol: String,
                           seqCol: String, opCol: String,
                           payloadCols: Seq[String],
                           compactTargetRows: Option[Long] = None): Unit =
    spark.readStream.schema(schema).parquet(changelogDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        changelogMergeBatch(spark, snapshotTable, batch, keyCol, seqCol,
          opCol, payloadCols, compactTargetRows)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One micro-batch of the streaming SCD2 history build
    * ([[scd2Stream]]'s foreachBatch body, exposed for the batch-parity
    * spec): fold `batch` (CDC rows) into the managed HISTORY table —
    * the s12 operator's shape (key, payload*, valid_from, valid_to,
    * is_current) — touching only the keys the batch names.
    *
    * Closed versions are immutable: only each touched key's OPEN
    * version can change (it re-enters the rebuild as its own opening
    * event, gets closed by the first fresh event, and the fresh events
    * append their versions after it). Stale rows — seq at or below the
    * key's high-water mark max(valid_to, valid_from) — are dropped
    * before the rebuild (the cross-batch contract of
    * [[changelogMergeBatch]]: per-key seq-ordered arrival across files,
    * in-batch disorder handled exactly by the window).
    *
    * Scale shape: the history moves through one semi/anti key-join pair
    * against the increment's keys (prunable to nothing against a
    * key-bucketed at-rest history) and only the touched slice — open
    * rows + fresh events, increment-sized — enters the rebuild window.
    */
  def scd2Batch(spark: SparkSession, histTable: String, batch: DataFrame,
                keyCol: String, seqCol: String, opCol: String,
                payloadCols: Seq[String]): Unit = {
    val hist = spark.table(histTable)
    val keys = batch.select(col(keyCol)).distinct()
    val touched = hist.join(keys, Seq(keyCol), "left_semi")
    val untouched = hist.join(keys, Seq(keyCol), "left_anti")
    val hwm = touched.groupBy(col(keyCol))
      .agg(max(coalesce(col("valid_to"), col("valid_from"))).as("__hwm"))
    val fresh = batch.join(hwm, Seq(keyCol), "left")
      .filter(col("__hwm").isNull || col(seqCol) > col("__hwm"))
      .select(col(keyCol) +: col(seqCol).cast("long") +: col(opCol) +:
        payloadCols.map(col): _*)
    val openEv = touched.filter(col("is_current"))
      .select(col(keyCol) +: col("valid_from").as(seqCol) +:
        lit("U").as(opCol) +: payloadCols.map(col): _*)
    val rebuilt = graft.operators.SnapshotDiff.scd2Events(
      openEv.unionByName(fresh), keyCol, seqCol, opCol, payloadCols)
    // localCheckpoint before the overwrite: the lazy union still reads
    // the table being replaced (same correctness note as the MERGE face)
    val next = untouched
      .unionByName(touched.filter(!col("is_current")))
      .unionByName(rebuilt)
      .localCheckpoint()
    graft.sources.Warehouse.writeTable(next, histTable)
  }

  /** s12's STREAMING face — incremental SCD2 maintenance: CDC parquet
    * files land under `changelogDir`; each `Trigger.AvailableNow` run
    * folds exactly the newly-arrived files into the history table via
    * [[scd2Batch]], then stops. Seed the table with the snapshot's open
    * versions (SnapshotDiff.scd2 over an empty changelog). StreamingSpec
    * pins cross-batch parity with one batch scd2 over the concatenated
    * changelog.
    */
  def scd2Stream(spark: SparkSession, changelogDir: String, schema: String,
                 checkpoint: String, histTable: String, keyCol: String,
                 seqCol: String, opCol: String,
                 payloadCols: Seq[String]): Unit =
    spark.readStream.schema(schema).parquet(changelogDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scd2Batch(spark, histTable, batch, keyCol, seqCol, opCol,
          payloadCols)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One micro-batch of the streaming ingestion gate ([[wapStream]]'s
    * foreachBatch body, exposed for the spec): audit the batch, publish
    * it into `table` only if every expectation holds, and append the
    * audit rows — plus a '__publish' row carrying the table's row count
    * after the attempt (maintained incrementally: seeded from the base
    * table once, then previous count + published batch rows — O(batch)
    * per batch, with a real-count resync every 100th batch so target
    * rebuilds self-heal) — to `auditTable` (the immutable quality log
    * a pipeline alerts on). A failing batch lands NOTHING in `table`; the
    * audit log is the only trace. Returns whether the batch published.
    */
  def wapBatch(spark: SparkSession, batch: DataFrame,
               expects: Seq[graft.sources.Wap.Expect], table: String,
               auditTable: String, batchId: Long): Boolean = {
    // REPLAY idempotence (the foreachBatch contract): a batch whose
    // wapBatch completed but whose streaming checkpoint didn't commit
    // re-runs with the SAME batchId on restart — without this gate the
    // replay double-appends, exactly the corruption the WAP gate exists
    // to prevent. The audit log row is the commit marker (written last,
    // below): marker present -> the batch fully processed, return its
    // recorded outcome and touch nothing. Residual window, documented
    // honestly: a crash BETWEEN the publish and the marker append
    // re-publishes on replay — closing it needs a transactional sink,
    // not a gate (same caveat as every non-atomic foreachBatch writer).
    if (spark.catalog.tableExists(auditTable)) {
      val prior = spark.table(auditTable)
        .filter(col("batch_id") === batchId &&
          col("expectation") === "__publish")
        .select(col("passed")).collect()
      if (prior.nonEmpty) return prior(0).getLong(0) == 1L
    }
    // post-attempt table count, derived INCREMENTALLY: the previous
    // __publish row's observed value (seeded from the base table once,
    // on the first gated batch) plus this batch's rows when it
    // publishes. A spark.table(table).count() here would full-scan the
    // target on EVERY micro-batch — O(table) per batch, growing over
    // the stream's lifetime, against the O(batch) publish economics
    // this gate exists for. The running value tracks rows as seen
    // through the gate: out-of-band writes to `table` are outside the
    // audit log's scope by design (they never passed an expectation).
    // Every 100th batch RESYNCS from a real count (amortized
    // O(table/100)), so a target rebuild/backfill that kept the audit
    // table doesn't poison the observed series forever — it self-heals
    // within 100 batches; force it sooner by clearing the audit table.
    val resync = batchId % 100 == 0
    val prevCount: Long =
      if (!resync && spark.catalog.tableExists(auditTable)) {
        val last = spark.table(auditTable)
          .filter(col("expectation") === "__publish")
          .orderBy(col("batch_id").desc).limit(1)
          .select(col("observed")).collect()
        if (last.nonEmpty) last(0).getLong(0)
        else spark.table(table).count()
      } else spark.table(table).count()
    val audit = graft.sources.Wap.audit(batch, expects).localCheckpoint()
    val ok = graft.sources.Wap.publishIfClean(batch, audit, table)
    // the publish ran on the MICRO-BATCH's cloned session (batch's
    // owner); relation caches are per-session, so this outer session's
    // cached file listing for `table` does not see the appended files
    // until refreshed (rows were on disk, reads stale — the cache
    // coherence gotcha of appends under foreachBatch)
    spark.catalog.refreshTable(table)
    val after = prevCount + (if (ok) batch.count() else 0L)
    val rows = audit.select(lit(batchId).as("batch_id"),
        col("expectation"), col("observed"), col("lo"), col("hi"),
        col("passed"))
      .unionByName(spark.range(1).select(lit(batchId).as("batch_id"),
        lit("__publish").as("expectation"), lit(after).as("observed"),
        lit(0L).as("lo"), lit(0L).as("hi"),
        lit(if (ok) 1L else 0L).as("passed")))
    if (!spark.catalog.tableExists(auditTable))
      graft.sources.Warehouse.writeTable(rows, auditTable)
    else {
      graft.sources.Warehouse.appendPartitioned(rows, auditTable)
      // rows' session is the micro-batch clone; THIS session's cache
      // must refresh too or the next batch's replay-marker check (and
      // any caller's audit reads) would miss the appended rows
      spark.catalog.refreshTable(auditTable)
    }
    ok
  }

  /** s16's STREAMING face — write–audit–publish as an ingestion stream:
    * candidate parquet batches land under `inputDir`; each
    * `Trigger.AvailableNow` run gates exactly the newly-arrived files
    * through [[wapBatch]] — clean batches append to `table`, poisoned
    * batches abort (audit-logged, nothing landed), and the stream keeps
    * going either way (a bad batch must not wedge ingestion). Seed
    * `table` with the empty/base state first. StreamingSpec pins the
    * abort/publish semantics across batches.
    */
  def wapStream(spark: SparkSession, inputDir: String, schema: String,
                checkpoint: String,
                expects: Seq[graft.sources.Wap.Expect],
                table: String, auditTable: String): Unit =
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        wapBatch(spark, batch, expects, table, auditTable, id); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
