package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Event-stream operators: watermarked windowed aggregation and gap-based
  * sessionization — the stateful-streaming surface (SURVEY §2.9 notes the
  * reference has none; this is engine capability beyond parity).
  *
  * Both operators exist in two semantically-aligned forms:
  *  - a streaming form (watermark + windowed agg; flatMapGroupsWithState
  *    custom state) for unbounded input;
  *  - a batch form (same plan / gaps-and-islands window functions) that
  *    the DuckDB oracle can verify, and that StreamingSpec cross-checks
  *    against the streaming form on finite input.
  *
  * Every sink here starts through [[MicroBatch.sink]]. The state-table
  * sinks (rollup, resample, KMV, HLL, CMS) fold through
  * [[MicroBatch.foldOnce]], whose Scaladoc holds the state-table /
  * checkpoint pairing contract; the batch-stamped output sinks append
  * through [[MicroBatch.emit]].
  */
object EventStreams {

  case class Event(event_id: Long, user_id: Long, ts: Timestamp,
      event_type: String, value: Double)

  case class SessionState(startMs: Long, lastMs: Long, n: Long, sum: Double)

  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  val defaultGapMs: Long = 30 * 60 * 1000L

  /** Tumbling event-time window aggregate with a watermark — the
    * streaming twin of CoreQueries.qStWindowAgg (identical plan shape;
    * late data beyond `delay` is dropped instead of buffered forever). */
  def windowedAgg(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      // day-wide groups are unbounded at scale, so the sum runs on the
      // exact integer-cents lattice (decimal accumulator, one final
      // decimal→double cast) — order-independent across micro-batch
      // arrival orders, same discipline as the batch twin qStWindowAgg
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("decimal(18,0)"))
          .cast("double") / 100.0).as("sum_value"))

  /** Streaming incremental rollup: fold each micro-batch into a persisted
    * [[graft.ext.IncrementalAgg]] state table — the streaming face of the
    * build/merge/finalize monoid. Per trigger the work is
    * O(batch) + O(|keys|): the batch is reduced map-side to key-grained
    * state rows, merged with the stored state (a key-partitioned shuffle
    * of STATE rows, never history), and atomically swapped in. Because
    * merge is the same commutative monoid the batch path uses, the final
    * state after any micro-batch slicing hash-equals one global
    * `buildState` over all rows (StreamingSpec cross-checks exactly
    * that), and readers get `finalizeState(store.read(name))` at any
    * point without touching event history — the aggregate analog of the
    * reference's "process only the delta" control-table discipline
    * (`STG_Firebase2Oracle.py:52-59`). The counting fold is not
    * idempotent, so it folds through [[MicroBatch.foldOnce]]: a replayed
    * batch is skipped, and adopting an unstamped (batch-built) state
    * table logs a warning. */
  def rollupSink(events: DataFrame, store: graft.store.TableStore,
      name: String, keys: Seq[String], valCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(events, checkpointDir, trigger) { (batch, batchId) =>
      MicroBatch.foldOnce(store, name, batchId) { state =>
        val inc = graft.ext.IncrementalAgg.buildState(batch, keys, valCol)
        state.fold(inc)(s => graft.ext.IncrementalAgg.mergeStates(Seq(s, inc), keys))
      }
    }

  /** Streaming time-series resample: the streaming face of
    * [[graft.ext.TimeSeries.resample]] (SURVEY §2.9 — the reference's
    * DHT11 readings stream is the natural producer). Each micro-batch's
    * readings floor-bucket to the `stepSec` grid and fold into the SAME
    * persisted mergeable state [[rollupSink]] maintains, keyed by
    * (key, bucket): per trigger the work is O(batch) + O(touched state
    * rows), and because per-bucket (count, exact-cents-sum) is a
    * commutative monoid there is no window finalization to wait for —
    * late readings fold into their bucket whenever they arrive, instead
    * of being dropped at a watermark. A reader regularizes the series at
    * any point via [[resampleState]] without touching event history. */
  def resampleSink(events: DataFrame, store: graft.store.TableStore,
      name: String, keyCol: String, tsCol: String, valCol: String,
      stepSec: Long, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val bucketed = events.withColumn("bucket",
      (floor(unix_timestamp(col(tsCol)) / stepSec) * stepSec).cast("long"))
    rollupSink(bucketed, store, name, Seq(keyCol, "bucket"), valCol,
      checkpointDir, trigger)
  }

  /** Read-side adapter: project the [[resampleSink]] state table to the
    * exact (key, bucket, n, sum_cents) shape
    * [[graft.ext.TimeSeries.resample]] produces, so downstream
    * interpolation/anomaly stages run unchanged over streamed state.
    * The stored state accumulates sum_cents as decimal(38,0)
    * (IncrementalAgg's merge-safe width); batch resample emits
    * decimal(28,0) — cast down here so the shapes are IDENTICAL and a
    * unionByName of batch and streamed grids neither fails nor widens
    * silently (ADVICE r6). Exact: a per-bucket cents sum needs 28
    * digits only past 10²⁶ dollars. */
  def resampleState(state: DataFrame, keyCol: String): DataFrame =
    state.select(col(keyCol), col("bucket"),
      col("cnt").as("n"), col("sum_cents").cast("decimal(28,0)").as("sum_cents"))

  /** Streaming KMV cardinality sketch: the streaming face of
    * [[graft.ext.Sketches.kmvDistinct]]. Each micro-batch's (group, hash)
    * projection unions with the persisted keep-set and re-takes the k
    * smallest per group — the sketch's merge law (k-min of union = k-min
    * of union of k-mins) makes the fold associative and idempotent for
    * re-delivered values, so state stays ≤ k rows per group FOREVER while
    * counting distincts over the unbounded stream. Folds through
    * [[MicroBatch.foldOnce]] like [[rollupSink]]; the idempotent fold
    * makes adopting an unstamped (batch-built) state table safe. Read
    * the live estimate at any point via
    * [[graft.ext.Sketches.kmvProfile]] over the state table. */
  def kmvSink(values: DataFrame, store: graft.store.TableStore,
      name: String, groupCol: String, valueCol: String, k: Int,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(values, checkpointDir, trigger) { (batch, batchId) =>
      MicroBatch.foldOnce(store, name, batchId) { state =>
        import graft.ext.Sketches
        val inc = Sketches.kmvHashes(batch, groupCol, valueCol)
        Sketches.kmvKeep(state.fold(inc)(
          _.select(col(groupCol), col("h")).union(inc)), groupCol, k)
      }
    }

  /** Streaming HyperLogLog: the streaming face of
    * [[graft.ext.Sketches.hllRegisters]]. Each micro-batch builds its
    * own ≤ 64-register increment and folds it into the persisted state
    * by register-wise MAX ([[graft.ext.Sketches.hllMerge]]) — the
    * strongest merge law of the three sketch sinks: idempotent AND
    * commutative AND associative, so re-delivered values, replayed
    * batches, and out-of-order shard unions all fold safely even
    * without the batch stamp (kept anyway to skip no-op rewrites).
    * State is ≤ 64 rows per group FOREVER; read the live cardinality
    * estimate at any point via [[graft.ext.Sketches.hllEstimate]] over
    * the state table. */
  def hllSink(values: DataFrame, store: graft.store.TableStore,
      name: String, groupCol: String, valueCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(values, checkpointDir, trigger) { (batch, batchId) =>
      MicroBatch.foldOnce(store, name, batchId) { state =>
        import graft.ext.Sketches
        val inc = Sketches.hllRegisters(batch, groupCol, valueCol)
        state.fold(inc)(s => Sketches.hllMerge(Seq(s, inc), groupCol))
      }
    }

  /** Streaming count-min sketch: the streaming face of
    * [[graft.ext.Sketches.cmsBuild]]. Each micro-batch builds its own
    * sketch-sized (r, bucket, cnt) increment (map-side combined before
    * anything leaves the batch) and folds it into the persisted counter
    * table by [[graft.ext.Sketches.cmsMerge]] — counts are a commutative
    * monoid, so late values fold whenever they arrive and per-trigger
    * work is O(batch) + O(depth·width). Unlike the KMV fold this is NOT
    * idempotent (re-folded counts double), so it folds through
    * [[MicroBatch.foldOnce]] exactly as [[rollupSink]]: a replayed batch
    * sees itself folded and no-ops, and adopting an unstamped table logs
    * a warning. */
  def cmsSink(values: DataFrame, store: graft.store.TableStore,
      name: String, valueCol: String, checkpointDir: String,
      depth: Int = graft.ext.Sketches.cmsDepth,
      width: Int = graft.ext.Sketches.cmsWidth,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(values, checkpointDir, trigger) { (batch, batchId) =>
      MicroBatch.foldOnce(store, name, batchId) { state =>
        import graft.ext.Sketches
        val inc = Sketches.cmsBuild(batch, valueCol, depth, width)
        state.fold(inc)(s => Sketches.cmsMerge(Seq(s, inc)))
      }
    }

  /** Streaming sessionization: per-user sessions closed after `gapMs` of
    * event-time silence, via flatMapGroupsWithState with event-time
    * timeout. State per user is O(1) — counts and bounds, never the
    * events themselves — so state size is #active-users, not #events. */
  def sessionizeStream(events: Dataset[Event],
      gapMs: Long = defaultGapMs): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.startMs),
              new Timestamp(s.lastMs), s.n, s.sum))
          } else {
            var closed = List.empty[Session]
            var cur = state.getOption
            batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.lastMs, t),
                    s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.startMs),
                    new Timestamp(s.lastMs), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Native session windows: Spark's built-in gap-based session operator
    * (`session_window`) — the compose-built-ins-first answer next to the
    * custom-state [[sessionizeStream]] (which exists for the semantics
    * session_window can't express: custom merge logic, per-session state
    * beyond aggregates). Works identically over batch and streams; in
    * streaming pair with a watermark so closed sessions finalize. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      // round(sum(double),2) is stable here: `value` sits on the
      // 2-decimal lattice, so every true session sum does too, and a
      // session's addend count stays small enough (bounded by the gap)
      // that float error ≪ the 0.005 round-2 midpoint distance — and the
      // form must match sessionizeStream's sequential double accumulator
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))

  /** Streaming exact dedup: drops re-deliveries of the same key within
    * the watermark horizon — state is bounded by (arrival rate × delay),
    * the streaming face of the corpus dedup family. At-least-once
    * upstreams (retried producers, replayed partitions) become
    * effectively-once downstream. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream event-time interval join — click-to-purchase
    * attribution: each purchase pairs with the same user's clicks at most
    * `horizonMin` minutes older. Both inputs are watermarked and the join
    * condition bounds each side's event time by the other's, so the state
    * store evicts a buffered row as soon as the watermark passes its
    * horizon: state is O(arrival rate × (delay + horizon)), never
    * O(stream). The timestamp comparison stays on the raw event-time
    * columns (not through unix_micros) so Spark's streaming planner can
    * derive the state-eviction bound from the condition. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      delay: String = "1 hour", horizonMin: Int = 30): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("__p_user"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", delay)
    c.join(p,
        col("user_id") === col("__p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizonMin MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"),
        col("value"))
  }

  /** Batch twin of [[attributionJoin]]: same pairing, with the horizon
    * compared in integer microseconds (exact and engine-portable — the
    * DuckDB oracle uses epoch_us identically). Plan: one equi-join
    * shuffle on user_id with the range condition as a post-join filter;
    * AQE handles user skew. */
  def attributionJoinBatch(clicks: DataFrame, purchases: DataFrame,
      horizonMin: Int = 30): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("__p_user"), col("ts").as("purchase_ts"), col("value"))
    val lag = unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))
    c.join(p, col("user_id") === col("__p_user") &&
        lag.between(lit(0L), lit(horizonMin * 60L * 1000000L)))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        lag.as("lag_us"), col("value"))
  }

  /** Stream-static enrichment: a static dimension joins every micro-batch
    * with NO streaming state — the static side re-resolves per batch (so
    * a refreshed dim table is picked up) and broadcasts when small. This
    * is the third streaming join form next to [[attributionJoin]]
    * (stream-stream) and the foreachBatch SCD2 sink (stream-to-table). */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Streaming POINT-IN-TIME SCD2 enrichment (VERDICT r7 #6):
    * [[enrichStream]] joins whatever dim slice is current when the
    * micro-batch runs — correct for "decorate with latest", wrong for
    * late events that should see the dimension AS OF their event time.
    * This variant reuses [[graft.scd2.Historizer.pointInTime]] verbatim
    * against the full historized table: each event resolves to the
    * version whose [da_valid_from_date, da_valid_to_date) interval
    * covers its `asOfCol` instant, so an event that arrives hours late
    * still joins the version that was valid when it HAPPENED.
    *
    * Same execution shape as the batch path (one stream-static equi-join
    * on the natural keys, validity as a post-join filter — never a range
    * product), stateless on the stream side; the static history
    * re-resolves per micro-batch, so newly closed-out versions are
    * visible to the next batch. Stream ≡ batch on the same rows is
    * pinned in StreamingSpec; the oracle-green batch twin is
    * `q_scd2_asof`. */
  def enrichAsOfStream(stream: DataFrame, hist: DataFrame,
      conf: graft.model.Scd2Config, asOfCol: String): DataFrame =
    graft.scd2.Historizer.pointInTime(hist, stream, conf, asOfCol)

  /** Streaming novelty gate: pass through only documents whose content
    * digest is absent from a static known corpus — the continuous twin of
    * [[graft.ext.Dedup.novelAgainst]] for "filter the crawl against what
    * we already trained on" as data arrives. Stream-static LEFT ANTI
    * join: stateless on the stream side (no watermark, no state store —
    * the static side is re-resolved per micro-batch, so a refreshed known
    * table is picked up). Null-text rows drop on both sides, pinning the
    * same NOT IN semantics as the batch gate. */
  def novelStream(docs: DataFrame, known: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = docs.filter(col(textCol).isNotNull)
      .withColumn("__d", md5(col(textCol)))
    val k = known.filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("__d"))
    d.join(k, Seq("__d"), "left_anti").drop("__d")
  }

  /** Streaming NEAR-dup detection: each micro-batch of documents runs
    * through the standing MinHash-LSH index
    * ([[graft.ext.IncrementalDedup.indexIncrement]]) — new-vs-index and
    * new-vs-new pairs at estimated Jaccard ≥ threshold append to a pairs
    * table, and the batch's bands+signatures join the index. The
    * continuous upgrade of [[dedupStream]]/[[novelStream]] from exact
    * digests to NEAR duplicates, at increment cost O(batch) (the
    * corpus-sized index streams map-side against broadcast batch keys —
    * it never shuffles).
    *
    * Idempotence is DOC-keyed, not batch-stamped: the index ingests
    * first-write-wins on doc id, so a replayed micro-batch left-anti
    * drops to empty and appends nothing — re-delivery cannot corrupt the
    * index or duplicate pairs.
    *
    * Crash safety: the pairs land in `pairsName` through
    * indexIncrement's `emit` hook, [[MicroBatch.emit]], BEFORE the index
    * ingests the batch, so a retry re-emits bit-identical pairs that the
    * (__batch, id_a, id_b) dedup read absorbs. */
  def minhashIndexSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, pairsName: String, checkpointDir: String,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ext.IncrementalDedup.indexIncrement(batch, store, name,
        threshold, emit = MicroBatch.emit(store, pairsName, batchId))
    }

  /** Streaming excerpt/quote detection (VERDICT r13 #5): each
    * micro-batch runs through the SAME standing MinHash-LSH index as
    * [[minhashIndexSink]] — extended by one 16 B/doc sizes column — and
    * appends size-corrected CONTAINMENT-estimate pairs
    * ([[graft.ext.IncrementalDedup.containmentEstIncrement]]): both
    * directions of every LSH candidate whose estimated containment
    * clears the threshold, at O(batch) increment cost. Doc-keyed
    * first-write-wins idempotence and the emit-first crash contract
    * are inherited verbatim from [[minhashIndexSink]]; the two sinks can
    * share one index `name` (the state tables are identical plus
    * sizes). Finite-input results equal the batch twin
    * [[graft.ext.Dedup.containmentEstPairs]] — asserted in
    * StreamingSpec. */
  def containmentIndexSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, pairsName: String, checkpointDir: String,
      threshold: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ext.IncrementalDedup.containmentEstIncrement(batch, store,
        name, threshold, emit = MicroBatch.emit(store, pairsName, batchId))
    }

  /** Continuous quality-distribution drift monitor — the streaming twin
    * of q_quality_drift ([[graft.ext.Stats.histogramDrift]]): each
    * micro-batch's q4 quality histogram folds into the standing
    * per-group histogram of everything the stream has carried
    * (doc-ledger first-write-wins — re-delivery counts nothing), and
    * the ACCUMULATED histogram's TVD against a FROZEN reference
    * histogram appends batch-stamped — the filter-health readout a
    * crawl pipeline watches continuously rather than per-snapshot; an
    * alerting consumer reads the latest __batch and pages on tvd >
    * threshold. Crash safety: inherited from
    * [[graft.ext.IncrementalAgg.qualityDriftIncrement]] (drift emits
    * from state ∪ batch BEFORE the ledger/hist commit — a retry
    * re-emits bit-identical rows, dedup on (__batch, group) absorbs
    * them; a torn state commit under-counts, never double-counts). */
  def qualityDriftSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, outName: String, checkpointDir: String,
      ref: DataFrame, groupCol: String = "source",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ext.IncrementalAgg.qualityDriftIncrement(batch, store, name,
        ref, groupCol, emit = MicroBatch.emit(store, outName, batchId))
    }

  /** Streaming span-level decontamination — the continuous face of
    * q_decontam_spans (r18): each micro-batch of ingest docs is cut
    * against the standing FROZEN corpus span-gram state
    * ([[graft.ext.Decontamination.indexEvalSpans]]), and the rewritten
    * docs (clean_text + audit counts) append batch-stamped — the gate a
    * pipeline runs on the crawl stream so benchmark/already-trained-on
    * passages never reach a training shard intact. A rewrite is a pure
    * function of (doc, frozen state), so a doc's clean_text is
    * identical whether it arrived by stream or backfill (spec-asserted
    * against the batch [[graft.ext.Dedup.exciseCrossSpans]]). Replay
    * safety: first-write-wins rewrite ledger + within-batch dedup;
    * crash safety: emit-first (a retry re-cuts against unchanged state
    * and re-emits bit-identical batch-stamped rows). */
  def spanExciseSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, outName: String, checkpointDir: String, k: Int = 20,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ext.Decontamination.exciseSpansIncrement(store, name, batch,
        k, emit = MicroBatch.emit(store, outName, batchId))
    }

  /** Continuous tokenizer-fertility/OOV drift monitor — the streaming
    * twin of q_tok_oov (VERDICT r17 #6): each micro-batch tokenizes
    * under the FROZEN WordPiece vocabulary, its per-language word /
    * token / [UNK] sums fold into the standing state (doc-ledger
    * first-write-wins, within-batch dups count once), and the
    * ACCUMULATED per-language datasheet (oov_rate, fertility) appends
    * batch-stamped — an alerting consumer reads the latest __batch and
    * pages when oov_rate drifts past threshold, the signal that the
    * frozen vocab no longer fits the crawl. Crash safety inherited from
    * [[graft.ext.IncrementalAgg.tokFertilityIncrement]] (datasheet
    * emits from state ∪ batch BEFORE the ledger/slice commit — a retry
    * re-emits bit-identical rows, dedup on (__batch, lang) absorbs
    * them; a torn state commit under-counts, never double-counts). */
  def tokFertilitySink(docs: DataFrame, store: graft.store.TableStore,
      name: String, outName: String, checkpointDir: String,
      vocab: Seq[(String, Long)], langCol: String = "lang",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ext.IncrementalAgg.tokFertilityIncrement(batch, store, name,
        vocab, langCol, emit = MicroBatch.emit(store, outName, batchId))
    }

  /** Streaming memoized tokenization (VERDICT r14 #3): each micro-batch
    * of documents tokenizes against the standing word→tokens memo
    * ([[graft.ext.IncrementalTokens.tokenizeIncrement]]) — only word
    * types never seen on the stream run the Viterbi DP, so per-trigger
    * cost is O(batch + new types), and the type curve flattens as the
    * stream ages (Heaps' law does the amortizing). Per-doc results
    * append to an output table stamped with the batch id.
    *
    * Determinism: memo rows are pure functions of (word, vocabulary),
    * so a document's tokens are IDENTICAL whether it arrived by stream
    * or by backfill, and identical under any micro-batch slicing —
    * asserted against the batch [[graft.ext.Unigram.tokenize]] twin in
    * StreamingSpec. Replay safety: a re-delivered batch's words are all
    * memo hits (word-keyed first-write-wins), so the memo never
    * accretes duplicates; the OUTPUT table is append-only and
    * batch-stamped by [[MicroBatch.emit]], so downstream reads dedup
    * replays on (__batch, id) like the other counting sinks. */
  def tokenizeSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, outName: String, checkpointDir: String,
      vocab: Seq[(String, Long)] = graft.ext.Unigram.pieces,
      idCol: String = "doc_id", textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      MicroBatch.emit(store, outName, batchId)(graft.ext.IncrementalTokens
        .tokenizeIncrement(batch, store, name, vocab, idCol, textCol))
    }

  /** Prequential LM scoring on the stream (the continuous CCNet-filter
    * shape): each micro-batch of documents is Kneser–Ney-scored against
    * the model of everything the stream has carried so far — including
    * the batch itself — via the standing bigram-count state
    * ([[graft.ext.IncrementalLm.scoreIncrement]]); per-doc scores
    * append batch-stamped. The LM sharpens as the stream ages; a
    * re-delivered document is doc-ledger first-write-wins (scores
    * nothing, counts nothing), so replay cannot inflate the model.
    * Finite-input outputs obey the prefix law vs the batch
    * [[graft.ext.TextAnalysis.lmScoreKn]] — asserted in StreamingSpec.
    *
    * Crash safety: the scores land in `outName` through
    * scoreIncrement's `emit` hook, [[MicroBatch.emit]], BEFORE the doc
    * ledger or the model counts commit, so a retry re-scores the batch
    * against the unchanged standing model and re-emits bit-identical
    * rows that the (__batch, id) dedup read absorbs. */
  def lmScoreSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, outName: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ext.IncrementalLm.scoreIncrement(batch, store, name,
        idCol, textCol, emit = MicroBatch.emit(store, outName, batchId))
    }

  /** Streaming bounded weighted sample: fold each micro-batch into a
    * k-row priority-sample state table — the streaming face of
    * [[graft.ext.Curation.prioritySample]]. Because top-k by a
    * row-intrinsic priority is a commutative IDEMPOTENT monoid
    * (merge(top-k(A), top-k(B)) = top-k(A ∪ B), and a re-delivered row
    * re-derives the identical (priority, weight) and dedups away), the
    * state after any micro-batch slicing equals one global
    * prioritySample over all rows — no batch stamp needed, unlike the
    * counting sinks. Per trigger the work is O(batch) + O(k): the batch
    * pre-samples to k rows before touching state. */
  def prioritySampleSink(docs: DataFrame, store: graft.store.TableStore,
      name: String, k: Int, weightCol: String, checkpointDir: String,
      idCol: String = "doc_id", salt: String = "pri",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(docs, checkpointDir, trigger) { (batch, _) =>
      val inc = graft.ext.Curation
        .prioritySample(batch, k, weightCol, idCol, salt)
      val merged =
        if (store.exists(name))
          store.read(name).unionByName(inc)
            // same-id resolution (ADVICE r14): a replay re-derives the
            // identical (priority, weight) and folds to itself; a
            // weight UPDATE re-delivers the id with a different
            // priority — keep the min-(priority, weight) struct, so
            // the pick is content-deterministic (never an arbitrary
            // dropDuplicates row) and the monoid law stays exact
            .groupBy(col(idCol))
            .agg(min(struct(col("priority"), col("weight"))).as("pw"))
            .select(col(idCol), col("pw.weight").as("weight"),
              col("pw.priority").as("priority"))
            .orderBy(col("priority"), col(idCol)).limit(k)
        else inc
      store.overwrite(name, merged)
    }

  /** Streaming centroid assignment: embeddings arriving on a stream are
    * scored against a TRAINED centroid table ([[graft.ext.KMeans]] `fit`
    * output) — the online half of the fit-batch/score-stream pattern
    * every production index follows (cells route fresh vectors to their
    * inverted lists as they arrive).
    *
    * The centroids collect to the driver ONCE (K·dim longs — small by
    * the same contract that lets the batch path broadcast them) and bake
    * into the plan as literal arrays, so the argmin is a PURE PROJECTION
    * — a fold of `least(struct(d2, cent_id))` over K codegen'd distance
    * expressions. No join, no aggregation, no state: exactly-once
    * semantics are the source's, and a row's cell is identical whether
    * it arrived by stream or by backfill (same exact-integer rule as the
    * batch path — asserted in StreamingSpec). Works unchanged on batch
    * frames. Empty centroid table → null cell, callers gate on it. */
  def assignStream(vectors: DataFrame, cents: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import graft.ext.KMeans
    val best: Column = KMeans.argminLiteral(KMeans.quantize(col(embCol)),
      cents.select(col("cent_id"), col("cq")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq)
    vectors.select(col(idCol), best.getField("cent_id").as("cent_id"),
      best.getField("d2").as("d2"))
  }

  /** One ADC search hit: exact integer PQ distance, ranked per query. */
  case class AdcHit(query_id: Long, neighbor_id: Long, adc: Long, rank: Long)

  /** Streaming PQ ADC top-k: query vectors arriving on a stream search a
    * persisted PQ index — the score-stream half of the fit-batch /
    * score-stream pattern, one step past [[assignStream]]'s coarse cells
    * (r4 verdict item 6).
    *
    * The plan keeps every corpus-sized computation stateless:
    *  - the CODEBOOK collects once (m·k·subDim longs, the broadcast-size
    *    contract) and bakes into the plan as literal arrays: each
    *    arriving query computes its ADC distance TABLE — per subspace, a
    *    map cent_id → exact dist2(query slice, cell) — in a pure
    *    projection of k literal-fold expressions;
    *  - CODES join as a static side in WIDE form ([[graft.ext.KMeans
    *    .codesWide]]; read them from a [[graft.ext.PqIndex]] store in
    *    production) — a stream-static equi-join fan-out, and the
    *    per-neighbor ADC is `Σ_sub element_at(dtab_sub, c_sub)`, again a
    *    projection, never an m-row aggregation;
    *  - the ONLY state is a per-query top-k buffer in
    *    flatMapGroupsWithState: O(k) per query, merged monotonically, so
    *    re-delivered or multi-batch candidates fold in correctly. Emits
    *    the current merged top-k each micro-batch (update semantics).
    *
    * Results on finite input equal [[graft.ext.KMeans.pqSearchFrom]] on
    * the same rows — same exact integer distances, same (adc,
    * neighbor_id) tie rule — asserted in StreamingSpec. Works unchanged
    * on batch frames (flatMapGroupsWithState runs in batch too). */
  def pqSearchStream(queries: DataFrame, codesWide: DataFrame,
      cents: DataFrame, topK: Int, subspaces: Int = 8, subDim: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding"): Dataset[AdcHit] = {
    import graft.ext.KMeans
    val spark = queries.sparkSession
    import spark.implicits._
    // codebook → plan literals, grouped by subspace
    val bySub: Map[Int, Seq[(Long, Seq[Long])]] =
      cents.select(col("sub"), col("cent_id"), col("cq")).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Long](2))))
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSeq }
    val q = KMeans.quantize(col(embCol))
    // per-subspace distance maps over the query's lattice slice
    val dtabs = (0 until subspaces).map { s =>
      val slices = bySub.getOrElse(s, Seq.empty)
      val qs = slice(q, s * subDim + 1, subDim)
      map_from_arrays(
        typedlit(slices.map(_._1)),
        array(slices.map { case (_, cq) => KMeans.dist2(qs, typedlit(cq)) }: _*))
        .as(s"dt$s")
    }
    val adc = (0 until subspaces)
      .map(s => element_at(col(s"dt$s"), col(s"c$s")))
      .reduce(_ + _)
    // every query scores every code row — plain PQ ADC is a full codes
    // scan by definition (the cell-routed IVF variant is the sub-linear
    // path, PqIndex.searchIvf). Constant-key equi-join: the stream-static
    // form Structured Streaming supports everywhere a cross join isn't.
    val cands = queries
      .select(col(idCol).as("query_id") +: dtabs: _*)
      .withColumn("__k", lit(1))
      .join(codesWide.withColumnRenamed("id", "neighbor_id")
        .withColumn("__k", lit(1)), Seq("__k"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
      .as[(Long, Long, Long)]
    // the one stateful op: a k-sized (adc, neighbor_id)-ordered buffer
    cands.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[Seq[(Long, Long)]]) => {
          var best = state.getOption.getOrElse(Seq.empty)
          rows.foreach { case (_, nid, a) =>
            val beats = best.size < topK || {
              val (la, ln) = best.last
              a < la || (a == la && nid < ln)
            }
            if (beats) best = ((a, nid) +: best).sorted.take(topK)
          }
          state.update(best)
          best.iterator.zipWithIndex.map { case ((a, nid), i) =>
            AdcHit(qid, nid, a, i + 1L)
          }
        })
  }

  /** Batch sessionization — gaps-and-islands with window functions, the
    * declarative equivalent of [[sessionizeStream]] over finite input
    * (every session closed). One shuffle on user_id; the running session
    * id is a per-partition prefix sum. */
  def sessionizeBatch(events: DataFrame, gapMs: Long = defaultGapMs): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // gap compare in integer microseconds: exact, and engine-portable
      // (sub-second timestamps make seconds-truncated diffs ambiguous)
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMs * 1000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        // stable round: see sessionWindowAgg — on-lattice session sums,
        // small addend counts, and parity with the streaming state form
        round(sum(col("value")), 2).as("sum_value"))
      .drop("sess_id")
  }
}
