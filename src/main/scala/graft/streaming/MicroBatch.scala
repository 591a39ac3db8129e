package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.TableStore

/** The replay rules every `foreachBatch` sink shares. A streaming sink is
  * effectively-once the Structured Streaming way: a replayable source, a
  * checkpoint that hands a re-run micro-batch its old batch id, and a
  * sink that absorbs that replay. The sinks in [[EventStreams]],
  * [[StreamingIngest.scd2Sink]] and [[graft.ext.Classifier.classifySink]]
  * start through [[sink]] and absorb a replay in one of three ways: a
  * keyed merge ('NC' rows, first-write-wins ledgers, idempotent sketch
  * laws), [[foldOnce]] for a state table, or [[emit]] for an append-only
  * output table.
  */
object MicroBatch {

  /** The fold watermark column every [[foldOnce]] state row carries. */
  private val folded = "__folded_batch"

  /** Start `df` as an append-mode stream that checkpoints its offsets in
    * `checkpointDir` and runs `body(batch, batchId)` on every micro-batch.
    * A batch whose body throws is re-run under the same id when the query
    * restarts from `checkpointDir`. */
  def sink(df: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch(body)
      .start()

  /** Fold micro-batch `batchId` into state table `name` at most once.
    * `fold` gets the stored state without its stamp (None when the table
    * is absent) and returns the new state, which replaces the table
    * stamped with `batchId` in ONE atomic [[TableStore.overwrite]]. The
    * highest folded batch id rides inside the state table, on every row,
    * so state and fold watermark commit together: a replayed batch reads
    * `max(stamp) >= batchId` and skips. A side meta-file cannot give this:
    * state-then-meta double-counts on a crash between the writes, and
    * meta-then-state loses the batch. The probe is one aggregate job; an
    * empty table reads as "nothing folded".
    *
    * A table first written by a batch path carries no stamp. It is
    * adopted as "nothing folded yet" (batch −1), which is only safe when
    * the stream's source does NOT replay events the batch path already
    * folded. An unstamped table cannot prove that, so a non-empty one is
    * adopted with a warning, and an accidental re-fold over the same
    * history is detectable: a counting fold (rollup, CMS) double-counts
    * it, an idempotent one (KMV set-union, HLL register-max) does not.
    *
    * ==State-table / checkpoint pairing contract==
    * The stamp is only meaningful against the checkpoint that produced
    * it: batch ids are per-checkpoint counters. A state table paired with
    * a FRESH checkpoint dir (new stream, batch id restarts at 0 under a
    * stale stamp) silently skips genuinely new batches. So a state table
    * and its checkpoint dir live and die TOGETHER: resume with both, or
    * start over with neither (drop the state table when re-pointing a new
    * stream at it). The idempotent folds survive misuse with only missed
    * increments; the counting folds would double-fold without the stamp,
    * so the pairing contract is the correctness boundary, not a style
    * note. */
  def foldOnce(store: TableStore, name: String, batchId: Long)(
      fold: Option[DataFrame] => DataFrame): Unit = {
    val state = if (store.exists(name)) Some(store.read(name)) else None
    val done = state.fold(-1L) { st =>
      if (st.columns.contains(folded)) {
        val top = st.agg(max(col(folded))).head()
        if (top.isNullAt(0)) -1L else top.getLong(0)
      } else {
        if (!st.isEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"adopting state table '$name' with no $folded stamp: assuming " +
              "its rows are NOT in this stream's history — a counting fold " +
              "double-counts events folded by both paths")
        -1L
      }
    }
    if (done < batchId)
      store.overwrite(name,
        fold(state.map(_.drop(folded))).withColumn(folded, lit(batchId)))
  }

  /** Append a non-empty `out` to output table `name`, stamped with
    * `batchId` in a `__batch` column. Used as the `emit` hook of the
    * incremental operators, which run it on their pinned output BEFORE
    * any state commits (the README crash-ordering contract). A crash
    * after the append but before the state commit makes the retry
    * recompute against the unchanged state and append bit-identical rows
    * under the same stamp, which a reader's dedup on (`__batch`, key)
    * absorbs; a crash after the state commit finds the output already
    * durable. The reverse order (state first, output after) loses a
    * crashed batch's output for good: its replay finds every document
    * ledgered and emits nothing. */
  def emit(store: TableStore, name: String, batchId: Long)(out: DataFrame): Unit =
    if (!out.isEmpty) store.append(name, out.withColumn("__batch", lit(batchId)))
}
