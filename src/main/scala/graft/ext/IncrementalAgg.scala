package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incremental rollup via mergeable aggregate state — the pattern that
  * lets a 100 TB warehouse keep `GROUP BY` summaries current without
  * rescanning history: persist a small per-key STATE table
  * (count / exact sum / min / max), fold each new increment into it with
  * a key-partitioned merge, and derive the presentation row (mean, range)
  * only at read time.
  *
  * This generalizes the reference's incremental discipline — its control
  * table records which LOAD_KEYs are already folded in
  * (`CheckInterface_Metadata.py:73-79`) and each run processes only the
  * delta (`STG_Firebase2Oracle.py:52-59`) — from "append rows" to
  * "maintain aggregates".
  *
  * Algebra: every state column is a commutative monoid (sum over exact
  * decimals, min, max, count), so `merge(build(A), build(B)) ≡
  * build(A ∪ B)` holds EXACTLY, not approximately — the q_incr_rollup
  * oracle asserts the three-way-split fold hash-equals a single global
  * GROUP BY. Sums run on the integer-cents lattice (decimal accumulator)
  * so the identity is partition-order-independent.
  *
  * Scale shape: `build` on an increment touches only increment rows
  * (map-side-combined shuffle on the grouping key); `merge` shuffles
  * |keys| state rows, not data rows. The state table is
  * O(distinct keys) — at 100 TB that is the difference between a
  * minutes-long rollup refresh and a full-corpus scan.
  */
object IncrementalAgg {

  /** Aggregate an increment into mergeable state rows:
    * (keys…, cnt, sum_cents, min_v, max_v). `valCol` must sit on the
    * 2-decimal lattice (events.value does). */
  def buildState(df: DataFrame, keys: Seq[String], valCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        // state carries the WIDEST decimal (38,0): a narrower state type
        // would overflow to silent NULL (non-ANSI) after enough merges,
        // breaking the exactness contract — 10^38 cents is unreachable
        sum(round(col(valCol) * 100).cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("sum_cents"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))

  /** Fold any number of state tables into one (union + re-reduce). The
    * shuffle moves state rows only. */
  def mergeStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"),
        sum(col("sum_cents")).cast("decimal(38,0)").as("sum_cents"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Presentation view over state: exact sum back in value units, mean as
    * one double division chain over the exact numerator (identical text
    * in the DuckDB oracle). */
  def finalizeState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(
      keys.map(col) ++ Seq(
        col("cnt"),
        (col("sum_cents").cast("double") / 100.0).as("sum_v"),
        (col("sum_cents").cast("double") / col("cnt") / 100.0).as("avg_v"),
        col("min_v"), col("max_v")): _*)

  // ---------------------------- incremental quality-drift monitor (r17)

  private def histName(name: String) = s"${name}_hist"
  private def docsName(name: String) = s"${name}_docs"
  private def histSchema(groupCol: String) = StructType(Seq(
    StructField(groupCol, StringType), StructField("bin", LongType),
    StructField("n", LongType)))
  /** Re-reduce (group, bin, n) count slices to one row per bin. */
  private def histSums(hist: DataFrame, groupCol: String): DataFrame =
    hist.groupBy(col(groupCol), col("bin")).agg(sum(col("n")).as("n"))

  /** The increment's documents that the first-write-wins ledger `ledger`
    * (one `idCol` column) does not hold yet, each once, projected to
    * `idCol +: cols` and checkpointed. The ledger is corpus-sized and
    * NEVER shuffles: the increment's ids broadcast into a semi-join that
    * extracts the hits, and the increment anti-joins those (the
    * [[IncrementalDedup]] shape). The ledger only dedups against PRIOR
    * increments, and an at-least-once source can re-deliver a doc inside
    * one micro-batch, so the increment also drops its own duplicate ids:
    * without that, the copies all count and permanently shift the
    * standing state (ADVICE r17). The caller appends the fresh ids to the
    * ledger after it has emitted its output. */
  private[ext] def freshDocs(newDocs: DataFrame,
      store: graft.store.TableStore, ledger: String, idCol: String,
      cols: Seq[String]): DataFrame = {
    val ledgered = store.readOrEmpty(ledger,
      StructType(Seq(StructField(idCol, LongType))))
    // incIds feeds exactly ONE consumer (the broadcast below builds it
    // once on the driver) — a checkpoint here was a pure barrier, ~0.5 s
    // per increment at sf0.1 (r19 decomposition)
    val incIds = newDocs.select(col(idCol)).distinct()
    val seen = ledgered.join(broadcast(incIds), Seq(idCol), "left_semi")
    newDocs.join(broadcast(seen), Seq(idCol), "left_anti")
      .dropDuplicates(idCol)
      .select((idCol +: cols).map(col): _*)
      .localCheckpoint(true)
  }

  /** Fold one increment into the standing per-group quality histogram
    * and return the ACCUMULATED histogram's TVD against a FROZEN
    * reference — the incremental face of
    * [[Stats.histogramDrift]]/q_quality_drift, i.e. the filter-health
    * monitor run continuously instead of per-snapshot. `ref` is a
    * (group, bin, n) count frame (the curated corpus's histogram,
    * frozen when the filter shipped).
    *
    * State: `<name>_hist` (group, bin, n) per-increment count slices
    * (model-sized: groups × 10 bins × increments, compactable like the
    * LM state) + `<name>_docs` first-write-wins ledger (re-delivered
    * docs count NOTHING — a replayed increment cannot shift the
    * histogram). Per-increment cost: one scan of the increment + a
    * facet-sized merge; the corpus is never rescanned.
    *
    * Crash ordering (the [[IncrementalLm]] contract): drift rows are
    * computed from state ∪ increment and emitted BEFORE any state
    * mutates — a retry after a crash recomputes bit-identical rows
    * against the unchanged state (batch-stamped sinks dedup the
    * re-emission); a crash between the ledger and hist appends
    * UNDER-counts the histogram (documented bias), never double-counts. */
  def qualityDriftIncrement(newDocs: DataFrame,
      store: graft.store.TableStore, name: String, ref: DataFrame,
      groupCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text",
      emit: DataFrame => Unit = _ => ()): DataFrame = {
    // feeds the histogram AND the ledger append
    val fresh = freshDocs(newDocs, store, docsName(name), idCol,
      Seq(groupCol, textCol))
    val q4 = TextAnalysis.qualityScoreQ4(col(textCol))
    val bCounts = fresh.select(col(groupCol),
        ((q4 - pmod(q4, lit(1000L))) / 1000L).cast("long").as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // feeds the accumulated view AND the append
    val acc = histSums(store.readOrEmpty(histName(name), histSchema(groupCol))
      .unionByName(bCounts), groupCol)
    val drift = Stats
      .histogramDriftFromCounts(acc, ref, groupCol, "bin", "n")
      .localCheckpoint(true) // pin the output BEFORE the state mutates
    emit(drift)
    store.appendStaged(docsName(name), fresh.select(col(idCol)))
    store.appendStaged(histName(name), bCounts)
    drift
  }

  // ------------------- incremental tokenizer-fertility/OOV monitor (r18)

  private def fertName(name: String) = s"${name}_fert"
  private def fertSchema(langCol: String) = StructType(Seq(
    StructField(langCol, StringType), StructField("n_docs", LongType),
    StructField("n_words", LongType), StructField("n_tokens", LongType),
    StructField("n_unk_words", LongType)))
  /** Re-reduce per-language count slices to one row per language. */
  private def fertSums(fert: DataFrame, langCol: String): DataFrame =
    fert.groupBy(col(langCol))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_unk_words")).as("n_unk_words"))

  /** Fold one increment into the standing per-language token/word/[UNK]
    * sums under a FROZEN WordPiece vocabulary and return the ACCUMULATED
    * fertility/OOV datasheet — the incremental face of q_tok_oov
    * (VERDICT r17 #6): pipelines watch tokenizer fertility and OOV drift
    * ON THE INGEST STREAM, because a vocabulary frozen against
    * yesterday's distribution degrades quietly as today's crawl shifts.
    *
    * State: `<name>_fert` (lang, n_docs, n_words, n_tokens, n_unk_words)
    * per-increment count slices (model-sized: langs × increments,
    * compactable) + `<name>_docs` first-write-wins ledger shared in
    * shape with [[qualityDriftIncrement]] — re-delivery counts nothing,
    * within-batch duplicates count once. Per-increment cost: one
    * tokenize pass over the increment (per-distinct-word greedy walk
    * against the broadcast vocab — type-bounded, the q_text_heaps
    * saturation argument) + a facet-sized merge; the corpus is never
    * rescanned.
    *
    * Crash ordering (the [[IncrementalLm]] contract): the datasheet is
    * computed from state ∪ increment and emitted BEFORE any state
    * mutates — a retry recomputes bit-identical rows; a crash between
    * the ledger and slice appends UNDER-counts, never double-counts.
    * Output columns exactly match the batch twin q_tok_oov:
    * (lang, n_docs, n_words, n_tokens, n_unk_words, oov_rate,
    * fertility), rates on the frac4 lattice over the EXACT accumulated
    * integer sums — so the stream's datasheet after any slicing equals
    * the batch datasheet over everything ingested. */
  def tokFertilityIncrement(newDocs: DataFrame,
      store: graft.store.TableStore, name: String,
      vocab: Seq[(String, Long)], langCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text",
      emit: DataFrame => Unit = _ => ()): DataFrame = {
    // feeds the slice AND the ledger append
    val fresh = freshDocs(newDocs, store, docsName(name), idCol,
      Seq(langCol, textCol))
    val tb = WordPiece.tokenizeBert(fresh, vocab, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("n_unk_words"))
    val slice = fresh
      .select(col(idCol), col(langCol), Bpe.pieceCount(col(textCol)).as("nw"))
      .join(tb, Seq(idCol))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_unk_words")).as("n_unk_words"))
      .localCheckpoint(true) // feeds the accumulated view AND the append
    val acc = fertSums(store.readOrEmpty(fertName(name), fertSchema(langCol))
      .unionByName(slice), langCol)
    def frac4(num: Column, den: Column): Column = {
      val scaled = num * lit(10000L)
      when(den > 0,
        ((scaled - pmod(scaled, den)) / den).cast("double") / 10000.0)
        .otherwise(lit(0.0))
    }
    val sheet = acc.select(col(langCol), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_unk_words"),
        frac4(col("n_unk_words"), col("n_words")).as("oov_rate"),
        frac4(col("n_tokens"), col("n_words")).as("fertility"))
      .localCheckpoint(true) // pin the output BEFORE the state mutates
    emit(sheet)
    store.appendStaged(docsName(name), fresh.select(col(idCol)))
    store.appendStaged(fertName(name), slice)
    sheet
  }

  /** The standing per-language sums (re-reduced) — equals the batch
    * sums over everything ingested, under any slicing. */
  def fertilityState(store: graft.store.TableStore, name: String,
      langCol: String = "lang"): DataFrame =
    fertSums(store.readOrEmpty(fertName(name), fertSchema(langCol)), langCol)

  /** The standing histogram (group, bin, n), re-reduced — equals the
    * batch histogram over everything ingested, under any slicing. */
  def driftState(store: graft.store.TableStore, name: String,
      groupCol: String = "source"): DataFrame =
    histSums(store.readOrEmpty(histName(name), histSchema(groupCol)), groupCol)
}
