package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.store.TableStore

/** Prequential (online) Kneser–Ney LM scoring — the LM face of the
  * incremental triad ([[IncrementalDedup]] index, [[IncrementalTokens]]
  * memo, this): a standing bigram-count state lets each increment of a
  * growing corpus be perplexity-scored against the model of EVERYTHING
  * ingested so far, at O(increment + model) cost — the corpus is never
  * re-tokenized. This is Dawid's prequential evaluation shape (each
  * batch scored by the model trained on data up to and including it),
  * and the form a continuous CCNet-style quality filter has in
  * production: the LM sharpens as the crawl grows, and early documents
  * are never re-read.
  *
  * Semantics (the PREFIX LAW, asserted in IncrementalLmSpec and by the
  * q_text_lm_kn_incr oracle): increment i's output rows are EXACTLY
  * [[TextAnalysis.lmScoreKn]] computed over the union of increments
  * 1..i, restricted to increment i's documents — prequential-inclusive,
  * so every scored bigram has c12 ≥ 1 and the KN clamps stay vacuous,
  * exactly as in the batch operator. The final state's counts equal the
  * batch model's counts under any slicing.
  *
  * Why Kneser–Ney and not add-one: EVERY quantity interpolated KN needs
  * (c12, c1 = Σ_w2 c12, N1+(w1·), N1+(·w2), N1+(··)) derives from the
  * bigram-count table alone — the state is ONE table; add-one would
  * additionally need the out-of-context vocabulary. The model table is
  * vocab²-bounded and heavy-tailed SMALL (Zipf does the bounding — the
  * same argument as [[TextAnalysis.lmScoreKn]]'s one-shuffle shape), so
  * the per-increment model aggregate is a model-sized shuffle, never a
  * corpus-sized one.
  *
  * State (two tables in a [[TableStore]]):
  *  - `<name>_bg`:   (g, c) — per-increment pre-aggregated n-gram
  *    counts, APPENDED (merge happens at read: a groupBy-sum over
  *    state ∪ increment — append keeps every increment O(increment)
  *    on the write side and replay-auditable); one store per n-gram
  *    order ([[scoreIncrement]] n=2, [[scoreIncrement3]] n=3);
  *  - `<name>_docs`: (id) — the ingested-document ledger; re-delivered
  *    ids are FIRST-WRITE-WINS (a replayed increment scores and counts
  *    nothing — the [[IncrementalDedup]] idempotence contract).
  *
  * Crash ordering (ADVICE r15): the commit sequence is scores-out →
  * docs ledger → counts, each via [[TableStore.appendStaged]], so any
  * single crash + at-least-once retry biases toward UNDER-counting,
  * never inflation or lost output:
  *  - crash before the ledger lands → the retry re-derives the same
  *    docs as fresh and re-emits identical rows (the standing model is
  *    untouched, so the recompute is bit-identical; batch-stamped
  *    outputs dedup the duplicate emission downstream);
  *  - crash between ledger and counts → the docs' scores are already
  *    out, the retry skips them (ledgered), and the model under-counts
  *    that increment — the safe direction for a quality filter. The
  *    counts-first order this replaced could double-count an increment
  *    on replay; ledger-first cannot.
  */
object IncrementalLm {

  private def bgName(name: String) = s"${name}_bg"
  private def docsName(name: String) = s"${name}_docs"

  private val bgSchema = StructType(Seq(
    StructField("g", StringType),
    StructField("c", LongType)))

  /** Score one increment against the accumulated BIGRAM model
    * (prequential-inclusive: the increment's own counts fold in first),
    * then append its counts and doc ids to the state. Returns (id,
    * n_bigrams, kn_ppm) for the increment's FRESH documents — the
    * [[TextAnalysis.lmScoreKn]] output contract. `emit` runs on the
    * pinned output BEFORE any state mutates — sinks durable-write their
    * scores through it so a crash mid-commit can never lose a scored
    * batch (see the crash-ordering contract above). */
  def scoreIncrement(newDocs: DataFrame, store: TableStore, name: String,
      idCol: String = "doc_id", textCol: String = "text",
      emit: DataFrame => Unit = _ => ()): DataFrame =
    scoreWith(newDocs, store, name, 2,
      c => TextAnalysis.knPpmFromCounts(c.withColumnRenamed("c", "c12")
        .withColumnRenamed("g", "bg")).withColumnRenamed("bg", "g"),
      "n_bigrams", "kn_ppm", idCol, textCol, emit)

  /** The TRIGRAM face: the same state mechanics over trigram counts,
    * scored with the [[TextAnalysis.lmScoreKn3]] lattice — online
    * perplexity filtering at the order real filters run at. One store
    * per n-gram order (the counts tables must never mix). */
  def scoreIncrement3(newDocs: DataFrame, store: TableStore, name: String,
      idCol: String = "doc_id", textCol: String = "text",
      emit: DataFrame => Unit = _ => ()): DataFrame =
    scoreWith(newDocs, store, name, 3,
      c => TextAnalysis.kn3PpmFromCounts(c.withColumnRenamed("c", "c123")
        .withColumnRenamed("g", "tg")).withColumnRenamed("tg", "g"),
      "n_trigrams", "kn3_ppm", idCol, textCol, emit)

  /** The shared prequential mechanics around a pluggable count-table →
    * (g, ppm) model — ledger first-write-wins
    * ([[IncrementalAgg.freshDocs]]: a doc counts once, even when one
    * increment carries it twice), one increment tokenization,
    * model-sized count merge, score, pin, emit, then commit state in the
    * crash-safe order (ledger before counts). */
  private def scoreWith(newDocs: DataFrame, store: TableStore, name: String,
      n: Int, ppmOf: DataFrame => DataFrame, nOut: String, ppmOut: String,
      idCol: String, textCol: String, emit: DataFrame => Unit): DataFrame = {
    // feeds occurrences, the output left join, and the ledger append
    val fresh = IncrementalAgg.freshDocs(newDocs, store, docsName(name),
      idCol, Seq(textCol))
    // one increment tokenization: feeds the increment counts AND the
    // scoring join (the lmScore checkpoint discipline)
    val b = fresh.select(col(idCol),
      explode(Hashing.ngrams(Hashing.words(col(textCol)), n)).as("g"))
      .localCheckpoint(true)
    val incCounts = b.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the model merge AND the state append
    // accumulated model: state ∪ increment, re-reduced — a model-sized
    // aggregate (vocabⁿ-bounded, heavy-tail small), never corpus-sized
    val counts = store.readOrEmpty(bgName(name), bgSchema)
      .unionByName(incCounts)
      .groupBy(col("g")).agg(sum(col("c")).as("c"))
      .localCheckpoint(true) // the model derivations read it 4-6 times
    val scored = b.join(ppmOf(counts), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(nOut), sum(col("ppm")).as("s"))
      .select(col(idCol), col(nOut),
        ((col("s") - pmod(col("s"), col(nOut))) / col(nOut))
          .cast("long").as(ppmOut))
    val out = fresh.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(nOut), lit(0L)).as(nOut),
        coalesce(col(ppmOut), lit(0L)).as(ppmOut))
      .localCheckpoint(true) // pin results BEFORE the state mutates below
    // commit order is load-bearing (ADVICE r15 — see the class doc):
    // scores out first (a retry after a crash here recomputes the same
    // rows), then the docs ledger, then counts — so no single crash can
    // inflate the model or lose a scored batch. Staged appends keep a
    // mid-write crash from leaving half-visible increments.
    emit(out)
    store.appendStaged(docsName(name), fresh.select(col(idCol)))
    store.appendStaged(bgName(name), incCounts)
    out
  }

  /** The accumulated model's n-gram counts (g, c) — equals the batch
    * model over everything ingested, under any slicing (the state half
    * of the prefix law). */
  def modelState(store: TableStore, name: String): DataFrame =
    store.readOrEmpty(bgName(name), bgSchema)
      .groupBy(col("g")).agg(sum(col("c")).as("c"))

  /** Compact the count state to one row per n-gram: the `<name>_bg`
    * table accretes one appended slice PER INCREMENT (that is what
    * keeps the write side O(increment)), so after many increments the
    * read-side merge re-reduces ever more rows and the directory
    * collects ever more small files. Folding the table to its
    * [[modelState]] is semantics-preserving (groupBy-sum is the merge
    * the readers run anyway) and atomic ([[TableStore.overwrite]]'s
    * tmp-then-swap), so it can run as table maintenance between
    * increments — the LM-state analogue of [[TableStore.compact]],
    * which rewrites files but not rows. */
  def compactModel(store: TableStore, name: String): Unit =
    store.overwrite(bgName(name), modelState(store, name))
}
