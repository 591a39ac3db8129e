package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Classifier, Curation, Decontamination, Dedup, Eval, Hashing, Multimodal, Privacy, Similarity, TextAnalysis}
import graft.ops.Mat.Cp

/** Query + oracle registry for the training-data-pipeline surface
  * (graft.ext): dedup, similarity search, text analysis, multimodal
  * plumbing. Not in the reference (which has no text processing) — this is
  * the north-star extension layer, verified the same way as the relational
  * surface: every query has a DuckDB oracle that replicates the full
  * operator chain (including LSH candidate generation), so the driver's
  * hash-compare checks the algorithms end-to-end, not just row counts.
  *
  * Cross-engine determinism: all hashing goes through Hashing.hexInt
  * (md5-based, identical in DuckDB); RATIONAL scores (jaccard, tf-idf,
  * quality) are 4-decimal fixed-point via integer floor-division — never
  * round(), which is engine-dependent exactly at decimal midpoints —
  * and irrational scores (cosines) are rounded BEFORE any threshold
  * filter or ranking on both sides, so boundary rows and ties resolve
  * identically.
  */
object ExtQueries {
  /** documents/embeddings arrive as single-row-group parquet → one input
    * split, so every hash/dot-product below would run single-threaded.
    * These operators are compute-bound per row (md5 per shingle/gram, 64-d
    * dot products), so spreading the narrow stage across cores is worth
    * one small shuffle — the same call a cluster job makes when input
    * splits are fewer than cores. CONDITIONAL (VERDICT r9 #4): a real
    * multi-split corpus already covers the cores, and an unconditional
    * repartition would insert a gratuitous full-text round-robin Exchange
    * before every scan-bound operator. */
  private def widen(df: DataFrame, s: SparkSession): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }
  private def docs(s: SparkSession, dir: String): DataFrame =
    widen(graft.Tables.load(s, dir, "documents"), s)
  private def emb(s: SparkSession, dir: String): DataFrame =
    widen(graft.Tables.load(s, dir, "embeddings"), s)

  // ------------------------------------------------------------- dedup
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir))

  /** Exact dedup after canonical normalization — reformatted byte-level
    * variants collapse; same digest-groupBy cost as q_dedup_exact. */
  def qDedupNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.normalizedExact(docs(s, dir))

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(docs(s, dir), threshold = 0.5)

  def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.5)

  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(docs(s, dir), maxDist = 3)

  def qDedupFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintNearDups(docs(s, dir), threshold = 0.5)

  // ----------------------------------------------------------- text
  def qTextStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
      TextAnalysis.langId(col("text")).as("lang_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.distinctGramCount(col("text")).as("n_grams"))

  // ----------------------------------------------------- curation
  /** Language-balanced sample: 50 % of English docs, 20 % of the rest. */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(docs(s, dir),
      TextAnalysis.langId(col("text")), Map("en" -> 50), defaultRate = 20)

  def qTextTfidf(s: SparkSession, dir: String): DataFrame =
    Curation.tfidfTopTerms(docs(s, dir), k = 5)

  /** PII redaction over deterministically enriched text (every 3rd doc
    * gains an email, every 5th a phone number — so both patterns are
    * genuinely exercised and absence is tested too). */
  def qTextRedact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" Contact: user"), col("doc_id").cast("string"),
              lit("@mail.example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" tel 555-123-4567"))
            .otherwise(lit(""))).as("t"))
      .select(col("doc_id"),
        Curation.emailCount(col("t")).as("n_emails"),
        Curation.phoneCount(col("t")).as("n_phones"),
        Curation.redactPii(col("t")).as("clean_text"))

  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(docs(s, dir), threshold = 0.5)

  def qTextChunks(s: SparkSession, dir: String): DataFrame =
    Curation.chunkTokens(docs(s, dir), chunkSize = 64, stride = 48)

  /** Committed-BPE tokenization: per-doc subword count plus an
    * order-sensitive digest of the full token sequence, so the oracle
    * pins the exact tokenization, not just the count. */
  def qTextBpe(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    docs(s, dir).select(col("doc_id"),
      Bpe.tokenCount(col("text")).as("n_tokens"),
      Bpe.tokenDigest(col("text")).as("tok_digest"))
  }

  /** Byte-level BPE tokenization (GPT-2/tiktoken convention, VERDICT
    * r15 #4): the same committed merges replayed over the 256-byte
    * alias alphabet — no [UNK] by construction. Same per-doc count +
    * order-sensitive digest contract as q_text_bpe. */
  def qTextBpeBytes(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    docs(s, dir).select(col("doc_id"),
      Bpe.tokenCountBytes(col("text")).as("n_tokens"),
      Bpe.tokenDigestBytes(col("text")).as("tok_digest"))
  }

  /** Byte-face vs char-face parity: on ASCII text the byte aliases ARE
    * the chars, so the two faces must emit identical token sequences —
    * tokens_match pins that per doc (the fixture corpus is all-ASCII,
    * so corpus-wide 1s; a non-ASCII doc would diverge by byte-splitting
    * its multi-byte chars, never by emitting [UNK]). */
  def qBpeBytesParity(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    // each face's token array materializes ONCE in the inner projection
    // and count + digest derive from the materialized slot (VERDICT r17
    // #4: the old form ran tokenCount AND tokenDigest per face — FOUR
    // 64-replace folds per row in one expression tree; CollapseProject
    // keeps the split because the array is referenced twice, so this is
    // two folds per row, still one scan, zero shuffle). Null contract
    // unchanged: null text → n_tokens 0, digest NULL, match NULL.
    docs(s, dir)
      .select(col("doc_id"), Bpe.tokens(col("text")).as("tc"),
        Bpe.tokensBytes(col("text")).as("tb"))
      .select(col("doc_id"),
        when(col("tc").isNull, lit(0L))
          .otherwise(size(col("tc")).cast("long")).as("n_tokens_char"),
        when(col("tb").isNull, lit(0L))
          .otherwise(size(col("tb")).cast("long")).as("n_tokens_bytes"),
        (when(col("tc").isNull, lit(null).cast("string"))
            .otherwise(md5(concat_ws(Bpe.sep, col("tc")))) ===
          when(col("tb").isNull, lit(null).cast("string"))
            .otherwise(md5(concat_ws(Bpe.sep, col("tb")))))
          .cast("int").cast("long").as("tokens_match"))
  }

  /** Quality-score drift between two corpus slices — the number a
    * quality-filter owner watches across crawl snapshots: per source,
    * the TOTAL-VARIATION distance between the two slices' quality
    * histograms (q4 score bucketed to 10 bins; slices = even/odd
    * doc_id, standing in for old-crawl vs new-crawl). TVD is the
    * exact-lattice drift metric — PSI and KL need `ln`, which would
    * hash-flake across engines, while ½·Σ|p−q| reduces to one integer
    * floor division: tvd_q4 = ⌊10⁴·Σ|aᵢ·nb − bᵢ·na| / (2·na·nb)⌋ with
    * every product exact in decimal(38,0). Shape: one corpus pass to
    * (source, bin, slice) counts (map-side combined), per-source totals
    * broadcast back — everything after the first aggregate is
    * facet-sized. A source present in only one slice reports TVD 1. */
  def qQualityDrift(s: SparkSession, dir: String): DataFrame = {
    val q4 = TextAnalysis.qualityScoreQ4(col("text"))
    graft.ext.Stats.histogramDrift(
      docs(s, dir).select(col("source"),
        pmod(col("doc_id"), lit(2L)).as("slice"),
        ((q4 - pmod(q4, lit(1000L))) / 1000L).cast("long").as("bin")),
      "source", "slice", "bin")
  }

  /** Tokenizer fertility per language — the standard tokenizer-choice
    * readout (tokens per word, chars per token): a high-fertility
    * language pays more sequence length per word under the committed
    * vocabulary, the per-language table every multilingual tokenizer
    * eval tabulates before freezing a vocab. One corpus pass — the
    * per-doc BPE token, word and char counts are pure projections
    * riding one scan; per-lang sums map-side combine; both ratios land
    * on the frac4 lattice from exact integer sums. */
  def qTokFertility(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    docs(s, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Hashing.words(col("text"))).cast("long")).as("n_words"),
        sum(Bpe.tokenCount(col("text"))).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        frac4Col(col("n_tokens"), col("n_words")).as("fertility"),
        frac4Col(col("n_chars"), col("n_tokens")).as("chars_per_token"))
  }

  /** Per-language OOV / [UNK] datasheet under a FROZEN BERT-style
    * WordPiece vocabulary — the tokenizer-drift readout a multilingual
    * crawl pipeline watches (the BPE faces cannot produce it: char BPE
    * keeps every char, byte BPE has no [UNK] by construction — only
    * the whole-word-[UNK] convention makes OOV a real number). The
    * frozen vocab is the committed one MINUS its rare-letter pieces
    * (q/j/k/x/z) — the deployment scenario the readout exists for: a
    * tokenizer trained on yesterday's distribution meets today's
    * crawl, and whole words fall out (the committed vocab's single-
    * char fallback otherwise covers everything and the column is a
    * constant 0). oov_rate = [UNK] words / pre-token words; fertility
    * rides the same per-lang sums. One tokenize pass (per-distinct-
    * word walk over the broadcast vocabulary) + one lang aggregate. */
  private[queries] val oovVocab: Seq[(String, Long)] =
    graft.ext.WordPiece.bertPieces
      .filterNot { case (p, _) => p.exists("qjkxz".contains(_)) }

  def qTokOov(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.WordPiece
    val d = docs(s, dir)
    val tb = WordPiece.tokenizeBert(d, oovVocab)
      .select(col("doc_id"), col("n_tokens"), col("n_unk_words"))
    // pieceCount, not bpeTokenCount: the oracle's denominator is
    // len(piecesSql(text)) — the two must be the IDENTICAL pre-tokenizer
    // expression or a non-ASCII draw diverges (ADVICE r17)
    d.select(col("doc_id"), col("lang"),
        graft.ext.Bpe.pieceCount(col("text")).as("nw"))
      .join(tb, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_unk_words")).as("n_unk_words"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_unk_words"),
        frac4Col(col("n_unk_words"), col("n_words")).as("oov_rate"),
        frac4Col(col("n_tokens"), col("n_words")).as("fertility"))
  }

  /** BPE vocabulary induction: learn 12 merges from the corpus (one
    * corpus-wide word-count shuffle, then cheap iterations over the
    * cached weighted vocab). The result is the ranked merges table a
    * tokenizer file ships — the learn-time face of q_text_bpe's
    * committed-merges apply. */
  def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    val m = Bpe.train(docs(s, dir), numMerges = 12)
    import s.implicits._
    m.zipWithIndex
      .map { case ((l, r, c), i) => (i.toLong, l, r, c) }
      .toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** End-to-end learned tokenizer: train 12 merges on the corpus, then
    * tokenize the same corpus under them — the full vocab-induction →
    * corpus-tokenization pipeline in one query. The oracle learns AND
    * applies in a single statement. */
  def qTextBpeTrained(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    val d = docs(s, dir)
    val learned = Bpe.train(d, numMerges = 12).map { case (l, r, _) => (l, r) }
    val toks = Bpe.tokensWith(col("text"), learned)
    d.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      when(col("text").isNull, lit(null).cast("string"))
        .otherwise(md5(concat_ws(Bpe.sep, toks))).as("tok_digest"))
  }

  /** [[qTextChunks]] denominated in committed-BPE subwords. */
  def qTextChunksBpe(s: SparkSession, dir: String): DataFrame =
    Curation.chunkBpe(docs(s, dir), chunkSize = 64, stride = 48)

  /** [[qTextPack]] budgeted in committed-BPE subwords. */
  def qTextPackBpe(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(docs(s, dir), budgetTokens = 256, buckets = 8,
      tokensOf = graft.ext.Bpe.tokenCount)

  /** Incremental decontamination e2e (VERDICT r9 #6): index the eval
    * gram state once, gate two OVERLAPPING training increments against
    * it (the replayed ids are first-write-wins no-ops), and return the
    * standing verdict table — which must hash-match the one-shot full
    * recompute's oracle exactly: per-doc verdicts against a fixed eval
    * state compose over any increment partition. */
  def qDecontamIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "decontam_incr"))
    store.drop("decontam_grams")
    store.drop("decontam_verdicts")
    Decontamination.indexEval(store, "decontam",
      d.filter(col("doc_id") % 97 === 0))
    val train = d.filter(col("doc_id") % 97 =!= 0)
    Decontamination.decontaminateIncrement(store, "decontam",
      train.filter(col("doc_id") < 250))
    Decontamination.decontaminateIncrement(store, "decontam", train)
    Decontamination.decontaminationState(store, "decontam")
  }

  /** Incremental "what's new" gate: docs whose content digest is absent
    * from the simulated known corpus (doc_id < 100 stands in for the
    * previously-trained set; exact copies of known docs drop out). */
  def qDedupNovel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.novelAgainst(d, d.filter(col("doc_id") < 100))
  }

  def qTextNormalize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      Curation.normalizeText(col("text")).as("norm_text"),
      length(Curation.normalizeText(col("text"))).cast("long").as("norm_len"))

  /** The end-to-end curation funnel — normalize → quality gate →
    * language gate → exact-dedup canonical → token count — composed from
    * the standalone operators exactly as a user would chain them. Every
    * stage is a projection or one digest-keyed shuffle; the funnel's
    * selectivity compounds, so downstream stages see a shrinking slice. */
  def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val normalized = docs(s, dir).select(col("doc_id"),
      Curation.normalizeText(col("text")).as("text"))
    // materialize the gate survivors (r18, guide §2.4): `gated` feeds
    // BOTH the canonical-digest aggregate and the semi-join left side,
    // so the normalize + quality + langId regex battery ran twice per
    // doc (measured: 2.27 s → ~1.4 s at sf0.1). Persisting the filtered
    // survivors is the standard funnel materialization point at any
    // scale — every later stage reads the (much smaller) gated slice.
    val gated = normalized.filter(
      TextAnalysis.qualityScore(col("text")) >= 0.5 &&
      TextAnalysis.langId(col("text")) === "en")
      .cp()
    val canon = Dedup.exact(gated, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    gated.join(canon, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("tokens"))
  }

  /** Round-4 curation funnel: rule gate → split → domain cap — the
    * pre-training admission pipeline as one chained query. Every stage
    * is a pure integer decision, so the composition is hash-exact. */
  def qCurationFunnel2(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = d.join(
      TextAnalysis.gopherFlags(d).filter(col("keep") === 1L)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val train = kept.join(
      Curation.hashSplit(kept).filter(col("split") === "train")
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    Curation.capPerGroup(train, col("source"), cap = 40)
  }

  /** Entity-resolution fuzzy join over the DISTINCT part-name dictionary
    * (entity resolution's natural input is the key dictionary, not the
    * fact — part re-uses 64 names across thousands of rows, and running
    * the pairing on the fact would just enumerate exact-duplicate pairs
    * quadratically). Each name keys by its smallest part id; every 7th
    * such entity re-enters with its 5th character dropped (edit distance
    * exactly 1, ids at +10,000,000), and segment-blocked levenshtein
    * pairs typos back up alongside any naturally-close names. */
  def qDedupFuzzy(s: SparkSession, dir: String): DataFrame = {
    val names = graft.Tables.load(s, dir, "part")
      .groupBy(col("p_name").as("nm"))
      .agg(min(col("p_partkey")).cast("long").as("id"))
      .select(col("id"), col("nm"))
      .repartition(s.sparkContext.defaultParallelism)
    val dirty = names.filter(col("id") % 7 === 0)
      .select((col("id") + 10000000L).as("id"),
        concat(substring(col("nm"), 1, 4), expr("substring(nm, 6)")).as("nm"))
    Dedup.editDistancePairs(names.unionByName(dirty), maxDist = 1, "id", "nm")
  }

  /** Text near-dup pairs cross-checked by embedding cosine. */
  def qDedupCrossmodal(s: SparkSession, dir: String): DataFrame =
    Dedup.crossModalNearDups(docs(s, dir), emb(s, dir), threshold = 0.5)

  /** Three reproducible example docs per language stratum. */
  def qSamplePerGroup(s: SparkSession, dir: String): DataFrame =
    Curation.samplePerGroup(docs(s, dir), TextAnalysis.langId(col("text")), k = 3)

  /** Decontamination vs a simulated held-out benchmark (doc_id % 97 == 0
    * stands in for the eval set); training corpus = everything else. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Decontamination.overlapStats(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0))
  }

  /** Contamination n-sensitivity sweep (n = 2..5 in one corpus pass):
    * same train/eval carve; one row per n with doc/gram contamination
    * fractions — the table that picks the operating n. */
  def qDecontamProfile(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Decontamination.overlapProfile(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0))
  }

  /** Span-level decontamination: same train/eval carve as
    * q_decontaminate, but contaminated documents lose ONLY the words a
    * shared n-gram covers (clean_text + audit counts) instead of being
    * dropped wholesale. */
  def qDecontamExcise(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Decontamination.exciseOverlaps(
      d.filter(col("doc_id") % 97 =!= 0),
      Decontamination.evalGrams(d.filter(col("doc_id") % 97 === 0)))
  }

  /** Span-level decontamination-by-excision (VERDICT r17 #5): same
    * train/eval carve, but at CHAR k-gram granularity — every maximal
    * char span of a train doc whose 20-grams all occur in the frozen
    * eval slice is cut (all instances: the canonical copy lives in the
    * eval corpus). The Lee et al. (2022) split q_dedup_excise runs
    * within-corpus, run across the corpus boundary — the form real
    * pipelines use against benchmarks and already-trained-on crawls. */
  def qDecontamSpans(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.exciseCrossSpans(
      d.filter(col("doc_id") % 97 =!= 0),
      Dedup.spanGrams(d.filter(col("doc_id") % 97 === 0)))
  }

  /** Incremental span excision: the frozen eval slice's span grams are
    * indexed ONCE, then the train carve arrives in two increments (with
    * the second re-delivering the first — first-write-wins absorbs it).
    * Because a rewrite is a pure function of (doc, frozen gram state),
    * the standing table equals the batch q_decontam_spans result
    * exactly — the oracle IS the batch SQL. */
  def qDecontamSpansIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "decontam_spans_incr"))
    store.drop("dsp_span_grams")
    store.drop("dsp_span_clean")
    Decontamination.indexEvalSpans(store, "dsp",
      d.filter(col("doc_id") % 97 === 0))
    val train = d.filter(col("doc_id") % 97 =!= 0)
    Decontamination.exciseSpansIncrement(store, "dsp",
      train.filter(col("doc_id") < 250))
    Decontamination.exciseSpansIncrement(store, "dsp", train)
    Decontamination.spanExcisionState(store, "dsp")
  }

  /** Span-contamination release gate: per SOURCE, docs carrying
    * frozen-corpus spans and the char fraction those spans cover —
    * contaminationMatrix's sibling at span granularity (doc flags
    * overstate; char_frac says how much text actually leaves). */
  def qDecontamSpanMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Decontamination.spanContaminationMatrix(
      d.filter(col("doc_id") % 97 =!= 0),
      Dedup.spanGrams(d.filter(col("doc_id") % 97 === 0)),
      col("source"))
  }

  /** Semantic decontamination vs the same simulated eval slice
    * (vec_id % 97 ≡ doc_id % 97): embedding-cosine flags the paraphrase
    * proximity lexical n-gram overlap can't see. */
  def qDecontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Decontamination.semanticOverlap(
      e.filter(col("vec_id") % 97 =!= 0), e.filter(col("vec_id") % 97 === 0),
      threshold = 0.4)
  }

  private def dcIndexStore(s: SparkSession, dir: String) =
    new graft.store.TableStore(s, CoreQueries.scratch(dir, "decontam_index"))

  /** Semantic decontamination routed through the persisted IVF-PQ index
    * (VERDICT r13 #3): same output contract as q_decontaminate_semantic,
    * but the eval side runs as index queries instead of broadcasting —
    * the shape that survives an eval set past broadcast size. */
  def qDecontamSemanticIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Decontamination.semanticOverlapIndexed(dcIndexStore(s, dir),
      e.filter(col("vec_id") % 97 =!= 0), e.filter(col("vec_id") % 97 === 0))
  }

  /** The indexed decontamination path graded against the broadcast-exact
    * one on the flagged-item set — recall is the routing's price
    * (precision is 1 by construction: the indexed path re-scores exact
    * cosines over a candidate subset). */
  def qDecontamSemanticIndexedEval(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val train = e.filter(col("vec_id") % 97 =!= 0)
    val evalE = e.filter(col("vec_id") % 97 === 0)
    val t = Decontamination.semanticOverlap(train, evalE)
      .filter(col("is_contaminated") === 1L).select(col("vec_id"))
      .cp()
    val p = Decontamination.semanticOverlapIndexed(dcIndexStore(s, dir),
        train, evalE)
      .filter(col("is_contaminated") === 1L).select(col("vec_id"))
      .cp()
    val nT = t.agg(count(lit(1)).as("n_true"))
    val nP = p.agg(count(lit(1)).as("n_pred"))
    val tp = p.join(t, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    nT.crossJoin(nP).crossJoin(tp).select(
      col("n_true"), col("n_pred"), col("tp"),
      frac4Col(col("tp"), col("n_pred")).as("precision"),
      frac4Col(col("tp"), col("n_true")).as("recall"),
      frac4Col(col("tp") * 2L, col("n_true") + col("n_pred")).as("f1"))
  }

  /** Unigram-LM (SentencePiece-family) tokenization under the COMMITTED
    * vocabulary — the Viterbi complement to q_text_bpe (VERDICT r13 #4). */
  def qTextUnigram(s: SparkSession, dir: String): DataFrame =
    graft.ext.Unigram.tokenize(docs(s, dir), graft.ext.Unigram.pieces)

  /** Memoized incremental tokenization (VERDICT r14 #3): the corpus
    * arrives as two increments against a standing word→tokens memo —
    * only each increment's NEW word types run the Viterbi DP. The union
    * of the increments' outputs is identical to the batch recompute
    * (memo rows are pure functions of the word), so the oracle is
    * q_text_unigram's whole-corpus SQL. */
  def qTextUnigramIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "unigram_incr"))
    store.drop("ug_wordtoks")
    val inc1 = graft.ext.IncrementalTokens.tokenizeIncrement(
      d.filter(col("doc_id") < 250), store, "ug")
    val inc2 = graft.ext.IncrementalTokens.tokenizeIncrement(
      d.filter(col("doc_id") >= 250), store, "ug")
    inc1.unionByName(inc2)
  }

  /** The learned unigram vocabulary (EM + prune on the whole-bit
    * surprisal lattice): (piece, cost, uses) — the q_bpe_train face. */
  def qUnigramTrain(s: SparkSession, dir: String): DataFrame = {
    val m = graft.ext.Unigram.train(docs(s, dir))
    import s.implicits._
    m.toDF("piece", "cost", "uses")
  }

  /** End-to-end learned unigram tokenizer: EM-train on the corpus, then
    * tokenize the same corpus under the learned vocabulary. */
  def qTextUnigramTrained(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val learned = graft.ext.Unigram.train(d).map(x => (x._1, x._2))
    graft.ext.Unigram.tokenize(d, learned)
  }

  /** Token-parity readout: trained BPE (12 merges) vs trained unigram
    * (12 multi-char pieces — the SAME vocabulary budget) per source
    * stratum; chars-per-token on the frac4 lattice is the compression
    * number a pipeline owner compares tokenizers by. */
  def qTextTokenizerParity(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Bpe, Unigram}
    import s.implicits._
    val d = docs(s, dir)
    // ONE corpus pass for everything (r19, guide §2.4): the checkpointed
    // occurrence stream feeds (a) the word-count collect BOTH trainers
    // share (Bpe.train and Unigram.train each ran the identical
    // explode+groupBy+collect job), and (b) both arms' per-doc token
    // totals, priced per DISTINCT word and rejoined — the old body
    // replayed the 12-merge replace chain on every occurrence and ran
    // the full digest-reassembly tokenize contract for an output that
    // only needs per-source token SUMS. Per-source sums are identical:
    // Σ_docs n_tokens = Σ_occurrences |toks(w)| (flatten length is the
    // sum of element lengths), null-text docs carry no occurrences and
    // contributed null/0 exactly as before.
    // word stream WITHOUT positions (sums need no order) and WITHOUT a
    // corpus-sized checkpoint: two columnar scans beat materializing an
    // O(corpus) occurrence table (§2.4 — never checkpoint text-scale
    // intermediates a scan can replay)
    val wordsOf = d.select(col("doc_id"),
      explode(Bpe.pieces(col("text"))).as("w"))
    val vocab = wordsOf.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val bm = Bpe.trainFromVocab(vocab, numMerges = 12)
      .map { case (l, r, _) => (l, r) }
    val uv = Unigram.trainFromWordVocab(vocab).map(x => (x._1, x._2))
    // vocabulary-sized, checkpointed so the corpus-side join sees its
    // true (broadcastable) size
    val wv = Unigram.segmentFrame(Unigram.candFrame(
        wordsOf.select(col("w")).distinct(), uv.toDF("piece", "pcost")))
      .select(col("w"),
        size(Bpe.wordTokensWith(col("w"), bm)).cast("long").as("btw"),
        size(col("toks")).cast("long").as("utw"))
      .cp()
    val per = wordsOf.join(wv, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("btw")).as("bt"), sum(col("utw")).as("ut"))
    d.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("nc"))
      .join(per, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(sum(col("nc")).as("n_chars"),
        sum(col("bt")).as("n_tokens_bpe"),
        // the old unigram arm reported n_tokens = 0 (not null) for
        // null-text docs, so its per-source sum is 0, never null, even
        // for an all-null source — coalesce preserves that corner
        sum(coalesce(col("ut"), lit(0L))).as("n_tokens_unigram"))
      .select(col("source"), col("n_chars"),
        col("n_tokens_bpe"), col("n_tokens_unigram"),
        frac4Col(col("n_chars"), col("n_tokens_bpe"))
          .as("bpe_chars_per_token"),
        frac4Col(col("n_chars"), col("n_tokens_unigram"))
          .as("unigram_chars_per_token"))
  }

  /** WordPiece greedy longest-match tokenize under the COMMITTED
    * unigram vocabulary — the trio's third segmentation rule on the
    * same pieces, so greedy and min-cost are directly comparable. */
  def qTextWordpiece(s: SparkSession, dir: String): DataFrame =
    graft.ext.WordPiece.tokenize(docs(s, dir), graft.ext.Unigram.pieces)

  /** WordPiece under the BPE→WordPiece converted vocabulary (every
    * corpus char + every trained merge output — the HF shipping path). */
  def qTextWordpieceTrained(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ext.WordPiece.tokenize(d,
      graft.ext.WordPiece.vocabFromBpe(d, numMerges = 12))
  }

  /** WordPiece under the FULL BERT conventions (VERDICT r14 #4):
    * `##`-marked continuation pieces, whole-word `[UNK]` on unmatched
    * positions — per-doc token counts, unk counts, and the exact
    * segmentation digest under the committed ##-convention vocabulary. */
  def qTextWordpieceBert(s: SparkSession, dir: String): DataFrame =
    graft.ext.WordPiece.tokenizeBert(docs(s, dir),
      graft.ext.WordPiece.bertPieces)

  /** BERT-vs-flat parity readout on the SAME bare pieces: what the
    * position-dependent rule (initial-only long pieces, `##`
    * continuations, whole-word [UNK]) costs against the
    * position-independent greedy, per source — token totals, unk words,
    * and docs whose token count moved. */
  def qTokenizerBertParity(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Unigram, WordPiece}
    import s.implicits._
    val d = docs(s, dir)
    // ONE corpus pass for BOTH arms (r19, guide §2.4): each tokenize
    // face ran its own posexplode + order-preserving digest reassembly,
    // but this readout needs only additive per-doc totals — flat tokens,
    // bert tokens, unk words are all Σ_occurrences of a per-WORD value,
    // so one occurrence stream joins one per-distinct-word table carrying
    // both walks. Per-doc values are identical to the two contracts'
    // (flatten length = Σ element lengths; per-word [UNK] count = the
    // flattened filter count); null-text docs carried ft=bt=bu=0 there
    // and coalesce to 0 here.
    // word stream WITHOUT positions (sums need no order) and WITHOUT a
    // corpus-sized checkpoint (§2.4 — two columnar scans beat
    // materializing an O(corpus) occurrence table)
    val wordsOf = d.select(col("doc_id"),
      explode(graft.ext.Bpe.pieces(col("text"))).as("w"))
    val dw = wordsOf.select(col("w")).distinct()
    val flat = WordPiece.segmentFrame(Unigram.candFrame(dw,
        Unigram.pieces.toDF("piece", "pcost"), WordPiece.maxLen))
      .withColumnRenamed("toks", "tf")
    val bert = WordPiece.bertWordToks(dw, WordPiece.bertPieces)
      .withColumnRenamed("toks", "tb")
    // vocabulary-sized, checkpointed so the corpus-side join sees its
    // true (broadcastable) size
    val wv = flat.join(bert, Seq("w")).select(col("w"),
      size(col("tf")).cast("long").as("ftw"),
      size(col("tb")).cast("long").as("btw"),
      size(filter(col("tb"), t => t === lit(WordPiece.unk)))
        .cast("long").as("buw"))
      .cp()
    val per = wordsOf.join(wv, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ftw")).as("ft0"), sum(col("btw")).as("bt0"),
        sum(col("buw")).as("bu0"))
    d.select(col("doc_id"), col("source"))
      .join(per, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("ft0"), lit(0L)).as("ft"),
        coalesce(col("bt0"), lit(0L)).as("bt"),
        coalesce(col("bu0"), lit(0L)).as("bu"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ft")).as("n_tokens_flat"),
        sum(col("bt")).as("n_tokens_bert"),
        sum(col("bu")).as("n_unk_words"),
        sum(when(col("ft") =!= col("bt"), 1L).otherwise(0L))
          .as("n_docs_differ"))
  }

  /** Greedy-vs-optimal segmentation gap per source: both tokenizers on
    * the SAME committed vocabulary — token totals and how many docs
    * segment differently (digest mismatch). The number that says what
    * WordPiece's O(1)-lookahead rule costs against the Viterbi optimum. */
  def qTokenizerGreedyGap(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Unigram, WordPiece}
    import s.implicits._
    val d = docs(s, dir)
    // ONE corpus pass + ONE candidate frame for BOTH arms (r19, guide
    // §2.4): the two tokenize faces each ran their own posexplode,
    // candidate build and digest-reassembly contract. The committed
    // pieces are all ≤ Unigram.maxPieceLen chars, so the candidate frame
    // at WordPiece.maxLen contains EXACTLY the rows the Viterbi frame
    // does (an l > maxPieceLen substring is never in the vocabulary and
    // l > 1 non-matches are filtered) — one frame feeds both walks.
    // n_docs_differ needs no digests: per-word token arrays are exact
    // segmentations (nonempty tokens concatenating to w), so neither
    // arm's array can be a strict prefix of the other's and two docs'
    // token STREAMS differ iff SOME occurrence's per-word arrays differ
    // — the first differing token of the first differing occurrence is
    // a stream position where the digested streams diverge.
    // word stream WITHOUT positions (sums and the any-occurrence differ
    // flag need no order) and WITHOUT a corpus-sized checkpoint (§2.4)
    val wordsOf = d.select(col("doc_id"),
      explode(graft.ext.Bpe.pieces(col("text"))).as("w"))
    val cf = Unigram.candFrame(wordsOf.select(col("w")).distinct(),
      Unigram.pieces.toDF("piece", "pcost"), WordPiece.maxLen)
    // vocabulary-sized, checkpointed so the corpus-side join sees its
    // true (broadcastable) size
    val wv = Unigram.segmentFrame(cf).withColumnRenamed("toks", "tu")
      .join(WordPiece.segmentFrame(cf).withColumnRenamed("toks", "tw"),
        Seq("w"))
      .select(col("w"),
        size(col("tu")).cast("long").as("utw"),
        size(col("tw")).cast("long").as("wtw"),
        when(col("tu") === col("tw"), 0L).otherwise(1L).as("dfw"))
      .cp()
    val per = wordsOf.join(wv, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("utw")).as("ut"), sum(col("wtw")).as("wt"),
        max(col("dfw")).as("df"))
    d.select(col("doc_id"), col("source"))
      .join(per, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        // the old arms reported n_tokens = 0 (not null) for null-text
        // docs and digest <=> digest = true for them — coalesce keeps
        // both corners bit-identical
        sum(coalesce(col("ut"), lit(0L))).as("n_tokens_unigram"),
        sum(coalesce(col("wt"), lit(0L))).as("n_tokens_wordpiece"),
        sum(coalesce(col("df"), lit(0L))).as("n_docs_differ"))
  }

  /** Matryoshka truncation recall (Kusupati et al. 2022 evaluation
    * shape): exact cosine top-5 using only the FIRST 16 of 64 dims,
    * graded against the full-dim exact top-5 per query — the readout
    * that says whether prefix-truncated embeddings (4× cheaper to
    * scan, shuffle and index) retrieve the same neighbors. */
  def qSimMatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val e16 = e.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val truth = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), 5)
      .select(col("query_id"), col("neighbor_id")).cp()
    val pred = Similarity
      .bruteForceTopK(e16, e16.filter(col("vec_id") < 8), 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = pred.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    truth.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("k"),
        frac4Col(coalesce(col("hits"), lit(0L)), col("k")).as("recall"))
  }

  /** Gopher-style repetition battery over word bigrams. */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(docs(s, dir), n = 2)

  /** Gopher rule battery: five integer keep/drop flags + conjunction. */
  def qTextGopher(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFlags(docs(s, dir))

  /** Hashing-trick vectors, reported as exact integer invariants (nnz,
    * L1, L2², position checksum — the last pins bucket PLACEMENT, not
    * just the multiset of values). */
  def qTextHashvec(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayOps
    TextAnalysis.hashingVectors(docs(s, dir)).select(col("doc_id"),
      aggregate(col("vec"), lit(0L), (a, x) =>
        a + when(x =!= 0L, 1L).otherwise(0L)).as("nnz"),
      aggregate(transform(col("vec"), x => abs(x)), lit(0L), _ + _).as("l1"),
      ArrayOps.dotProductLong(col("vec"), col("vec")).as("norm2"),
      aggregate(zip_with(col("vec"),
          sequence(lit(1L), lit(64L)), (v, i) => v * i),
        lit(0L), _ + _).as("poschk"))
  }

  /** Text → vectors → cosine top-3, never leaving the engine: the full
    * in-engine retrieval chain (vectorize with the hashing trick, score
    * with the exact integer dot, rank by rounded cosine). */
  def qTextHashvecKnn(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayOps
    val v = TextAnalysis.hashingVectors(docs(s, dir))
      .withColumn("n2", ArrayOps.dotProductLong(col("vec"), col("vec")))
      .filter(col("n2") > 0L)
    val c = v.select(col("doc_id").as("neighbor_id"), col("vec").as("cv"),
      col("n2").as("cn2"))
    val q = v.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("vec").as("qv"),
        col("n2").as("qn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(ArrayOps.dotProductLong(col("cv"), col("qv")).cast("double") /
          (sqrt(col("cn2").cast("double")) * sqrt(col("qn2").cast("double"))),
          6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rn").cast("long").as("rank"))
  }

  /** Resample to a 60/25/15 en/es/zh mixture on the stored lang column
    * (the two unlisted languages drop out). */
  def qSampleMix(s: SparkSession, dir: String): DataFrame =
    Curation.resampleToMix(docs(s, dir), col("lang"),
      Map("en" -> 60, "es" -> 25, "zh" -> 15))

  /** Temperature-smoothed (α=1/2) mixture schedule per source. */
  def qMixSchedule(s: SparkSession, dir: String): DataFrame =
    Curation.temperatureSchedule(docs(s, dir), "source", budget = 10000L)

  /** The schedule APPLIED: isqrt weights collected (group-count-sized)
    * and fed to resampleToMix — the full temperature-rebalance chain. */
  def qSampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val weights = Curation.temperatureSchedule(d, "source")
      .select(col("source"), col("s_root")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    Curation.resampleToMix(d, col("source"), weights)
  }

  /** Curation funnel v3: classifier self-consistency gate → temperature
    * rebalance. Docs whose predicted class disagrees with their metadata
    * label drop (the model-based filter slot); the survivors are
    * rebalanced by the isqrt schedule. `kept` is checkpointed — the
    * classifier chain feeds both the schedule and the resample, and
    * without the pin it would run twice. */
  def qCurationFunnel3(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // self-trained single-pass face: train-and-score over the same corpus
    // tokenizes once (the two-call predict(d, classProfiles(d)) form paid
    // a second full corpus scan; equivalence spec-pinned in ClassifierSpec)
    val pred = Classifier.predictSelfTrained(d, "source")
    val kept = d.select(col("doc_id"), col("source"))
      .join(pred, Seq("doc_id"))
      .filter(col("predicted") === col("source"))
      .select(col("doc_id"), col("source"))
      .cp()
    val weights = Curation.temperatureSchedule(kept, "source")
      .select(col("source"), col("s_root")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    Curation.resampleToMix(kept, col("source"), weights)
  }

  /** Pack documents into 256-token sequences across 8 hash buckets. */
  def qTextPack(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(docs(s, dir), budgetTokens = 256, buckets = 8)

  /** Highest-quality member of every near-dup cluster. */
  def qDedupBest(s: SparkSession, dir: String): DataFrame =
    Dedup.bestOfClusters(docs(s, dir), threshold = 0.5)

  /** Maximal repeated char-20-gram spans (exact-substring dedup). */
  def qDedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(docs(s, dir), k = 20)

  /** Substring-dedup excision: rewrite documents with all but the first
    * instance of each repeated maximal span cut out (the Lee et al. 2022
    * remove-repeated-substrings pass, completing q_dedup_spans'
    * detection). */
  def qDedupExcise(s: SparkSession, dir: String): DataFrame =
    Dedup.exciseSpans(docs(s, dir), k = 20)

  /** Paragraph-level dedup over synthetic multi-paragraph pages: five
    * consecutive docs joined by newlines form one page (the fixture
    * corpus is single-line, so the page view manufactures the paragraph
    * structure a web corpus has natively), then corpus-wide keep-first
    * paragraph dedup + reassembly. The fixture's exact-duplicate docs
    * become cross-page repeated paragraphs. */
  def qDedupParagraph(s: SparkSession, dir: String): DataFrame = {
    val pages = docs(s, dir)
      .groupBy(floor(col("doc_id") / lit(5)).cast("long").as("page_id"))
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("doc_id"), col("text")))),
        p => p.getField("text"))).as("text"))
    Dedup.paragraphDedup(pages, "\n", "page_id", "text")
  }

  /** Corpus vocabulary head: top-40 words by exact count (tokenizer-vocab
    * induction's first pass; heavyHitters = one map-side-combined count +
    * TakeOrdered, no global sort). */
  def qVocabTop(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sketches.heavyHitters(
      docs(s, dir).select(explode(Hashing.words(col("text"))).as("term")),
      "term", k = 40)

  /** Top 30% quality per stored language (exact per-stratum rank gate). */
  def qSampleTopQuality(s: SparkSession, dir: String): DataFrame =
    Curation.topQualityPerGroup(docs(s, dir), col("lang"), keepPpm = 300000L)

  /** Per-source boilerplate mass (words in ≥ 50% of a source's docs). */
  def qTextBoilerplate(s: SparkSession, dir: String): DataFrame =
    Curation.boilerplateStats(docs(s, dir), n = 1, ratioQ4 = 5000L)

  /** Corpus profile rollup over (source, lang). */
  def qCorpusReport(s: SparkSession, dir: String): DataFrame =
    Curation.corpusReport(docs(s, dir))

  /** KMV(64) distinct-content estimates at every rollup level, with the
    * per-source and grand-total sketches DERIVED from the leaf keeps
    * (merge law) — never rescanning the corpus. */
  def qCorpusReportKmv(s: SparkSession, dir: String): DataFrame =
    Curation.corpusReportKmv(docs(s, dir))

  /** Per-source quality DISTRIBUTION (not just the mean the corpus
    * report carries): exact p25/p50/p75 of the 0..10⁴-lattice quality
    * score from the mergeable (source, q4) histogram — quality is
    * already fixed-point, so the lattice profile applies verbatim. */
  def qCorpusQualityQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketches
    val d = docs(s, dir).select(col("source"),
      TextAnalysis.qualityScoreQ4(col("text")).as("q4"))
    Sketches.latticeQuantiles(
      Sketches.latticeHistogram(d, "source", col("q4")), "source",
      Seq("p25" -> 250000L, "p50" -> 500000L, "p75" -> 750000L))
      .select(col("source"), col("n_rows"),
        (col("p25").cast("double") / 10000.0).as("p25_quality"),
        (col("p50").cast("double") / 10000.0).as("p50_quality"),
        (col("p75").cast("double") / 10000.0).as("p75_quality"))
  }

  // ----------------------------------------------------- similarity
  /** Query set = vec_id < 8 (broadcast side); corpus = all embeddings. */
  def qSimTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
  }

  def qSimAnn(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.annTopK(e, e.filter(col("vec_id") < 8), k = 5)
  }

  def qSimNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsBucketed(emb(s, dir), threshold = 0.4)

  def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5)
  }

  /** Lloyd k-means cell report (k=8, 2 sweeps) on the integer lattice. */
  def qSimKmeans(s: SparkSession, dir: String): DataFrame =
    graft.ext.KMeans.clusterStats(emb(s, dir), k = 8, iters = 2)

  /** IVF with the trained coarse quantizer instead of the hash sample. */
  def qSimIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.ext.KMeans.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5,
      numCentroids = 8, nProbe = 4, iters = 2)
  }

  /** Per-vector int8 quantization + reconstruction-error report. */
  def qEmbQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8Stats(emb(s, dir))

  /** JL sign random projection 64→16 (long-form components). */
  def qEmbProject(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(emb(s, dir), dOut = 16)

  /** Coarse-to-fine: candidate pool from projected-space cosine (16-dim
    * dots), exact full-dimension re-rank of the pool. */
  def qSimTopkProj(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.projectedTopK(e, e.filter(col("vec_id") < 8), k = 5,
      dOut = 16, poolSize = 20)
  }

  /** SQ8 top-5: the int8-code search path quantizeInt8Stats certifies. */
  def qSimTopkSq8(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.sq8TopK(e, e.filter(col("vec_id") < 8), k = 5)
  }

  /** Product-quantization codes (8 subspaces × 16 centroids, 2 sweeps). */
  def qSimPq(s: SparkSession, dir: String): DataFrame =
    graft.ext.KMeans.pqCodes(emb(s, dir))

  /** PQ ADC top-5: the code-only scan the PQ index exists for. */
  def qSimPqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.ext.KMeans.pqTopK(e, e.filter(col("vec_id") < 8), topK = 5)
  }

  private def pqIndexStore(s: SparkSession, dir: String) =
    new graft.store.TableStore(s, CoreQueries.scratch(dir, "pq_index"))

  /** Search the persisted PQ index (built lazily via the completion
    * marker when absent; the bench builds it in UNTIMED setup — see
    * [[benchSetup]] — so the timed sample measures SEARCH only): must
    * hash-match the recompute path (shares q_sim_pq_search's oracle),
    * proving the persisted state round-trips exactly. */
  def qSimPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val store = pqIndexStore(s, dir)
    graft.ext.PqIndex.ensure(store, e)
    graft.ext.PqIndex.search(store, e.filter(col("vec_id") < 8), topK = 5)
  }

  /** IVF-PQ top-5: coarse cells route, ADC over probed cells only. */
  def qSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.ext.KMeans.ivfPqTopK(e, e.filter(col("vec_id") < 8), topK = 5)
  }

  /** Persisted cell-clustered IVF-PQ: build the three index tables in
    * per-run scratch, search against them — must hash-match the
    * recompute path (shares q_sim_ivfpq's oracle). The codes table is
    * range-clustered on (cell, id), so the probed-cells IN filter prunes
    * the scan to the probed cells' files (r4 "What's missing" #1). */
  private def ivfIndexStore(s: SparkSession, dir: String) =
    new graft.store.TableStore(s, CoreQueries.scratch(dir, "ivfpq_index"))

  def qSimIvfPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val store = ivfIndexStore(s, dir)
    graft.ext.PqIndex.ensureIvf(store, e)
    graft.ext.PqIndex.searchIvf(store, e.filter(col("vec_id") < 8), topK = 5)
  }

  /** Residual IVF-PQ top-5: codebook over v − c(cell) residuals. */
  def qSimIvfPqRes(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.ext.KMeans.ivfPqResidualTopK(e, e.filter(col("vec_id") < 8), topK = 5)
  }

  private def resIndexStore(s: SparkSession, dir: String) =
    new graft.store.TableStore(s, CoreQueries.scratch(dir, "ivfpqr_index"))

  /** Build + persist the residual IVF-PQ index — the once-per-corpus
    * job, benched SEPARATELY from the search (VERDICT r6 #4) so the
    * gate sees search-side regressions, which are what matter at 100×
    * (the build amortizes; the search runs per request). Emits the
    * persisted tables' cardinalities read back from the store: coarse =
    * K centroids, codebook = subspaces·k rows, codes = |corpus|·subspaces
    * rows — the last is the real assertion (every vector encoded in
    * every subspace, none dropped by the clustered write). */
  def qSimIvfPqBuild(s: SparkSession, dir: String): DataFrame = {
    val store = resIndexStore(s, dir)
    // forced rebuild under the per-store lock: a build query must MEASURE
    // a build every invocation (an `ensure` no-ops on a warm store and
    // the bench gate's second sample would time three count() reads);
    // the lock still serializes against lazily-rebuilding searches
    graft.ext.PqIndex.rebuildIvfResidual(store, emb(s, dir))
    import s.implicits._
    Seq("coarse", "codebook", "codes")
      .map(p => (p, store.read(s"ivfpqr_$p").count()))
      .toDF("part", "n_rows")
  }

  /** Persisted residual IVF-PQ SEARCH over the pre-built index (built by
    * q_sim_ivfpq_build, which sorts before this query in the bench; when
    * run standalone the index builds lazily). Hash-matches the recompute
    * path (shares q_sim_ivfpq_res's oracle) — the persisted state
    * round-trips exactly. */
  def qSimIvfPqResIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val store = resIndexStore(s, dir)
    // gated on the build-completion marker, not any single table: a build
    // that died between the three writes must rebuild, not be read
    graft.ext.PqIndex.ensureIvfResidual(store, e)
    graft.ext.PqIndex.searchIvfResidual(store, e.filter(col("vec_id") < 8),
      topK = 5)
  }

  /** The streaming ADC kernel run over a batch frame — the score-stream
    * path of EventStreams.pqSearchStream is engine code too, and on
    * finite input it must reproduce the batch ADC exactly (shares
    * q_sim_pq_search's oracle): codebook-as-literals distance maps, wide
    * codes join, k-heap state fold. */
  def qSimPqStreamTwin(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = graft.ext.KMeans.pqFit(e)
    val wide = graft.ext.KMeans.codesWide(
      graft.ext.KMeans.pqAssignments(e, cents))
    graft.streaming.EventStreams.pqSearchStream(
        e.filter(col("vec_id") < 8), wide, cents, topK = 5)
      .toDF()
  }

  /** Quantizer drift: fit on even ids, assign the odd-id "increment". */
  def qSimDrift(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.ext.KMeans.driftReport(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1), k = 8, iters = 2)
  }

  /** Deterministic 80/10/10 train/val/test assignment. */
  def qSampleSplit(s: SparkSession, dir: String): DataFrame =
    Curation.hashSplit(docs(s, dir))

  /** Leakage-safe split: hash the SOURCE, so a crawl domain's docs (and
    * their near-duplicates) never straddle train/test. */
  def qSampleSplitGroup(s: SparkSession, dir: String): DataFrame =
    Curation.hashSplitByGroup(docs(s, dir), "source")

  /** Near-dup-aware leakage-safe split: the strongest form — group by
    * the MEASURED duplicate cluster (MinHash connected components), not
    * a domain proxy, so near-copies can never straddle train/test
    * regardless of where they were crawled. */
  def qSampleSplitCluster(s: SparkSession, dir: String): DataFrame =
    Curation.hashSplitByGroup(
      graft.ext.Dedup.duplicateClusters(docs(s, dir)),
      "cluster_id", salt = "csplit")

  /** Classifier evaluation: the trained source-router scored against the
    * gold `source` labels — per-class precision/recall/F1. NOTE these
    * are RESUBSTITUTION metrics (train corpus = eval corpus) — kept as
    * the operator/oracle self-consistency check; the honest
    * generalization readout is [[qClassifyEvalSplit]]. */
  def qClassifyEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Classifier.evaluate(
      Classifier.predictSelfTrained(d, "source"),
      d.select(col("doc_id"), col("source").as("label")))
  }

  /** Held-out classifier evaluation (VERDICT r10 #7): compose
    * [[Curation.hashSplit]] into the eval — train centroid profiles on
    * the 80% train bucket ONLY, score the 10% test bucket, and report
    * per-class P/R/F1 on that held-out bucket. Same one-pass confusion
    * matrix; the split is the deterministic salted id-hash, so both
    * engines carve identical buckets. */
  def qClassifyEvalSplit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val withSplit = d.join(
      Curation.hashSplit(d).select(col("doc_id"), col("split")), Seq("doc_id"))
    val train = withSplit.filter(col("split") === "train")
    val held = withSplit.filter(col("split") === "test")
    Classifier.evaluate(
      Classifier.predict(held, Classifier.classProfiles(train, "source")),
      held.select(col("doc_id"), col("source").as("label")))
  }

  /** Language-ID eval: the n-gram/stopword langId heuristic graded
    * against the gold `lang` column — per-class P/R/F1 through the same
    * one-pass confusion matrix as the classifier evals ('zh' has no
    * stoplist, so its recall exposes the heuristic's blind spot
    * honestly). */
  def qLangidEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Classifier.evaluate(
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("predicted")),
      d.select(col("doc_id"), col("lang").as("label")))
  }

  /** Cross-source quality calibration: each document's quality restated
    * as its percentile WITHIN its source — the rank-normalized score
    * that makes a 'keep top X%' gate comparable across domains with
    * different raw-score distributions. */
  def qQualityCalibrate(s: SparkSession, dir: String): DataFrame =
    Curation.calibrateQuality(docs(s, dir), col("source"))

  /** ROC threshold sweep: the q4 quality score as a predictor of
    * lang = 'en' (the score's stopword term genuinely tracks English) —
    * one point per distinct score with exact cumulative counts. */
  def qEvalRoc(s: SparkSession, dir: String): DataFrame =
    graft.ext.Eval.rocPoints(docs(s, dir).select(
      TextAnalysis.qualityScoreQ4(col("text")).as("q4"),
      when(col("lang") === "en", 1L).otherwise(0L).as("is_en")),
      "q4", "is_en")

  /** Exact trapezoid AUC of the same sweep — the one-number ranker
    * readout that calibrates a filter threshold. */
  def qEvalAuc(s: SparkSession, dir: String): DataFrame =
    graft.ext.Eval.auc(docs(s, dir).select(
      TextAnalysis.qualityScoreQ4(col("text")).as("q4"),
      when(col("lang") === "en", 1L).otherwise(0L).as("is_en")),
      "q4", "is_en")

  /** SemDeDup: k-means the embedding space, drop within-cluster cosine
    * near-dups keeping the smallest id per semantic group. */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(emb(s, dir), k = 8, iters = 2, threshold = 0.4)

  /** SemDeDup under the fat-cluster guard: witnessCap=3 BINDS at test
    * scale (clusters run tens of members), so the oracle verifies the
    * capped a-side semantics themselves — cap·|cluster| pair cost, a
    * doc is dropped only by one of its cluster's 3 smallest ids. */
  def qDedupSemanticCap(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(emb(s, dir), k = 8, iters = 2, threshold = 0.4,
      witnessCap = 3)

  /** Char-budget greedy fill per source (quality-first): the mixture
    * schedule's per-stratum budget knob realized as a kept-docs list. */
  def qMixBudget(s: SparkSession, dir: String): DataFrame =
    Curation.fillByBudget(docs(s, dir), col("source"), budget = 2000L)

  /** Contamination matrix: the training split against TWO simulated
    * benchmark slices at once, per (eval_set, source). */
  def qDecontamMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val train = d.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0)
    Decontamination.contaminationMatrix(train, col("source"), Seq(
      "eval_a" -> d.filter(col("doc_id") % 97 === 0),
      "eval_b" -> d.filter(col("doc_id") % 89 === 0)))
  }

  /** Exact-dedup impact datasheet: per-source removable-duplicate counts
    * and character mass. */
  def qDedupImpact(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupImpact(docs(s, dir), col("source"))

  /** Length-proportional systematic sample: 100 deterministic draws over
    * the cumulative n_chars axis — the sample-by-token-mass pull. */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    Curation.weightedSystematicSample(docs(s, dir), "n_chars", k = 100)

  /** Deterministic weighted priority sample (byte-weighted, k = 100):
    * the bounded-k mergeable complement to q_sample_weighted's
    * systematic pointers — the rule a per-shard pre-sample and the
    * streaming sink share. */
  def qSamplePriority(s: SparkSession, dir: String): DataFrame =
    Curation.prioritySample(docs(s, dir), k = 100, weightCol = "n_chars")

  /** DPO-style preference pairs: per (source, lang) stratum, best-vs-
    * worst quality with the gap as margin. */
  def qPrefPairs(s: SparkSession, dir: String): DataFrame =
    Curation.preferencePairs(docs(s, dir))

  /** Subset-document detection: directional 3-gram containment ≥ 0.8
    * (df-capped inverted index). */
  def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), n = 3, threshold = 0.8)

  /** Sketch-estimated containment pairs (lanes + sizes, no verify join,
    * no postings self-join) at the same 0.8 threshold. */
  def qDedupContainmentEst(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentEstPairs(docs(s, dir), threshold = 0.8)

  /** The containment estimate graded against the exact df-capped index
    * on ONE shared tokenization — prices both the estimator error and
    * the symmetric-LSH recall bound for asymmetric pairs. */
  def qDedupContainmentEstEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sh = Dedup.shingles(d, 3).cp()
    def ordered(df: DataFrame): DataFrame =
      df.select(col("id").as("id_a"), col("container_id").as("id_b"))
    pairSetEval(ordered(Dedup.containmentFromPostings(sh, threshold = 0.8)),
      ordered(Dedup.containmentEstFromPostings(sh, threshold = 0.8)))
  }

  /** Incremental containment (VERDICT r10 #6): the corpus arrives as two
    * increments, each shingled exactly once into the standing postings
    * index; the state readout's verdicts are identical to the batch
    * recompute (same oracle as q_dedup_containment). */
  def qDedupContainmentIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "containment_incr"))
    store.drop("cont_contsh")
    graft.ext.IncrementalDedup.containmentIncrement(store, "cont",
      d.filter(col("doc_id") < 250))
    graft.ext.IncrementalDedup.containmentIncrement(store, "cont", d)
    graft.ext.IncrementalDedup.containmentState(store, "cont",
      threshold = 0.8)
  }

  /** Incremental paragraph dedup (VERDICT r10 #6): the page corpus
    * arrives as two ascending-id increments against a standing kept-
    * digest state; the union of the increments' outputs is identical to
    * the batch recompute (same oracle as q_dedup_paragraph). */
  def qDedupParagraphIncr(s: SparkSession, dir: String): DataFrame = {
    val pages = docs(s, dir)
      .groupBy(floor(col("doc_id") / lit(5)).cast("long").as("page_id"))
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("doc_id"), col("text")))),
        p => p.getField("text"))).as("text"))
      .cp() // two increment scans + both store reads
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "para_incr"))
    store.drop("para_paradigests")
    store.drop("para_paradocs")
    val inc1 = graft.ext.IncrementalDedup.paragraphDedupIncrement(store,
      "para", pages.filter(col("page_id") < 50), "\n", "page_id")
    val inc2 = graft.ext.IncrementalDedup.paragraphDedupIncrement(store,
      "para", pages, "\n", "page_id")
    inc1.unionByName(inc2)
  }

  /** ⌊num·10⁴/den⌋/10⁴ on the shared fixed-point grid, 0.0 on empty
    * denominator — the Column twin of the oracle side's frac4Sql. */
  private def frac4Col(num: Column, den: Column): Column = {
    val scaled = num * lit(10000L)
    when(den > 0, ((scaled - pmod(scaled, den)) / den).cast("double") / 10000.0)
      .otherwise(lit(0.0))
  }

  /** Pair-set grading shared by the dedup-approximation evals:
    * (id_a, id_b) prediction pairs vs ground-truth pairs → one row of
    * precision/recall/F1 on the frac4 lattice. Three 1-row aggregates
    * cross-joined broadcast-style (J3 shape). */
  private def pairSetEval(truth: DataFrame, pred: DataFrame): DataFrame = {
    val t = truth.select(col("id_a"), col("id_b")).cp()
    val p = pred.select(col("id_a"), col("id_b")).cp()
    val nT = t.agg(count(lit(1)).as("n_true"))
    val nP = p.agg(count(lit(1)).as("n_pred"))
    val tp = p.join(t, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    nT.crossJoin(nP).crossJoin(tp).select(
      col("n_true"), col("n_pred"), col("tp"),
      frac4Col(col("tp"), col("n_pred")).as("precision"),
      frac4Col(col("tp"), col("n_true")).as("recall"),
      frac4Col(col("tp") * 2L, col("n_true") + col("n_pred")).as("f1"))
  }

  /** Dedup-approximation eval: the MinHash+LSH near-dup pairs graded
    * against the exact df-capped n-gram-Jaccard pairs at the same 0.5
    * threshold — precision/recall/F1 of the sketch against ground truth,
    * the number a pipeline owner needs before trusting LSH at a scale
    * where the exact pass is unaffordable. (The two chains intentionally
    * differ: LSH banding can miss true pairs, and its uncapped shingle
    * space scores pairs the df-capped exact index drops, so neither
    * metric is trivially 1.0.) */
  def qDedupMinhashEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // both chains consume the SAME 3-gram postings — shingle the corpus
    // once (at 100 TB the explode+hash pass is a full scan; grading the
    // sketch against the exact index was paying it twice)
    val sh = Dedup.shingles(d, 3).cp()
    pairSetEval(Dedup.ngramJaccardFromPostings(sh, threshold = 0.5),
      Dedup.minhashNearDupsFromPostings(sh, threshold = 0.5))
  }

  /** SimHash graded against the exact pairs: hamming ≤ 3 is a PURE
    * sketch decision (no jaccard verify step), so this is the honest
    * precision/recall of the 64-bit fingerprint itself. */
  def qDedupSimhashEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    pairSetEval(Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5),
      Dedup.simhashNearDups(d, maxDist = 3))
  }

  /** Winnowing fingerprint graded against the exact pairs: candidates
    * come from gram-extreme collisions and ARE jaccard-verified, so
    * precision stays high and the number under test is candidate
    * recall. */
  def qDedupFingerprintEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // shared postings: ground truth consumes them directly; the
    // fingerprint chain's Jaccard-verify restricts them to candidates
    // instead of re-shingling the candidate docs
    val sh = Dedup.shingles(d, 3).cp()
    pairSetEval(Dedup.ngramJaccardFromPostings(sh, threshold = 0.5),
      Dedup.fingerprintNearDups(d, threshold = 0.5, postings = Some(sh)))
  }

  /** Sketch-estimate calibration table: minhash lane agreement (the
    * k_eq/16 Jaccard estimator) vs mean EXACT Jaccard per agreement
    * level over the LSH candidates — the readout that tells a corpus
    * owner which lane cutoff can replace the exact-verify join at a
    * scale where the shingle-index join is the dominant shuffle. */
  def qDedupMinhashCalib(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstCalibration(docs(s, dir))

  /** Sketch-only near-dup pairs at lane agreement ≥ 8/16 (estimated
    * Jaccard ≥ 0.5) — no exact-verify join; the fast path the
    * calibration table prices. */
  /** Sketch-only operating points. The NAIVE cutoff is a DEFINITION —
    * 8/16 lanes mirrors the 0.5 dedup threshold — and is shared as a
    * constant between the Spark queries and their oracles (the prIters
    * pattern). The CALIBRATED cutoff is a MEASUREMENT and is therefore
    * DERIVED at run time (VERDICT r13 #2 — r13 hardcoded 13, a readout
    * of one draw's q_dedup_minhash_calib table, which a materially
    * different corpus would silently invalidate): both engines run the
    * identical sampled-calibration chain and read off the same suffix
    * rule, so the operating point tracks the data and can never desync
    * between query and oracle. Clamped to ≥ naiveLanes: calibration can
    * only tell the sketch-only lane to be STRICTER than the threshold
    * it screens for, never looser. */
  private val naiveLanes = 8
  private val calibSampleMod = 2
  private val calibMinMeanJ4 = 5000L

  def qDedupSketchonly(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSketchOnlyDups(docs(s, dir), minLanes = naiveLanes)

  /** End-to-end sketch-only dedup: connected components over the
    * calibrated-cutoff pair graph — duplicate clusters whose only
    * corpus-scale verify join is the sampled calibration pass that
    * derives the cutoff. The calibration DERIVES its table from the
    * same checkpointed postings/agreement frames the cluster pass uses
    * (r19, guide §2.4 — it previously re-shingled and re-signed the
    * sample from text as a second full chain; equivalence argued at
    * [[Dedup.calibratedLaneCutoffFrom]]). */
  def qDedupSketchonlyClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sh = Dedup.shingles(d, 3).cp()
    val agree = Dedup.minhashSketchOnlyFromPostings(sh, minLanes = 0)
      .cp()
    val cut = math.max(naiveLanes, Dedup.calibratedLaneCutoffFrom(
      agree, sh, calibSampleMod, calibMinMeanJ4))
    Dedup.clustersFromPairs(d,
      agree.filter(col("lanes_eq") >= cut)
        .select(col("id_a"), col("id_b")))
  }

  /** The sketch-only path graded against the exact df-capped ground
    * truth at TWO operating points — the naive cutoff that mirrors the
    * 0.5 threshold (lanes ≥ 8/16) and the calibrated cutoff read off the
    * q_dedup_minhash_calib gap (lanes ≥ 13) — the measured
    * precision/recall cost of skipping the verify join, on one shared
    * corpus tokenization (agreement and ground truth both checkpointed
    * once; the cutoffs are filters over the same pair list). */
  def qDedupSketchonlyEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sh = Dedup.shingles(d, 3).cp()
    val agree = Dedup.minhashSketchOnlyFromPostings(sh, minLanes = 0)
      .cp()
    // cutoff derived from the SAME frames (r19, guide §2.4): the old
    // calibratedLanesOf re-shingled and re-signed the half-corpus sample
    // from text — a second full chain per query run
    val calibrated = math.max(naiveLanes, Dedup.calibratedLaneCutoffFrom(
      agree, sh, calibSampleMod, calibMinMeanJ4))
    val truth = Dedup.ngramJaccardFromPostings(sh, threshold = 0.5)
      .select(col("id_a"), col("id_b")).cp()
    pairSetEval(truth, agree.filter(col("lanes_eq") >= naiveLanes))
      .withColumn("strategy", lit(s"lanes_ge_$naiveLanes"))
      .unionByName(
        pairSetEval(truth, agree.filter(col("lanes_eq") >= calibrated))
          .withColumn("strategy", lit(s"lanes_ge_$calibrated")))
  }

  /** Template-hub centrality: PageRank (3 exact integer iterations) over
    * the symmetrized MinHash near-dup graph — documents whose text recurs
    * across many near-copies accumulate rank from every copy, surfacing
    * the boilerplate/template hubs a curation pass should inspect first.
    * Isolated docs sit at the base rank. */
  def qGraphPagerank(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val p = Dedup.minhashNearDups(d, threshold = 0.5)
      .select(col("id_a"), col("id_b")).cp()
    val e = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.ext.Graph.pageRank(d.select(col("doc_id")), e,
      iters = prIters, damp = prDamp, scale = prScale)
      .select(col("id").as("doc_id"), col("rank"))
  }

  /** PageRank parameters shared by qGraphPagerank and its oracle — the
    * oracle's literals are DERIVED from these, so changing the Spark
    * call can't silently desync the SQL. */
  private val prIters = 3
  private val prDamp = 85
  private val prScale = 1000000L

  /** Triangle census of the near-dup graph: tight template cliques
    * (high local clustering) vs hub-and-spoke boilerplate shapes (low)
    * — the collapse-wholesale-or-inspect readout per document. */
  def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val p = Dedup.minhashNearDups(d, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    graft.ext.Graph.triangles(d.select(col("doc_id")), p)
      .select(col("id").as("doc_id"), col("deg"), col("tri"), col("lcc"))
  }

  /** Corpus-trained bigram-LM score per doc (the CCNet LM-filter slot):
    * train and score in one query, exact ppm lattice. */
  def qTextLmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScore(docs(s, dir))

  /** Interpolated Kneser–Ney bigram LM score (the n-gram smoothing
    * upgrade over the add-one q_text_lm_score; same train-and-score
    * single pass, continuation-count redistribution on the exact
    * integer lattice). */
  def qTextLmKn(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScoreKn(docs(s, dir))

  /** Trigram interpolated Kneser–Ney LM score (VERDICT r14 #5): the
    * perplexity-filter order — one corpus trigram shuffle, all four
    * continuation tables derived from the checkpointed model. */
  def qTextLmKn3(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScoreKn3(docs(s, dir))

  /** Prequential (online) KN scoring: the corpus arrives as two
    * increments against a standing bigram-count state — each increment
    * is scored by the model of everything ingested up to and including
    * it (Dawid's prequential shape; the continuous CCNet-filter form).
    * The prefix law makes each half a plain batch chain in the oracle. */
  def qTextLmKnIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "lm_incr"))
    store.drop("kn_bg")
    store.drop("kn_docs")
    val inc1 = graft.ext.IncrementalLm.scoreIncrement(
      d.filter(col("doc_id") < 250), store, "kn")
    val inc2 = graft.ext.IncrementalLm.scoreIncrement(
      d.filter(col("doc_id") >= 250), store, "kn")
    inc1.unionByName(inc2)
  }

  /** The trigram instance of the prequential prefix law — online
    * perplexity filtering at the order real filters run at. */
  def qTextLmKn3Incr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val store = new graft.store.TableStore(s,
      CoreQueries.scratch(dir, "lm3_incr"))
    store.drop("kn3_bg")
    store.drop("kn3_docs")
    val inc1 = graft.ext.IncrementalLm.scoreIncrement3(
      d.filter(col("doc_id") < 250), store, "kn3")
    val inc2 = graft.ext.IncrementalLm.scoreIncrement3(
      d.filter(col("doc_id") >= 250), store, "kn3")
    inc1.unionByName(inc2)
  }

  /** DSIR importance resampling weights: target = the English subcorpus,
    * raw = everything; 256-bucket hashed-unigram model (10⁶ buckets at
    * production scale — bucket count only shifts the smoothing mass). */
  def qCurationDsir(s: SparkSession, dir: String): DataFrame =
    Curation.dsirWeights(docs(s, dir), col("lang") === "en", buckets = 256)

  /** k-center greedy coreset (k=4) over the embeddings table: farthest-
    * point centers + per-vector nearest-center assignment. */
  def qSelectKcenter(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenterGreedy(emb(s, dir), k = 4)

  /** Blocklist for q_text_blocklist — shared verbatim by the oracle; a
    * real deployment swaps in the C4 bad-words list. "slow" is a
    * high-frequency corpus token, so the drop decision exercises both
    * branches at every SF. */
  private val blocklistWords = Seq("slow", "legacy", "broken", "deprecated")

  /** C4-style bad-words drop decision (any hit drops the page). */
  def qTextBlocklist(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.blocklistStats(docs(s, dir), blocklistWords)

  /** FaceNet triplet mining: anchors = the shared sim-query set
    * (vec_id < 8), corpus = every embedding. */
  def qSimHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 8))
  }

  /** k-anonymity release audit over the (lang, source) quasi-identifier
    * pair, k = 5. */
  def qPrivacyKanon(s: SparkSession, dir: String): DataFrame =
    Curation.kAnonymity(docs(s, dir), Seq("lang", "source"), k = 5)

  /** PII scrub graded byte-exactly: the synthetic corpus carries no
    * addresses, so the query first PLANTS a varying number of emails
    * (doc_id%3), IPv4 literals (doc_id%4) and account numbers (doc_id%2)
    * per doc as a pure function of (doc_id, lang) — mirrored verbatim in
    * the oracle — then runs [[Privacy.piiRedact]] over the planted
    * corpus; the redaction hash pins every replaced byte. */
  def qPrivacyRedact(s: SparkSession, dir: String): DataFrame = {
    def rep(piece: Column, n: Column): Column =
      array_join(array_repeat(piece, n.cast("int")), "")
    val id = col("doc_id")
    val email = concat(lit(" u"), id.cast("string"), lit("@ex-"),
      col("lang"), lit(".org"))
    val ip = concat(lit(" from 10."), pmod(id, lit(200L)).cast("string"),
      lit(".0."), pmod(id, lit(250L)).cast("string"))
    val acct = concat(lit(" acct 9"),
      lpad(id.cast("string"), 8, "0"))
    val planted = concat(col("text"),
      rep(email, pmod(id, lit(3L))),
      rep(ip, pmod(id, lit(4L))),
      rep(acct, pmod(id, lit(2L))))
    Privacy.piiRedact(
      docs(s, dir).select(col("doc_id"), planted.as("text")))
  }

  /** l-diversity audit: quasi-identifier (lang, 100-char length bucket),
    * sensitive attribute = source, l = 3. */
  def qPrivacyLdiv(s: SparkSession, dir: String): DataFrame =
    Privacy.lDiversity(
      docs(s, dir).select(col("lang"),
        ((col("n_chars") - pmod(col("n_chars"), lit(100L))) / lit(100L))
          .cast("long").as("len_bucket"),
        col("source")),
      Seq("lang", "len_bucket"), "source", l = 3)

  /** t-closeness audit over the same release-gate fixture as
    * q_privacy_kanon/q_privacy_ldiv — the ladder's third rung: per
    * (lang, len_bucket) class, the TVD between the class's source
    * distribution and the global one, flagged above t = 0.30. */
  def qPrivacyTclose(s: SparkSession, dir: String): DataFrame =
    Privacy.tCloseness(
      docs(s, dir).select(col("lang"),
        ((col("n_chars") - pmod(col("n_chars"), lit(100L))) / lit(100L))
          .cast("long").as("len_bucket"),
        col("source")),
      Seq("lang", "len_bucket"), "source", tQ4 = 3000L)

  /** Heaps-law type-accumulation curve: 20 doc-id prefix buckets,
    * per-bucket token volume + NEW types + both cumulatives — the
    * measured curve behind every type-bounded cost claim (tokenizer
    * memo, KN model state, distinct_words counter). */
  def qTextHeaps(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heapsCurve(docs(s, dir), buckets = 20)

  /** Duplication-exposure score: per doc, the share of its distinct
    * word-5-gram shingles that occur in ≥2 documents (Lee et al. 2022
    * memorization-risk ranking — catches shared text below every pair
    * miner's threshold). */
  def qTextDupExposure(s: SparkSession, dir: String): DataFrame =
    Dedup.dupExposure(docs(s, dir), n = 5)

  /** Deterministic candidate cap for the pair-graded eval queries
    * (VERDICT r13 #1): the driver re-rolls the corpus every round, and a
    * dup-heavy draw multiplies the near-dup pair count — twice running,
    * a pair-proportional eval query rode the bench gate edge on nothing
    * but draw luck. Capping at the first N pairs in (id_a, id_b) order
    * (a total order on the pair key, so both engines pick the same set)
    * bounds grading cost regardless of draw density; the oracle carries
    * the same ORDER BY/LIMIT. N is far above the synthetic draws'
    * typical pair counts (~10³ at sf0.1), so the cap only bites
    * pathological draws — exactly the case the gate must survive. */
  private val evalPairCap = 2000

  private def cappedNearDupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(docs(s, dir), threshold = 0.5)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b")).limit(evalPairCap)

  /** BLEU-style clipped n-gram precision grading the MinHash near-dup
    * candidates — overlap as an interpretable per-pair score. */
  def qEvalNgramOverlap(s: SparkSession, dir: String): DataFrame =
    Eval.ngramPrecision(cappedNearDupPairs(s, dir), docs(s, dir))

  /** Sentence-level ROUGE-L over the same candidate pairs — the
    * order-aware complement to q_eval_ngram_overlap. */
  def qEvalRougeL(s: SparkSession, dir: String): DataFrame =
    Eval.rougeL(cappedNearDupPairs(s, dir), docs(s, dir))

  /** Fleiss' kappa over three deterministic annotators: gold lang,
    * full-text langId, and the first-200-chars langId (the
    * partial-context rater — where it disagrees, agreement drops). */
  def qEvalFleiss(s: SparkSession, dir: String): DataFrame =
    Eval.fleissKappa(
      docs(s, dir).select(col("doc_id"), col("lang").as("r_gold"),
        TextAnalysis.langId(col("text")).as("r_full"),
        TextAnalysis.langId(substring(col("text"), 1, 200)).as("r_head")),
      "doc_id", Seq("r_gold", "r_full", "r_head"))

  /** Self-BLEU diversity readout per source stratum (64-bucket
    * deterministic pair sample). */
  def qEvalSelfBleu(s: SparkSession, dir: String): DataFrame =
    Eval.selfOverlap(docs(s, dir), buckets = 64)

  /** Inter-class embedding centroid cosines (q6 lattice means). */
  def qEmbClassMargins(s: SparkSession, dir: String): DataFrame =
    Similarity.classCentroidMargins(emb(s, dir))

  /** Margin-based bitext mining: en side vs every other language. */
  def qSimBitext(s: SparkSession, dir: String): DataFrame =
    Similarity.bitextMine(docs(s, dir), emb(s, dir), srcLang = "en")

  /** Corpus×corpus bitext mining through the sign-LSH band prefilter —
    * the scale path [[Similarity.bitextMineLsh]]: candidates from band
    * collisions (no |src|·|tgt| stream), ratio margins over candidates
    * only. */
  def qSimBitextLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.bitextMineLsh(docs(s, dir), emb(s, dir), srcLang = "en")

  /** LSH-bitext approximation eval — the graded twin every other
    * approximation in the engine carries (minhash/simhash/sketchonly/
    * containment evals): the LSH face's per-source picks and mined
    * parallel pairs scored against the exact face's. Deliberately runs
    * BOTH faces (the exact side's linear term is the point of the eval
    * — the q_dedup_*_eval adjudication); production runs the LSH face
    * alone. One row: pick agreement over common sources, and
    * precision/recall of (src, tgt, parallel) mines vs the exact
    * mines, all on the frac4 lattice.
    *
    * Reading the number: on THIS synthetic corpus agreement is low
    * (~13% at sf0.01) — the embeddings carry no true parallel
    * structure, cross-cosines are flat, so the margin argmax has no
    * sharp winner and the candidate-restricted k-NN sums legitimately
    * reshuffle it (common picks still carry bit-identical cos6 —
    * SimilaritySpec). That is the eval DOING ITS JOB: it is the gate
    * that says "raise bands / k, or don't trust the approximate miner
    * on this corpus" — on a real bitext corpus the margin has a sharp
    * mode on true pairs and banded mining is the standard production
    * path (CCMatrix). */
  def qSimBitextLshEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val e = emb(s, dir)
    val ex = Similarity.bitextMine(d, e, srcLang = "en")
      .select(col("src_id"), col("tgt_id").as("te"),
        col("is_parallel").as("pe"))
      .cp() // per-src output frame: small, reused twice
    val ls = Similarity.bitextMineLsh(d, e, srcLang = "en")
      .select(col("src_id"), col("tgt_id").as("tl"),
        col("is_parallel").as("pl"))
      .cp()
    val nEx = ex.agg(count(lit(1)).as("n_exact"),
      sum(col("pe")).as("n_par_exact"))
    val nLs = ls.agg(count(lit(1)).as("n_lsh"),
      sum(col("pl")).as("n_par_lsh"))
    val j = ex.join(ls, Seq("src_id"))
      .agg(count(lit(1)).as("n_common_src"),
        sum(when(col("te") === col("tl"), 1L).otherwise(0L))
          .as("n_same_pick"),
        sum(when(col("te") === col("tl") && col("pe") === 1L &&
            col("pl") === 1L, 1L).otherwise(0L)).as("n_par_hits"))
    // three 1-row aggregates combined broadcast-style (the J3 shape)
    j.crossJoin(broadcast(nEx)).crossJoin(broadcast(nLs))
      .select(col("n_exact"), col("n_lsh"), col("n_common_src"),
        col("n_same_pick"),
        frac4Col(col("n_same_pick"), col("n_common_src")).as("pick_agree"),
        col("n_par_exact"), col("n_par_lsh"), col("n_par_hits"),
        frac4Col(col("n_par_hits"), col("n_par_lsh")).as("par_precision"),
        frac4Col(col("n_par_hits"), col("n_par_exact")).as("par_recall"))
  }

  /** Lexical diversity (type-token ratio) per source stratum. */
  def qTextTtr(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.typeTokenRatio(docs(s, dir), col("source"))

  /** Frozen-model DSIR: the bucket model trains on doc_id % 97 ≠ 0 (the
    * committed base), the % 97 = 0 stream scores against it — the
    * O(increment) deployment face. */
  def qCurationDsirFreeze(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Curation.dsirScore(d.filter(col("doc_id") % 97 =!= 0),
      col("lang") === "en", d.filter(col("doc_id") % 97 === 0),
      buckets = 256)
  }

  /** Balanced export shards: size-desc round-robin over 7 shards. */
  def qCurationShards(s: SparkSession, dir: String): DataFrame =
    Curation.shardAssign(docs(s, dir), nShards = 7)

  /** Curation funnel 4 — the DSIR-era selection chain: bad-words gate
    * (any blocklist hit drops) ∧ DSIR target-likeness gate, then the
    * quality-ranked per-source cap (2, binding at sf0.01). Each stage is
    * the registered operator itself, composed — gates are semi-join
    * filters on doc_id, so the chain stays one corpus pass per gate plus
    * the salted cap window. */
  def qCurationFunnel4(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pass1 = TextAnalysis.blocklistStats(d, blocklistWords)
      .filter(col("is_blocked") === 0L).select(col("doc_id"))
    val pass2 = Curation.dsirWeights(d, col("lang") === "en", buckets = 256)
      .filter(col("is_targetlike") === 1L).select(col("doc_id"))
    val kept = d.join(pass1, Seq("doc_id")).join(pass2, Seq("doc_id"))
    Curation.capPerGroup(kept, col("source"), cap = 2)
  }

  /** Curation funnel v5 — the CCNet operating point (Wenzek et al.
    * 2020; VERDICT r15 #3): score every doc with the corpus-trained
    * trigram-KN LM, tercile-bucket per source into head/middle/tail by
    * mean per-trigram probability (high kn3_ppm = low perplexity =
    * head), then keep the head outright, sample the middle 1-in-2 by
    * doc-id parity, drop the tail. One trigram shuffle (the LM), a
    * lattice-histogram cutoff sweep, a broadcast bucket join — the
    * corpus is never rank-windowed (Curation.headMiddleTail). */
  def qCurationFunnel5(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sc2 = d.select(col("doc_id"), col("source"))
      .join(TextAnalysis.lmScoreKn3(d).select(col("doc_id"), col("kn3_ppm")),
        Seq("doc_id"))
    Curation.headMiddleTail(sc2, "source", "kn3_ppm")
      .filter(col("bucket") === "head" ||
        (col("bucket") === "middle" && pmod(col("doc_id"), lit(2)) === 0))
      .select(col("doc_id"), col("source"), col("bucket"), col("kn3_ppm"))
  }

  /** Character-concentration (Herfindahl) gibberish score, ppm lattice. */
  def qTextCharHhi(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      TextAnalysis.charConcentration(col("text")).as("hhi_ppm"))

  /** Dense boilerplate nucleus: 2-core of the near-dup graph after 3
    * peel rounds — the quarantine-wholesale set. */
  def qGraphKcore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val p = Dedup.minhashNearDups(d, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    graft.ext.Graph.kCore(d.select(col("doc_id")), p, k = 2, rounds = 3)
      .select(col("id").as("doc_id"), col("in_core"), col("core_deg"))
  }

  /** Tokenizer-fit datasheet: chars-per-token by source under the
    * committed BPE merges — the compression readout that says which
    * domains the tokenizer serves poorly (code/URLs fragment into many
    * tokens; prose compresses well). One groupBy over per-doc longs. */
  def qBpeCompression(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Bpe
    docs(s, dir)
      .groupBy(col("source"))
      .agg(sum(length(col("text")).cast("long")).as("n_chars"),
        sum(Bpe.tokenCount(col("text"))).as("n_tokens"))
      .select(col("source"), col("n_chars"), col("n_tokens"),
        frac4Col(col("n_chars"), col("n_tokens")).as("chars_per_token"))
  }

  /** Cohen's kappa of the langId heuristic vs the gold lang column —
    * chance-corrected agreement, the honest companion to q_langid_eval's
    * per-class P/R/F1 (accuracy alone flatters a skewed label mix). One
    * corpus pass to a labels² confusion matrix; marginal products and
    * observed agreement live on the exact q6 lattice, and the final
    * kappa is one IEEE division of exact integers (deterministic — only
    * float SUMMATION is order-dependent). */
  def qLangidKappa(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val conf = d.select(col("lang").as("actual"),
        TextAnalysis.langId(col("text")).as("pred"))
      .groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
      .cp()
    val tot = conf.agg(sum(col("n")).as("n"),
      sum(when(col("actual") === col("pred"), col("n")).otherwise(lit(0L)))
        .as("diag"))
    val rm = conf.groupBy(col("actual")).agg(sum(col("n")).as("rm"))
    val cm = conf.groupBy(col("pred")).agg(sum(col("n")).as("cm"))
    // marginal products and n² overflow int64 beyond ~3·10⁹ docs — the
    // lattice runs in decimal(38,0) like qualityScoreQ4's numerator
    val dec = "decimal(38,0)"
    val rc = rm.join(cm, rm("actual") === cm("pred"))
      .agg(sum(col("rm").cast(dec) * col("cm").cast(dec)).as("rc"))
    def q6floor(num: Column, den: Column): Column = {
      val n = num.cast(dec)
      val d = den.cast(dec)
      ((n - pmod(n, d)) / d).cast("long")
    }
    tot.crossJoin(rc).select(
      col("n"),
      q6floor(col("diag").cast(dec) * lit(1000000L), col("n")).as("po6"),
      q6floor(coalesce(col("rc"), lit(0L).cast(dec)) * lit(1000000L),
        col("n").cast(dec) * col("n").cast(dec)).as("pe6"))
      .select(col("n"),
        (col("po6").cast("double") / 1000000.0).as("po"),
        (col("pe6").cast("double") / 1000000.0).as("pe"),
        when(col("pe6") < 1000000L,
          (col("po6") - col("pe6")).cast("double") /
            (lit(1000000L) - col("pe6")).cast("double"))
          .otherwise(lit(0.0)).as("kappa"))
  }

  /** Curriculum ordering: a deterministic global training order —
    * quality decile first (best buckets early), md5 hash within a bucket
    * (so each bucket is internally shuffled, not source-clustered). The
    * global sort is a range-partitioned exchange and the position is the
    * distributed gapless index — no single-task row_number funnel at any
    * corpus size. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(col("doc_id"),
      (TextAnalysis.qualityScoreQ4(col("text")).cast("long") -
        pmod(TextAnalysis.qualityScoreQ4(col("text")).cast("long"), lit(1000L)))
        .cast("long").as("b1000"),
      Hashing.hexInt(concat(lit("cur:"), col("doc_id").cast("string")))
        .as("h"))
      .select(col("doc_id"), (col("b1000") / 1000L).cast("long").as("bucket"),
        col("h"))
    graft.scd2.Historizer.withGaplessIndex(
        scored.orderBy(col("bucket").desc, col("h").asc, col("doc_id").asc),
        "pos")
      .select(col("doc_id"), col("bucket"), col("pos"))
  }

  /** Duplicate-family size histogram: how many clusters of each size the
    * connected-components pass found — the one-page shape readout
    * (mostly singletons? a few mega-families?) that decides whether
    * dedup keeps min-id or needs the quality-argmax pass. Two
    * lattice-sized aggregations over the cluster labels. */
  def qDedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(docs(s, dir), threshold = 0.5)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** ANN-approximation eval: IVF top-5 graded against brute-force top-5
    * ground truth — per-query recall@5, the number that says whether the
    * probe count is high enough before anyone trusts the index at a
    * scale where brute force is unaffordable. The twin of
    * q_dedup_minhash_eval on the similarity side. */
  def qSimRecallEval(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(e, q, k = 5)
      .select(col("query_id"), col("neighbor_id")).cp()
    val pred = Similarity.ivfTopK(e, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = pred.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    truth.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("k"),
        frac4Col(coalesce(col("hits"), lit(0L)), col("k")).as("recall"))
  }

  /** Spearman rank correlation between the two cheap quality signals
    * (heuristic quality score vs trigram typicality) — do they agree
    * enough that one can gate for both? Ranks are made UNIQUE by a
    * deterministic (score, doc_id) tiebreak, so ρ = 1 − 6Σd²/(n(n²−1))
    * needs no tie correction and every term is an exact integer; the
    * final ρ is one IEEE division. Each rank is a range-partitioned sort
    * + distributed gapless index — never a corpus-wide one-task window. */
  def qEvalRankcorr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dec = "decimal(38,0)"
    // ONE corpus text pass (VERDICT r14 #7): the q4 quality score is a
    // pure per-doc projection, so it rides the typicality pipeline as a
    // carried column instead of a second full scan + join. Both signals
    // land in the same per-doc aggregate row; sub-3-char docs (no
    // trigrams) drop exactly as the former inner join dropped them.
    val typ = TextAnalysis.trigramTypicality(
      d.select(col("doc_id"), col("text"),
        TextAnalysis.qualityScoreQ4(col("text")).cast("long").as("q4")),
      carry = Seq("q4"))
    // typicality ordered on the exact q6 lattice (⌊df_sum·10⁶/n_tris⌋) —
    // the double ratio itself never orders anything
    val both = typ.select(col("doc_id"), col("q4"), {
      val n6 = col("df_sum").cast(dec) * lit(1000000L)
      ((n6 - pmod(n6, col("n_tris").cast(dec))) / col("n_tris").cast(dec))
        .cast("long").as("t6")
    })
    graft.ext.Eval.spearman(both, "doc_id", "q4", "t6")
  }

  /** Mixture epoch plan: a 100k-char budget split across sources with
    * weight = source index + 1 (so shares genuinely differ), reported as
    * per-source epochs — the upsample/subsample repeat factor of a data-
    * budgeting schedule. */
  def qMixEpochs(s: SparkSession, dir: String): DataFrame =
    Curation.mixEpochs(docs(s, dir), col("source"),
      src => substring(src, 4, 10).cast("long") + lit(1L),
      budget = 100000L)

  /** Vocabulary concentration (Zipf readout): what fraction of all word
    * bigram occurrences the top-20 bigrams carry. High coverage means
    * boilerplate-heavy text; the number a repetition gate calibrates
    * against. Counts shuffle once (map-side combined); top-20 is a
    * TakeOrdered, never a global sort materialization. */
  def qTextNgramCoverage(s: SparkSession, dir: String): DataFrame = {
    val bi = docs(s, dir)
      .select(explode(Hashing.ngrams(Hashing.words(col("text")), 2))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .cp() // feeds the top-20 AND the totals
    val top = bi.orderBy(col("cnt").desc, col("bigram").asc).limit(20)
      .agg(sum(col("cnt")).as("top_mass"))
    val tot = bi.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_distinct"))
    tot.crossJoin(top).select(col("total"), col("n_distinct"),
      col("top_mass"), frac4Col(col("top_mass"), col("total")).as("coverage"))
  }

  /** HITS over the id-ordered near-dup pair graph (older doc → newer
    * copy): hubs = much-copied originals, authorities = accumulating
    * copies — the complementary centrality to q_graph_pagerank's
    * undirected hub score. 2 exact integer iterations, max-normalized. */
  def qGraphHits(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val p = Dedup.minhashNearDups(d, threshold = 0.5)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.ext.Graph.hits(d.select(col("doc_id")), p, iters = 2)
      .select(col("id").as("doc_id"), col("hub"), col("auth"))
  }

  /** Label propagation for weak supervision: even-id docs seed their
    * gold source label; 2 majority-vote rounds push labels across the
    * symmetrized near-dup graph to the unlabeled half. Near-copies of a
    * labeled doc inherit its label — the cheap annotation amplifier. */
  def qGraphLabelprop(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val p = Dedup.minhashNearDups(d, threshold = 0.5)
      .select(col("id_a"), col("id_b")).cp()
    val e = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"))
    graft.ext.Graph.labelPropagation(d.select(col("doc_id")), e, seeds,
        iters = 2)
      .select(col("id").as("doc_id"), col("lbl").as("label"), col("origin"))
  }

  /** Per-doc sentence-shape datasheet (count / mean / max chars) — the
    * granularity readout sentence-boundary chunking is tuned against. */
  def qTextSentences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sentenceStats(docs(s, dir))

  /** Sentence-preserving chunking at a 200-char budget: sentences land
    * in chunks by cumulative-char bucket — RAG/window prep that never
    * splits a sentence. */
  def qTextChunkSentences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkBySentences(docs(s, dir), budget = 200)

  /** Packing-efficiency datasheet over the 256-token/8-bucket greedy
    * pack: per bucket, sequences filled, fill fraction and boundary-
    * crossing docs — the batch-efficiency number a training loader
    * watches. */
  def qPackEval(s: SparkSession, dir: String): DataFrame = {
    val p = Curation.packSequences(docs(s, dir), budgetTokens = 256,
      buckets = 8)
    p.groupBy(col("bucket")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("tokens")).as("total_tokens"),
        sum(when(col("seq_offset") + col("tokens") > 256, 1L)
          .otherwise(0L)).as("n_overflow"))
      .select(col("bucket"), col("n_docs"), col("n_seqs"),
        col("total_tokens"), col("n_overflow"),
        frac4Col(col("total_tokens"), col("n_seqs") * lit(256L))
          .as("fill_frac"))
  }

  /** Calibration curve for the centroid classifier: accuracy by
    * RELATIVE-margin bin — per-mille margin ⌊1000·(s₁−s₂)/s₁⌋ bucketed
    * on power-of-two edges (<1‰, <2‰, <4‰, … <256‰, ≥256‰), scale-free
    * and resolution-matched to the head-heavy margin distribution a
    * many-class centroid model actually produces. Does a bigger
    * evidence gap mean a more trustworthy routing decision? The
    * threshold-picking readout for selective classification. */
  def qClassifyCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pm = Classifier.predictSelfTrained(d, "source", withMargin = true)
    def fdivL(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast("long")
    val mpm = when(col("score_q6") > 0,
      fdivL(col("margin_q6") * 1000L, col("score_q6"))).otherwise(lit(0L))
    val bin = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L).zipWithIndex
      .foldRight(lit(9L): Column) { case ((edge, i), acc) =>
        when(mpm < edge, i.toLong).otherwise(acc)
      }
    val binned = pm.filter(col("predicted").isNotNull)
      .select(col("doc_id"), col("predicted"), bin.as("bin"))
      .join(d.select(col("doc_id"), col("source")), "doc_id")
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted") === col("source"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("bin"), col("n"), col("n_correct"),
        frac4Col(col("n_correct"), col("n")).as("accuracy"))
  }

  /** Domain cap: at most 60 docs per source, preferring quality. */
  def qCurationDomaincap(s: SparkSession, dir: String): DataFrame =
    Curation.capPerGroup(docs(s, dir), col("source"), cap = 60)

  /** Corpus trigram-typicality quality score (gibberish detector). */
  def qTextTypicality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trigramTypicality(docs(s, dir))

  /** The three retrieval probes for BM25 top-10 (corpus-vocabulary terms
    * with distinct df profiles, so saturation, length-norm and idf all
    * genuinely move the ranking). Shared with the oracle text. */
  private[queries] val bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("fast", "table", "scan"),
    1L -> Seq("window", "agg", "batch"),
    2L -> Seq("customer", "query", "join"))

  /** BM25-shaped retrieval: top-10 docs for each probe query. */
  def qTextBm25(s: SparkSession, dir: String): DataFrame =
    Curation.bm25TopDocs(docs(s, dir), bm25Queries, k = 10)

  /** Hybrid retrieval: the engine's two retrieval halves — lexical BM25
    * top-20 and exact embedding-cosine top-20 (query vectors = the bm25
    * query ids, doc_id ≡ vec_id as in cross-modal dedup) — fused by
    * reciprocal-rank fusion on the exact integer lattice (VERDICT r7 #5).
    * Docs that both views agree on rise; either list alone can still
    * surface a doc. */
  /** MMR-diversified top-5 from a 20-candidate pool, λ=0.5 — retrieval
    * that refuses to return five near-duplicates of the best hit. */
  def qRetrievalMmr(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.mmrTopK(e, e.filter(col("vec_id") < 8), k = 5,
      poolSize = 20, lambda = 0.5)
  }

  /** Retrieval evaluation: nDCG@10 of the BM25 ranking against
    * term-overlap graded relevance — ranker changes gate on this. */
  def qRetrievalNdcg(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Curation.ndcgAtK(
      Curation.bm25TopDocs(d, bm25Queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rnk")),
      Curation.termOverlapRelevance(d, bm25Queries), k = 10)
  }

  def qRetrievalHybrid(s: SparkSession, dir: String): DataFrame = {
    val text = Curation.bm25TopDocs(docs(s, dir), bm25Queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rnk"))
    val e = emb(s, dir)
    val vec = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rnk"))
    Curation.rrfFuse(Seq(text, vec), k = 10)
  }

  // ----------------------------------------------------- multimodal
  def qMmMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(Multimodal.mediaFromDocuments(docs(s, dir)))

  def qMmFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.decodeMeta(Multimodal.mediaFromDocuments(docs(s, dir))))

  def qMmAudioWindows(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleAudioWindows(
      Multimodal.decodeMeta(Multimodal.mediaFromDocuments(docs(s, dir))))

  /** Aspect-preserving resize geometry + resized-payload digest. */
  def qMmResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImages(Multimodal.mediaFromDocuments(docs(s, dir)))

  /** Perceptual average-hash fingerprint per image (4×16-bit bands). */
  def qMmPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imagePhash(Multimodal.mediaFromDocuments(docs(s, dir)))

  /** Image near-dups: banded pHash candidates + exact hamming ≤ 3.
    * The corpus's distinct images all sit ≥ 12 bits apart (measured),
    * so the fixture PLANTS near-identical twins — every 7th image
    * re-published with its FIRST character replaced (a same-length,
    * single-position edit: the benign-perturbation class pHash exists
    * to catch; a length change would shift every bucket boundary of
    * the 1-D stub signal, which models a crop, not a re-encode) — and
    * the query must pair each twin with its original. */
  def qMmPhashDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val media = Multimodal.mediaFromDocuments(d)
    val twins = d
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(100000L)).as("media_id"),
        lit("image").as("kind"),
        encode(concat(lit("z"),
          substring(col("text"), 2, Integer.MAX_VALUE)), "UTF-8")
          .as("payload"))
    Multimodal.phashNearDups(
      Multimodal.imagePhash(media.unionByName(twins)))
  }

  /** Model-based routing (Classifier): train centroid profiles on the
    * corpus's own `source` labels, predict every document — the whole
    * train→predict chain under one oracle. */
  def qClassifySource(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Classifier.predictSelfTrained(d, "source")
  }

  /** Corpus cartography: k-means the embeddings, label each cluster
    * with its most distinguishing terms (cluster-vs-global relative
    * frequency on the q6 lattice). Oracle replays the full chain:
    * Lloyd sweeps, assignment, and the frequency contrast. */
  def qClusterTopics(s: SparkSession, dir: String): DataFrame =
    Classifier.clusterTopics(docs(s, dir), emb(s, dir), k = 8, iters = 2, topN = 5)

  /** Cluster-separation audit: centroid-based simplified silhouette per
    * cell (k = 8, the q_sim_kmeans codebook) — mean separation and the
    * boundary-vector count that says whether cell routing is stable. */
  def qClusterSilhouette(s: SparkSession, dir: String): DataFrame =
    graft.ext.KMeans.silhouetteCentroid(emb(s, dir), k = 8, iters = 2)

  /** Distortion (elbow) sweep over k ∈ {2,4,8}: the exact-inertia curve
    * whose knee picks K for IVF cells and topic routing. */
  def qClusterElbow(s: SparkSession, dir: String): DataFrame =
    graft.ext.KMeans.distortionSweep(emb(s, dir), Seq(2, 4, 8), iters = 2)

  /** External cluster validation: Adjusted Rand Index + purity of the
    * k = 8 assignment against the embeddings' label column — does the
    * unsupervised cell structure recover the labeled structure? */
  def qClusterAri(s: SparkSession, dir: String): DataFrame =
    graft.ext.KMeans.ariAgainstLabels(emb(s, dir), k = 8, iters = 2)

  def qMmFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs(s, dir)))
      .select(Seq(col("media_id"), col("kind")) ++
        (0 until 8).map(i => col("features")(i).as(s"f$i")): _*)

  /** PMI collocation mining: adjacent-bigram pointwise mutual
    * information on the exact ratio lattice (log-free — monotone in true
    * PMI), rare bigrams (< 5) dropped before the unigram joins. */
  def qTextPmi(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(docs(s, dir), minCount = 5L)

  /** Skip-gram co-occurrence counts (word2vec pair generator): ordered
    * pairs at distance 1..2, corpus-counted, rare pairs dropped. */
  def qTextSkipgram(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.skipgramPairs(docs(s, dir), window = 2, minCount = 5L)

  /** Chi-square independence audit of the corpus's two categorical
    * facets (lang × source): is language distribution uniform across
    * providers? One row of exact lattice statistics. */
  def qStatsChi2(s: SparkSession, dir: String): DataFrame =
    graft.ext.Stats.chiSquareIndependence(docs(s, dir), "lang", "source")

  /** Gini concentration of document mass across sources — the
    * "one provider owns the corpus" imbalance readout. */
  def qStatsGini(s: SparkSession, dir: String): DataFrame =
    graft.ext.Stats.giniConcentration(docs(s, dir), "source")

  /** Right-to-erasure cascade, BOTH phases: provider src7 requests
    * removal; phase 'pre' audits the live tables (rows_forget_keyed =
    * what the rewrite must drop), the rewrite lands through a real
    * TableStore roundtrip, and phase 'post' audits the RE-READ — its
    * rows_forget_keyed must be 0, counted on what storage actually
    * holds (a rewrite that silently kept rows fails the hash-compare
    * here, not just a spec). */
  def qPrivacyErasure(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val e = emb(s, dir)
    val forget = d.filter(col("source") === "src7").select(col("doc_id"))
    val tables = Seq(("documents", d, "doc_id"), ("embeddings", e, "vec_id"))
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-erasure").toString)
    try {
      tables.foreach { case (name, df, keyCol) =>
        store.overwrite(name,
          df.join(forget.select(col("doc_id").as(keyCol)), Seq(keyCol),
            "left_anti"))
      }
      val pre = Privacy.erasureAudit(tables, forget, "doc_id")
        .select(lit("pre").as("phase"), col("*"))
      val post = Privacy.erasureAudit(
        tables.map { case (name, _, keyCol) =>
          (name, store.read(name), keyCol)
        }, forget, "doc_id")
        .select(lit("post").as("phase"), col("*"))
      pre.unionByName(post)
        .localCheckpoint() // materialize before the backing files vanish
    } finally store.destroy() // ADVICE r12: no temp-dir leak on failure
  }

  /** Blocked record linkage (Fellegi–Sunter shape) over a
    * deterministically perturbed twin of customer: every third record's
    * name is defaced at a position OUTSIDE the blocking key, account
    * balances jitter by (key mod 7) cents, every eleventh segment is
    * lost — the linkage must re-find the true pairs from the blocking
    * join + weighted field agreement alone (name 40, balance-within-5¢
    * 25, segment 10; threshold 35). Blocks are (nation, last-5 name
    * digits) — bounded, never all-pairs. */
  def qLinkRecords(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Linkage
    val c = graft.Tables.load(s, dir, "customer")
    val base = c.select(col("c_custkey").as("k"), col("c_name"),
      col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("long").as("cents"),
      col("c_mktsegment"))
    val blkOf: Column => Column =
      name => substring(name, -5, 5)
    val a = base.select(col("k").as("a_id"),
      col("c_nationkey").as("bn"), blkOf(col("c_name")).as("bd"),
      col("c_name").as("a_name"), col("cents").as("a_cents"),
      col("c_mktsegment").as("a_seg"))
    val bName = when(col("k") % 3 === 0,
      concat(substring(col("c_name"), 1, 9), lit("X"),
        substring(col("c_name"), 11, 8))).otherwise(col("c_name"))
    val b = base.select((col("k") + 1000000L).as("b_id"),
      col("c_nationkey").as("bn"), bName.as("b_name0"),
      (col("cents") + col("k") % 7).as("b_cents"),
      when(col("k") % 11 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("b_seg"))
      .select(col("b_id"), col("bn"), blkOf(col("b_name0")).as("bd"),
        col("b_name0").as("b_name"), col("b_cents"), col("b_seg"))
    Linkage.linkRecords(a, b, Seq("bn", "bd"),
      Seq(Linkage.Rule("name", 40L, (x, y) => x === y),
        Linkage.Rule("cents", 25L, (x, y) => abs(x - y) <= 5L),
        Linkage.Rule("seg", 10L, (x, y) => x === y)),
      "a_id", "b_id", threshold = 35L)
  }

  /** Writing-script profile per document (explicit codepoint ranges —
    * portable across regex engines where \p{script=...} is not). */
  def qTextScripts(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptProfile(docs(s, dir))

  /** Pairwise Pearson matrix over lineitem's four numeric facets, exact
    * sufficient statistics in one aggregate pass. */
  def qStatsCorr(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(s, dir, "lineitem")
    graft.ext.Stats.correlationMatrix(li, Seq(
      "qty" -> round(col("l_quantity") * 100).cast("long"),
      "price" -> round(col("l_extendedprice") * 100).cast("long"),
      "disc" -> round(col("l_discount") * 100).cast("long"),
      "tax" -> round(col("l_tax") * 100).cast("long")))
  }

  /** Per-user OLS trend of sensor value over time — the drift detector
    * for the reference's DHT11-shaped series. */
  def qStatsRegression(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(s, dir, "events")
    graft.ext.Stats.groupRegression(ev, "user_id",
      unix_timestamp(col("ts")),
      round(col("value") * 100).cast("long"))
  }

  /** Benford leading-digit audit of order totals. */
  def qStatsBenford(s: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(s, dir, "orders")
    graft.ext.Stats.benfordAudit(o,
      round(col("o_totalprice") * 100).cast("long"))
  }

  /** Shot-boundary detection over the sampled video frames (SAD luma
    * detector on the deterministic stub frame signal). */
  def qMmScenecut(s: SparkSession, dir: String): DataFrame =
    Multimodal.sceneCuts(Multimodal.mediaFromDocuments(docs(s, dir)),
      stepMs = 1000L, window = 64, threshold = 16L)

  /** Domain provenance stats over deterministically planted URLs (the
    * synthetic corpus has no organic ones — the same enrichment
    * discipline as q_privacy_redact): every 7th doc gets an http URL on
    * a rotating host, every 14th an extra https URL, mirrored exactly in
    * the oracle. */
  def qTextUrls(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = concat(col("text"),
      lit(" visit http://site"), pmod(col("doc_id"), lit(5L)).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"))
    val extra = concat(lit(" and https://mirror.example.org/d/"),
      col("doc_id").cast("string"))
    val planted = d.select(col("doc_id"),
      when(col("doc_id") % 14 === 0, concat(base, extra))
        .when(col("doc_id") % 7 === 0, base)
        .otherwise(col("text")).as("text"))
    TextAnalysis.urlDomainStats(planted)
  }

  /** Release manifest: per-shard row counts, char mass, and the
    * order-independent mod-2⁶¹ content digest. */
  def qCurationManifest(s: SparkSession, dir: String): DataFrame =
    Curation.exportManifest(docs(s, dir), nShards = 7)

  /** Cross-provider duplication-leakage matrix: MinHash near-dup pairs
    * labeled by their two docs' sources — diagonal rows are
    * within-provider duplication, off-diagonal rows are providers
    * shipping the SAME content under different names (the signal that
    * collapses mixture weights: two "independent" sources that are one
    * crawl in two wrappers). Source pair is unordered (least, greatest)
    * so both directions fold into one cell. Pair-bounded work on top of
    * the registered candidate generator: two doc-keyed equi-joins + one
    * pair-sized aggregate. */
  def qDedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDups(d, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val src = d.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
        Seq("id_b"))
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** LIX readability per document (syllable-free index, q4 lattice). */
  def qTextReadability(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(docs(s, dir))

  /** Vocabulary octave spectrum + Good–Turing unseen mass. */
  def qVocabSpectrum(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabSpectrum(docs(s, dir))

  /** Pairwise source-vocabulary Jaccard (provider-overlap audit). */
  def qVocabOverlap(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.facetVocabOverlap(docs(s, dir), col("source"))

  /** Untimed bench setups for the indexed-search queries: build (or
    * verify via the completion marker) the persisted index BEFORE the
    * timer starts, so the timed sample is search-only on both cold and
    * warm scratch. q_sim_ivfpq_build deliberately has none — it IS the
    * build benchmark and times a forced rebuild. */
  private def ensurePqIndex(s: SparkSession, dir: String): Unit =
    graft.ext.PqIndex.ensure(pqIndexStore(s, dir), emb(s, dir))

  private def ensureIvfIndex(s: SparkSession, dir: String): Unit =
    graft.ext.PqIndex.ensureIvf(ivfIndexStore(s, dir), emb(s, dir))

  private def ensureResIndex(s: SparkSession, dir: String): Unit =
    graft.ext.PqIndex.ensureIvfResidual(resIndexStore(s, dir), emb(s, dir))

  private def ensureDcIndex(s: SparkSession, dir: String): Unit =
    graft.ext.PqIndex.ensureIvf(dcIndexStore(s, dir),
      emb(s, dir).filter(col("vec_id") % 97 =!= 0))

  /** Draw-sensitivity instrumentation — named WORK COUNTERS (VERDICT
    * r13 #1b pairs; generalized r15 per VERDICT r14 #1): queries whose
    * cost is proportional to a measurable property of the DRAW — the
    * near-dup pair count, the distinct word-type count, a per-group
    * distinct cardinality — name the counter that measures it. Each one
    * is a bench-run scan, far cheaper than the queries it adjudicates.
    * graft.Bench records each referenced counter (untimed) in the
    * artifact; tools/benchgate.py scales these queries' per-query limits
    * by the counter ratio vs the baseline's (clamped to [1, 10]), so a
    * heavy re-roll reads as "more work", not "regression", while an
    * equal-volume draw still gets the full 2× contract. The artifact
    * keys stay `n_pairs`/`pair_bounded` (baseline-format compat).
    *
    * Pair-bounded: cost tracks the draw's candidate near-dup pairs. For
    * q_dedup_clusters the label-propagation loop's per-ROUND cost is
    * O(edges) = O(pairs); round count (log component diameter) is also
    * a draw quantity but needs the loop itself to measure — the edge
    * counter protects against dup-heavy draws, the re-priced baseline
    * MAD carries the round-count variance (VERDICT r16 #2). */
  private val minhashPairs05 = Counter("minhash_pairs_05", (s, dir) =>
    Dedup.minhashNearDups(docs(s, dir), threshold = 0.5).count())

  /** Type-bounded: the per-DISTINCT-word segmenters/trainers (Unigram DP,
    * WordPiece greedy walk, BPE/unigram vocab induction) do their work
    * once per word TYPE — a vocabulary-heavy draw is more work. Counts
    * distinct word types under the tokenizers' own pre-tokenization
    * (Bpe.pieces — the unit tokenizeWith segments per). */
  private val distinctWords = Counter("distinct_words", (s, dir) =>
    graft.ext.Bpe.distinctPieceCount(docs(s, dir)))

  /** Trigram-volume-bounded (VERDICT r15 #1): trigramTypicality's
    * explode → DISTINCT shuffle → df join all scale with the draw's
    * char-trigram position count — a longer-text draw is more work at
    * the same sf, not a regression. Σ over docs of the char-trigram
    * position count (len−2, len ≥ 3): a pure scan aggregate (no
    * shuffle), pennies next to the queries it adjudicates. */
  private val trigramPositions = Counter("trigram_positions", (s, dir) =>
    docs(s, dir)
      .agg(sum(greatest(length(col("text")) - 2, lit(0))).cast("long"))
      .collect()(0).getLong(0))

  // =================================================== DuckDB oracles

  import Hashing.{bands => nBands, hexIntSql, minhashSql, numHashes, rowsPerBand}

  /** words CTE fragment over column `c`. */
  private def wordsSqlOf(c: String): String = Hashing.wordsSqlOf(c)

  /** 3-gram shingles of a word-list column `ws` (DuckDB 1-based slices). */
  private val shinglesSql =
    """CASE WHEN len(w) >= 3
      | THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
      | ELSE [] END""".stripMargin

  /** Shared CTE prefix: words → distinct shingles → 32-bit shingle hash. */
  private def shingleCtesFrom(src: String) =
    s"""ws AS (SELECT doc_id AS id, ${wordsSqlOf("text")} AS w FROM $src),
       |sh AS (SELECT id, unnest(list_distinct($shinglesSql)) AS shingle FROM ws),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)""".stripMargin

  private val shingleCtes = shingleCtesFrom("documents")

  private val dedupExactSql =
    """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Normalized-exact oracle: the identical lower → punct-to-space →
    * squeeze → trim chain (DuckDB regexp_replace needs the 'g' flag;
    * Spark's is global by default). */
  private val dedupNormalizedSql =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_md5,
      |  min(doc_id) AS canonical_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  private val dedupMinhashSql: String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${minhashSql("h", i)}) AS mh$i").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
      s"SELECT id, $b AS band, md5(concat_ws('|', ${slice.mkString(", ")})) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $shingleCtes,
       |h AS (SELECT id, ${hexIntSql("shingle")} AS h FROM sh),
       |sig AS (SELECT id, $mins FROM h GROUP BY id),
       |bands AS ($bandSelects),
       |cands AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cands c JOIN sh a ON a.id = c.id_a
       |  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST((i * 10000) // (sa.sz + sb.sz - i) AS DOUBLE) / 10000.0 AS jaccard
       |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |WHERE CAST((i * 10000) // (sa.sz + sb.sz - i) AS DOUBLE) / 10000.0 >= 0.5""".stripMargin
  }

  /** Sketch-estimate calibration oracle: same signature/band/candidate
    * CTEs as the minhash oracle, plus per-pair lane agreement and the
    * UNFILTERED exact Jaccard lattice point; everything stays integer
    * (lane counts, floor-divided means) — and every aggregate output is
    * CAST to BIGINT so DuckDB's HUGEINT never crosses the pandas
    * compare (the r12 q_sample_weighted lesson). */
  private def dedupMinhashCalibSqlFrom(src: String): String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${minhashSql("h", i)}) AS mh$i").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
      s"SELECT id, $b AS band, md5(concat_ws('|', ${slice.mkString(", ")})) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    val laneSum = (0 until numHashes)
      .map(i => s"CASE WHEN la.mh$i = lb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${shingleCtesFrom(src)},
       |h AS (SELECT id, ${hexIntSql("shingle")} AS h FROM sh),
       |sig AS (SELECT id, $mins FROM h GROUP BY id),
       |bands AS ($bandSelects),
       |cands AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id),
       |est AS (SELECT c.id_a, c.id_b, CAST($laneSum AS BIGINT) AS lanes_eq
       |  FROM cands c JOIN sig la ON la.id = c.id_a JOIN sig lb ON lb.id = c.id_b),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cands c JOIN sh a ON a.id = c.id_a
       |  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |ex AS (SELECT id_a, id_b, (i * 10000) // (sa.sz + sb.sz - i) AS j4
       |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b)
       |SELECT e.lanes_eq, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(CAST(sum(x.j4) AS BIGINT) // count(*) AS BIGINT) AS mean_j4
       |FROM est e JOIN ex x ON x.id_a = e.id_a AND x.id_b = e.id_b
       |GROUP BY 1""".stripMargin
  }

  private val dedupMinhashCalibSql: String =
    dedupMinhashCalibSqlFrom("documents")

  /** CTE fragment re-deriving the CALIBRATED lane cutoff in SQL — the
    * oracle twin of Dedup.calibratedLaneCutoff + the naiveLanes clamp
    * (spliced after WITH; yields CTEs `cd` (hash-bucket doc sample),
    * `calib` (sampled calibration table) and `cut` (the 1-row cutoff)).
    * Suffix rule: smallest lane level whose running min of mean_j4 from
    * the strict end stays ≥ calibMinMeanJ4; empty/never-qualifying →
    * numHashes. */
  private lazy val calibCutCtes: String =
    s"""cd AS (SELECT * FROM documents
       |  WHERE ${hexIntSql("('calib:' || CAST(doc_id AS VARCHAR))")} % $calibSampleMod = 0),
       |calib AS MATERIALIZED (${dedupMinhashCalibSqlFrom("cd")}),
       |cut AS (SELECT CAST(greatest(coalesce(min(lanes_eq), $numHashes),
       |    $naiveLanes) AS BIGINT) AS c
       |  FROM (SELECT lanes_eq,
       |      min(mean_j4) OVER (ORDER BY lanes_eq DESC) AS sfx FROM calib)
       |  WHERE sfx >= $calibMinMeanJ4)""".stripMargin

  /** Sketch-only pairs oracle: signature/band/candidate CTEs + lane
    * agreement ≥ 8, no exact-verify join — mirrors
    * Dedup.minhashSketchOnlyDups(minLanes=8). */
  private lazy val dedupSketchonlySql: String =
    dedupSketchonlySqlAt(naiveLanes.toString)

  private def dedupSketchonlySqlAt(cut: String): String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${minhashSql("h", i)}) AS mh$i").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
      s"SELECT id, $b AS band, md5(concat_ws('|', ${slice.mkString(", ")})) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    val laneSum = (0 until numHashes)
      .map(i => s"CASE WHEN la.mh$i = lb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shingleCtes,
       |h AS (SELECT id, ${hexIntSql("shingle")} AS h FROM sh),
       |sig AS (SELECT id, $mins FROM h GROUP BY id),
       |bands AS ($bandSelects),
       |cands AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id),
       |est AS (SELECT c.id_a, c.id_b, CAST($laneSum AS BIGINT) AS lanes_eq
       |  FROM cands c JOIN sig la ON la.id = c.id_a JOIN sig lb ON lb.id = c.id_b)
       |SELECT id_a, id_b, lanes_eq FROM est WHERE lanes_eq >= $cut""".stripMargin
  }

  /** df-capped chain mirroring Dedup.ngramJaccardPairs (maxDocFreq=64):
    * shingles with document frequency > 64 leave the index before the
    * self-join; sizes count the capped space. */
  private val dedupNgramJaccardSql =
    s"""WITH ws AS (SELECT doc_id AS id, ${wordsSqlOf("text")} AS w FROM documents),
       |sh0 AS (SELECT id, unnest(list_distinct($shinglesSql)) AS shingle FROM ws),
       |kept AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 64),
       |sh AS (SELECT id, shingle FROM sh0 WHERE shingle IN (SELECT shingle FROM kept)),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST((i * 10000) // (sa.sz + sb.sz - i) AS DOUBLE) / 10000.0 AS jaccard
       |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |WHERE CAST((i * 10000) // (sa.sz + sb.sz - i) AS DOUBLE) / 10000.0 >= 0.5""".stripMargin

  private val dedupSimhashSql: String = {
    val fp = (0 until Dedup.simhashBits).map { i =>
      s"""(CASE WHEN coalesce(list_sum(list_transform(w,
         |   x -> CASE WHEN (${hexIntSql("x")} >> $i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         | THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    s"""WITH ws AS (SELECT doc_id AS id, ${wordsSqlOf("text")} AS w FROM documents),
       |fp AS (SELECT id, $fp AS fp FROM ws),
       |banded AS (SELECT id, fp, b AS band, (fp >> (b * 8)) & 255 AS bh
       |  FROM fp, unnest([0, 1, 2, 3]) AS t(b)),
       |cands AS (SELECT DISTINCT l.id AS id_a, l.fp AS fp_a, r.id AS id_b, r.fp AS fp_b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
       |FROM cands WHERE bit_count(xor(fp_a, fp_b)) <= 3""".stripMargin
  }

  /** Winnowing-fingerprint bucket near-dups: self-join on BOTH extreme
    * gram hashes (min, max), exact-Jaccard verify (same chain as Dedup
    * .fingerprintNearDups). */
  private val dedupFingerprintSql: String = {
    val grams =
      s"""list_transform(range(1, length(text) - 3),
         |  i -> ${hexIntSql("substr(text, CAST(i AS INT), 5)")})""".stripMargin
    s"""WITH $shingleCtes,
       |g AS (SELECT doc_id AS id, $grams AS hs, ${hexIntSql("text")} AS whole,
       |  length(text) >= 5 AS long_enough FROM documents),
       |fp AS (SELECT id,
       |  CASE WHEN long_enough THEN list_min(hs) ELSE whole END AS mn,
       |  CASE WHEN long_enough THEN list_sort(list_distinct(hs))[2] ELSE whole END AS mn2,
       |  CASE WHEN long_enough THEN list_max(hs) ELSE whole END AS mx
       |FROM g),
       |cands AS (SELECT l.id AS id_a, r.id AS id_b
       |  FROM fp l JOIN fp r ON l.mn = r.mn AND l.mn2 = r.mn2
       |    AND l.mx = r.mx AND l.id < r.id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cands c JOIN sh a ON a.id = c.id_a
       |  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST((i * 10000) // (sa.sz + sb.sz - i) AS DOUBLE) / 10000.0 AS jaccard
       |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |WHERE CAST((i * 10000) // (sa.sz + sb.sz - i) AS DOUBLE) / 10000.0 >= 0.5""".stripMargin
  }

  private val stopLists: Map[String, String] = TextAnalysis.stopwords.map {
    case (l, ws) => l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
  }

  /** Fixed-point quality mirroring TextAnalysis.qualityScore: exact
    * integer numerator/denominator, 4-decimal floor via integer division
    * (`//`) — no float summation (FMA-contraction ulps) and no round()
    * (the rational lands exactly on decimal midpoints, where round-half
    * rules are engine-dependent). HUGEINT like the Spark side's
    * decimal(38,0): the products overflow int64 for multi-MB documents. */
  /** The score's exact fixed-point integer ⌊num·10⁴/den⌋ (HUGEINT) —
    * mirrors TextAnalysis.qualityScoreQ4. */
  private def qualityQ4Sql(text: String, ws: String, hEn: String): String =
    s"""(((CAST(4 AS HUGEINT) * least(length($text), 500) * greatest(length($text), 1) * greatest(len($ws), 1)
       |    + CAST(3 AS HUGEINT) * (greatest(length($text), 1) - len(regexp_extract_all($text, '[^A-Za-z0-9\\s]'))) * 500 * greatest(len($ws), 1)
       |    + CAST(3 AS HUGEINT) * least(3 * $hEn, greatest(len($ws), 1)) * 500 * greatest(length($text), 1)) * 10000)
       |  // (CAST(5000 AS HUGEINT) * greatest(length($text), 1) * greatest(len($ws), 1)))""".stripMargin

  private def qualitySql(text: String, ws: String, hEn: String): String =
    s"(CAST(${qualityQ4Sql(text, ws, hEn)} AS DOUBLE) / 10000.0)"

  private val textStatsSql: String = {
    val hits = Seq("en", "es", "fr", "de").map(l =>
      s"len(list_filter(wl, x -> list_contains(${stopLists(l)}, x))) AS h_$l").mkString(",\n  ")
    s"""WITH d AS (SELECT doc_id, text,
       |  ${wordsSqlOf("text")} AS ws,
       |  ${wordsSqlOf("lower(text)")} AS wl FROM documents),
       |h AS (SELECT doc_id, text, ws,
       |  $hits
       |FROM d)
       |SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       |  CASE WHEN h_en > 0 AND h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
       |       WHEN h_es > 0 AND h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
       |       WHEN h_fr > 0 AND h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
       |       WHEN h_de > 0 AND h_de = greatest(h_en, h_es, h_fr, h_de) THEN 'de'
       |       ELSE 'und' END AS lang_id,
       |  ${qualitySql("text", "ws", "h_en")} AS quality
       |FROM h""".stripMargin
  }

  private val textFingerprintSql =
    s"""SELECT doc_id,
       |  CASE WHEN length(text) >= 5
       |    THEN list_min(list_transform(range(1, length(text) - 3),
       |           i -> ${hexIntSql("substr(text, CAST(i AS INT), 5)")}))
       |    ELSE ${hexIntSql("text")} END AS fp,
       |  CASE WHEN length(text) >= 5
       |    THEN CAST(len(list_distinct(list_transform(range(1, length(text) - 3),
       |           i -> substr(text, CAST(i AS INT), 5)))) AS BIGINT)
       |    ELSE CAST(1 AS BIGINT) END AS n_grams
       |FROM documents""".stripMargin

  /** Parameterized language-id CTE chain → `lang$sfx` (doc_id, lang_id)
    * over an arbitrary text expression; mirrors TextAnalysis.langId. */
  private def langCtesOf(sfx: String, textExpr: String): String = {
    val hits = Seq("en", "es", "fr", "de").map(l =>
      s"len(list_filter(wl, x -> list_contains(${stopLists(l)}, x))) AS h_$l")
      .mkString(",\n  ")
    s"""ld$sfx AS (SELECT doc_id, ${wordsSqlOf(s"lower($textExpr)")} AS wl FROM documents),
       |lh$sfx AS (SELECT doc_id, $hits FROM ld$sfx),
       |lang$sfx AS (SELECT doc_id,
       |  CASE WHEN h_en > 0 AND h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
       |       WHEN h_es > 0 AND h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
       |       WHEN h_fr > 0 AND h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
       |       WHEN h_de > 0 AND h_de = greatest(h_en, h_es, h_fr, h_de) THEN 'de'
       |       ELSE 'und' END AS lang_id FROM lh$sfx)""".stripMargin
  }

  /** Shared language-id CTE chain → (doc_id, lang_id); mirrors
    * TextAnalysis.langId. */
  private val langCtes: String = langCtesOf("", "text")

  /** Same md5-bucket decision as Curation.stratifiedSample (en 50 %,
    * default 20 %). */
  private val sampleStratifiedSql =
    s"""WITH $langCtes,
       |s AS (SELECT doc_id, lang_id AS stratum,
       |  ${hexIntSql("(lang_id || ':' || CAST(doc_id AS VARCHAR))")} % 100 AS bucket
       |FROM lang)
       |SELECT doc_id, stratum, bucket FROM s
       |WHERE bucket < (CASE stratum WHEN 'en' THEN 50 ELSE 20 END)""".stripMargin

  /** Log-free tf-idf chain mirroring Curation.tfidfTopTerms (k=5).
    * HUGEINT like the Spark side's decimal(38,0): tf·N·10⁴ overflows
    * int64 once N·tf > ~9·10¹⁴. */
  private val textTfidfSql =
    s"""WITH w AS (SELECT doc_id, unnest(${wordsSqlOf("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (SELECT doc_id, term, tf,
       |  CAST((CAST(tf AS HUGEINT) * n * 10000) // df AS DOUBLE) / 10000.0 AS score
       |  FROM tf JOIN idf USING (term) CROSS JOIN n),
       |ranked AS (SELECT doc_id, term, tf, score,
       |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
       |  FROM scored)
       |SELECT doc_id, term, tf, score, rnk FROM ranked WHERE rnk <= 5""".stripMargin

  private val textRedactSql =
    s"""WITH t AS (SELECT doc_id, text ||
       |  (CASE WHEN doc_id % 3 = 0
       |    THEN ' Contact: user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
       |    ELSE '' END) ||
       |  (CASE WHEN doc_id % 5 = 0 THEN ' tel 555-123-4567' ELSE '' END) AS t
       |FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '${Curation.emailRegex}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '${Curation.phoneRegex}')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(t, '${Curation.emailRegex}', '[EMAIL]', 'g'),
       |    '${Curation.phoneRegex}', '[PHONE]', 'g') AS clean_text
       |FROM t""".stripMargin

  /** Cross-modal verification: the MinHash pair chain joined to embedding
    * cosines (same rounded-cosine arithmetic as the similarity oracles). */
  private val dedupCrossmodalSql =
    s"""WITH p AS ($dedupMinhashSql),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv FROM e)
       |SELECT id_a, id_b, jaccard,
       |  round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
       |        / (a.nv * b.nv), 6) AS cos
       |FROM p JOIN n a ON a.vec_id = id_a JOIN n b ON b.vec_id = id_b""".stripMargin

  /** Null-text rows filtered on both sides, matching Dedup.novelAgainst's
    * pinned NOT IN semantics (null digests neither classify as novel nor
    * poison the known set). */
  private val dedupNovelSql =
    """SELECT doc_id FROM documents
      |WHERE text IS NOT NULL AND md5(text) NOT IN
      |  (SELECT md5(text) FROM documents WHERE doc_id < 100 AND text IS NOT NULL)""".stripMargin

  /** 4-decimal floor fraction `⌊num·10⁴/den⌋/10⁴`, 0.0 on empty den —
    * mirrors the Spark operators' integer fixed-point grid. Both operands
    * interpolate PARENTHESIZED: DuckDB parses `x // a + b` as
    * `(x // a) + b`, the exact precedence slip that broke the r10
    * classifier-eval oracle. */
  private def frac4Sql(num: String, den: String): String =
    s"""CASE WHEN coalesce($den, 0) > 0
       | THEN CAST((coalesce($num, 0) * 10000) // ($den) AS DOUBLE) / 10000.0
       | ELSE 0.0 END""".stripMargin

  /** Decontamination oracle mirroring Decontamination.overlapStats (word
    * 3-grams; eval = doc_id % 97 = 0, training = the rest). */
  private val decontaminateSql: String = {
    def grams(pred: String) =
      s"""SELECT doc_id, list_distinct(${Hashing.ngramsSql("ws", 3)}) AS gs
         |FROM (SELECT doc_id, ${wordsSqlOf("text")} AS ws FROM documents
         |      WHERE $pred)""".stripMargin
    s"""WITH tr AS (${grams("doc_id % 97 <> 0")}),
       |dg AS (SELECT doc_id, unnest(gs) AS gram FROM tr),
       |eg AS (SELECT DISTINCT unnest(gs) AS gram
       |  FROM (${grams("doc_id % 97 = 0")})),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
       |hit AS (SELECT dg.doc_id, count(*) AS n_contaminated
       |  FROM dg JOIN eg USING (gram) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  ${frac4Sql("n_contaminated", "n_grams")} AS contaminated_frac,
       |  CAST(CASE WHEN coalesce(n_contaminated, 0) > 0 THEN 1 ELSE 0 END
       |       AS BIGINT) AS is_contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
       |LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)""".stripMargin
  }

  /** n-sweep profile oracle: per-n gram CTEs unioned (the oracle may
    * re-scan per n; the ENGINE's one-pass claim is the Spark plan's),
    * same frac4 lattice. */
  private val decontamProfileSql: String = {
    val ns = Seq(2, 3, 4, 5)
    def armOf(src: String, withId: Boolean) = ns.map { n =>
      val idSel = if (withId) "doc_id, " else ""
      s"""SELECT $idSel$n AS n,
         |  unnest(list_distinct(${Hashing.ngramsSql("w", n)})) AS gram
         |FROM $src""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ws AS (SELECT doc_id, ${wordsSqlOf("text")} AS w
       |  FROM documents WHERE doc_id % 97 <> 0),
       |ews AS (SELECT ${wordsSqlOf("text")} AS w
       |  FROM documents WHERE doc_id % 97 = 0),
       |dg AS (${armOf("ws", withId = true)}),
       |eg AS (SELECT DISTINCT n, gram FROM (${armOf("ews", withId = false)})),
       |tot AS (SELECT n, doc_id, count(*) AS n_grams FROM dg GROUP BY 1, 2),
       |hit AS (SELECT dg.n, dg.doc_id, count(*) AS n_hits
       |  FROM dg JOIN eg USING (n, gram) GROUP BY 1, 2),
       |per AS (SELECT tot.n, tot.doc_id, n_grams, coalesce(n_hits, 0) AS n_hits
       |  FROM tot LEFT JOIN hit ON hit.n = tot.n AND hit.doc_id = tot.doc_id)
       |SELECT n, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_contaminated,
       |  CAST(sum(n_grams) AS BIGINT) AS total_grams,
       |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
       |  ${frac4Sql("sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END)", "count(*)")}
       |    AS doc_frac,
       |  ${frac4Sql("sum(n_hits)", "sum(n_grams)")} AS gram_frac
       |FROM per GROUP BY 1""".stripMargin
  }

  /** Span-excision oracle: identical word lattice — grams via the
    * canonical indexed list_transform (1-based i, 0-based hit index
    * i-1), a word at 0-based j drops iff some hit k covers it
    * (k ≤ j ≤ k+n-1), clean text is the survivors space-joined. */
  private val decontamExciseSql: String = {
    val n = 3
    s"""WITH ws AS (SELECT doc_id, ${wordsSqlOf("text")} AS w
       |  FROM documents WHERE doc_id % 97 <> 0),
       |eg AS (SELECT DISTINCT unnest(list_distinct(${Hashing.ngramsSql("w", n)})) AS gram
       |  FROM (SELECT ${wordsSqlOf("text")} AS w FROM documents WHERE doc_id % 97 = 0)),
       |g AS (SELECT doc_id, i - 1 AS i, array_to_string(w[i:i+${n - 1}], ' ') AS gram
       |  FROM ws, unnest(range(1, len(w) - ${n - 2})) t(i) WHERE len(w) >= $n),
       |h AS (SELECT g.doc_id, list_sort(list(DISTINCT g.i)) AS h
       |  FROM g JOIN eg USING (gram) GROUP BY 1),
       |sel AS (SELECT ws.doc_id, w, h,
       |  CASE WHEN h IS NULL THEN w
       |       ELSE list_filter(w, (x, j) -> len(list_filter(h,
       |              k -> k <= j - 1 AND j - 1 <= k + ${n - 1})) = 0) END AS kept
       |  FROM ws LEFT JOIN h USING (doc_id))
       |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
       |  CAST(coalesce(len(h), 0) AS BIGINT) AS n_gram_hits,
       |  CAST(len(w) - len(kept) AS BIGINT) AS n_words_dropped
       |FROM sel""".stripMargin
  }

  /** Fuzzy-join oracle mirroring Dedup.editDistancePairs at d=1: same
    * typo enrichment, same 2-segment index / length-windowed substring
    * probe blocking, same exact levenshtein filter and (least, greatest)
    * canonicalization. */
  private val dedupFuzzySql =
    s"""WITH nm AS (SELECT p_name AS s, CAST(min(p_partkey) AS BIGINT) AS id
       |  FROM part GROUP BY p_name),
       |base AS (
       |  SELECT id, s FROM nm
       |  UNION ALL
       |  SELECT id + 10000000, substring(s, 1, 4) || substring(s, 6)
       |  FROM nm WHERE id % 7 = 0),
       |b AS (SELECT id, s, length(s) AS n FROM base),
       |si AS (SELECT id, s, n, unnest([0, 1]) AS i FROM b),
       |segs AS (SELECT id AS id_a, s AS s_a, n AS n_a,
       |    substring(s, CAST((i * n) // 2 + 1 AS INT),
       |      CAST(((i + 1) * n) // 2 - (i * n) // 2 AS INT)) AS seg
       |  FROM si WHERE ((i + 1) * n) // 2 - (i * n) // 2 >= 1),
       |pl AS (SELECT id, s, n,
       |    unnest(range(greatest(1, (n - 1) // 2), (n + 2) // 2 + 1)) AS L
       |  FROM b),
       |pp AS (SELECT id, s, n, L, unnest(range(1, n - L + 2)) AS p
       |  FROM pl WHERE n - L + 1 >= 1),
       |probes AS (SELECT id AS id_b, s AS s_b, n AS n_b,
       |    substring(s, CAST(p AS INT), CAST(L AS INT)) AS seg FROM pp),
       |raw AS (
       |  SELECT id_a, s_a, n_a, id_b, s_b, n_b
       |  FROM segs JOIN probes USING (seg)
       |  UNION ALL
       |  SELECT a.id, a.s, a.n, t.id, t.s, t.n
       |  FROM (SELECT * FROM b WHERE n <= 1) a,
       |       (SELECT * FROM b WHERE n <= 2) t),
       |cand AS (SELECT DISTINCT
       |    least(id_a, id_b) AS ida, greatest(id_a, id_b) AS idb,
       |    CASE WHEN id_a < id_b THEN s_a ELSE s_b END AS sa,
       |    CASE WHEN id_a < id_b THEN s_b ELSE s_a END AS sb
       |  FROM raw
       |  WHERE id_a <> id_b AND abs(n_a - n_b) <= 1)
       |SELECT ida AS id_a, idb AS id_b,
       |  CAST(levenshtein(sa, sb) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(sa, sb) <= 1""".stripMargin

  /** Repetition-battery oracle mirroring TextAnalysis.repetitionStats
    * (word bigrams, cnt-desc/gram-asc tiebreak). */
  private val textRepetitionSql =
    s"""WITH w AS (SELECT doc_id, ${wordsSqlOf("text")} AS ws FROM documents),
       |p AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |  len(ws) - len(list_distinct(ws)) AS ndup,
       |  length(array_to_string(ws, '')) AS chars FROM w),
       |g AS (SELECT doc_id, unnest(${Hashing.ngramsSql("ws", 2)}) AS gram FROM w),
       |cnt AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ngrams
       |  FROM cnt GROUP BY 1),
       |top AS (SELECT doc_id, gram AS top_gram, cnt AS top_gram_n FROM
       |  (SELECT doc_id, gram, cnt, ROW_NUMBER() OVER (PARTITION BY doc_id
       |     ORDER BY cnt DESC, gram) AS rnk FROM cnt) WHERE rnk = 1)
       |SELECT p.doc_id, n_words,
       |  ${frac4Sql("ndup", "n_words")} AS dup_word_frac,
       |  ${frac4Sql("chars", "n_words")} AS mean_word_len,
       |  CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams,
       |  top_gram,
       |  CAST(coalesce(top_gram_n, 0) AS BIGINT) AS top_gram_n,
       |  ${frac4Sql("top_gram_n", "n_ngrams")} AS top_gram_frac
       |FROM p LEFT JOIN tot USING (doc_id) LEFT JOIN top USING (doc_id)""".stripMargin

  /** Mixture-resampling oracle mirroring Curation.resampleToMix
    * (60/25/15 en/es/zh on the stored lang column; HUGEINT like the
    * Spark side's decimal(38,0)). */
  private val sampleMixSql =
    s"""WITH d AS (SELECT doc_id, lang AS stratum,
       |  CASE lang WHEN 'en' THEN 60 WHEN 'es' THEN 25 WHEN 'zh' THEN 15
       |    ELSE 0 END AS w
       |  FROM documents),
       |c AS (SELECT stratum, w, count(*) AS c FROM d WHERE w > 0 GROUP BY 1, 2),
       |cap AS (SELECT stratum, w, c, (c * 100) // w AS cap FROM c),
       |tm AS (SELECT min(cap) AS t FROM cap),
       |r AS (SELECT stratum,
       |  CAST((CAST(w AS HUGEINT) * t * 1000000) // (CAST(100 AS HUGEINT) * c)
       |       AS BIGINT) AS keep_ppm
       |  FROM cap CROSS JOIN tm)
       |SELECT doc_id, stratum, keep_ppm
       |FROM d JOIN r USING (stratum)
       |WHERE ${hexIntSql("stratum || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
       |  < keep_ppm""".stripMargin

  /** Shared isqrt CTEs for the temperature-mixture oracles: per-source
    * counts over `src`, floor(sqrt) with the ±1 integer correction. */
  private def isqrtCtesOver(src: String): String =
    s"""nsrc AS (SELECT source, count(*) AS n_docs FROM $src GROUP BY 1),
       |sroot AS (SELECT source, n_docs,
       |  CASE WHEN (f + 1) * (f + 1) <= n_docs THEN f + 1
       |       WHEN f * f > n_docs THEN f - 1 ELSE f END AS s_root
       |  FROM (SELECT source, n_docs,
       |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS f
       |    FROM nsrc))""".stripMargin
  private val isqrtCtes = isqrtCtesOver("documents")

  /** Temperature-resample chain over `src` (needs the isqrt CTEs in
    * scope): keep_ppm per stratum, hash-bucket keep filter. */
  private def temperatureTailOver(src: String): String =
    s"""tw AS (SELECT CAST(sum(s_root) AS HUGEINT) AS total_w FROM sroot),
       |d AS (SELECT doc_id, source AS stratum, s.s_root AS w
       |  FROM $src JOIN sroot s USING (source)),
       |c AS (SELECT stratum, w, count(*) AS c FROM d WHERE w > 0 GROUP BY 1, 2),
       |cap AS (SELECT stratum, w, c,
       |  (CAST(c AS HUGEINT) * (SELECT total_w FROM tw)) // w AS cap FROM c),
       |tm AS (SELECT min(cap) AS t FROM cap),
       |r AS (SELECT stratum,
       |  CAST((CAST(w AS HUGEINT) * t * 1000000)
       |       // ((SELECT total_w FROM tw) * c) AS BIGINT) AS keep_ppm
       |  FROM cap CROSS JOIN tm)""".stripMargin

  private val mixScheduleSql =
    s"""WITH $isqrtCtes,
       |t AS (SELECT CAST(sum(s_root) AS HUGEINT) AS s_tot FROM sroot)
       |SELECT source, n_docs, s_root,
       |  CAST((CAST(s_root AS HUGEINT) * 1000000) // s_tot AS BIGINT) AS w_ppm,
       |  CAST((CAST(s_root AS HUGEINT) * 10000) // s_tot AS BIGINT) AS planned
       |FROM sroot CROSS JOIN t""".stripMargin

  /** Temperature resample oracle: the sample_mix chain with the CASE
    * weight table replaced by the isqrt schedule. */
  private val sampleTemperatureSql =
    s"""WITH $isqrtCtes,
       |${temperatureTailOver("documents")}
       |SELECT doc_id, stratum, keep_ppm
       |FROM d JOIN r USING (stratum)
       |WHERE ${hexIntSql("stratum || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
       |  < keep_ppm""".stripMargin

  /** Funnel v3 oracle: classifier self-consistency gate (predicted ==
    * metadata source) composed with the temperature rebalance over the
    * surviving docs — the classifier CTEs, the isqrt schedule and the
    * resample tail are the same fragments the standalone oracles use. */
  private val curationFunnel3Sql =
    s"""WITH ${graft.ext.Classifier.classifierCtes("source")},
       |kept AS (SELECT dd.doc_id, dd.source
       |  FROM documents dd JOIN best b USING (doc_id)
       |  WHERE b.predicted = dd.source),
       |${isqrtCtesOver("kept")},
       |${temperatureTailOver("kept")}
       |SELECT doc_id, stratum, keep_ppm
       |FROM d JOIN r USING (stratum)
       |WHERE ${hexIntSql("stratum || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
       |  < keep_ppm""".stripMargin

  /** Sequence-packing oracle mirroring Curation.packSequences (budget 256,
    * 8 buckets): same hash spread, same (hash, id) order, same exclusive
    * running-offset binning. */
  private val textPackSql = {
    val h = hexIntSql("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens,
       |  $h % 8 AS bucket
       |  FROM (SELECT doc_id, ${wordsSqlOf("text")} AS ws FROM documents)
       |  WHERE len(ws) > 0),
       |c AS (SELECT doc_id, bucket, tokens,
       |  CAST(sum(tokens) OVER (PARTITION BY bucket
       |    ORDER BY $h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    - tokens AS start FROM d)
       |SELECT doc_id, bucket, tokens,
       |  start // 256 AS seq_id, start % 256 AS seq_offset FROM c""".stripMargin
  }

  /** Best-of-cluster oracle: the recursive-closure cluster CTE joined to
    * the fixed-point quality score, arg-max per cluster (quality desc,
    * id tiebreak). */
  // lazy: embeds dedupClustersSql, which is declared later in this object
  private lazy val dedupBestSql =
    s"""WITH base AS (SELECT doc_id, text,
       |  ${wordsSqlOf("text")} AS ws, ${wordsSqlOf("lower(text)")} AS wl
       |  FROM documents),
       |h AS (SELECT doc_id, text, ws,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |  FROM base),
       |q AS (SELECT doc_id, ${qualitySql("text", "ws", "h_en")} AS quality FROM h),
       |c AS (SELECT * FROM ($dedupClustersSql)),
       |j AS (SELECT c.doc_id, c.cluster_id, q.quality FROM c JOIN q USING (doc_id)),
       |m AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM j GROUP BY 1),
       |r AS (SELECT cluster_id, doc_id, quality, ROW_NUMBER() OVER (
       |  PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rnk FROM j)
       |SELECT r.cluster_id, doc_id AS best_id, quality AS best_quality, n_members
       |FROM r JOIN m USING (cluster_id) WHERE rnk = 1""".stripMargin

  /** Boilerplate oracle mirroring Curation.boilerplateStats (n=1 →
    * distinct words; int64 threshold compare, no division). */
  private val textBoilerplateSql =
    s"""WITH g AS (SELECT doc_id, src, unnest(list_distinct(ws)) AS gram
       |  FROM (SELECT doc_id, source AS src, ${wordsSqlOf("text")} AS ws
       |        FROM documents)),
       |ps AS (SELECT source AS src, count(*) AS nd FROM documents GROUP BY 1),
       |dfs AS (SELECT src, gram, count(*) AS df FROM g GROUP BY 1, 2),
       |boiler AS (SELECT src, gram FROM dfs JOIN ps USING (src)
       |  WHERE df * 10000 >= 5000 * nd),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
       |hit AS (SELECT g.doc_id, count(*) AS n_boiler
       |  FROM g JOIN boiler USING (src, gram) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
       |  ${frac4Sql("n_boiler", "n_grams")} AS boiler_frac
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)""".stripMargin

  /** Corpus-report oracle mirroring Curation.corpusReport: ROLLUP
    * (source, lang), mean quality = one floor-division of the exact
    * HUGEINT q4 sum. */
  private val corpusReportSql =
    s"""WITH base AS (SELECT source, lang,
       |  CAST(len(ws) AS BIGINT) AS toks,
       |  ${qualityQ4Sql("text", "ws", "h_en")} AS q4,
       |  md5(text) AS digest
       |  FROM (SELECT source, lang, text, ws,
       |    len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |    FROM (SELECT source, lang, text, ${wordsSqlOf("text")} AS ws,
       |      ${wordsSqlOf("lower(text)")} AS wl FROM documents)))
       |SELECT source, lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT digest) AS BIGINT) AS n_unique,
       |  CAST(sum(q4) // count(*) AS DOUBLE) / 10000.0 AS mean_quality
       |FROM base GROUP BY ROLLUP (source, lang)""".stripMargin

  /** Quality-quantile oracle mirroring qCorpusQualityQuantiles: same q4
    * lattice, same (source, unit) histogram, same cum·10⁶ ≥ q_ppm·n
    * integer rank test. */
  private val corpusQualityQuantilesSql = {
    def q(name: String, ppm: Long) =
      s"""CAST(min(CASE WHEN CAST(cum AS HUGEINT) * 1000000 >=
         |  $ppm * CAST(n AS HUGEINT) THEN unit END) AS DOUBLE) / 10000.0
         |  AS $name""".stripMargin
    s"""WITH base AS (SELECT source, ${qualityQ4Sql("text", "ws", "h_en")} AS unit
       |  FROM (SELECT source, text, ws,
       |    len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |    FROM (SELECT source, text, ${wordsSqlOf("text")} AS ws,
       |      ${wordsSqlOf("lower(text)")} AS wl FROM documents))),
       |h AS (SELECT source, unit, count(*) AS cnt FROM base GROUP BY 1, 2),
       |c AS (SELECT source, unit, cnt,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY unit) AS cum,
       |    sum(cnt) OVER (PARTITION BY source) AS n FROM h)
       |SELECT source, CAST(n AS BIGINT) AS n_rows,
       |  ${q("p25_quality", 250000L)}, ${q("p50_quality", 500000L)},
       |  ${q("p75_quality", 750000L)}
       |FROM c GROUP BY source, n""".stripMargin
  }

  /** KMV corpus-profile oracle mirroring Curation.corpusReportKmv: leaf
    * keeps from the corpus, per-source and grand-total keeps RE-KEPT from
    * the level below (the merge law, verbatim), same HUGEINT floor
    * estimator as the q_kmv_distinct oracle. */
  private val corpusReportKmvSql = {
    import graft.ext.{Hashing, Sketches}
    s"""WITH d AS (SELECT DISTINCT source, lang,
       |    ${Hashing.hexLongSql("text")} AS h FROM documents
       |    WHERE text IS NOT NULL),
       |lr AS (SELECT source, lang, h, row_number() OVER
       |    (PARTITION BY source, lang ORDER BY h) AS rnk FROM d),
       |lk AS (SELECT source, lang, h FROM lr WHERE rnk <= 64),
       |sd AS (SELECT DISTINCT source, h FROM lk),
       |sr AS (SELECT source, h, row_number() OVER
       |    (PARTITION BY source ORDER BY h) AS rnk FROM sd),
       |sk AS (SELECT source, h FROM sr WHERE rnk <= 64),
       |td AS (SELECT DISTINCT h FROM sk),
       |tr2 AS (SELECT h, row_number() OVER (ORDER BY h) AS rnk FROM td),
       |tk AS (SELECT h FROM tr2 WHERE rnk <= 64),
       |u AS (
       |  SELECT source, lang, count(*) AS n_kept, max(h) AS kth_hash
       |  FROM lk GROUP BY 1, 2
       |  UNION ALL
       |  SELECT source, CAST(NULL AS VARCHAR), count(*), max(h)
       |  FROM sk GROUP BY 1
       |  UNION ALL
       |  SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), count(*), max(h)
       |  FROM tk)
       |SELECT source, lang, n_kept, kth_hash,
       |  CASE WHEN n_kept < 64 OR kth_hash = 0 THEN CAST(n_kept AS DOUBLE)
       |       ELSE CAST((CAST(63 AS HUGEINT) * ${Sketches.kmvHashDomain} * 10000)
       |              // kth_hash AS DOUBLE) / 10000.0 END AS est_distinct
       |FROM u""".stripMargin
  }

  /** Full funnel oracle: same normalize → quality/lang gates (rounded
    * quality BEFORE the threshold, en-priority tie rule) → min-id per
    * digest → BPE-ish token count. */
  private val curationFunnelSql: String = {
    val hits = Seq("en", "es", "fr", "de").map(l =>
      s"len(list_filter(wl, x -> list_contains(${stopLists(l)}, x))) AS h_$l")
      .mkString(",\n  ")
    s"""WITH norm AS (SELECT doc_id,
       |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text FROM documents),
       |d AS (SELECT doc_id, text, ${wordsSqlOf("text")} AS ws,
       |  ${wordsSqlOf("lower(text)")} AS wl FROM norm),
       |h AS (SELECT doc_id, text, ws, $hits FROM d),
       |gated AS (SELECT doc_id, text FROM h
       |  WHERE ${qualitySql("text", "ws", "h_en")} >= 0.5
       |    AND h_en > 0 AND h_en = greatest(h_en, h_es, h_fr, h_de)),
       |canon AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text))
       |SELECT g.doc_id,
       |  CAST(len(regexp_extract_all(g.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS tokens
       |FROM gated g JOIN canon USING (doc_id)""".stripMargin
  }

  private val textNormalizeSql =
    """SELECT doc_id,
      |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
      |  CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
      |FROM documents""".stripMargin

  /** k-per-group sample mirroring Curation.samplePerGroup (k=3, md5-hash
    * order with id tiebreak). */
  private val samplePerGroupSql =
    s"""WITH $langCtes,
       |r AS (SELECT doc_id, lang_id AS stratum,
       |  ROW_NUMBER() OVER (PARTITION BY lang_id
       |    ORDER BY ${hexIntSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rnk
       |  FROM lang)
       |SELECT doc_id, stratum, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** Token-window chunking mirroring Curation.chunkTokens (C=64, S=48);
    * chunk-count arithmetic is the same ceil-free double division. */
  private val textChunksSql =
    s"""WITH w AS (SELECT doc_id, ${wordsSqlOf("text")} AS ws FROM documents),
       |m AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
       |k AS (SELECT doc_id, ws, n,
       |  CASE WHEN n <= 64 THEN 1
       |       ELSE CAST(floor(CAST(n - 64 + 47 AS DOUBLE) / 48) AS BIGINT) + 1 END AS n_chunks
       |  FROM m),
       |c AS (SELECT doc_id, n, ws, unnest(range(0, n_chunks)) AS chunk_id FROM k)
       |SELECT doc_id, chunk_id,
       |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS chunk_tokens,
       |  array_to_string(
       |    ws[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(least(chunk_id * 48 + 64, n) AS BIGINT)],
       |    ' ') AS chunk_text
       |FROM c""".stripMargin

  /** Committed-BPE oracle: replays the same merges table (generated
    * from graft.ext.Bpe — single source of truth) and digests the token
    * sequence with the same separator. */
  private val textBpeSql = {
    import graft.ext.Bpe
    s"""SELECT doc_id,
       |  ${Bpe.tokenCountSqlOf("text")} AS n_tokens,
       |  md5(array_to_string(${Bpe.tokensSqlOf("text")}, '${Bpe.sep}'))
       |    AS tok_digest
       |FROM documents""".stripMargin
  }

  private val textBpeBytesSql = {
    import graft.ext.Bpe
    s"""SELECT doc_id,
       |  ${Bpe.tokenCountBytesSqlOf("text")} AS n_tokens,
       |  md5(array_to_string(${Bpe.tokensBytesSqlOf("text")}, '${Bpe.sep}'))
       |    AS tok_digest
       |FROM documents""".stripMargin
  }

  /** NULL text → NULL tokens_match, mirroring the engine's digest ===
    * digest null contract (ADVICE r17: the bare CASE's else-branch would
    * report 0 where Spark yields NULL — latent only, make_draw never
    * emits null text). */
  private val bpeBytesParitySql = {
    import graft.ext.Bpe
    s"""SELECT doc_id,
       |  ${Bpe.tokenCountSqlOf("text")} AS n_tokens_char,
       |  ${Bpe.tokenCountBytesSqlOf("text")} AS n_tokens_bytes,
       |  CAST(CASE WHEN text IS NULL THEN NULL WHEN
       |    md5(array_to_string(${Bpe.tokensSqlOf("text")}, '${Bpe.sep}')) =
       |    md5(array_to_string(${Bpe.tokensBytesSqlOf("text")}, '${Bpe.sep}'))
       |  THEN 1 ELSE 0 END AS BIGINT) AS tokens_match
       |FROM documents""".stripMargin
  }

  /** Quality-drift oracle: identical (source, bin, slice) counts,
    * per-source totals, and the one HUGEINT floor division of
    * Σ|aᵢ·nb − bᵢ·na| over 2·na·nb. */
  private val qualityDriftSql =
    s"""WITH base AS (SELECT source, doc_id % 2 AS slice,
       |    (q4 - (q4 % 1000)) // 1000 AS bin
       |  FROM (SELECT source, doc_id, ${qualityQ4Sql("text", "ws", "h_en")} AS q4
       |    FROM (SELECT source, doc_id, text, ws,
       |      len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |      FROM (SELECT source, doc_id, text, ${wordsSqlOf("text")} AS ws,
       |        ${wordsSqlOf("lower(text)")} AS wl FROM documents)))),
       |c AS (SELECT source, bin,
       |    CAST(sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
       |  FROM base GROUP BY 1, 2),
       |t AS (SELECT source, CAST(sum(a) AS BIGINT) AS n_a,
       |    CAST(sum(b) AS BIGINT) AS n_b FROM c GROUP BY 1),
       |agg AS (SELECT c.source, n_a, n_b,
       |    sum(abs(CAST(a AS HUGEINT) * n_b - CAST(b AS HUGEINT) * n_a)) AS s
       |  FROM c JOIN t ON c.source = t.source GROUP BY 1, 2, 3)
       |SELECT source, n_a, n_b,
       |  CASE WHEN n_a > 0 AND n_b > 0
       |    THEN CAST((s * 10000) // (CAST(2 AS HUGEINT) * n_a * n_b)
       |      AS DOUBLE) / 10000.0
       |    ELSE 1.0 END AS tvd
       |FROM agg""".stripMargin

  /** Fertility oracle: identical one-pass per-lang integer sums, frac4
    * ratios over the aggregated sums. */
  private val tokFertilitySql = {
    import graft.ext.Bpe
    s"""WITH t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(${wordsSqlOf("text")})) AS BIGINT) AS n_words,
       |    CAST(sum(${Bpe.tokenCountSqlOf("text")}) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY 1)
       |SELECT lang, n_docs, n_words, n_tokens, n_chars,
       |  ${frac4Sql("n_tokens", "n_words")} AS fertility,
       |  ${frac4Sql("n_chars", "n_tokens")} AS chars_per_token
       |FROM t""".stripMargin
  }

  /** OOV datasheet oracle: the one-statement tokenizeBert chain as a
    * derived table, pre-token counts from the shared pieces regex,
    * per-lang sums + frac4 rates. */
  private val tokOovSql = {
    import graft.ext.{Bpe, WordPiece}
    s"""WITH tb AS (${WordPiece.tokenizeBertSqlOf("documents", "doc_id", "text", oovVocab)}),
       |j AS (SELECT d.lang,
       |    CAST(len(${Bpe.piecesSql("text")}) AS BIGINT) AS nw,
       |    tb.n_tokens, tb.n_unk_words
       |  FROM documents d JOIN tb ON tb.doc_id = d.doc_id),
       |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nw) AS BIGINT) AS n_words,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_unk_words) AS BIGINT) AS n_unk_words
       |  FROM j GROUP BY 1)
       |SELECT lang, n_docs, n_words, n_tokens, n_unk_words,
       |  ${frac4Sql("n_unk_words", "n_words")} AS oov_rate,
       |  ${frac4Sql("n_tokens", "n_words")} AS fertility
       |FROM t""".stripMargin
  }

  /** BPE-training oracle: 12 unrolled learn steps, each picking the
    * arg-max pair of the previous state and applying it with a
    * column-valued replace — the oracle LEARNS the table, it is not
    * handed the answer. */
  private val bpeTrainSql =
    graft.ext.Bpe.trainSqlOf("documents", "text", numMerges = 12)

  private val textBpeTrainedSql =
    graft.ext.Bpe.tokenizeTrainedSqlOf("documents", "doc_id", "text",
      numMerges = 12)

  private lazy val textUnigramSql =
    graft.ext.Unigram.tokenizeSqlOf("documents", "doc_id", "text")

  private lazy val unigramTrainSql =
    graft.ext.Unigram.trainSqlOf("documents", "text")

  private lazy val textUnigramTrainedSql =
    graft.ext.Unigram.tokenizeTrainedSqlOf("documents", "doc_id", "text")

  /** Parity oracle: both trained tokenizers re-derived in one statement
    * (their oracles compose as scoped sub-WITHs), aggregated per source. */
  private lazy val tokenizerParitySql =
    s"""WITH b AS MATERIALIZED ($textBpeTrainedSql),
       |u AS MATERIALIZED ($textUnigramTrainedSql),
       |j AS (SELECT d.source, CAST(length(d.text) AS BIGINT) AS nc,
       |    b.n_tokens AS bt, u.n_tokens AS ut
       |  FROM documents d JOIN b USING (doc_id) JOIN u USING (doc_id)),
       |a AS (SELECT source, CAST(sum(nc) AS BIGINT) AS n_chars,
       |    CAST(sum(bt) AS BIGINT) AS n_tokens_bpe,
       |    CAST(sum(ut) AS BIGINT) AS n_tokens_unigram
       |  FROM j GROUP BY 1)
       |SELECT source, n_chars, n_tokens_bpe, n_tokens_unigram,
       |  ${frac4Sql("n_chars", "n_tokens_bpe")} AS bpe_chars_per_token,
       |  ${frac4Sql("n_chars", "n_tokens_unigram")} AS unigram_chars_per_token
       |FROM a""".stripMargin

  /** textChunksSql in BPE units: same window arithmetic over the replayed
    * subword list, chunk text re-joined with the empty string. */
  private val textChunksBpeSql =
    s"""WITH w AS (SELECT doc_id, ${graft.ext.Bpe.tokensSqlOf("text")} AS ws
       |  FROM documents),
       |m AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
       |k AS (SELECT doc_id, ws, n,
       |  CASE WHEN n <= 64 THEN 1
       |       ELSE CAST(floor(CAST(n - 64 + 47 AS DOUBLE) / 48) AS BIGINT) + 1 END AS n_chunks
       |  FROM m),
       |c AS (SELECT doc_id, n, ws, unnest(range(0, n_chunks)) AS chunk_id FROM k)
       |SELECT doc_id, chunk_id,
       |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS chunk_tokens,
       |  array_to_string(
       |    ws[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(least(chunk_id * 48 + 64, n) AS BIGINT)],
       |    '') AS chunk_text
       |FROM c""".stripMargin

  /** textPackSql in BPE units: same hash spread, order and binning; only
    * the token counter changes. */
  private val textPackBpeSql = {
    val h = hexIntSql("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id,
       |  ${graft.ext.Bpe.tokenCountSqlOf("text")} AS tokens,
       |  $h % 8 AS bucket FROM documents),
       |f AS (SELECT * FROM d WHERE tokens > 0),
       |c AS (SELECT doc_id, bucket, tokens,
       |  CAST(sum(tokens) OVER (PARTITION BY bucket
       |    ORDER BY $h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    - tokens AS start FROM f)
       |SELECT doc_id, bucket, tokens,
       |  start // 256 AS seq_id, start % 256 AS seq_offset FROM c""".stripMargin
  }

  /** Connected components over the MinHash near-dup pairs: recursive
    * transitive closure, component label = min reachable doc id — the
    * declarative twin of Dedup.duplicateClusters' label propagation. */
  private val dedupClustersSql =
    s"""WITH RECURSIVE p AS ($dedupMinhashSql),
       |edges AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin

  /** Sketch-only clusters oracle: same recursive transitive closure as
    * dedupClustersSql, over the pair graph at the SQL-re-derived
    * calibrated cutoff (calibCutCtes — no literal operating point). */
  private lazy val dedupSketchonlyClustersSql: String =
    s"""WITH RECURSIVE $calibCutCtes,
       |p AS (${dedupSketchonlySqlAt("(SELECT c FROM cut)")}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin

  /** dot(ce, qe) over 64-dim double lists, sequential order like Spark's
    * aggregate(zip_with(..)). */
  private val dotSql =
    "list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i] * qe[i]))"

  private val simCtes =
    """c AS (SELECT vec_id AS neighbor_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce FROM embeddings),
      |cn AS (SELECT neighbor_id, ce,
      |  sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnorm FROM c),
      |q AS (SELECT vec_id AS query_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |  FROM embeddings WHERE vec_id < 8),
      |qn AS (SELECT query_id, qe,
      |  sqrt(list_sum(list_transform(qe, x -> x * x))) AS qnorm FROM q)""".stripMargin

  /** Semantic-decontamination oracle mirroring
    * Decontamination.semanticOverlap: same eval split, rounded-6dp
    * cosine, argmax with the (cos desc, eval_id asc) tie rule, flag on
    * the rounded value. (Placed after dotSql — object vals initialize in
    * declaration order.) */
  private val decontaminateSemanticSql =
    s"""WITH c AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
       |  FROM embeddings WHERE vec_id % 97 <> 0),
       |cn AS (SELECT vec_id, ce,
       |  sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnorm FROM c),
       |q AS (SELECT vec_id AS eval_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |  FROM embeddings WHERE vec_id % 97 = 0),
       |qn AS (SELECT eval_id, qe,
       |  sqrt(list_sum(list_transform(qe, x -> x * x))) AS qnorm FROM q),
       |scored AS (SELECT vec_id, eval_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM cn CROSS JOIN qn),
       |r AS (SELECT vec_id, eval_id, cos, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn FROM scored)
       |SELECT vec_id, eval_id AS best_eval_id, cos AS max_cos,
       |  CAST(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_contaminated
       |FROM r WHERE rn = 1""".stripMargin

  /** Indexed semantic-decontamination oracle: the full IVF-PQ chain
    * trained on the TRAIN split (coarse g-prefixed kmeans + PQ codebook
    * — the same parameterized CTE builders as q_sim_ivfpq's oracle),
    * the EVAL split probed and ADC-ranked as queries, candidates
    * re-scored with the exact rounded cosine, per-train-item argmax,
    * and a left join back onto the train ids (never-retrieved → clean,
    * null best/cos). */
  private lazy val decontamSemanticIndexedSql: String = {
    // nProbe/topK match semanticOverlapIndexed's defaults: the ADC
    // funnel ranks by quantized L2 while the flag is exact cosine, so
    // the candidate list needs headroom (the 2/8 point measured recall
    // 0.25 on the sf0.01 draw; 3/32 prices at 0.75 — see
    // q_decontam_semantic_indexed_eval for the current draw's number)
    val (nProbe, topK, d) = (3, 32, 8)
    def dd(a: String, b: String) =
      s"""CAST(list_sum(list_transform(range(1, len($a) + 1),
         |    i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)])
         |       * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))) AS BIGINT)""".stripMargin
    val trainEf =
      s"""SELECT vec_id AS id,
         |  list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qf
         |  FROM embeddings WHERE vec_id % 97 <> 0""".stripMargin
    s"""WITH ${kmeansCtes(8, 2, " WHERE vec_id % 97 <> 0", "g")},
       |${kmeansAssignSql("gf", "gc2", "ge")},
       |${pqChainCtes(8, d, 16, 2, trainEf)},
       |qv AS (SELECT vec_id AS query_id,
       |  list_transform(embedding,
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qf
       |  FROM embeddings WHERE vec_id % 97 = 0),
       |pr AS (SELECT query_id, cell FROM (
       |  SELECT query_id, cell, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY d2, cell) AS rn
       |  FROM (SELECT qv.query_id, c.cent_id AS cell,
       |    ${dd("qv.qf", "c.cq")} AS d2
       |    FROM qv CROSS JOIN gc2 c)) WHERE rn <= $nProbe),
       |cl AS (SELECT id AS neighbor_id, cent_id AS cell FROM gf),
       |qe2 AS (SELECT query_id, sub, qf[(sub*$d+1):(sub*$d+$d)] AS qq
       |  FROM qv CROSS JOIN sb),
       |dt AS (SELECT qe2.query_id, qe2.sub, c.cent_id,
       |  ${dd("qe2.qq", "c.cq")} AS dq
       |  FROM qe2 JOIN p2 c USING (sub)),
       |sc AS (SELECT dt.query_id, pf.id AS neighbor_id,
       |    CAST(sum(dt.dq) AS BIGINT) AS adc
       |  FROM pf JOIN cl ON pf.id = cl.neighbor_id
       |  JOIN pr ON pr.cell = cl.cell
       |  JOIN dt ON pf.sub = dt.sub AND pf.cent_id = dt.cent_id
       |    AND dt.query_id = pr.query_id
       |  WHERE pf.id <> dt.query_id GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS "rank" FROM sc),
       |cand AS (SELECT query_id AS eval_id, neighbor_id FROM rk
       |  WHERE "rank" <= $topK),
       |cn AS (SELECT vec_id, ce,
       |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnorm
       |  FROM (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
       |    FROM embeddings WHERE vec_id % 97 <> 0)),
       |qn AS (SELECT eval_id, qe,
       |    sqrt(list_sum(list_transform(qe, x -> x * x))) AS qnorm
       |  FROM (SELECT vec_id AS eval_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |    FROM embeddings WHERE vec_id % 97 = 0)),
       |scored AS (SELECT cn.vec_id, qn.eval_id,
       |    round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM cand JOIN cn ON cn.vec_id = cand.neighbor_id
       |  JOIN qn ON qn.eval_id = cand.eval_id),
       |r AS (SELECT vec_id, eval_id, cos, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn FROM scored),
       |b AS (SELECT vec_id, eval_id, cos FROM r WHERE rn = 1)
       |SELECT t.vec_id, b.eval_id AS best_eval_id, b.cos AS max_cos,
       |  CAST(CASE WHEN b.cos >= 0.4 THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_contaminated
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 97 <> 0) t
       |LEFT JOIN b USING (vec_id)""".stripMargin
  }

  /** Indexed-vs-exact decontamination grade: flagged-set counts from
    * both chains, precision/recall/F1 on the frac4 lattice. */
  private lazy val decontamSemanticIndexedEvalSql: String =
    s"""WITH x AS MATERIALIZED ($decontamSemanticIndexedSql),
       |e AS MATERIALIZED ($decontaminateSemanticSql)
       |SELECT n_true, n_pred, tp,
       |  ${frac4Sql("tp", "n_pred")} AS precision,
       |  ${frac4Sql("tp", "n_true")} AS recall,
       |  ${frac4Sql("2 * tp", "n_true + n_pred")} AS f1
       |FROM (SELECT count(*) AS n_true FROM e WHERE is_contaminated = 1),
       |  (SELECT count(*) AS n_pred FROM x WHERE is_contaminated = 1),
       |  (SELECT count(*) AS tp FROM x JOIN e USING (vec_id)
       |   WHERE x.is_contaminated = 1 AND e.is_contaminated = 1)""".stripMargin

  private lazy val textWordpieceSql =
    graft.ext.WordPiece.tokenizeSqlOf("documents", "doc_id", "text")

  private lazy val textWordpieceTrainedSql =
    graft.ext.WordPiece.tokenizeTrainedSqlOf("documents", "doc_id", "text")

  private lazy val textWordpieceBertSql =
    graft.ext.WordPiece.tokenizeBertSqlOf("documents", "doc_id", "text")

  private lazy val tokenizerBertParitySql =
    graft.ext.WordPiece.bertParitySqlOf("documents", "doc_id", "text")

  /** Greedy-vs-optimal gap oracle: both tokenize chains (scoped
    * sub-WITHs) joined per doc, digest mismatch counted per source. */
  private lazy val tokenizerGreedyGapSql =
    s"""WITH u AS MATERIALIZED ($textUnigramSql),
       |w AS MATERIALIZED ($textWordpieceSql),
       |j AS (SELECT d.source, u.n_tokens AS ut, w.n_tokens AS wt,
       |    CASE WHEN u.tok_digest IS NOT DISTINCT FROM w.tok_digest
       |      THEN 0 ELSE 1 END AS df
       |  FROM documents d JOIN u USING (doc_id) JOIN w USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ut) AS BIGINT) AS n_tokens_unigram,
       |  CAST(sum(wt) AS BIGINT) AS n_tokens_wordpiece,
       |  CAST(sum(df) AS BIGINT) AS n_docs_differ
       |FROM j GROUP BY 1""".stripMargin

  /** Matryoshka recall oracle: the exact top-5 chain twice — full dims
    * and the [1:16] prefix — then hits per query. */
  private val simMatryoshkaSql = {
    def chain(p: String, sliceExpr: String): String =
      s"""${p}f AS (SELECT vec_id, $sliceExpr AS v FROM
         |  (SELECT vec_id,
         |     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
         |   FROM embeddings)),
         |${p}q AS (SELECT vec_id AS query_id, v AS qv,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
         |  FROM ${p}f WHERE vec_id < 8),
         |${p}c AS (SELECT vec_id AS neighbor_id, v AS cv,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
         |  FROM ${p}f),
         |${p}s AS (SELECT query_id, neighbor_id,
         |    round(list_sum(list_transform(range(1, len(cv) + 1),
         |      i -> cv[i] * qv[i])) / (cn * qn), 6) AS cos
         |  FROM ${p}c CROSS JOIN ${p}q WHERE neighbor_id <> query_id),
         |${p}t AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM ${p}s) WHERE rn <= 5)""".stripMargin
    s"""WITH ${chain("mf", "fv")},
       |${chain("mt", "fv[1:16]")},
       |h AS (SELECT t.query_id, count(*) AS hits
       |  FROM mtt t JOIN mft f USING (query_id, neighbor_id) GROUP BY 1),
       |kk AS (SELECT query_id, CAST(count(*) AS BIGINT) AS k
       |  FROM mft GROUP BY 1)
       |SELECT kk.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  kk.k, ${frac4Sql("coalesce(h.hits, 0)", "kk.k")} AS recall
       |FROM kk LEFT JOIN h USING (query_id)""".stripMargin
  }

  private val simTopKSql =
    s"""WITH $simCtes,
       |scored AS (SELECT query_id, neighbor_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM cn CROSS JOIN qn WHERE neighbor_id <> query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin

  /** MMR oracle: same 20-candidate pool, then 5 unrolled greedy steps —
    * each step's arg-max of 0.5·rel − 0.5·max-sim-to-selected with the
    * (score desc, cand_id) tie rule, selection accumulated across CTEs.
    * Mirrors Similarity.mmrTopK's per-group fold exactly. */
  private val retrievalMmrSql = {
    val steps = (1 to 5).map { t =>
      s"""sc$t AS (SELECT p.query_id, p.cand_id, p.rel,
         |    CASE WHEN (SELECT count(*) FROM sel${t - 1} x
         |        WHERE x.query_id = p.query_id) = 0 THEN 0.0
         |      ELSE (SELECT max(s.sim) FROM sims s
         |        JOIN sel${t - 1} x
         |          ON x.query_id = s.query_id AND x.cand_id = s.b
         |        WHERE s.query_id = p.query_id AND s.a = p.cand_id) END AS msim
         |  FROM pool p WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
         |    WHERE x.query_id = p.query_id AND x.cand_id = p.cand_id)),
         |pk$t AS (SELECT query_id, cand_id,
         |    0.5 * rel - 0.5 * msim AS score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY 0.5 * rel - 0.5 * msim DESC, cand_id) AS rn
         |  FROM sc$t),
         |sel$t AS (SELECT query_id, cand_id FROM sel${t - 1}
         |  UNION ALL SELECT query_id, cand_id FROM pk$t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map { t =>
      s"""SELECT query_id, CAST($t AS BIGINT) AS "rank",
         |  cand_id AS neighbor_id, score FROM pk$t WHERE rn = 1""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH $simCtes,
       |scored AS (SELECT query_id, neighbor_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM cn CROSS JOIN qn WHERE neighbor_id <> query_id),
       |pool AS (SELECT query_id, neighbor_id AS cand_id, cos AS rel FROM (
       |  SELECT query_id, neighbor_id, cos, row_number() OVER
       |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM scored) t WHERE rn <= 20),
       |pe AS (SELECT p.query_id, p.cand_id, p.rel, cn.ce AS v,
       |    cn.cnorm AS nv
       |  FROM pool p JOIN cn ON cn.neighbor_id = p.cand_id),
       |sims AS (SELECT l.query_id, l.cand_id AS a, r.cand_id AS b,
       |  round(list_sum(list_transform(range(1, len(l.v) + 1),
       |    i -> l.v[i] * r.v[i])) / (l.nv * r.nv), 6) AS sim
       |  FROM pe l JOIN pe r USING (query_id)),
       |sel0 AS (SELECT CAST(NULL AS BIGINT) AS query_id,
       |  CAST(NULL AS BIGINT) AS cand_id WHERE FALSE),
       |$steps
       |$out""".stripMargin
  }

  /** Sign-bucket of an embedding list column `e` — replicates
    * Similarity.signBucket: bit p set iff sum_j e[j]*sign(p,j) > 0, where
    * sign(p,j) = ±1 from the md5 parity of "p,j". */
  private def bucketSql(e: String): String =
    (0 until Similarity.numPlanes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(range(0, len($e)),
         |  j -> $e[CAST(j AS INT) + 1] *
         |    (CASE WHEN ${hexIntSql(s"('$p' || ',' || CAST(j AS VARCHAR))")} % 2 = 0
         |     THEN 1.0 ELSE -1.0 END))) > 0
         | THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private val simAnnSql =
    s"""WITH $simCtes,
       |cb AS (SELECT neighbor_id, ce, cnorm, ${bucketSql("ce")} AS bucket FROM cn),
       |qb AS (SELECT query_id, qe, qnorm, ${bucketSql("qe")} AS bucket FROM qn),
       |scored AS (SELECT query_id, neighbor_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM cb JOIN qb USING (bucket) WHERE neighbor_id <> query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin

  /** IVF oracle: same fixed-K hash-ordered centroid sample + argmin-by-
    * rounded-cosine assignment, probe, and in-cell ranking as
    * Similarity.ivfTopK (K=32, nProbe=8). */
  private val simIvfSql =
    s"""WITH $simCtes,
       |cents AS (SELECT neighbor_id AS cent_id, ce AS ct, cnorm AS ct_norm
       |  FROM cn ORDER BY ${hexIntSql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id
       |  LIMIT 32),
       |assigned AS (SELECT neighbor_id, ce, cnorm, cent_id FROM (
       |  SELECT cn.neighbor_id, cn.ce, cn.cnorm, cents.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY cn.neighbor_id ORDER BY
       |      round(list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i] * ct[i]))
       |            / (cnorm * ct_norm), 6) DESC, cent_id) AS crn
       |  FROM cn CROSS JOIN cents) WHERE crn = 1),
       |probes AS (SELECT query_id, qe, qnorm, cent_id FROM (
       |  SELECT qn.query_id, qn.qe, qn.qnorm, cents.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY qn.query_id ORDER BY
       |      round(list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * ct[i]))
       |            / (qnorm * ct_norm), 6) DESC, cent_id) AS crn
       |  FROM qn CROSS JOIN cents) WHERE crn <= 8),
       |scored AS (SELECT query_id, neighbor_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM assigned JOIN probes USING (cent_id) WHERE neighbor_id <> query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin

  /** Integer-lattice k-means CTE chain (KMeans.scala twin): e = quantized
    * corpus, c0 = hash-order seeds, then per sweep an exact-integer argmin
    * assignment a<i> and a floor-div mean update c<i>. Every value is a
    * BIGINT, so the chain is hash-exact across engines. */
  private def kmeansAssignSql(name: String, cents: String,
      src: String): String =
    s"""$name AS (SELECT id, q, cent_id, d2 FROM (
       |  SELECT id, q, cent_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cent_id) AS rn
       |  FROM (SELECT $src.id, $src.q, c.cent_id,
       |    CAST(list_sum(list_transform(range(1, len($src.q) + 1),
       |      i -> ($src.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |         * ($src.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2
       |    FROM $src CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin

  private def kmeansCtes(k: Int, iters: Int, where: String = "",
      p: String = ""): String = {
    val init =
      s"""${p}e AS (SELECT vec_id AS id,
         |  list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
         |  FROM embeddings$where),
         |${p}c0 AS (SELECT id AS cent_id, q AS cq FROM ${p}e
         |  ORDER BY ${hexIntSql("CAST(id AS VARCHAR)")}, id LIMIT $k)""".stripMargin
    val sweeps = (1 to iters).map { i =>
      s"""${kmeansAssignSql(s"${p}a$i", s"${p}c${i - 1}", s"${p}e")},
         |${p}u$i AS (SELECT cent_id, pos,
         |    CAST((s - (((s % n) + n) % n)) / n AS BIGINT) AS cv
         |  FROM (SELECT cent_id, pos, CAST(sum(v) AS BIGINT) AS s,
         |      count(*) AS n
         |    FROM (SELECT cent_id, unnest(q) AS v,
         |        unnest(range(1, len(q) + 1)) AS pos FROM ${p}a$i)
         |    GROUP BY cent_id, pos)),
         |${p}c$i AS (SELECT cent_id, list(cv ORDER BY pos) AS cq
         |  FROM ${p}u$i GROUP BY cent_id)""".stripMargin
    }
    (init +: sweeps).mkString(",\n")
  }

  private val simKmeansSql =
    s"""WITH ${kmeansCtes(8, 2)},
       |${kmeansAssignSql("af", "c2", "e")},
       |st AS (SELECT cent_id, count(*) AS n_members,
       |  CAST(sum(d2) AS BIGINT) AS inertia FROM af GROUP BY cent_id)
       |SELECT st.cent_id, st.n_members, st.inertia,
       |  CAST(list_sum(list_transform(c2.cq, x -> abs(x))) AS BIGINT) AS cent_l1
       |FROM st JOIN c2 USING (cent_id)""".stripMargin

  /** Silhouette oracle: same kmeans chain, then ALL K distances per
    * vector ranked — rn=1 is the home cell (a²), rn=2 the runner-up
    * (b²); sil_q6 = ⌊10⁶(b²−a²)/b²⌋. All terms non-negative, so `//`
    * truncation is floor. */
  private val clusterSilhouetteSql =
    s"""WITH ${kmeansCtes(8, 2)},
       |all2 AS (SELECT e.id, c.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(e.q) + 1),
       |    i -> (e.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |       * (e.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2
       |  FROM e CROSS JOIN c2 c),
       |rk AS (SELECT id, cent_id, d2,
       |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cent_id) AS rn
       |  FROM all2),
       |sil AS (SELECT a.id, a.cent_id,
       |  CASE WHEN b.d2 = 0 THEN 0
       |       ELSE ((b.d2 - a.d2) * 1000000) // b.d2 END AS s
       |  FROM rk a JOIN rk b ON a.id = b.id
       |  WHERE a.rn = 1 AND b.rn = 2)
       |SELECT cent_id, count(*) AS n_members,
       |  CAST(sum(s) // count(*) AS BIGINT) AS mean_sil_q6,
       |  CAST(sum(CASE WHEN s < 250000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_boundary
       |FROM sil GROUP BY cent_id""".stripMargin

  /** Elbow oracle: three independent kmeans chains (k = 2, 4, 8; prefix
    * per k), each reporting total exact inertia of the final
    * assignment. */
  private val clusterElbowSql = Seq(2, 4, 8).map { k =>
    s"""SELECT CAST($k AS BIGINT) AS k, count(*) AS n_vectors,
       |  CAST(sum(d2) AS BIGINT) AS inertia,
       |  CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2
       |FROM (WITH ${kmeansCtes(k, 2, "", s"k$k")},
       |  ${kmeansAssignSql(s"k${k}af", s"k${k}c2", s"k${k}e")}
       |  SELECT d2 FROM k${k}af) t""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** ARI oracle: kmeans chain → (cluster × label) contingency table →
    * Hubert–Arabie adjusted Rand on cleared-fraction integers. The ARI
    * numerator can be NEGATIVE, and DuckDB's `//` truncates toward zero
    * (-7 // 2 = -3), so the floor uses the explicit pmod form the engine
    * evaluates. C(x,2) terms are non-negative — plain `//` there. */
  private val clusterAriSql =
    s"""WITH ${kmeansCtes(8, 2)},
       |${kmeansAssignSql("af", "c2", "e")},
       |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl
       |  FROM embeddings),
       |ctab AS (SELECT a.cent_id, l.lbl, count(*) AS nij
       |  FROM af a JOIN lab l USING (id) GROUP BY 1, 2),
       |sagg AS (SELECT CAST(sum(CAST(nij AS HUGEINT) * (nij - 1) // 2)
       |    AS HUGEINT) AS sij FROM ctab),
       |ra AS (SELECT CAST(sum(CAST(ai AS HUGEINT) * (ai - 1) // 2)
       |    AS HUGEINT) AS sa, CAST(sum(maxl) AS HUGEINT) AS pur,
       |    CAST(sum(ai) AS HUGEINT) AS n, count(*) AS kc
       |  FROM (SELECT cent_id, sum(nij) AS ai, max(nij) AS maxl
       |        FROM ctab GROUP BY 1)),
       |cb AS (SELECT CAST(sum(CAST(bj AS HUGEINT) * (bj - 1) // 2)
       |    AS HUGEINT) AS sb, count(*) AS nl
       |  FROM (SELECT lbl, sum(nij) AS bj FROM ctab GROUP BY 1)),
       |nd AS (SELECT n, kc, nl, pur,
       |    ((n * (n - 1)) // 2 * sij * 2 - 2 * sa * sb) * 1000000 AS num,
       |    (n * (n - 1)) // 2 * (sa + sb) - 2 * sa * sb AS den
       |  FROM sagg CROSS JOIN ra CROSS JOIN cb)
       |SELECT CAST(n AS BIGINT) AS n, CAST(kc AS BIGINT) AS k_clusters,
       |  CAST(nl AS BIGINT) AS n_labels,
       |  CAST((pur * 1000000) // n AS BIGINT) AS purity_q6,
       |  CAST(CASE WHEN den = 0 THEN 0 ELSE
       |    (num - (((num % den) + den) % den)) / den END AS BIGINT)
       |    AS ari_q6
       |FROM nd""".stripMargin

  /** Cluster-topics oracle: full kmeans chain (same CTEs as
    * q_sim_kmeans), then cluster-vs-global q6 relative-frequency
    * contrast, top-5 per cluster by (score desc, term). */
  private val clusterTopicsSql =
    s"""WITH ${kmeansCtes(8, 2)},
       |${kmeansAssignSql("af", "c2", "e")},
       |occ AS (SELECT m.cent_id,
       |    unnest(${wordsSqlOf("lower(d.text)")}) AS term
       |  FROM documents d JOIN (SELECT id AS doc_id, cent_id FROM af) m
       |  USING (doc_id)),
       |ccnt AS (SELECT cent_id, term, count(*) AS cnt FROM occ GROUP BY 1, 2),
       |ctot AS (SELECT cent_id, count(*) AS tot FROM occ GROUP BY 1),
       |gcnt AS (SELECT term, count(*) AS gcnt FROM occ GROUP BY 1),
       |gtot AS (SELECT count(*) AS gtot FROM occ),
       |sc AS (SELECT c.cent_id, c.term,
       |    CAST((c.cnt * 1000000 - ((c.cnt * 1000000) % t.tot)) / t.tot AS BIGINT)
       |  - CAST((g.gcnt * 1000000 - ((g.gcnt * 1000000) % gt.gtot)) / gt.gtot AS BIGINT)
       |    AS score_q6
       |  FROM ccnt c JOIN ctot t USING (cent_id) JOIN gcnt g USING (term)
       |  CROSS JOIN gtot gt),
       |rk AS (SELECT cent_id, term, score_q6,
       |    ROW_NUMBER() OVER (PARTITION BY cent_id
       |      ORDER BY score_q6 DESC, term) AS rnk FROM sc)
       |SELECT cent_id, rnk, term, score_q6 FROM rk WHERE rnk <= 5""".stripMargin

  /** Gopher battery oracle: same integer inequalities over the same
    * exact counts (mean-word-len tested as 3·T ≤ ΣL ≤ 10·T, no division
    * anywhere). */
  private val textGopherSql =
    s"""WITH base AS (SELECT doc_id, text,
       |  ${wordsSqlOf("text")} AS ws, ${wordsSqlOf("lower(text)")} AS wl
       |  FROM documents),
       |st AS (SELECT doc_id,
       |  len(ws) AS t,
       |  length(array_to_string(ws, '')) AS sl,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS p,
       |  length(text) AS l,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS stops,
       |  len(ws) - len(list_distinct(ws)) AS dups
       |  FROM base),
       |f AS (SELECT doc_id,
       |  CAST(CASE WHEN t >= 10 AND t <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS f_nwords,
       |  CAST(CASE WHEN 3 * t <= sl AND sl <= 10 * t THEN 1 ELSE 0 END AS BIGINT) AS f_word_len,
       |  CAST(CASE WHEN 10 * p <= l THEN 1 ELSE 0 END AS BIGINT) AS f_symbol,
       |  CAST(CASE WHEN stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stopwords,
       |  CAST(CASE WHEN 2 * dups <= t THEN 1 ELSE 0 END AS BIGINT) AS f_dup_words
       |  FROM st)
       |SELECT doc_id, f_nwords, f_word_len, f_symbol, f_stopwords, f_dup_words,
       |  f_nwords * f_word_len * f_symbol * f_stopwords * f_dup_words AS keep
       |FROM f""".stripMargin

  /** IVF-PQ oracle: the g-prefixed coarse chain routes, the PQ chain
    * scores; ADC restricted to each query's 2 probed cells. */
  private val simIvfPqSql = {
    val (nProbe, topK) = (2, 5)
    s"""WITH ${kmeansCtes(8, 2, "", "g")},
       |${kmeansAssignSql("gf", "gc2", "ge")},
       |${pqChainCtes(8, 8, 16, 2)},
       |qg AS (SELECT id AS query_id, q FROM ge WHERE id < 8),
       |pr AS (SELECT query_id, cell FROM (
       |  SELECT query_id, cell, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY d2, cell) AS rn
       |  FROM (SELECT qg.query_id, c.cent_id AS cell,
       |    CAST(list_sum(list_transform(range(1, len(qg.q) + 1),
       |      i -> (qg.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |         * (qg.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2
       |    FROM qg CROSS JOIN gc2 c)) WHERE rn <= $nProbe),
       |cl AS (SELECT id AS neighbor_id, cent_id AS cell FROM gf),
       |qe2 AS (SELECT id AS query_id, sub, q AS qq FROM e WHERE id < 8),
       |dt AS (SELECT qe2.query_id, qe2.sub, c.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qe2.qq) + 1),
       |    i -> (qe2.qq[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |       * (qe2.qq[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS dq
       |  FROM qe2 JOIN p2 c USING (sub)),
       |sc AS (SELECT dt.query_id, pf.id AS neighbor_id,
       |    CAST(sum(dt.dq) AS BIGINT) AS adc
       |  FROM pf JOIN cl ON pf.id = cl.neighbor_id
       |  JOIN pr ON pr.cell = cl.cell
       |  JOIN dt ON pf.sub = dt.sub AND pf.cent_id = dt.cent_id
       |    AND dt.query_id = pr.query_id
       |  WHERE pf.id <> pr.query_id GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS "rank" FROM sc)
       |SELECT query_id, neighbor_id, adc, "rank" FROM rk
       |WHERE "rank" <= $topK""".stripMargin
  }

  /** Residual IVF-PQ oracle: coarse chain (g-prefix) → residual ef →
    * PQ chain over residuals → per-(query, cell) residual distance
    * tables → ADC over probed cells. */
  private val simIvfPqResSql = {
    val (nProbe, topK, d) = (2, 5, 8)
    val residEf =
      """SELECT gf.id,
        |  list_transform(range(1, len(gf.q) + 1),
        |    i -> gf.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]) AS qf
        |  FROM gf JOIN gc2 c ON gf.cent_id = c.cent_id""".stripMargin
    s"""WITH ${kmeansCtes(8, 2, "", "g")},
       |${kmeansAssignSql("gf", "gc2", "ge")},
       |${pqChainCtes(8, d, 16, 2, residEf)},
       |qg AS (SELECT id AS query_id, q FROM ge WHERE id < 8),
       |prs AS (SELECT query_id, cell, rqf FROM (
       |  SELECT query_id, cell, rqf, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY d2, cell) AS rn
       |  FROM (SELECT qg.query_id, c.cent_id AS cell,
       |    CAST(list_sum(list_transform(range(1, len(qg.q) + 1),
       |      i -> (qg.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |         * (qg.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2,
       |    list_transform(range(1, len(qg.q) + 1),
       |      i -> qg.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]) AS rqf
       |    FROM qg CROSS JOIN gc2 c)) WHERE rn <= $nProbe),
       |dt AS (SELECT query_id, cell, z.sub, c.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(z.rq) + 1),
       |    i -> (z.rq[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |       * (z.rq[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS dq
       |  FROM (SELECT query_id, cell, sub,
       |      rqf[(sub*$d+1):(sub*$d+$d)] AS rq FROM prs CROSS JOIN sb) z
       |  JOIN p2 c USING (sub)),
       |cl AS (SELECT id AS neighbor_id, cent_id AS cell FROM gf),
       |sc AS (SELECT dt.query_id, pf.id AS neighbor_id,
       |    CAST(sum(dt.dq) AS BIGINT) AS adc
       |  FROM pf JOIN cl ON pf.id = cl.neighbor_id
       |  JOIN dt ON dt.cell = cl.cell AND pf.sub = dt.sub
       |    AND pf.cent_id = dt.cent_id
       |  WHERE pf.id <> dt.query_id GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS "rank" FROM sc)
       |SELECT query_id, neighbor_id, adc, "rank" FROM rk
       |WHERE "rank" <= $topK""".stripMargin
  }

  /** Funnel-2 oracle: the gopher battery, the split decision, and the
    * per-source cap composed as CTEs — the same three integer gates. */
  private val curationFunnel2Sql =
    s"""WITH g AS ($textGopherSql),
       |kept AS (SELECT d.doc_id, d.source, d.text FROM documents d
       |  JOIN g ON d.doc_id = g.doc_id AND g.keep = 1),
       |train AS (SELECT doc_id, source, text FROM kept
       |  WHERE ${hexIntSql("('split:' || CAST(doc_id AS VARCHAR))")} % 100 < 80),
       |base AS (SELECT doc_id, source, text,
       |  ${wordsSqlOf("text")} AS ws, ${wordsSqlOf("lower(text)")} AS wl
       |  FROM train),
       |h AS (SELECT doc_id, source, text, ws,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |  FROM base),
       |sc AS (SELECT doc_id, source,
       |  ${qualityQ4Sql("text", "ws", "h_en")} AS q4 FROM h),
       |r AS (SELECT source AS stratum, doc_id, q4,
       |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY q4 DESC, doc_id) AS rnk
       |  FROM sc)
       |SELECT stratum, doc_id, CAST(q4 AS DOUBLE) / 10000.0 AS quality,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 40""".stripMargin

  /** Drift oracle: the k-means chain fitted on even ids only, both
    * halves assigned to the frozen c2 cells, per-cell floor-div means
    * compared. `//` on non-negative HUGEINTs is the same floor-div as
    * the Spark side's (s − pmod)/n. */
  private val simDriftSql =
    s"""WITH ${kmeansCtes(8, 2, " WHERE vec_id % 2 = 0")},
       |en AS (SELECT vec_id AS id,
       |  list_transform(embedding,
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
       |  FROM embeddings WHERE vec_id % 2 = 1),
       |${kmeansAssignSql("ab", "c2", "e")},
       |${kmeansAssignSql("an", "c2", "en")},
       |bm AS (SELECT cent_id, count(*) AS n_base,
       |  CAST(CAST(sum(d2) AS HUGEINT) // count(*) AS BIGINT) AS mean_d2_base
       |  FROM ab GROUP BY 1),
       |nm AS (SELECT cent_id, count(*) AS n_new,
       |  CAST(CAST(sum(d2) AS HUGEINT) // count(*) AS BIGINT) AS mean_d2_new
       |  FROM an GROUP BY 1)
       |SELECT bm.cent_id, n_base, coalesce(n_new, 0) AS n_new, mean_d2_base,
       |  coalesce(mean_d2_new, 0) AS mean_d2_new,
       |  CAST(CAST(coalesce(mean_d2_new, 0) AS HUGEINT) * 10000
       |    // greatest(mean_d2_base, 1) AS BIGINT) AS drift_q4
       |FROM bm LEFT JOIN nm USING (cent_id)""".stripMargin

  /** IVF over the trained centroids: the simIvfSql flow with cents =
    * dequantized k-means output (k=8, 2 sweeps, nProbe=4). */
  private val simIvfKmeansSql =
    s"""WITH ${kmeansCtes(8, 2)},
       |$simCtes,
       |cents AS (SELECT cent_id,
       |    list_transform(cq, x -> CAST(x AS DOUBLE) / 10000.0) AS ct FROM c2),
       |cents_n AS (SELECT cent_id, ct,
       |    sqrt(list_sum(list_transform(ct, x -> x * x))) AS ct_norm FROM cents),
       |assigned AS (SELECT neighbor_id, ce, cnorm, cent_id FROM (
       |  SELECT cn.neighbor_id, cn.ce, cn.cnorm, cents_n.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY cn.neighbor_id ORDER BY
       |      round(list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i] * ct[i]))
       |            / (cnorm * ct_norm), 6) DESC, cent_id) AS crn
       |  FROM cn CROSS JOIN cents_n) WHERE crn = 1),
       |probes AS (SELECT query_id, qe, qnorm, cent_id FROM (
       |  SELECT qn.query_id, qn.qe, qn.qnorm, cents_n.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY qn.query_id ORDER BY
       |      round(list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * ct[i]))
       |            / (qnorm * ct_norm), 6) DESC, cent_id) AS crn
       |  FROM qn CROSS JOIN cents_n) WHERE crn <= 4),
       |scored AS (SELECT query_id, neighbor_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM assigned JOIN probes USING (cent_id) WHERE neighbor_id <> query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank"
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin

  /** PQ oracle: the subspace-keyed twin of [[kmeansCtes]] — corpus
    * exploded to (id, sub) slice rows, centroids per (sub, cent_id),
    * two unrolled sweeps, codes pivoted to columns. */
  private def pqAssignSql(name: String, cents: String): String =
    s"""$name AS (SELECT id, sub, q, cent_id, d2 FROM (
       |  SELECT id, sub, q, cent_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY d2, cent_id) AS rn
       |  FROM (SELECT e.id, e.sub, e.q, c.cent_id,
       |    CAST(list_sum(list_transform(range(1, len(e.q) + 1),
       |      i -> (e.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |         * (e.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2
       |    FROM e JOIN $cents c USING (sub))) WHERE rn = 1)""".stripMargin

  /** Shared PQ chain: ef/sb/e slices, seed codebook p0, sweeps
    * pa<i>/pu<i>/p<i>, final codes pf. `efSql` overrides the vector
    * source — any CTE body producing (id, qf: BIGINT list); quantized
    * embeddings by default, coarse-cell residuals for the
    * IVFPQ-residual oracle. */
  private def pqChainCtes(m: Int, d: Int, k: Int, iters: Int,
      efSql: String = ""): String = {
    val sliceSql = s"qf[(sub*$d+1):(sub*$d+$d)]"
    val ef = if (efSql.nonEmpty) efSql else
      s"""SELECT vec_id AS id,
         |  list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qf
         |  FROM embeddings""".stripMargin
    val init =
      s"""ef AS ($ef),
         |sb AS (SELECT unnest(range(0, $m)) AS sub),
         |e AS (SELECT id, sub, $sliceSql AS q FROM ef CROSS JOIN sb),
         |sd AS (SELECT id, qf FROM ef
         |  ORDER BY ${hexIntSql("CAST(id AS VARCHAR)")}, id LIMIT $k),
         |p0 AS (SELECT sub, id AS cent_id, $sliceSql AS cq
         |  FROM sd CROSS JOIN sb)""".stripMargin
    val sweeps = (1 to iters).map { i =>
      s"""${pqAssignSql(s"pa$i", s"p${i - 1}")},
         |pu$i AS (SELECT sub, cent_id, pos,
         |    CAST((s - (((s % n) + n) % n)) / n AS BIGINT) AS cv
         |  FROM (SELECT sub, cent_id, pos, CAST(sum(v) AS BIGINT) AS s,
         |      count(*) AS n
         |    FROM (SELECT sub, cent_id, unnest(q) AS v,
         |        unnest(range(1, len(q) + 1)) AS pos FROM pa$i)
         |    GROUP BY sub, cent_id, pos)),
         |p$i AS (SELECT sub, cent_id, list(cv ORDER BY pos) AS cq
         |  FROM pu$i GROUP BY sub, cent_id)""".stripMargin
    }
    s"""${(init +: sweeps).mkString(",\n")},
       |${pqAssignSql("pf", s"p$iters")}""".stripMargin
  }

  private val simPqSql = {
    val m = 8
    val codes = (0 until m).map(s =>
      s"max(CASE WHEN sub = $s THEN cent_id END) AS c$s").mkString(",\n  ")
    s"""WITH ${pqChainCtes(m, 8, 16, 2)}
       |SELECT id AS vec_id,
       |  $codes,
       |  CAST(sum(d2) AS BIGINT) AS qerr
       |FROM pf GROUP BY id""".stripMargin
  }

  /** ADC oracle: the PQ chain's final codes joined to each query's
    * per-(sub, cell) exact distance table, summed, ranked. */
  private val simPqSearchSql = {
    val iters = 2
    s"""WITH ${pqChainCtes(8, 8, 16, iters)},
       |qe AS (SELECT id AS query_id, sub, q AS qq FROM e WHERE id < 8),
       |dt AS (SELECT qe.query_id, qe.sub, c.cent_id,
       |  CAST(list_sum(list_transform(range(1, len(qe.qq) + 1),
       |    i -> (qe.qq[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
       |       * (qe.qq[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS dq
       |  FROM qe JOIN p$iters c USING (sub)),
       |sc AS (SELECT dt.query_id, pf.id AS neighbor_id,
       |    CAST(sum(dt.dq) AS BIGINT) AS adc
       |  FROM pf JOIN dt ON pf.sub = dt.sub AND pf.cent_id = dt.cent_id
       |  WHERE pf.id <> dt.query_id GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS "rank" FROM sc)
       |SELECT query_id, neighbor_id, adc, "rank" FROM rk
       |WHERE "rank" <= 5""".stripMargin
  }

  /** Dense signed-count bucket rows (doc_id, bucket, v) — the hashing
    * trick's exploded form; vector invariants and dot products both
    * aggregate straight off it. */
  private val hashvecCtes =
    s"""w AS (SELECT doc_id, unnest(${wordsSqlOf("text")}) AS word FROM documents),
       |b AS (SELECT doc_id, ${hexIntSql("word")} % 64 AS bucket,
       |  CASE WHEN ${hexIntSql("('s:' || word)")} % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM w),
       |cnt AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
       |  FROM b GROUP BY 1, 2),
       |g AS (SELECT d.doc_id, r.bucket, coalesce(c.v, 0) AS v
       |  FROM (SELECT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) r
       |  LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bucket = r.bucket)""".stripMargin

  private val textHashvecSql =
    s"""WITH $hashvecCtes
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
       |  CAST(sum(abs(v)) AS BIGINT) AS l1,
       |  CAST(sum(v * v) AS BIGINT) AS norm2,
       |  CAST(sum(v * (bucket + 1)) AS BIGINT) AS poschk
       |FROM g GROUP BY doc_id""".stripMargin

  private val textHashvecKnnSql =
    s"""WITH $hashvecCtes,
       |n2 AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM g GROUP BY 1),
       |dots AS (SELECT gq.doc_id AS query_id, gc.doc_id AS neighbor_id,
       |    CAST(sum(gc.v * gq.v) AS BIGINT) AS dp
       |  FROM g gc JOIN g gq ON gc.bucket = gq.bucket
       |  WHERE gq.doc_id < 3 AND gc.doc_id <> gq.doc_id
       |  GROUP BY 1, 2),
       |sc AS (SELECT query_id, neighbor_id,
       |  round(CAST(dp AS DOUBLE) /
       |    (sqrt(CAST(cn.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))), 6) AS cos
       |  FROM dots
       |  JOIN n2 cn ON cn.doc_id = neighbor_id
       |  JOIN n2 qn ON qn.doc_id = query_id
       |  WHERE cn.n2 > 0 AND qn.n2 > 0),
       |rk AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS "rank" FROM sc)
       |SELECT query_id, neighbor_id, cos, "rank" FROM rk
       |WHERE "rank" <= 3""".stripMargin

  private val simTopkSq8Sql =
    """WITH v AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
      |a AS (SELECT vec_id, ve,
      |  list_max(list_transform(ve, x -> abs(x))) AS amax FROM v),
      |cod AS (SELECT vec_id, list_transform(ve, x -> CASE WHEN amax > 0
      |  THEN CAST(floor(x * 127.0 / amax) AS BIGINT) ELSE 0 END) AS cd FROM a),
      |n AS (SELECT vec_id, cd, CAST(list_sum(list_transform(range(1, len(cd) + 1),
      |  i -> cd[CAST(i AS INT)] * cd[CAST(i AS INT)])) AS BIGINT) AS n2 FROM cod),
      |c AS (SELECT vec_id AS neighbor_id, cd AS cc, n2 AS cn2 FROM n WHERE n2 > 0),
      |q AS (SELECT vec_id AS query_id, cd AS qc, n2 AS qn2 FROM n
      |  WHERE n2 > 0 AND vec_id < 8),
      |sc AS (SELECT query_id, neighbor_id,
      |  round(CAST(list_sum(list_transform(range(1, len(cc) + 1),
      |      i -> cc[CAST(i AS INT)] * qc[CAST(i AS INT)])) AS DOUBLE)
      |    / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 6) AS cos
      |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
      |rk AS (SELECT query_id, neighbor_id, cos,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) AS "rank" FROM sc)
      |SELECT query_id, neighbor_id, cos, "rank" FROM rk
      |WHERE "rank" <= 5""".stripMargin

  private val embQuantizeSql =
    """WITH v AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
      |a AS (SELECT vec_id, ve,
      |  list_max(list_transform(ve, x -> abs(x))) AS amax FROM v),
      |c AS (SELECT vec_id, ve, amax,
      |  list_transform(ve, x -> CASE WHEN amax > 0
      |    THEN CAST(floor(x * 127.0 / amax) AS BIGINT) ELSE 0 END) AS codes
      |  FROM a)
      |SELECT vec_id,
      |  CAST(floor(amax * 1000000.0) AS BIGINT) AS amax_q6,
      |  CAST(floor(list_max(list_transform(range(1, len(ve) + 1),
      |    i -> abs(ve[CAST(i AS INT)]
      |      - CAST(codes[CAST(i AS INT)] AS DOUBLE) * amax / 127.0)))
      |    * 1000000.0) AS BIGINT) AS err_q6,
      |  CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS code_l1
      |FROM c""".stripMargin

  /** JL-projection oracle: same md5('p,j')-parity ±1 planes, same
    * in-order double fold, same 6-dp rounding (a binary double never
    * sits exactly on a decimal midpoint, so both engines round alike). */
  private val embProjectSql =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |js AS (SELECT unnest(range(0, 16)) AS p)
       |SELECT vec_id, CAST(p AS BIGINT) AS dim,
       |  round(list_sum(list_transform(range(1, len(v) + 1), i ->
       |    (CASE WHEN ${hexIntSql(
              "(CAST(p AS VARCHAR) || ',' || CAST(i - 1 AS VARCHAR))")} % 2 = 0
       |      THEN 1.0 ELSE -1.0 END) * v[CAST(i AS INT)])), 6) AS value
       |FROM e CROSS JOIN js""".stripMargin

  /** Coarse-to-fine oracle: projected vectors re-derived in SQL (nested
    * lambdas over the md5-parity planes), projected-space top-20 pool,
    * exact full-dim re-rank — same rounding, same tie rules. */
  private val simTopkProjSql = {
    val sign = s"(CASE WHEN ${hexIntSql(
      "(CAST(p AS VARCHAR) || ',' || CAST(i - 1 AS VARCHAR))")} % 2 = 0 " +
      "THEN 1.0 ELSE -1.0 END)"
    s"""WITH ev AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |pj AS (SELECT vec_id, list_transform(range(0, 16), p ->
       |    round(list_sum(list_transform(range(1, len(v) + 1), i ->
       |      $sign * v[CAST(i AS INT)])), 6)) AS pv
       |  FROM ev),
       |pc AS (SELECT vec_id AS neighbor_id, pv,
       |    sqrt(list_sum(list_transform(pv, x -> x * x))) AS pn FROM pj),
       |pq AS (SELECT vec_id AS query_id, pv AS qv,
       |    sqrt(list_sum(list_transform(pv, x -> x * x))) AS qn
       |  FROM pj WHERE vec_id < 8),
       |coarse AS (SELECT query_id, neighbor_id,
       |    round(list_sum(list_transform(range(1, len(pv) + 1), i ->
       |      pv[i] * qv[i])) / (pn * qn), 6) AS pcos
       |  FROM pc CROSS JOIN pq WHERE neighbor_id <> query_id),
       |pool AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER
       |    (PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS rn
       |  FROM coarse) t WHERE rn <= 20),
       |c2 AS (SELECT vec_id AS neighbor_id, v AS ce,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS cnorm FROM ev),
       |q2 AS (SELECT vec_id AS query_id, v AS qe,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm
       |  FROM ev WHERE vec_id < 8),
       |ex AS (SELECT p.query_id, p.neighbor_id,
       |    round(list_sum(list_transform(range(1, len(ce) + 1), i ->
       |      ce[i] * qe[i])) / (cnorm * qnorm), 6) AS cos
       |  FROM pool p JOIN c2 USING (neighbor_id) JOIN q2 USING (query_id))
       |SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS "rank"
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rn FROM ex) t
       |WHERE rn <= 5""".stripMargin
  }

  private val sampleSplitSql =
    s"""SELECT doc_id,
       |  ${hexIntSql("('split:' || CAST(doc_id AS VARCHAR))")} % 100 AS bucket,
       |  CASE WHEN ${hexIntSql("('split:' || CAST(doc_id AS VARCHAR))")} % 100 < 80 THEN 'train'
       |       WHEN ${hexIntSql("('split:' || CAST(doc_id AS VARCHAR))")} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  private val sampleSplitGroupSql =
    s"""SELECT doc_id, source,
       |  ${hexIntSql("('gsplit:' || source)")} % 100 AS bucket,
       |  CASE WHEN ${hexIntSql("('gsplit:' || source)")} % 100 < 80 THEN 'train'
       |       WHEN ${hexIntSql("('gsplit:' || source)")} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  /** Priority-sample oracle: ⌊salted-hash·10⁴ / w⌋ per row, global
    * (priority, id) top-100 — one ORDER BY/LIMIT over the lattice. */
  private val samplePrioritySql =
    s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       |  (${hexIntSql("('pri:' || CAST(doc_id AS VARCHAR))")} * 10000)
       |    // CAST(n_chars AS BIGINT) AS priority
       |FROM documents WHERE n_chars > 0
       |ORDER BY priority, doc_id LIMIT 100""".stripMargin

  /** Systematic weighted sampling twin of
    * Curation.weightedSystematicSample: the oracle's cumulative sum is a
    * plain global window (DuckDB is single-node); the engine side
    * reproduces the identical cw via bucketed prefix sums. Every output
    * column is cast to BIGINT: DuckDB's sum(BIGINT) is HUGEINT, which
    * the driver's pandas compare converts to float64 (157.0 vs 157 →
    * hash mismatch despite identical values — the r12 red row). */
  private val sampleWeightedSql =
    """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w
      |  FROM documents WHERE n_chars > 0),
      |tot AS (SELECT sum(w) AS total FROM base),
      |st AS (SELECT greatest(total // 100, 1) AS step FROM tot),
      |cum AS (SELECT doc_id, w, sum(w) OVER (ORDER BY doc_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM base)
      |SELECT doc_id, w, CAST(cw AS BIGINT) AS cw,
      |  CAST(n_picks AS BIGINT) AS n_picks FROM (
      |  SELECT doc_id, w, cw,
      |    least((cw + step - 1) // step, 100)
      |      - least((cw - w + step - 1) // step, 100) AS n_picks
      |  FROM cum CROSS JOIN st) t
      |WHERE n_picks >= 1""".stripMargin

  private val prefPairsSql =
    s"""WITH base AS (SELECT doc_id, source, lang, text,
       |  ${wordsSqlOf("text")} AS ws, ${wordsSqlOf("lower(text)")} AS wl
       |  FROM documents),
       |h AS (SELECT doc_id, source, lang, text, ws,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |  FROM base),
       |sc AS (SELECT doc_id, source, lang,
       |  ${qualityQ4Sql("text", "ws", "h_en")} AS q4 FROM h),
       |r AS (SELECT source, lang, doc_id, q4,
       |  row_number() OVER (PARTITION BY source, lang ORDER BY q4 DESC, doc_id ASC) AS rc,
       |  row_number() OVER (PARTITION BY source, lang ORDER BY q4 ASC, doc_id DESC) AS rr,
       |  count(*) OVER (PARTITION BY source, lang) AS n FROM sc),
       |ch AS (SELECT source, lang, doc_id AS chosen_id, q4 AS cq4, n
       |       FROM r WHERE rc = 1),
       |rj AS (SELECT source, lang, doc_id AS rejected_id, q4 AS rq4
       |       FROM r WHERE rr = 1)
       |SELECT ch.source, ch.lang, chosen_id, rejected_id,
       |  CAST(cq4 AS DOUBLE) / 10000.0 AS chosen_quality,
       |  CAST(rq4 AS DOUBLE) / 10000.0 AS rejected_quality,
       |  CAST(cq4 - rq4 AS DOUBLE) / 10000.0 AS margin
       |FROM ch JOIN rj USING (source, lang)
       |WHERE n > 1 AND cq4 > rq4""".stripMargin

  /** Sketch-containment oracle: the identical lanes+sizes rational on
    * the 4-decimal lattice, both directions of every LSH candidate. */
  private val dedupContainmentEstSql: String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${minhashSql("h", i)}) AS mh$i").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
      s"SELECT id, $b AS band, md5(concat_ws('|', ${slice.mkString(", ")})) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    val laneSum = (0 until numHashes)
      .map(i => s"CASE WHEN la.mh$i = lb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shingleCtes,
       |h AS (SELECT id, ${hexIntSql("shingle")} AS h FROM sh),
       |sig AS (SELECT id, $mins FROM h GROUP BY id),
       |bands AS ($bandSelects),
       |cands AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id),
       |est AS (SELECT c.id_a, c.id_b, CAST($laneSum AS BIGINT) AS lanes_eq
       |  FROM cands c JOIN sig la ON la.id = c.id_a JOIN sig lb ON lb.id = c.id_b),
       |bidir AS (SELECT id_a AS id, id_b AS container_id, lanes_eq FROM est
       |  UNION ALL SELECT id_b, id_a, lanes_eq FROM est),
       |sc AS (SELECT b.id, b.container_id,
       |    least(1.0, CAST((b.lanes_eq * (sa.sz + sb.sz) * 10000)
       |         // (($numHashes + b.lanes_eq) * sa.sz) AS DOUBLE) / 10000.0)
       |      AS containment_est
       |  FROM bidir b JOIN sizes sa ON sa.id = b.id
       |  JOIN sizes sb ON sb.id = b.container_id)
       |SELECT id, container_id, containment_est FROM sc
       |WHERE containment_est >= 0.8""".stripMargin
  }

  // lazy: interpolates dedupContainmentSql, which initializes later in
  // this object — a strict val here would bake in "null"
  private lazy val dedupContainmentEstEvalSql: String =
    s"""WITH t AS (SELECT id AS id_a, container_id AS id_b
       |  FROM ($dedupContainmentSql)),
       |p AS (SELECT id AS id_a, container_id AS id_b
       |  FROM ($dedupContainmentEstSql)),
       |tpc AS (SELECT count(*) AS tp FROM p JOIN t USING (id_a, id_b)),
       |ntc AS (SELECT count(*) AS n_true FROM t),
       |npc AS (SELECT count(*) AS n_pred FROM p)
       |SELECT n_true, n_pred, tp,
       |  ${frac4Sql("tp", "n_pred")} AS precision,
       |  ${frac4Sql("tp", "n_true")} AS recall,
       |  ${frac4Sql("2 * tp", "n_true + n_pred")} AS f1
       |FROM ntc, npc, tpc""".stripMargin

  private val dedupContainmentSql =
    s"""WITH $shingleCtes,
       |kept AS (SELECT shingle FROM
       |  (SELECT shingle, count(*) AS df FROM sh GROUP BY 1) t
       |  WHERE df <= 64),
       |shk AS (SELECT id, shingle FROM sh JOIN kept USING (shingle)),
       |szk AS (SELECT id, count(*) AS sz FROM shk GROUP BY id),
       |inter AS (SELECT a.id AS id, b.id AS container_id, count(*) AS i
       |  FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.id <> b.id
       |  GROUP BY 1, 2)
       |SELECT id, container_id, containment FROM (
       |  SELECT inter.id, container_id,
       |    CAST((i * 10000) // sz AS DOUBLE) / 10000.0 AS containment
       |  FROM inter JOIN szk ON szk.id = inter.id) t
       |WHERE containment >= 0.8""".stripMargin

  // lazy: depends on bm25RankedCtes, declared further down the file
  private lazy val retrievalNdcgSql = {
    def discCase(rankCol: String): String =
      "CASE " + rankCol + " " + graft.ext.Curation.ndcgDiscountsQ6(10)
        .map { case (r, d) => s"WHEN $r THEN $d" }.mkString(" ") +
        " ELSE 0 END"
    s"""WITH $bm25RankedCtes,
       |rk AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= 10),
       |dst AS (SELECT doc_id, unnest(list_distinct(ws)) AS term FROM base),
       |relc AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS rel
       |  FROM dst JOIN probes USING (term) GROUP BY 1, 2),
       |dcg AS (SELECT query_id,
       |  sum(coalesce(rel, 0) * ${discCase("rnk")}) AS dcg_q6
       |  FROM rk LEFT JOIN relc USING (query_id, doc_id) GROUP BY 1),
       |ideal AS (SELECT query_id, rel, row_number() OVER
       |  (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irnk
       |  FROM relc WHERE rel > 0),
       |idcg AS (SELECT query_id, sum(rel * ${discCase("irnk")}) AS idcg_q6
       |  FROM ideal WHERE irnk <= 10 GROUP BY 1)
       |SELECT query_id,
       |  CAST(coalesce(dcg_q6, 0) AS DOUBLE) / 1000000.0 AS dcg,
       |  CAST(coalesce(idcg_q6, 0) AS DOUBLE) / 1000000.0 AS idcg,
       |  CASE WHEN coalesce(idcg_q6, 0) > 0
       |    THEN CAST((coalesce(dcg_q6, 0) * 10000
       |          - (coalesce(dcg_q6, 0) * 10000) % idcg_q6) // idcg_q6
       |        AS DOUBLE) / 10000.0
       |    ELSE 0.0 END AS ndcg
       |FROM dcg FULL OUTER JOIN idcg USING (query_id)""".stripMargin
  }

  /** Cluster-aware split oracle: the recursive-closure cluster CTE (the
    * q_dedup_clusters text) + the hash-bucket split on cluster_id. */
  // lazy: embeds dedupClustersSql, declared later in this object
  private lazy val sampleSplitClusterSql = {
    val h = hexIntSql("('csplit:' || CAST(cluster_id AS VARCHAR))")
    s"""WITH c AS (SELECT * FROM ($dedupClustersSql))
       |SELECT doc_id, cluster_id, $h % 100 AS bucket,
       |  CASE WHEN $h % 100 < 80 THEN 'train'
       |       WHEN $h % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM c""".stripMargin
  }

  /** Classifier-eval oracle: the train→predict CTE chain joined to the
    * gold labels; per-class P/R/F1 on the exact rational lattice
    * (F1 = 2tp/(n_actual+n_predicted), never a composition of floored
    * P and R). */
  /** The confusion-matrix→P/R/F1 tail after `best`, parameterized by
    * the truth relation (the docs whose gold labels gate the metrics —
    * `documents` for the resubstitution check, the held-out bucket for
    * the split eval). Denominators are PARENTHESIZED into `%`/`//`
    * (ADVICE r10 high: DuckDB parses `x % a + b` as `(x % a) + b`, so
    * the unwrapped composite F1 denominator floored wrongly). */
  private def classifyEvalTailSql(truthRel: String): String =
    s"""j AS (SELECT d.doc_id, d.source AS actual, b.predicted AS pred
       |  FROM $truthRel d LEFT JOIN best b USING (doc_id)),
       |${confusionTailSql}""".stripMargin

  /** Everything after a `j (doc_id, actual, pred)` CTE: confusion
    * matrix → per-class n/tp → exact-lattice P/R/F1 — shared by the
    * classifier evals and the language-ID eval. */
  private def confusionTailSql: String = {
    def frac4(num: String, den: String): String =
      s"""CASE WHEN ($den) > 0
         | THEN CAST(($num * 10000 - (($num * 10000) % ($den))) // ($den) AS DOUBLE) / 10000.0
         | ELSE 0.0 END""".stripMargin
    s"""conf AS (SELECT actual, pred, count(*) AS n FROM j GROUP BY 1, 2),
       |per AS (SELECT actual AS label, CAST(sum(n) AS BIGINT) AS n_actual,
       |    CAST(coalesce(sum(CASE WHEN pred = actual THEN n ELSE 0 END), 0)
       |      AS BIGINT) AS tp
       |  FROM conf GROUP BY 1),
       |pt AS (SELECT pred AS label, CAST(sum(n) AS BIGINT) AS n_predicted
       |  FROM conf WHERE pred IS NOT NULL GROUP BY 1)
       |SELECT label,
       |  coalesce(n_actual, 0) AS n_actual,
       |  coalesce(n_predicted, 0) AS n_predicted,
       |  coalesce(tp, 0) AS tp,
       |  ${frac4("coalesce(tp, 0)", "coalesce(n_predicted, 0)")} AS precision,
       |  ${frac4("coalesce(tp, 0)", "coalesce(n_actual, 0)")} AS recall,
       |  ${frac4("coalesce(tp, 0) * 2",
             "coalesce(n_actual, 0) + coalesce(n_predicted, 0)")} AS f1
       |FROM per FULL OUTER JOIN pt USING (label)""".stripMargin
  }

  private val classifyEvalSql =
    s"""WITH ${graft.ext.Classifier.classifierCtes("source")},
       |${classifyEvalTailSql("documents")}""".stripMargin

  /** Language-ID eval oracle: the langId heuristic graded against the
    * gold `lang` column through the shared confusion tail. */
  private val langidEvalSql =
    s"""WITH $langCtes,
       |j AS (SELECT d.doc_id, d.lang AS actual, l.lang_id AS pred
       |  FROM documents d LEFT JOIN lang l USING (doc_id)),
       |${confusionTailSql}""".stripMargin

  /** Dedup-approximation eval oracle generator: both full pair chains
    * (exact df-capped n-gram Jaccard as truth, a sketch pipeline as
    * prediction), then set-overlap precision/recall/F1 on the shared
    * frac4 lattice. Pairs are projected to (id_a, id_b) before the
    * overlap join so extra chain columns can never collide. */
  private def pairEvalSqlOf(truthSql: String, predSql: String): String =
    s"""WITH t AS (SELECT id_a, id_b FROM ($truthSql)),
       |p AS (SELECT id_a, id_b FROM ($predSql)),
       |tpc AS (SELECT count(*) AS tp FROM p JOIN t USING (id_a, id_b)),
       |ntc AS (SELECT count(*) AS n_true FROM t),
       |npc AS (SELECT count(*) AS n_pred FROM p)
       |SELECT n_true, n_pred, tp,
       |  ${frac4Sql("tp", "n_pred")} AS precision,
       |  ${frac4Sql("tp", "n_true")} AS recall,
       |  ${frac4Sql("2 * tp", "n_true + n_pred")} AS f1
       |FROM ntc, npc, tpc""".stripMargin

  private val dedupMinhashEvalSql =
    pairEvalSqlOf(dedupNgramJaccardSql, dedupMinhashSql)
  private val dedupSimhashEvalSql =
    pairEvalSqlOf(dedupNgramJaccardSql, dedupSimhashSql)
  private val dedupFingerprintEvalSql =
    pairEvalSqlOf(dedupNgramJaccardSql, dedupFingerprintSql)
  /** Two operating points over ONE est CTE: the naive lanes ≥ 8 cutoff
    * (a shared constant — it IS the 0.5 threshold) and the calibrated
    * one, re-derived in SQL by calibCutCtes so query and oracle read
    * the same data-driven operating point. est is filtered at
    * naiveLanes, which is safe for both arms: the calibrated cutoff is
    * clamped to ≥ naiveLanes on both sides. */
  private val dedupSketchonlyEvalSql: String = {
    def arm(labelSql: String, cut: String): String =
      s"""SELECT $labelSql AS strategy, n_true, n_pred, tp,
         |  ${frac4Sql("tp", "n_pred")} AS precision,
         |  ${frac4Sql("tp", "n_true")} AS recall,
         |  ${frac4Sql("2 * tp", "n_true + n_pred")} AS f1
         |FROM (SELECT count(*) AS n_true FROM t),
         |  (SELECT count(*) AS n_pred FROM est WHERE lanes_eq >= $cut),
         |  (SELECT count(*) AS tp FROM est e JOIN t USING (id_a, id_b)
         |   WHERE e.lanes_eq >= $cut)""".stripMargin
    s"""WITH $calibCutCtes,
       |est AS ($dedupSketchonlySql),
       |t AS (SELECT id_a, id_b FROM ($dedupNgramJaccardSql))
       |${arm(s"'lanes_ge_$naiveLanes'", naiveLanes.toString)}
       |UNION ALL
       |${arm("'lanes_ge_' || CAST((SELECT c FROM cut) AS VARCHAR)",
              "(SELECT c FROM cut)")}""".stripMargin
  }

  /** PageRank oracle: the identical integer iterations unrolled as CTEs
    * over the symmetrized MinHash pair graph (sums run in HUGEINT, the
    * 128-bit twin of the Spark side's decimal(38,0) quotients). */
  private val graphPagerankSql: String = {
    val base = prScale * (100 - prDamp) / 100
    val chain = (1 to prIters).map { k =>
      s"c$k AS (SELECT ed.dst AS id, sum(r.rank // ed.dg) AS s " +
        s"FROM ed JOIN r${k - 1} r ON r.id = ed.src GROUP BY 1), " +
        s"r$k AS (SELECT n.id, " +
        s"CAST($base + ($prDamp * coalesce(c.s, 0)) // 100 AS BIGINT)" +
        s" AS rank " +
        s"FROM n LEFT JOIN c$k c USING (id))"
    }.mkString(",\n")
    s"""WITH p AS ($dedupMinhashSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.dg FROM e JOIN deg d USING (src)),
       |n AS (SELECT doc_id AS id FROM documents),
       |r0 AS (SELECT id, CAST($prScale AS BIGINT) AS rank FROM n),
       |$chain
       |SELECT id AS doc_id, rank FROM r$prIters""".stripMargin
  }

  /** Triangle-census oracle: the identical degree-orientation chain
    * (Suri & Vassilvitskii) over the MinHash pair graph — wedges from
    * oriented out-neighbors, EXISTS-closed, per-node counts, lcc on the
    * frac4 lattice. */
  private val graphTrianglesSql =
    s"""WITH p AS ($dedupMinhashSql),
       |e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p),
       |dg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg
       |  FROM
       |  (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       |wd AS (SELECT e.u, e.v, du.deg AS du, dv.deg AS dv,
       |    (du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)) AS lt
       |  FROM e JOIN dg du ON du.id = e.u JOIN dg dv ON dv.id = e.v),
       |o AS MATERIALIZED (SELECT CASE WHEN lt THEN u ELSE v END AS src,
       |    CASE WHEN lt THEN v ELSE u END AS dst,
       |    CASE WHEN lt THEN dv ELSE du END AS ddst FROM wd),
       |tr AS (SELECT a.src AS t1, a.dst AS t2, b.dst AS t3
       |  FROM o a JOIN o b ON a.src = b.src AND
       |    (a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst))
       |  WHERE EXISTS (SELECT 1 FROM o c
       |    WHERE c.src = a.dst AND c.dst = b.dst)),
       |ct AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM
       |  (SELECT t1 AS id FROM tr UNION ALL SELECT t2 FROM tr
       |   UNION ALL SELECT t3 FROM tr) GROUP BY 1)
       |SELECT n.doc_id, coalesce(dg.deg, 0) AS deg,
       |  coalesce(ct.tri, 0) AS tri,
       |  CASE WHEN coalesce(dg.deg, 0) >= 2
       |    THEN CAST((2 * coalesce(ct.tri, 0) * 10000)
       |           // (dg.deg * (dg.deg - 1)) AS DOUBLE) / 10000.0
       |    ELSE 0.0 END AS lcc
       |FROM (SELECT doc_id FROM documents) n
       |LEFT JOIN dg ON dg.id = n.doc_id
       |LEFT JOIN ct ON ct.id = n.doc_id""".stripMargin

  /** k-core oracle: the identical peel rounds unrolled as CTEs (k=2,
    * 3 rounds) over the MinHash pair graph. Every round CTE is
    * MATERIALIZED: each e_r is referenced ~5× by the next round, so
    * inlining would re-evaluate the whole MinHash chain O(5^rounds)
    * times (observed: the un-materialized form ran minutes at sf0.01
    * where the materialized one takes seconds). */
  private val graphKcoreSql: String = {
    val rounds = 3
    val chain = (1 to rounds).map { r =>
      s"d$r AS MATERIALIZED (SELECT id, count(*) AS deg FROM " +
        s"(SELECT u AS id FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})" +
        s" GROUP BY 1), " +
        s"k$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 2), " +
        s"e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1} " +
        s"WHERE u IN (SELECT id FROM k$r) AND v IN (SELECT id FROM k$r))"
    }.mkString(",\n")
    s"""WITH p AS ($dedupMinhashSql),
       |e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p),
       |$chain,
       |df AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM
       |  (SELECT u AS id FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |  GROUP BY 1)
       |SELECT n.doc_id,
       |  CAST(CASE WHEN k.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_core,
       |  CASE WHEN k.id IS NOT NULL THEN coalesce(df.deg, 0)
       |    ELSE 0 END AS core_deg
       |FROM (SELECT doc_id FROM documents) n
       |LEFT JOIN k$rounds k ON k.id = n.doc_id
       |LEFT JOIN df ON df.id = n.doc_id""".stripMargin
  }

  /** Bigram-LM oracle: identical train+score chain — add-one ppm per
    * bigram over the successor vocabulary, floor-mean per doc. */
  /** Kneser–Ney oracle: the identical 4×-scaled integer rational —
    * HUGEINT products, floor-div; split_part(bg,' ',-1)-free (DuckDB's
    * negative index differs from Spark's substring_index(-1) only on
    * >2-token strings, and bigrams are exactly 2 tokens, so the
    * 2nd-token form is used explicitly). */
  /** The bigram-KN train+score chain as prefixed CTEs over `documents`
    * rows matching `srcWhere` (empty = whole corpus) — emits `${p}sc
    * (doc_id, n_bigrams, kn_ppm)`. Shared by the batch oracle and the
    * prequential-incremental one (which instantiates it per prefix). */
  private def knChainCtes(p: String, srcWhere: String): String =
    s"""${p}w AS (SELECT doc_id, ${wordsSqlOf("text")} AS ws
       |  FROM documents$srcWhere),
       |${p}b AS (SELECT doc_id, unnest(${Hashing.ngramsSql("ws", 2)}) AS bg
       |  FROM ${p}w),
       |${p}c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
       |  FROM ${p}b GROUP BY 1),
       |${p}lft AS (SELECT split_part(bg, ' ', 1) AS w1,
       |    CAST(sum(c12) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1w1 FROM ${p}c12 GROUP BY 1),
       |${p}cont AS (SELECT split_part(bg, ' ', 2) AS w2,
       |    CAST(count(*) AS BIGINT) AS n1w2 FROM ${p}c12 GROUP BY 1),
       |${p}nbi AS (SELECT CAST(count(*) AS BIGINT) AS nbi FROM ${p}c12),
       |${p}m AS (SELECT bg,
       |    CAST((((c12 * 4 - 3) * nbi + 3 * n1w1 * n1w2) * 1000000)
       |         // (4 * c1 * nbi) AS BIGINT) AS ppm
       |  FROM ${p}c12
       |  JOIN ${p}lft ON split_part(${p}c12.bg, ' ', 1) = ${p}lft.w1
       |  JOIN ${p}cont ON split_part(${p}c12.bg, ' ', 2) = ${p}cont.w2,
       |  ${p}nbi),
       |${p}sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(ppm) // count(*) AS BIGINT) AS kn_ppm
       |  FROM ${p}b JOIN ${p}m USING (bg) GROUP BY 1)""".stripMargin

  private val textLmKnSql =
    s"""WITH ${knChainCtes("", "")}
       |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |  coalesce(sc.kn_ppm, 0) AS kn_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Prequential-incremental KN oracle (the PREFIX LAW): increment 1
    * (doc_id < 250) scores against the model of increment 1 alone;
    * increment 2 scores against the model of the WHOLE corpus — each
    * half is the plain batch chain over its prefix, restricted to its
    * own documents. */
  private val textLmKnIncrSql =
    s"""WITH ${knChainCtes("k1", " WHERE doc_id < 250")},
       |${knChainCtes("k2", "")}
       |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |  coalesce(sc.kn_ppm, 0) AS kn_ppm
       |FROM documents d LEFT JOIN k1sc sc USING (doc_id)
       |WHERE d.doc_id < 250
       |UNION ALL
       |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |  coalesce(sc.kn_ppm, 0) AS kn_ppm
       |FROM documents d LEFT JOIN k2sc sc USING (doc_id)
       |WHERE d.doc_id >= 250""".stripMargin

  /** Trigram-KN oracle: the identical 4×-scaled integer rational over
    * the same five continuation tables, all derived from one trigram
    * count CTE — HUGEINT products, floor-div. Middle/edge words come
    * from split_part with POSITIVE indexes only (trigrams are exactly 3
    * tokens, so index arithmetic never straddles the Spark/DuckDB
    * negative-index divergence). */
  /** The trigram-KN train+score chain as prefixed CTEs (the kn3
    * analogue of `knChainCtes`) — emits `${p}sc (doc_id, n_trigrams,
    * kn3_ppm)`; shared by the batch and prequential-incremental
    * oracles. */
  private def kn3ChainCtes(p: String, srcWhere: String): String =
    s"""${p}w AS (SELECT doc_id, ${wordsSqlOf("text")} AS ws
       |  FROM documents$srcWhere),
       |${p}t AS (SELECT doc_id, unnest(${Hashing.ngramsSql("ws", 3)}) AS tg
       |  FROM ${p}w),
       |${p}c AS (SELECT tg, CAST(count(*) AS BIGINT) AS c123
       |  FROM ${p}t GROUP BY 1),
       |${p}top AS (SELECT split_part(tg, ' ', 1) || ' ' ||
       |    split_part(tg, ' ', 2) AS w12, CAST(sum(c123) AS BIGINT) AS c12,
       |    CAST(count(*) AS BIGINT) AS n12 FROM ${p}c GROUP BY 1),
       |${p}bt AS (SELECT split_part(tg, ' ', 2) || ' ' ||
       |    split_part(tg, ' ', 3) AS w23,
       |    CAST(count(*) AS BIGINT) AS n23 FROM ${p}c GROUP BY 1),
       |${p}mid AS (SELECT split_part(w23, ' ', 1) AS w2,
       |    CAST(sum(n23) AS BIGINT) AS nmid2,
       |    CAST(count(*) AS BIGINT) AS n2 FROM ${p}bt GROUP BY 1),
       |${p}bot AS (SELECT split_part(w23, ' ', 2) AS w3,
       |    CAST(count(*) AS BIGINT) AS n3 FROM ${p}bt GROUP BY 1),
       |${p}nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM ${p}bt),
       |${p}m AS (SELECT tg, CAST(
       |    ((CAST(c123 AS HUGEINT) * 4 - 3)
       |        * (4 * CAST(nmid2 AS HUGEINT) * nbb)
       |      + 3 * CAST(n12 AS HUGEINT)
       |        * ((4 * CAST(n23 AS HUGEINT) - 3) * nbb
       |           + 3 * CAST(n2 AS HUGEINT) * n3)) * 1000000
       |    // (16 * CAST(c12 AS HUGEINT) * nmid2 * nbb) AS BIGINT) AS ppm
       |  FROM ${p}c
       |  JOIN ${p}top ON split_part(${p}c.tg, ' ', 1) || ' ' ||
       |    split_part(${p}c.tg, ' ', 2) = ${p}top.w12
       |  JOIN ${p}bt ON split_part(${p}c.tg, ' ', 2) || ' ' ||
       |    split_part(${p}c.tg, ' ', 3) = ${p}bt.w23
       |  JOIN ${p}mid ON split_part(${p}c.tg, ' ', 2) = ${p}mid.w2
       |  JOIN ${p}bot ON split_part(${p}c.tg, ' ', 3) = ${p}bot.w3,
       |  ${p}nbb),
       |${p}sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |    CAST(sum(CAST(ppm AS HUGEINT)) // count(*) AS BIGINT) AS kn3_ppm
       |  FROM ${p}t JOIN ${p}m USING (tg) GROUP BY 1)""".stripMargin

  private val textLmKn3Sql =
    s"""WITH ${kn3ChainCtes("", "")}
       |SELECT d.doc_id, coalesce(sc.n_trigrams, 0) AS n_trigrams,
       |  coalesce(sc.kn3_ppm, 0) AS kn3_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Prequential-incremental trigram-KN oracle — the kn3 instance of
    * the prefix law (see textLmKnIncrSql). */
  private val textLmKn3IncrSql =
    s"""WITH ${kn3ChainCtes("k1", " WHERE doc_id < 250")},
       |${kn3ChainCtes("k2", "")}
       |SELECT d.doc_id, coalesce(sc.n_trigrams, 0) AS n_trigrams,
       |  coalesce(sc.kn3_ppm, 0) AS kn3_ppm
       |FROM documents d LEFT JOIN k1sc sc USING (doc_id)
       |WHERE d.doc_id < 250
       |UNION ALL
       |SELECT d.doc_id, coalesce(sc.n_trigrams, 0) AS n_trigrams,
       |  coalesce(sc.kn3_ppm, 0) AS kn3_ppm
       |FROM documents d LEFT JOIN k2sc sc USING (doc_id)
       |WHERE d.doc_id >= 250""".stripMargin

  /** CCNet funnel oracle: the kn3 chain CTEs, a per-(source, kn3_ppm)
    * histogram with cumulative-from-top counts, value cutoffs at the
    * terciles (max v with 3·cum ≥ tot / 2·tot), bucket by comparison,
    * keep head + even-id middle. Intermediate sums run HUGEINT — only
    * the output columns must be driver-compare-safe. */
  private val curationFunnel5Sql =
    s"""WITH ${kn3ChainCtes("", "")},
       |sc2 AS (SELECT d.doc_id, d.source, coalesce(sc.kn3_ppm, 0) AS kn3_ppm
       |  FROM documents d LEFT JOIN sc USING (doc_id)),
       |hist AS (SELECT source, kn3_ppm, CAST(count(*) AS BIGINT) AS n
       |  FROM sc2 GROUP BY 1, 2),
       |cum AS (SELECT source, kn3_ppm,
       |    sum(n) OVER (PARTITION BY source ORDER BY kn3_ppm DESC) AS cum,
       |    sum(n) OVER (PARTITION BY source) AS tot
       |  FROM hist),
       |cuts AS (SELECT source,
       |    max(CASE WHEN cum * 3 >= tot THEN kn3_ppm END) AS c_head,
       |    max(CASE WHEN cum * 3 >= tot * 2 THEN kn3_ppm END) AS c_mid
       |  FROM cum GROUP BY 1),
       |b AS (SELECT s.doc_id, s.source, s.kn3_ppm,
       |    CASE WHEN s.kn3_ppm >= c.c_head THEN 'head'
       |         WHEN s.kn3_ppm >= c.c_mid THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM sc2 s JOIN cuts c USING (source))
       |SELECT doc_id, source, bucket, kn3_ppm FROM b
       |WHERE bucket = 'head'
       |   OR (bucket = 'middle' AND doc_id % 2 = 0)""".stripMargin

  private val textLmScoreSql =
    s"""WITH w AS (SELECT doc_id, ${wordsSqlOf("text")} AS ws
       |  FROM documents),
       |b AS (SELECT doc_id, unnest(${Hashing.ngramsSql("ws", 2)}) AS bg
       |  FROM w),
       |c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
       |  FROM b GROUP BY 1),
       |c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
       |    CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vv FROM
       |  (SELECT unnest(ws) AS w FROM w)),
       |m AS (SELECT bg,
       |    CAST(((c12 + 1) * 1000000) // (c1 + vv) AS BIGINT) AS ppm
       |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1, vv),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(ppm) // count(*) AS BIGINT) AS lm_ppm
       |  FROM b JOIN m USING (bg) GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |  coalesce(sc.lm_ppm, 0) AS lm_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** DSIR oracle mirroring Curation.dsirWeights: same 256-bucket hashed
    * unigram model, add-one likelihood-ratio ppm lattice, target =
    * lang 'en'. */
  private val curationDsirSql = {
    val b = 256
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, is_t, CAST(${hexIntSql("w")} % $b AS BIGINT) AS b
       |  FROM (SELECT doc_id, lang = 'en' AS is_t,
       |        unnest(${wordsSqlOf("lower(text)")}) AS w FROM documents)),
       |model AS (SELECT b,
       |  CAST(coalesce(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS ct,
       |  CAST(count(*) AS BIGINT) AS cr FROM g GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
       |  CAST(sum(cr) AS BIGINT) AS nr FROM model),
       |r AS (SELECT b, CAST((CAST(ct + 1 AS HUGEINT) * (nr + $b) * 1000000)
       |    // (CAST(cr + 1 AS HUGEINT) * (nt + $b)) AS BIGINT) AS r_ppm
       |  FROM model, tot),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CAST(r_ppm AS HUGEINT)) // count(*) AS BIGINT) AS dsir_ppm
       |  FROM g JOIN r USING (b) GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_grams, 0) AS n_grams,
       |  coalesce(sc.dsir_ppm, 0) AS dsir_ppm,
       |  CAST(CASE WHEN coalesce(sc.dsir_ppm, 0) > 1000000 THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_targetlike
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** Frozen-model DSIR oracle: model CTEs train on the % 97 ≠ 0 base;
    * the % 97 = 0 stream LEFT-joins the ratio table with the 0-count
    * smoothing default ⌊10⁶·(nr+B)/(nt+B)⌋ for unseen buckets. */
  private val curationDsirFreezeSql = {
    val b = 256
    s"""WITH gm AS MATERIALIZED (
       |  SELECT is_t, CAST(${hexIntSql("w")} % $b AS BIGINT) AS b
       |  FROM (SELECT lang = 'en' AS is_t,
       |        unnest(${wordsSqlOf("lower(text)")}) AS w FROM documents
       |        WHERE doc_id % 97 <> 0)),
       |model AS (SELECT b,
       |  CAST(coalesce(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS ct,
       |  CAST(count(*) AS BIGINT) AS cr FROM gm GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
       |  CAST(sum(cr) AS BIGINT) AS nr FROM model),
       |r AS (SELECT b, CAST((CAST(ct + 1 AS HUGEINT) * (nr + $b) * 1000000)
       |    // (CAST(cr + 1 AS HUGEINT) * (nt + $b)) AS BIGINT) AS r_ppm
       |  FROM model, tot),
       |d0 AS (SELECT CAST((CAST(nr + $b AS HUGEINT) * 1000000)
       |    // CAST(nt + $b AS HUGEINT) AS BIGINT) AS r0 FROM tot),
       |gs AS (SELECT doc_id, CAST(${hexIntSql("w")} % $b AS BIGINT) AS b
       |  FROM (SELECT doc_id, unnest(${wordsSqlOf("lower(text)")}) AS w
       |        FROM documents WHERE doc_id % 97 = 0)),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CAST(coalesce(r_ppm, r0) AS HUGEINT)) // count(*) AS BIGINT)
       |    AS dsir_ppm
       |  FROM gs LEFT JOIN r USING (b), d0 GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_grams, 0) AS n_grams,
       |  coalesce(sc.dsir_ppm, 0) AS dsir_ppm,
       |  CAST(CASE WHEN coalesce(sc.dsir_ppm, 0) > 1000000 THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_targetlike
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) d
       |LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** Shard-assignment oracle: one global row_number (the oracle may use
    * the one-task window the engine is forbidden; DuckDB is single-node
    * anyway), identical (size desc, id) order. */
  private val curationShardsSql =
    s"""WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, n_chars, CAST((rk - 1) % 7 AS BIGINT) AS shard
       |FROM r""".stripMargin

  private def kcDotSql(v: String, cv: String): String =
    s"list_sum(list_transform(range(1, len($v) + 1), i -> $v[i] * $cv[i]))"

  /** k-center greedy oracle: seed = min id, then 3 unrolled farthest-
    * point rounds (argmax md with id tiebreak, strict-less re-assignment
    * keeps the earlier center) — each round's running-min CTE is
    * MATERIALIZED (the iterative-oracle discipline: DuckDB inlines
    * multiply-referenced CTEs, which re-evaluates the whole chain per
    * round otherwise). */
  private val selectKcenterSql = {
    val k = 4
    val rounds = (2 to k).map { j =>
      val prevCs = (1 until j).map(i => s"c$i").mkString(", ")
      val exclude = (1 until j).map(i => s"id <> cid$i").mkString(" AND ")
      s"""c$j AS (SELECT id AS cid$j, v AS cv$j, n2 AS cn$j
         |  FROM m${j - 1}, $prevCs WHERE $exclude
         |  ORDER BY md DESC, id LIMIT 1),
         |u$j AS (SELECT m${j - 1}.*, cid$j, cn$j, cv$j,
         |  round(m${j - 1}.n2 + cn$j - 2 * ${kcDotSql(s"m${j - 1}.v", s"cv$j")}, 6) AS d2
         |  FROM m${j - 1}, c$j),
         |m$j AS MATERIALIZED (SELECT id, v, n2,
         |  CASE WHEN d2 < md THEN d2 ELSE md END AS md,
         |  CASE WHEN d2 < md THEN cid$j ELSE cid END AS cid FROM u$j)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id AS id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |pn AS MATERIALIZED (SELECT id, v,
       |  list_sum(list_transform(v, x -> x * x)) AS n2 FROM p),
       |c1 AS (SELECT id AS cid1, v AS cv1, n2 AS cn1 FROM pn ORDER BY id LIMIT 1),
       |m1 AS MATERIALIZED (SELECT pn.id, pn.v, pn.n2,
       |  round(pn.n2 + cn1 - 2 * ${kcDotSql("pn.v", "cv1")}, 6) AS md,
       |  cid1 AS cid FROM pn, c1),
       |$rounds
       |SELECT id AS vec_id, cid AS center_id, md AS d2c FROM m$k""".stripMargin
  }

  /** Blocklist oracle: same lowercased tokens, same edge-strip regex
    * (global flag — DuckDB replaces first match only by default), same
    * literal list as qTextBlocklist. */
  private val textBlocklistSql = {
    val bl = blocklistWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, ${wordsSqlOf("lower(text)")} AS ws
       |  FROM documents),
       |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |  CAST(len(list_filter(
       |    list_transform(ws, w -> regexp_replace(w, '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g')),
       |    w -> list_contains($bl, w))) AS BIGINT) AS n_flagged
       |  FROM t)
       |SELECT doc_id, n_words, n_flagged,
       |  ${frac4Sql("n_flagged", "n_words")} AS flagged_ratio,
       |  CAST(CASE WHEN n_flagged > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_blocked
       |FROM s""".stripMargin
  }

  /** Char-HHI oracle: character slices via 1-based `text[i:i]`, counts
    * squared in HUGEINT (int128 — NOT decimal: DuckDB's `//` on DECIMAL
    * rounds half-up where the engine's pmod lattice floors, an
    * off-by-one on ~half the rows; HUGEINT `//` truncates = floor for
    * non-negative operands), the same ppm floor division. */
  private val textCharHhiSql =
    s"""WITH cs AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars,
       |  list_transform(range(1, length(text) + 1), i -> text[i:i]) AS chs
       |  FROM documents),
       |c AS (SELECT doc_id, len_chars,
       |  list_transform(list_distinct(chs),
       |    ch -> CAST(len(list_filter(chs, x -> x = ch)) AS BIGINT)) AS counts
       |  FROM cs),
       |h AS (SELECT doc_id, len_chars,
       |  CAST(coalesce(list_sum(list_transform(counts,
       |    c -> CAST(c AS HUGEINT) * c)), 0) AS HUGEINT) AS sumsq
       |  FROM c)
       |SELECT doc_id, len_chars,
       |  CAST(CASE WHEN len_chars > 0
       |    THEN (sumsq * 1000000) // (CAST(len_chars AS HUGEINT) * len_chars)
       |    ELSE 0 END AS BIGINT) AS hhi_ppm
       |FROM h""".stripMargin

  /** Triplet-mining oracle: same anchor set, rounded-6dp cosine, the
    * three row_number argmaxes (pos / hardest / semi-hard below
    * pos_cos), sentinel (-1, -2.0) for missing cases. */
  private val simHardNegativesSql = {
    val dotAe =
      "list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i] * ae[i]))"
    s"""WITH c AS (SELECT vec_id AS cand_id, label AS cand_label,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce FROM embeddings),
       |cn AS (SELECT cand_id, cand_label, ce,
       |  sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnorm FROM c),
       |a AS (SELECT vec_id AS anchor_id, label AS a_label,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ae
       |  FROM embeddings WHERE vec_id < 8),
       |an AS (SELECT anchor_id, a_label, ae,
       |  sqrt(list_sum(list_transform(ae, x -> x * x))) AS anorm FROM a),
       |scored AS MATERIALIZED (SELECT anchor_id, cand_id,
       |  cand_label = a_label AS is_pos,
       |  round($dotAe / (cnorm * anorm), 6) AS cos
       |  FROM cn CROSS JOIN an WHERE cand_id <> anchor_id),
       |pos AS (SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM
       |  (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |     ORDER BY cos DESC, cand_id) AS rn FROM scored WHERE is_pos)
       |  WHERE rn = 1),
       |neg AS (SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos FROM
       |  (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |     ORDER BY cos DESC, cand_id) AS rn FROM scored WHERE NOT is_pos)
       |  WHERE rn = 1),
       |sh AS (SELECT anchor_id, cand_id AS semi_id, cos AS semi_cos FROM
       |  (SELECT s.anchor_id, s.cand_id, s.cos, row_number() OVER
       |     (PARTITION BY s.anchor_id ORDER BY s.cos DESC, s.cand_id) AS rn
       |   FROM scored s JOIN pos p ON s.anchor_id = p.anchor_id
       |   WHERE NOT s.is_pos AND s.cos < p.pos_cos)
       |  WHERE rn = 1)
       |SELECT an.anchor_id,
       |  CAST(coalesce(pos_id, -1) AS BIGINT) AS pos_id,
       |  coalesce(pos_cos, -2.0) AS pos_cos,
       |  CAST(coalesce(neg_id, -1) AS BIGINT) AS neg_id,
       |  coalesce(neg_cos, -2.0) AS neg_cos,
       |  CAST(coalesce(semi_id, -1) AS BIGINT) AS semi_id,
       |  coalesce(semi_cos, -2.0) AS semi_cos
       |FROM an LEFT JOIN pos USING (anchor_id)
       |  LEFT JOIN neg USING (anchor_id)
       |  LEFT JOIN sh USING (anchor_id)""".stripMargin
  }

  /** Class-centroid-margins oracle: identical q6 floor lattice per
    * component, exact integer per-dimension sums, pmod floor-division
    * means, integer dot + IEEE sqrt division rounded 6dp. */
  private val embClassMarginsSql = {
    def idot(x: String, y: String): String =
      s"list_sum(list_transform(range(1, len($x) + 1), i -> $x[i] * $y[i]))"
    s"""WITH q AS (SELECT label,
       |  unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> {'i': i,
       |          'xq': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
       |                 AS BIGINT)})) AS u
       |  FROM embeddings),
       |q2 AS (SELECT label, u.i AS dim, u.xq AS xq FROM q),
       |cd AS (SELECT label, dim, CAST(sum(xq) AS BIGINT) AS sq,
       |  CAST(count(*) AS BIGINT) AS n FROM q2 GROUP BY 1, 2),
       |cent AS (SELECT label,
       |  list((sq - ((sq % n + n) % n)) // n ORDER BY dim) AS c
       |  FROM cd GROUP BY 1),
       |p AS (SELECT a.label AS label_a, b.label AS label_b, a.c AS ca, b.c AS cb
       |  FROM cent a, cent b WHERE a.label < b.label)
       |SELECT label_a, label_b,
       |  round(${idot("ca", "cb")} /
       |    (sqrt(${idot("ca", "ca")}) * sqrt(${idot("cb", "cb")})), 6) AS cos
       |FROM p""".stripMargin
  }

  /** TTR oracle: same lowercased tokens, exact distinct, frac4. */
  private val textTtrSql =
    s"""WITH t AS (SELECT source AS stratum,
       |  unnest(${wordsSqlOf("lower(text)")}) AS w FROM documents)
       |SELECT stratum, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT w) AS BIGINT) AS n_types,
       |  ${frac4Sql("count(DISTINCT w)", "count(*)")} AS ttr
       |FROM t GROUP BY 1""".stripMargin

  /** Bitext-mining oracle: same cos6 ppm grid, k-NN SUMS (never a float
    * mean), the pmod floor-division margin (written out explicitly —
    * BIGINT `//` truncation semantics on a negative numerator are not
    * worth trusting), identical tie rules. */
  private val simBitextSql = {
    val k = 4
    val dotTS =
      "list_sum(list_transform(range(1, len(tv) + 1), i -> tv[i] * sv[i]))"
    val num = s"(${2 * k} * cos6 * 1000000)"
    s"""WITH lv AS (SELECT d.doc_id AS id, d.lang,
       |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |ln2 AS (SELECT id, lang, v,
       |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nv FROM lv),
       |src AS (SELECT id AS src_id, v AS sv, nv AS sn FROM ln2
       |  WHERE lang = 'en'),
       |tgt AS (SELECT id AS tgt_id, v AS tv, nv AS tn FROM ln2
       |  WHERE lang <> 'en'),
       |scored AS MATERIALIZED (SELECT src_id, tgt_id,
       |    CAST(round(round($dotTS / (tn * sn), 6) * 1000000) AS BIGINT) AS cos6
       |  FROM tgt CROSS JOIN src),
       |ax AS (SELECT src_id, CAST(sum(cos6) AS BIGINT) AS sx FROM
       |  (SELECT *, row_number() OVER (PARTITION BY src_id
       |     ORDER BY cos6 DESC, tgt_id) AS rn FROM scored)
       |  WHERE rn <= $k GROUP BY 1),
       |ay AS (SELECT tgt_id, CAST(sum(cos6) AS BIGINT) AS sy FROM
       |  (SELECT *, row_number() OVER (PARTITION BY tgt_id
       |     ORDER BY cos6 DESC, src_id) AS rn FROM scored)
       |  WHERE rn <= $k GROUP BY 1),
       |m AS (SELECT src_id, tgt_id, cos6,
       |    CASE WHEN sx + sy > 0
       |      THEN CAST(($num - ((($num % (sx + sy)) + (sx + sy)) % (sx + sy)))
       |             // (sx + sy) AS BIGINT)
       |      ELSE 0 END AS margin_ppm
       |  FROM scored JOIN ax USING (src_id) JOIN ay USING (tgt_id)),
       |b AS (SELECT *, row_number() OVER (PARTITION BY src_id
       |   ORDER BY margin_ppm DESC, tgt_id) AS rn FROM m)
       |SELECT src_id, tgt_id, cos6, margin_ppm,
       |  CAST(CASE WHEN margin_ppm > 1000000 THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_parallel
       |FROM b WHERE rn = 1""".stripMargin
  }

  /** Test-corpus embedding dimensionality. The Spark operator handles any
    * dim ≤ Similarity.maxDim (dot truncates); the oracle unrolls the plane
    * dot products to flat ±v[j] sums, so it pins the dim of the shared
    * parquet tables. */
  private val oracleDim = 64

  /** Plane dot as a flat signed sum: 0.0 ± v[1] ± v[2] … — multiplication
    * by ±1.0 is exact and addition is left-assoc in both engines, so this
    * is bit-identical to Spark's sequential-fold DotProduct against the
    * ±1 plane literal. */
  private def planeDotSql(e: String, p: Int): String =
    "0.0 " + (0 until oracleDim).map { j =>
      val sign = if (Similarity.planeSignValue(p, j) > 0) "+" else "-"
      s"$sign $e[${j + 1}]"
    }.mkString(" ")

  /** Band bucket of embedding list `e` — replicates Similarity.bandBucket:
    * bit j of band b set iff dot(e, plane_{b·r+j}) > 0. */
  private def bandBucketSql(e: String, band: Int, planesPerBand: Int): String =
    (0 until planesPerBand).map { j =>
      s"(CASE WHEN (${planeDotSql(e, band * planesPerBand + j)}) > 0" +
        s" THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** LSH-composed bitext oracle: the simBitextSql margin chain with the
    * CROSS JOIN replaced by the sign-LSH band candidate equi-join
    * (simNearDupSql's banded chain, split src-vs-tgt) — the k-NN sums
    * run over candidates only, the operator's documented contract. */
  private val simBitextLshSql = {
    val k = 4
    val dotTS =
      "list_sum(list_transform(range(1, len(tv) + 1), i -> tv[i] * sv[i]))"
    val num = s"(${2 * k} * cos6 * 1000000)"
    def bandSelects(from: String, idAs: String) =
      (0 until Similarity.neardupBands).map { b =>
        s"SELECT $idAs AS id, $b AS band, " +
          s"${bandBucketSql("v", b, Similarity.neardupPlanesPerBand)} AS bh " +
          s"FROM $from"
      }.mkString(" UNION ALL ")
    s"""WITH lv AS (SELECT d.doc_id AS id, d.lang,
       |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |ln2 AS (SELECT id, lang, v,
       |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nv FROM lv),
       |src AS (SELECT id AS src_id, v AS sv, nv AS sn FROM ln2
       |  WHERE lang = 'en'),
       |tgt AS (SELECT id AS tgt_id, v AS tv, nv AS tn FROM ln2
       |  WHERE lang <> 'en'),
       |bs AS (${bandSelects("(SELECT src_id AS id, sv AS v FROM src)", "id")}),
       |bt AS (${bandSelects("(SELECT tgt_id AS id, tv AS v FROM tgt)", "id")}),
       |cands AS (SELECT DISTINCT l.id AS src_id, r.id AS tgt_id
       |  FROM bs l JOIN bt r ON l.band = r.band AND l.bh = r.bh),
       |scored AS MATERIALIZED (SELECT src_id, tgt_id,
       |    CAST(round(round($dotTS / (tn * sn), 6) * 1000000) AS BIGINT) AS cos6
       |  FROM cands JOIN src USING (src_id) JOIN tgt USING (tgt_id)),
       |ax AS (SELECT src_id, CAST(sum(cos6) AS BIGINT) AS sx FROM
       |  (SELECT *, row_number() OVER (PARTITION BY src_id
       |     ORDER BY cos6 DESC, tgt_id) AS rn FROM scored)
       |  WHERE rn <= $k GROUP BY 1),
       |ay AS (SELECT tgt_id, CAST(sum(cos6) AS BIGINT) AS sy FROM
       |  (SELECT *, row_number() OVER (PARTITION BY tgt_id
       |     ORDER BY cos6 DESC, src_id) AS rn FROM scored)
       |  WHERE rn <= $k GROUP BY 1),
       |m AS (SELECT src_id, tgt_id, cos6,
       |    CASE WHEN sx + sy > 0
       |      THEN CAST(($num - ((($num % (sx + sy)) + (sx + sy)) % (sx + sy)))
       |             // (sx + sy) AS BIGINT)
       |      ELSE 0 END AS margin_ppm
       |  FROM scored JOIN ax USING (src_id) JOIN ay USING (tgt_id)),
       |b AS (SELECT *, row_number() OVER (PARTITION BY src_id
       |   ORDER BY margin_ppm DESC, tgt_id) AS rn FROM m)
       |SELECT src_id, tgt_id, cos6, margin_ppm,
       |  CAST(CASE WHEN margin_ppm > 1000000 THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_parallel
       |FROM b WHERE rn = 1""".stripMargin
  }

  /** LSH-bitext eval oracle: both chains composed, identical count and
    * frac4 grading. Lazy — embeds simBitextLshSql. */
  private lazy val simBitextLshEvalSql =
    s"""WITH ex AS (SELECT src_id, tgt_id AS te, is_parallel AS pe
       |  FROM ($simBitextSql)),
       |ls AS (SELECT src_id, tgt_id AS tl, is_parallel AS pl
       |  FROM ($simBitextLshSql)),
       |j AS (SELECT CAST(count(*) AS BIGINT) AS n_common_src,
       |    CAST(sum(CASE WHEN te = tl THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_same_pick,
       |    CAST(sum(CASE WHEN te = tl AND pe = 1 AND pl = 1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_par_hits
       |  FROM ex JOIN ls USING (src_id)),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum(pe) AS BIGINT) AS n_par_exact FROM ex),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh,
       |  CAST(sum(pl) AS BIGINT) AS n_par_lsh FROM ls)
       |SELECT n_exact, n_lsh, n_common_src, n_same_pick,
       |  ${frac4Sql("n_same_pick", "n_common_src")} AS pick_agree,
       |  n_par_exact, n_par_lsh, n_par_hits,
       |  ${frac4Sql("n_par_hits", "n_par_lsh")} AS par_precision,
       |  ${frac4Sql("n_par_hits", "n_par_exact")} AS par_recall
       |FROM j CROSS JOIN ne CROSS JOIN nl""".stripMargin

  /** PII-redaction oracle: plant the identical (doc_id, lang)-derived
    * emails/IPs/account numbers, then run the same three-stage
    * regexp_replace chain ('g' flag — DuckDB defaults to first-match,
    * Spark to all) and count with regexp_extract_all. The regexes live
    * in [[Privacy]] and are restricted to the Java∩RE2 subset. */
  private val privacyRedactSql = {
    val email = Privacy.emailRe
    val ipv4 = Privacy.ipv4Re
    val num = Privacy.longNumRe
    s"""WITH planted AS (SELECT doc_id, text
       |    || repeat(' u' || CAST(doc_id AS VARCHAR) || '@ex-' || lang
       |         || '.org', CAST(doc_id % 3 AS INT))
       |    || repeat(' from 10.' || CAST(doc_id % 200 AS VARCHAR)
       |         || '.0.' || CAST(doc_id % 250 AS VARCHAR),
       |       CAST(doc_id % 4 AS INT))
       |    || repeat(' acct 9' || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
       |       CAST(doc_id % 2 AS INT)) AS t
       |  FROM documents),
       |r AS (SELECT doc_id, t,
       |    regexp_replace(t, '$email', '<EMAIL>', 'g') AS r1
       |  FROM planted),
       |r2 AS (SELECT *, regexp_replace(r1, '$ipv4', '<IP>', 'g') AS r2
       |  FROM r),
       |r3 AS (SELECT *, regexp_replace(r2, '$num', '<NUM>', 'g') AS r3
       |  FROM r2)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(r1, '$ipv4')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(r2, '$num')) AS BIGINT) AS n_num,
       |  CAST(len(r3) AS BIGINT) AS red_chars,
       |  sha256(r3) AS red_hash
       |FROM r3""".stripMargin
  }

  /** l-diversity oracle: one GROUP BY with an exact COUNT(DISTINCT). */
  private val privacyLdivSql =
    """WITH q AS (SELECT lang,
      |    CAST(n_chars // 100 AS BIGINT) AS len_bucket, source
      |  FROM documents)
      |SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS class_size,
      |  CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
      |  CAST(CASE WHEN count(DISTINCT source) < 3 THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_violation
      |FROM q GROUP BY 1, 2""".stripMargin

  /** t-closeness oracle: (class, value) counts, class/value/global
    * totals all derived from them, per-class present-term sum with the
    * absent-value complement folded in closed form; HUGEINT products,
    * q4 floor division. Same fixture as privacyLdivSql. */
  private val privacyTcloseSql =
    """WITH q AS (SELECT lang,
      |    CAST(n_chars // 100 AS BIGINT) AS len_bucket, source
      |  FROM documents),
      |cv AS (SELECT lang, len_bucket, source,
      |    CAST(count(*) AS BIGINT) AS a FROM q GROUP BY 1, 2, 3),
      |ct AS (SELECT lang, len_bucket, CAST(sum(a) AS BIGINT) AS n_c
      |  FROM cv GROUP BY 1, 2),
      |vt AS (SELECT source, CAST(sum(a) AS BIGINT) AS g FROM cv GROUP BY 1),
      |nt AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM cv),
      |pr AS (SELECT cv.lang, cv.len_bucket,
      |    max(n_c) AS n_c, max(nn) AS nn,
      |    sum(abs(CAST(a AS HUGEINT) * nn - CAST(g AS HUGEINT) * n_c))
      |      AS present_term,
      |    CAST(sum(g) AS BIGINT) AS g_present
      |  FROM cv JOIN ct USING (lang, len_bucket) JOIN vt USING (source), nt
      |  GROUP BY 1, 2),
      |b AS (SELECT lang, len_bucket, n_c,
      |    CAST((present_term + CAST(n_c AS HUGEINT) * (nn - g_present))
      |      * 10000 // (2 * CAST(n_c AS HUGEINT) * nn) AS BIGINT) AS tvd_q4
      |  FROM pr)
      |SELECT lang, len_bucket, n_c AS class_size, tvd_q4,
      |  CAST(CASE WHEN tvd_q4 > 3000 THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_violation
      |FROM b""".stripMargin

  /** Heaps-curve oracle: prefix buckets by integer doc-id division,
    * first-seen bucket per type, per-bucket volumes, cumulatives via
    * the triangular self-join over the buckets-sized frame. */
  private val textHeapsSql =
    s"""WITH mx AS (SELECT max(doc_id) + 1 AS mx FROM documents),
       |t AS (SELECT CAST(doc_id * 20 // mx AS BIGINT) AS b,
       |    unnest(${graft.ext.Bpe.piecesSql("text")}) AS w
       |  FROM documents, mx),
       |fs AS (SELECT w, min(b) AS fb FROM t GROUP BY 1),
       |nt AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_types
       |  FROM fs GROUP BY 1),
       |tk AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY 1),
       |c AS (SELECT tk.b AS bucket, tk.n_tokens,
       |    coalesce(nt.new_types, 0) AS new_types
       |  FROM tk LEFT JOIN nt ON tk.b = nt.b)
       |SELECT l.bucket, l.n_tokens, l.new_types,
       |  CAST(sum(r.n_tokens) AS BIGINT) AS cum_tokens,
       |  CAST(sum(r.new_types) AS BIGINT) AS cum_types
       |FROM c l JOIN c r ON r.bucket <= l.bucket
       |GROUP BY 1, 2, 3""".stripMargin

  /** Duplication-exposure oracle: distinct word-5-gram postings, df,
    * per-doc shared share on the q4 lattice. */
  private val textDupExposureSql =
    s"""WITH ws AS (SELECT doc_id AS id, ${wordsSqlOf("text")} AS w
       |  FROM documents),
       |sh AS (SELECT id,
       |    unnest(list_distinct(${Hashing.ngramsSql("w", 5)})) AS shingle
       |  FROM ws),
       |dfc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
       |  FROM sh GROUP BY 1),
       |per AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM sh JOIN dfc USING (shingle) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_shingles, 0) AS n_shingles,
       |  coalesce(n_shared, 0) AS n_shared,
       |  CASE WHEN coalesce(n_shingles, 0) > 0
       |    THEN CAST((n_shared * 10000) // n_shingles AS DOUBLE) / 10000.0
       |    ELSE 0.0 END AS dup_exposure_q4
       |FROM documents d LEFT JOIN per ON d.doc_id = per.id""".stripMargin

  /** Shared clipped n-gram precision CTE chain over a pair CTE named
    * `p` (id_a, id_b): per-doc gram-count indexes (unigrams = the word
    * list itself, bigrams via the shared ngramsSql), LEAST-clipped
    * intersection sums, ppm floor division — emitted as CTE `pp` with
    * per-pair (clip/tot/ppm) columns so multiple oracles compose it.
    * Gram-count CTEs are MATERIALIZED — each feeds the totals and both
    * sides of the pair join (DuckDB inlines multiply-referenced CTEs;
    * the k-core oracle lesson). */
  private val ngramPrecisionCtes =
    s"""ws AS (SELECT doc_id AS id, ${wordsSqlOf("text")} AS w FROM documents),
       |c1 AS MATERIALIZED (SELECT id, gram, count(*) AS cnt FROM
       |  (SELECT id, unnest(w) AS gram FROM ws) GROUP BY 1, 2),
       |c2 AS MATERIALIZED (SELECT id, gram, count(*) AS cnt FROM
       |  (SELECT id, unnest(${Hashing.ngramsSql("w", 2)}) AS gram FROM ws)
       |  GROUP BY 1, 2),
       |t1 AS (SELECT id AS id_a, CAST(sum(cnt) AS BIGINT) AS tot1
       |  FROM c1 GROUP BY 1),
       |t2 AS (SELECT id AS id_a, CAST(sum(cnt) AS BIGINT) AS tot2
       |  FROM c2 GROUP BY 1),
       |x1 AS (SELECT p.id_a, p.id_b,
       |    CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS clip1
       |  FROM p JOIN c1 a ON a.id = p.id_a
       |  JOIN c1 b ON b.id = p.id_b AND b.gram = a.gram GROUP BY 1, 2),
       |x2 AS (SELECT p.id_a, p.id_b,
       |    CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS clip2
       |  FROM p JOIN c2 a ON a.id = p.id_a
       |  JOIN c2 b ON b.id = p.id_b AND b.gram = a.gram GROUP BY 1, 2),
       |pp AS (SELECT p.id_a, p.id_b,
       |  coalesce(clip1, 0) AS clip1, coalesce(tot1, 0) AS tot1,
       |  CAST(CASE WHEN coalesce(tot1, 0) > 0
       |    THEN (coalesce(clip1, 0) * 1000000) // tot1 ELSE 0 END
       |    AS BIGINT) AS p1_ppm,
       |  coalesce(clip2, 0) AS clip2, coalesce(tot2, 0) AS tot2,
       |  CAST(CASE WHEN coalesce(tot2, 0) > 0
       |    THEN (coalesce(clip2, 0) * 1000000) // tot2 ELSE 0 END
       |    AS BIGINT) AS p2_ppm
       |FROM p LEFT JOIN t1 USING (id_a) LEFT JOIN t2 USING (id_a)
       |LEFT JOIN x1 USING (id_a, id_b) LEFT JOIN x2 USING (id_a, id_b))""".stripMargin

  private val evalNgramOverlapSql =
    s"""WITH mh AS MATERIALIZED ($dedupMinhashSql),
       |p AS (SELECT id_a, id_b FROM mh
       |  ORDER BY id_a, id_b LIMIT $evalPairCap),
       |$ngramPrecisionCtes
       |SELECT id_a, id_b, clip1, tot1, p1_ppm, clip2, tot2, p2_ppm
       |FROM pp""".stripMargin

  /** Self-overlap diversity oracle: identical hash-bucket pair sample,
    * the shared precision chain, per-stratum floor means. */
  private val evalSelfBleuSql =
    s"""WITH a AS (SELECT source AS stratum, doc_id AS id,
       |    ${hexIntSql("CAST(doc_id AS VARCHAR)")} % 64 AS bkt
       |  FROM documents),
       |psrc AS MATERIALIZED (SELECT stratum, min(id) AS id_a,
       |    max(id) AS id_b
       |  FROM a GROUP BY stratum, bkt HAVING min(id) <> max(id)),
       |p AS (SELECT id_a, id_b FROM psrc),
       |$ngramPrecisionCtes
       |SELECT s.stratum, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(p1_ppm) // count(*) AS BIGINT) AS self_bleu1_ppm,
       |  CAST(sum(p2_ppm) // count(*) AS BIGINT) AS self_bleu2_ppm
       |FROM pp JOIN psrc s USING (id_a, id_b)
       |GROUP BY 1""".stripMargin

  /** Fleiss-kappa oracle: the three annotators (gold lang, full-text
    * langId, first-200-chars langId) unpivoted by UNION ALL, then the
    * exact integer reduction — HUGEINT sums, one final double division.
    * n = 3 raters is inlined. */
  private val evalFleissSql =
    s"""WITH ${langCtesOf("_f", "text")},
       |${langCtesOf("_h", "substr(text, 1, 200)")},
       |r AS (SELECT doc_id, lang AS cat FROM documents
       |  UNION ALL SELECT doc_id, lang_id FROM lang_f
       |  UNION ALL SELECT doc_id, lang_id FROM lang_h),
       |cells AS (SELECT doc_id, cat, count(*) AS nic FROM r GROUP BY 1, 2),
       |g1 AS (SELECT CAST(sum(pi) AS HUGEINT) AS s1,
       |    CAST(count(*) AS BIGINT) AS n_items
       |  FROM (SELECT doc_id, sum(nic * nic) - 3 AS pi
       |        FROM cells GROUP BY 1)),
       |g2 AS (SELECT CAST(sum(cc * cc) AS HUGEINT) AS s2
       |  FROM (SELECT cat, sum(nic) AS cc FROM cells GROUP BY 1))
       |SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
       |  CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
       |  CASE WHEN 2 * ((3 * n_items) * (3 * CAST(n_items AS HUGEINT)) - s2) > 0
       |    THEN CAST(3 * n_items * s1 - 2 * s2 AS DOUBLE) /
       |         CAST(2 * ((3 * n_items) * (3 * CAST(n_items AS HUGEINT)) - s2)
       |           AS DOUBLE)
       |    ELSE 0.0 END AS kappa
       |FROM g1, g2""".stripMargin

  /** k-anonymity oracle: one GROUP BY over the quasi-identifier pair. */
  private val privacyKanonSql =
    s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS class_size,
       |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_violation
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** Tokenizer-fit oracle: per-doc committed-BPE token counts aggregated
    * by source, chars-per-token on the frac4 lattice. */
  private val bpeCompressionSql =
    s"""WITH t AS (SELECT source, CAST(length(text) AS BIGINT) AS nc,
       |  ${graft.ext.Bpe.tokenCountSqlOf("text")} AS nt FROM documents),
       |a AS (SELECT source, CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens FROM t GROUP BY 1)
       |SELECT source, n_chars, n_tokens,
       |  ${frac4Sql("n_chars", "n_tokens")} AS chars_per_token
       |FROM a""".stripMargin

  /** Cohen's-kappa oracle: confusion matrix from the shared langId CTEs,
    * marginal products in HUGEINT, observed/expected agreement on the q6
    * lattice, kappa as one exact-integer IEEE division. */
  private val langidKappaSql =
    s"""WITH $langCtes,
       |conf AS (SELECT d.lang AS actual, l.lang_id AS pred, count(*) AS n
       |  FROM documents d JOIN lang l USING (doc_id) GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
       |  CAST(coalesce(sum(CASE WHEN actual = pred THEN n END), 0) AS BIGINT)
       |    AS diag FROM conf),
       |rm AS (SELECT actual AS label, sum(n) AS rm FROM conf GROUP BY 1),
       |cm AS (SELECT pred AS label, sum(n) AS cm FROM conf GROUP BY 1),
       |rcv AS (SELECT coalesce(sum(rm.rm * cm.cm), 0) AS rc
       |  FROM rm JOIN cm USING (label)),
       |l6 AS (SELECT n, (diag * 1000000) // n AS po6,
       |  (rc * 1000000) // (n * n) AS pe6 FROM tot, rcv)
       |SELECT n, CAST(po6 AS DOUBLE) / 1000000.0 AS po,
       |  CAST(pe6 AS DOUBLE) / 1000000.0 AS pe,
       |  CASE WHEN pe6 < 1000000
       |    THEN CAST(po6 - pe6 AS DOUBLE) / CAST(1000000 - pe6 AS DOUBLE)
       |    ELSE 0.0 END AS kappa
       |FROM l6""".stripMargin

  /** Held-out eval oracle: hash-split the corpus, train profiles on the
    * train bucket only, score + grade the test bucket only. */
  private val classifyEvalSplitSql =
    s"""WITH sd AS (SELECT *,
       |    ${hexIntSql("('split:' || CAST(doc_id AS VARCHAR))")} % 100 AS bkt
       |  FROM documents),
       |tr AS (SELECT * FROM sd WHERE bkt < 80),
       |te AS (SELECT * FROM sd WHERE bkt >= 90),
       |${graft.ext.Classifier.classifierCtes("source", "tr", "te")},
       |${classifyEvalTailSql("te")}""".stripMargin

  /** Shared quality-score CTE chain: documents → (doc_id, lang, source,
    * n_chars, q4) on the exact lattice — the same base the domain-cap /
    * funnel oracles build by hand. */
  private val qualityScoredCtes =
    s"""qbase AS (SELECT doc_id, lang, source, n_chars, text,
       |  ${wordsSqlOf("text")} AS ws, ${wordsSqlOf("lower(text)")} AS wl
       |  FROM documents),
       |qh AS (SELECT doc_id, lang, source, n_chars, text, ws,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |  FROM qbase),
       |qsc AS (SELECT doc_id, lang, source, n_chars,
       |  CAST(${qualityQ4Sql("text", "ws", "h_en")} AS BIGINT) AS q4 FROM qh)""".stripMargin

  /** Curriculum-order oracle: quality decile + salt hash from the shared
    * scored CTEs; the windowed row_number here is the oracle's
    * convenience — the Spark side's position is the distributed gapless
    * index over the same total order. */
  private val curriculumSql =
    s"""WITH $qualityScoredCtes,
       |b AS (SELECT doc_id, q4 // 1000 AS bucket,
       |  ${hexIntSql("('cur:' || CAST(doc_id AS VARCHAR))")} AS h FROM qsc)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(row_number() OVER (ORDER BY bucket DESC, h ASC, doc_id ASC)
       |    AS BIGINT) AS pos
       |FROM b""".stripMargin

  private def frac6Sql(num: String, den: String): String =
    s"""CASE WHEN coalesce($den, 0) > 0
       | THEN CAST((coalesce($num, 0) * 1000000) // ($den) AS DOUBLE) / 1000000.0
       | ELSE 0.0 END""".stripMargin

  /** ROC-sweep CTEs shared by the points and AUC oracles: per-distinct-
    * score (pos, neg) then cumulative (tp, fp) descending. */
  private val rocCtes =
    s"""$qualityScoredCtes,
       |rsc AS (SELECT q4 AS score,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM qsc),
       |rps AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos,
       |  CAST(count(*) - sum(y) AS BIGINT) AS neg FROM rsc GROUP BY 1),
       |rcum AS (SELECT score,
       |  CAST(sum(pos) OVER (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
       |  CAST(sum(neg) OVER (ORDER BY score DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
       |  FROM rps),
       |rtot AS (SELECT CAST(sum(y) AS BIGINT) AS p_tot,
       |  CAST(count(*) - sum(y) AS BIGINT) AS n_tot FROM rsc)""".stripMargin

  private val evalRocSql =
    s"""WITH $rocCtes
       |SELECT score, tp, fp,
       |  p_tot - tp AS fn, n_tot - fp AS tn,
       |  ${frac6Sql("tp", "p_tot")} AS tpr,
       |  ${frac6Sql("fp", "n_tot")} AS fpr
       |FROM rcum CROSS JOIN rtot""".stripMargin

  private val evalAucSql =
    s"""WITH $rocCtes,
       |rdl AS (SELECT
       |  fp - coalesce(lag(fp) OVER (ORDER BY score DESC), 0) AS dfp,
       |  tp + coalesce(lag(tp) OVER (ORDER BY score DESC), 0) AS tpsum
       |  FROM rcum),
       |rnum AS (SELECT CAST(coalesce(sum(dfp * tpsum), 0) AS BIGINT) AS auc_num
       |  FROM rdl)
       |SELECT p_tot AS n_pos, n_tot AS n_neg,
       |  ${frac6Sql("auc_num", "2 * p_tot * n_tot")} AS auc
       |FROM rtot CROSS JOIN rnum""".stripMargin

  /** SemDeDup oracle: the shared k-means chain (k=8, 2 sweeps) assigns
    * clusters; within-cluster pairwise rounded-6dp cosine over the
    * ORIGINAL double embeddings flags smaller-id witnesses. `cap > 0`
    * mirrors the engine's witnessCap: only the cap smallest-id members
    * of each cluster sit on the a-side of the pair scan. */
  private def dedupSemanticSqlOf(cap: Int): String = {
    val aSide = if (cap > 0)
      s"""(SELECT * FROM (SELECT sm.*, row_number() OVER
         |  (PARTITION BY cent_id ORDER BY id) AS rk FROM sm)
         |  WHERE rk <= $cap)""".stripMargin
    else "sm"
    s"""WITH ${kmeansCtes(8, 2)},
       |${kmeansAssignSql("af", "c2", "e")},
       |sv AS (SELECT vec_id AS id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
       |  FROM embeddings),
       |svn AS (SELECT id, dv,
       |  sqrt(list_sum(list_transform(dv, x -> x * x))) AS nv FROM sv),
       |sm AS (SELECT af.id, af.cent_id, svn.dv, svn.nv
       |  FROM af JOIN svn USING (id)),
       |sp AS (SELECT id_a, id_b FROM (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    round(list_sum(list_transform(range(1, len(a.dv) + 1),
       |      i -> a.dv[i] * b.dv[i])) / (a.nv * b.nv), 6) AS cos
       |  FROM $aSide a JOIN sm b ON a.cent_id = b.cent_id AND a.id < b.id)
       |  WHERE cos >= 0.4),
       |sd AS (SELECT id_b AS id, CAST(min(id_a) AS BIGINT) AS dup_of,
       |  CAST(count(*) AS BIGINT) AS n_dups_smaller FROM sp GROUP BY 1)
       |SELECT af.id AS vec_id, af.cent_id, sd.dup_of,
       |  coalesce(sd.n_dups_smaller, 0) AS n_dups_smaller,
       |  CAST(CASE WHEN sd.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM af LEFT JOIN sd USING (id)""".stripMargin
  }
  private val dedupSemanticSql = dedupSemanticSqlOf(0)
  private val dedupSemanticCapSql = dedupSemanticSqlOf(3)

  /** Budget-fill oracle: greedy quality-first prefix per source until
    * 2000 chars (kept iff cumulative-before < budget). */
  private val mixBudgetSql =
    s"""WITH $qualityScoredCtes,
       |bc AS (SELECT source AS stratum, doc_id,
       |  CAST(q4 AS BIGINT) AS q4, CAST(n_chars AS BIGINT) AS units FROM qsc),
       |bcum AS (SELECT stratum, doc_id, q4, units,
       |  CAST(sum(units) OVER (PARTITION BY stratum
       |    ORDER BY q4 DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_units
       |  FROM bc)
       |SELECT stratum, doc_id, CAST(q4 AS DOUBLE) / 10000.0 AS quality,
       |  units, cum_units
       |FROM bcum WHERE cum_units - units < 2000""".stripMargin

  /** Contamination-matrix oracle: train = docs in neither slice, eval_a =
    * doc_id %% 97 = 0, eval_b = %% 89 = 0; 3-gram any-overlap doc flags
    * rolled up per (eval_set, source). */
  private val decontamMatrixSql = {
    def grams(pred: String) =
      s"""SELECT doc_id, list_distinct(${Hashing.ngramsSql("ws", 3)}) AS gs
         |FROM (SELECT doc_id, ${wordsSqlOf("text")} AS ws FROM documents
         |      WHERE $pred)""".stripMargin
    val trainPred = "doc_id % 97 <> 0 AND doc_id % 89 <> 0"
    s"""WITH mtr AS (${grams(trainPred)}),
       |mdg AS (SELECT doc_id, unnest(gs) AS gram FROM mtr),
       |mega AS (SELECT DISTINCT unnest(gs) AS gram
       |  FROM (${grams("doc_id % 97 = 0")})),
       |megb AS (SELECT DISTINCT unnest(gs) AS gram
       |  FROM (${grams("doc_id % 89 = 0")})),
       |meg AS (SELECT 'eval_a' AS eval_set, gram FROM mega
       |  UNION ALL SELECT 'eval_b' AS eval_set, gram FROM megb),
       |mcont AS (SELECT DISTINCT eval_set, doc_id
       |  FROM mdg JOIN meg USING (gram)),
       |mstr AS (SELECT doc_id, source FROM documents WHERE $trainPred),
       |mtot AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM mstr GROUP BY 1),
       |mhit AS (SELECT eval_set, source AS stratum,
       |  CAST(count(*) AS BIGINT) AS n_hit
       |  FROM mcont JOIN mstr USING (doc_id) GROUP BY 1, 2),
       |msets AS (SELECT unnest(['eval_a', 'eval_b']) AS eval_set)
       |SELECT s.eval_set, t.stratum, t.n_docs,
       |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated_docs,
       |  ${frac4Sql("h.n_hit", "t.n_docs")} AS contaminated_frac
       |FROM msets s CROSS JOIN mtot t
       |LEFT JOIN mhit h ON h.eval_set = s.eval_set AND h.stratum = t.stratum""".stripMargin
  }

  /** Dedup-impact oracle: keeper = min doc_id per md5(text); null-text
    * docs count but never as duplicates. */
  private val dedupImpactSql =
    s"""WITH id_d AS (SELECT doc_id, source AS stratum, text,
       |  CAST(length(text) AS BIGINT) AS len FROM documents),
       |id_k AS (SELECT md5(text) AS dg, min(doc_id) AS keep_id
       |  FROM id_d WHERE text IS NOT NULL GROUP BY 1),
       |id_f AS (SELECT stratum, len,
       |  CASE WHEN id_d.text IS NOT NULL AND id_k.keep_id <> id_d.doc_id
       |    THEN 1 ELSE 0 END AS is_dup
       |  FROM id_d LEFT JOIN id_k ON md5(id_d.text) = id_k.dg)
       |SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       |  CAST(coalesce(sum(len), 0) AS BIGINT) AS total_chars,
       |  CAST(coalesce(sum(CASE WHEN is_dup = 1 THEN len ELSE 0 END), 0)
       |    AS BIGINT) AS dup_chars,
       |  CASE WHEN count(*) > 0
       |    THEN CAST((sum(is_dup) * 10000) // count(*) AS DOUBLE) / 10000.0
       |    ELSE 0.0 END AS dup_frac
       |FROM id_f GROUP BY stratum""".stripMargin

  /** Calibration oracle: lattice-count cumulative strictly-below
    * fraction per (stratum, q4), joined back to the docs. */
  private val qualityCalibrateSql =
    s"""WITH $qualityScoredCtes,
       |cb AS (SELECT source AS stratum, doc_id, q4 FROM qsc),
       |cc AS (SELECT stratum, q4, CAST(count(*) AS BIGINT) AS cnt
       |  FROM cb GROUP BY 1, 2),
       |ccum AS (SELECT stratum, q4,
       |  CAST(sum(cnt) OVER (PARTITION BY stratum ORDER BY q4
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
       |    AS BIGINT) AS below,
       |  CAST(sum(cnt) OVER (PARTITION BY stratum) AS BIGINT) AS n_stratum
       |  FROM cc)
       |SELECT b.doc_id, b.stratum, CAST(b.q4 AS DOUBLE) / 10000.0 AS quality,
       |  CAST((c.below * 1000000) // c.n_stratum AS DOUBLE) / 1000000.0 AS pct
       |FROM cb b JOIN ccum c USING (stratum, q4)""".stripMargin

  private val curationDomaincapSql =
    s"""WITH base AS (SELECT doc_id, source, text,
       |  ${wordsSqlOf("text")} AS ws, ${wordsSqlOf("lower(text)")} AS wl
       |  FROM documents),
       |h AS (SELECT doc_id, source, text, ws,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |  FROM base),
       |sc AS (SELECT doc_id, source,
       |  ${qualityQ4Sql("text", "ws", "h_en")} AS q4 FROM h),
       |r AS (SELECT source AS stratum, doc_id, q4,
       |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY q4 DESC, doc_id) AS rnk
       |  FROM sc)
       |SELECT stratum, doc_id, CAST(q4 AS DOUBLE) / 10000.0 AS quality,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 60""".stripMargin

  /** Funnel-4 oracle: the blocklist and DSIR query texts are embedded
    * VERBATIM as CTEs (nested WITHs shadow cleanly in DuckDB), joined to
    * a keep set, then the domain-cap quality chain runs over the
    * survivors with cap 2 (binding at sf0.01). */
  private val curationFunnel4Sql =
    s"""WITH blq AS ($textBlocklistSql),
       |dsirq AS MATERIALIZED ($curationDsirSql),
       |keep AS (SELECT b.doc_id FROM blq b JOIN dsirq s2 ON b.doc_id = s2.doc_id
       |  WHERE b.is_blocked = 0 AND s2.is_targetlike = 1),
       |base AS (SELECT d.doc_id, d.source, d.text,
       |  ${wordsSqlOf("d.text")} AS ws, ${wordsSqlOf("lower(d.text)")} AS wl
       |  FROM documents d JOIN keep USING (doc_id)),
       |h AS (SELECT doc_id, source, text, ws,
       |  len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |  FROM base),
       |sc AS (SELECT doc_id, source,
       |  ${qualityQ4Sql("text", "ws", "h_en")} AS q4 FROM h),
       |r AS (SELECT source AS stratum, doc_id, q4,
       |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY q4 DESC, doc_id) AS rnk
       |  FROM sc)
       |SELECT stratum, doc_id, CAST(q4 AS DOUBLE) / 10000.0 AS quality,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 2""".stripMargin

  /** Bucketed near-dup oracle: same banded sign-LSH candidate chain +
    * exact rounded-cosine verify as Similarity.cosineNearDupPairsBucketed. */
  private val simNearDupSql: String = {
    val bandSelects = (0 until Similarity.neardupBands).map { b =>
      s"SELECT vec_id AS id, $b AS band, " +
        s"${bandBucketSql("v", b, Similarity.neardupPlanesPerBand)} AS bh FROM n"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv FROM e),
       |banded AS ($bandSelects),
       |cands AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id)
       |SELECT id_a, id_b,
       |  round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
       |        / (a.nv * b.nv), 6) AS cos
       |FROM cands JOIN n a ON a.vec_id = id_a JOIN n b ON b.vec_id = id_b
       |WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
       |      / (a.nv * b.nv), 6) >= 0.4""".stripMargin
  }

  /** Typicality oracle: identical chain — per-doc distinct char
    * trigrams, corpus df, mean df as one final double division. */
  private val textTypicalitySql =
    """WITH tris AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 3) AS tri
      |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS p
      |        FROM documents WHERE length(text) >= 3)),
      |dfc AS (SELECT tri, CAST(count(*) AS BIGINT) AS df FROM tris GROUP BY tri)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tris,
      |  CAST(sum(df) AS BIGINT) AS df_sum,
      |  CAST(CAST(sum(df) AS BIGINT) AS DOUBLE) / count(*) AS typicality
      |FROM tris JOIN dfc USING (tri) GROUP BY doc_id""".stripMargin

  /** Duplicate-family size histogram oracle: the recursive connected-
    * components oracle wrapped in two lattice-sized aggregations. */
  private val dedupClusterSizesSql =
    s"""SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |FROM (SELECT cluster_id, count(*) AS sz
       |      FROM ($dedupClustersSql) GROUP BY 1)
       |GROUP BY 1""".stripMargin

  /** ANN recall oracle: the brute-force and IVF chains joined on
    * (query_id, neighbor_id), per-query hit counts on the frac4 grid. */
  private val simRecallEvalSql =
    s"""WITH t AS ($simTopKSql),
       |p AS ($simIvfSql),
       |h AS (SELECT p.query_id, count(*) AS hits
       |  FROM p JOIN t USING (query_id, neighbor_id) GROUP BY 1),
       |kk AS (SELECT query_id, count(*) AS k FROM t GROUP BY 1)
       |SELECT kk.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  kk.k, ${frac4Sql("coalesce(h.hits, 0)", "kk.k")} AS recall
       |FROM kk LEFT JOIN h USING (query_id)""".stripMargin

  /** Spearman oracle: unique-rank row_numbers over the joined subset
    * with the same (score, doc_id) tiebreak, exact Σd², one IEEE
    * division for ρ. */
  private val evalRankcorrSql =
    s"""WITH $qualityScoredCtes,
       |tris AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 3) AS tri
       |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS p
       |        FROM documents WHERE length(text) >= 3)),
       |dfc AS (SELECT tri, CAST(count(*) AS BIGINT) AS df FROM tris GROUP BY tri),
       |tt AS (SELECT doc_id, count(*) AS n_tris, CAST(sum(df) AS BIGINT) AS df_sum
       |  FROM tris JOIN dfc USING (tri) GROUP BY doc_id),
       |t6v AS (SELECT doc_id, (df_sum * 1000000) // n_tris AS t6 FROM tt),
       |b AS (SELECT q.doc_id, q.q4, t.t6 FROM qsc q JOIN t6v t USING (doc_id)),
       |r AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY q4 ASC, doc_id ASC) AS rq,
       |  row_number() OVER (ORDER BY t6 ASC, doc_id ASC) AS rt FROM b),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  sum((rq - rt) * (rq - rt)) AS sum_d2 FROM r)
       |SELECT n, CAST(sum_d2 AS BIGINT) AS sum_d2,
       |  CASE WHEN n > 1
       |    THEN CAST((n * n * n - n) - 6 * sum_d2 AS DOUBLE)
       |       / CAST(n * n * n - n AS DOUBLE)
       |    ELSE 0.0 END AS rho
       |FROM agg""".stripMargin

  /** Mixture-epoch oracle: per-source mass + index weight, budget shares
    * and epochs on the exact floor lattice (HUGEINT for the decimal
    * quotients). */
  private val mixEpochsSql =
    s"""WITH per AS (SELECT source AS stratum, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(substr(source, 4, 10) AS BIGINT) + 1 AS wt
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(wt) AS BIGINT) AS w_tot FROM per)
       |SELECT stratum, n_docs, n_chars, wt,
       |  CAST((wt * 100000) // w_tot AS BIGINT) AS target_chars,
       |  CASE WHEN n_chars > 0
       |    THEN CAST((wt * 100000 * 10000) // (w_tot * n_chars) AS DOUBLE)
       |       / 10000.0
       |    ELSE 0.0 END AS epochs
       |FROM per, t""".stripMargin

  /** Bigram-coverage oracle: counts, deterministic (cnt desc, bigram)
    * top-20, mass ratio on the frac4 grid. */
  private val textNgramCoverageSql =
    s"""WITH w AS (SELECT ${wordsSqlOf("text")} AS ws FROM documents),
       |b AS (SELECT unnest(${Hashing.ngramsSql("ws", 2)}) AS bigram FROM w),
       |c AS (SELECT bigram, count(*) AS cnt FROM b GROUP BY 1),
       |top AS (SELECT CAST(sum(cnt) AS BIGINT) AS top_mass
       |  FROM (SELECT cnt FROM c ORDER BY cnt DESC, bigram ASC LIMIT 20)),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |  CAST(count(*) AS BIGINT) AS n_distinct FROM c)
       |SELECT total, n_distinct, top_mass,
       |  ${frac4Sql("top_mass", "total")} AS coverage
       |FROM tot, top""".stripMargin

  /** Shared sentence-split CTE: the IDENTICAL lookbehind-free
    * terminator-run pattern as TextAnalysis.sentences (RE2 has no
    * lookbehind, so the engine side deliberately matches down). */
  private val sentencesCte =
    """ssx AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '[.!?]+\s+'), s -> len(s) > 0)
      |    AS ss FROM documents)""".stripMargin

  private val textSentencesSql =
    s"""WITH $sentencesCte,
       |t AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_sentences,
       |  CAST(coalesce(list_sum(list_transform(ss, s -> len(s))), 0)
       |    AS BIGINT) AS total_chars,
       |  CAST(coalesce(list_max(list_transform(ss, s -> CAST(len(s) AS BIGINT))), 0)
       |    AS BIGINT) AS max_sentence_chars
       |  FROM ssx)
       |SELECT doc_id, n_sentences, total_chars,
       |  ${frac4Sql("total_chars", "n_sentences")} AS mean_sentence_chars,
       |  max_sentence_chars
       |FROM t""".stripMargin

  /** ROUGE-L oracle: identical sentence split + hexInt hashing, then
    * the FULL LCS dynamic program inside nested list_reduce — DuckDB
    * v1.0 has no 3-arg (init) reduce, so the init DP row rides as the
    * first element of the reduced list and the real elements are
    * index singletons `[i]` (type-unifiable with the INTEGER[] rows).
    * ppm ratios via integer `//` floors, F1 from the ppm ints. */
  private val evalRougeLSql =
    s"""WITH mh AS MATERIALIZED ($dedupMinhashSql),
       |p AS (SELECT id_a, id_b FROM mh
       |  ORDER BY id_a, id_b LIMIT $evalPairCap),
       |$sentencesCte,
       |sh AS MATERIALIZED (SELECT doc_id AS id,
       |  list_transform(ss, s -> ${Hashing.hexIntSql("s")}) AS sh FROM ssx),
       |j AS (SELECT p.id_a, p.id_b, a.sh AS sa, b.sh AS sb
       |  FROM p JOIN sh a ON a.id = p.id_a JOIN sh b ON b.id = p.id_b),
       |d AS (SELECT id_a, id_b, CAST(len(sa) AS BIGINT) AS n_sent_a,
       |  CAST(len(sb) AS BIGINT) AS n_sent_b,
       |  CAST(list_reduce(
       |    list_concat([list_transform(range(1, len(sb) + 2), x -> 0)],
       |                list_transform(range(1, len(sa) + 1), i -> [i])),
       |    (row, el) -> list_reduce(
       |      list_concat([[0]],
       |                  list_transform(range(1, len(sb) + 1), jx -> [jx])),
       |      (nr, jj) -> list_append(nr, greatest(nr[-1], row[jj[1] + 1],
       |        row[jj[1]] + CASE WHEN sb[jj[1]] = sa[el[1]]
       |          THEN 1 ELSE 0 END))))[-1] AS BIGINT) AS lcs
       |  FROM j),
       |m AS (SELECT id_a, id_b, n_sent_a, n_sent_b, lcs,
       |  CAST(CASE WHEN n_sent_a > 0 THEN (lcs * 1000000) // n_sent_a
       |    ELSE 0 END AS BIGINT) AS p_ppm,
       |  CAST(CASE WHEN n_sent_b > 0 THEN (lcs * 1000000) // n_sent_b
       |    ELSE 0 END AS BIGINT) AS r_ppm
       |  FROM d)
       |SELECT id_a, id_b, n_sent_a, n_sent_b, lcs, p_ppm, r_ppm,
       |  CAST(CASE WHEN p_ppm + r_ppm > 0
       |    THEN (2 * p_ppm * r_ppm) // (p_ppm + r_ppm)
       |    ELSE 0 END AS BIGINT) AS f_ppm
       |FROM m""".stripMargin

  /** Sentence-chunking oracle: positions via range+index, exclusive
    * prefix sums per doc, cumulative-char bucket, ordered string_agg. */
  private val textChunkSentencesSql =
    s"""WITH $sentencesCte,
       |e AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    ss[CAST(pos AS BIGINT)] AS sentence
       |  FROM (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS pos
       |        FROM ssx)),
       |o AS (SELECT doc_id, pos, sentence,
       |  coalesce(sum(len(sentence)) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM e)
       |SELECT doc_id, CAST(before // 200 AS BIGINT) AS chunk_id,
       |  CAST(count(*) AS BIGINT) AS n_sentences,
       |  CAST(sum(len(sentence)) AS BIGINT) AS chunk_chars,
       |  string_agg(sentence, ' ' ORDER BY pos) AS chunk_text
       |FROM o GROUP BY doc_id, before // 200""".stripMargin

  /** Pack-efficiency oracle: the pack table re-aggregated per bucket. */
  private val packEvalSql =
    s"""WITH p AS ($textPackSql)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
       |  CAST(coalesce(sum(CASE WHEN seq_offset + tokens > 256 THEN 1
       |    ELSE 0 END), 0) AS BIGINT) AS n_overflow,
       |  ${frac4Sql("CAST(sum(tokens) AS BIGINT)",
          "count(DISTINCT seq_id) * 256")} AS fill_frac
       |FROM p GROUP BY bucket""".stripMargin

  /** Calibration oracle: per_class re-ranked for the second-best score
    * (same tie rule as `best`), relative-margin decile, accuracy per
    * bin on the frac4 grid. */
  private val classifyCalibrationSql =
    s"""WITH ${graft.ext.Classifier.classifierCtes("source")},
       |second AS (SELECT doc_id, score_q6 AS s2 FROM (
       |  SELECT doc_id, score_q6, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score_q6 DESC, label) AS rn FROM per_class)
       |  WHERE rn = 2),
       |m AS (SELECT b.doc_id, b.predicted, b.score_q6,
       |  coalesce(b.score_q6 - s.s2, b.score_q6) AS margin
       |  FROM best b LEFT JOIN second s USING (doc_id)),
       |pm AS (SELECT m.doc_id, m.predicted, d.source,
       |  CASE WHEN m.score_q6 > 0
       |    THEN (m.margin * 1000) // m.score_q6 ELSE 0 END AS mpm
       |  FROM m JOIN documents d USING (doc_id)),
       |binned AS (SELECT doc_id, predicted, source,
       |  CASE WHEN mpm < 1 THEN 0 WHEN mpm < 2 THEN 1 WHEN mpm < 4 THEN 2
       |       WHEN mpm < 8 THEN 3 WHEN mpm < 16 THEN 4 WHEN mpm < 32 THEN 5
       |       WHEN mpm < 64 THEN 6 WHEN mpm < 128 THEN 7
       |       WHEN mpm < 256 THEN 8 ELSE 9 END AS bin
       |  FROM pm)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
       |  CAST(coalesce(sum(CASE WHEN predicted = source THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_correct,
       |  ${frac4Sql(
          "coalesce(sum(CASE WHEN predicted = source THEN 1 ELSE 0 END), 0)",
          "count(*)")} AS accuracy
       |FROM binned GROUP BY bin""".stripMargin

  /** HITS oracle: the identical max-normalized integer iterations
    * unrolled over the directed (id_a → id_b) pair graph. */
  private val graphHitsSql: String = {
    val iters = 2
    def norm(k: Int, raw: String, vCol: String) =
      s"${vCol}${k}r AS (SELECT $raw), " +
        s"${vCol}${k}m AS (SELECT max(v) AS mx FROM ${vCol}${k}r), " +
        s"${vCol}$k AS (SELECT n.id, CASE WHEN mx > 0 THEN " +
        s"(coalesce(r.v, 0) * 1000000) // mx ELSE 0 END AS $vCol " +
        s"FROM n LEFT JOIN ${vCol}${k}r r USING (id) CROSS JOIN ${vCol}${k}m)"
    val chain = (1 to iters).map { k =>
      val hPrev = if (k == 1) "h0" else s"hub${k - 1}"
      norm(k, s"e.dst AS id, sum(h.hub) AS v FROM e JOIN $hPrev h " +
        s"ON h.id = e.src GROUP BY e.dst", "auth") + ",\n" +
        norm(k, s"e.src AS id, sum(a.auth) AS v FROM e JOIN auth$k a " +
          s"ON a.id = e.dst GROUP BY e.src", "hub")
    }.mkString(",\n")
    s"""WITH p AS ($dedupMinhashSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p),
       |n AS (SELECT doc_id AS id FROM documents),
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM n),
       |$chain
       |SELECT n.id AS doc_id, CAST(h.hub AS BIGINT) AS hub,
       |  CAST(a.auth AS BIGINT) AS auth
       |FROM n JOIN hub$iters h USING (id) JOIN auth$iters a USING (id)""".stripMargin
  }

  /** Label-propagation oracle: 2 unrolled majority-vote rounds with the
    * (count desc, label asc) tie rule as a ROW_NUMBER pick. */
  private val graphLabelpropSql: String = {
    val iters = 2
    val rounds = (1 to iters).map { k =>
      s"""v$k AS (SELECT e.dst AS id, l.lbl, count(*) AS cnt
         |  FROM e JOIN l${k - 1} l ON l.id = e.src AND l.lbl IS NOT NULL
         |  GROUP BY 1, 2),
         |w$k AS (SELECT id, lbl AS vote FROM (
         |  SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
         |    ORDER BY cnt DESC, lbl) AS rn FROM v$k) WHERE rn = 1),
         |l$k AS (SELECT l.id, coalesce(l.lbl, w.vote) AS lbl, l.is_seed
         |  FROM l${k - 1} l LEFT JOIN w$k w USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS ($dedupMinhashSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |l0 AS (SELECT doc_id AS id,
       |  CASE WHEN doc_id % 2 = 0 THEN source END AS lbl,
       |  doc_id % 2 = 0 AS is_seed FROM documents),
       |$rounds
       |SELECT id AS doc_id, lbl AS label,
       |  CASE WHEN is_seed THEN 'seed'
       |       WHEN lbl IS NOT NULL THEN 'propagated'
       |       ELSE 'none' END AS origin
       |FROM l$iters""".stripMargin
  }

  /** BM25 ranking CTE chain mirroring Curation.bm25TopDocs: same
    * rational-lattice per-term fraction (HUGEINT for decimal(38,0)), same
    * 10⁻⁶ floor grid, same integer sum and (score desc, doc_id) ranking
    * in CTE `r`. The probe terms come from [[bm25Queries]] so the texts
    * cannot drift. Shared by the standalone BM25 oracle and the hybrid
    * RRF fusion oracle. */
  private val bm25RankedCtes = {
    val values = bm25Queries.flatMap { case (qid, ts) =>
      ts.distinct.map(t => s"(CAST($qid AS BIGINT), '$t')")
    }.mkString(", ")
    s"""base AS (SELECT doc_id, ${wordsSqlOf("text")} AS ws FROM documents),
       |terms AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |       FROM terms GROUP BY 1, 2),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |tot AS (SELECT count(*) AS n, sum(len(ws)) AS t FROM base),
       |probes(query_id, term) AS (VALUES $values),
       |sc AS (SELECT query_id, doc_id,
       |  (CAST(44 AS HUGEINT) * tf * t * (2 * n - 2 * df + 1) * 1000000)
       |  // ((CAST(2 AS HUGEINT) * df + 1) *
       |      (CAST(20 AS HUGEINT) * tf * t + 6 * t + 18 * dl * n)) AS s_q6
       |  FROM tf JOIN probes USING (term) JOIN idf USING (term) CROSS JOIN tot),
       |agg AS (SELECT query_id, doc_id, sum(s_q6) AS s_q6 FROM sc GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, s_q6, row_number() OVER
       |        (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS rnk
       |      FROM agg)""".stripMargin
  }

  private val textBm25Sql =
    s"""WITH $bm25RankedCtes
       |SELECT query_id, doc_id, CAST(s_q6 AS DOUBLE) / 1000000.0 AS bm25, rnk
       |FROM r WHERE rnk <= 10""".stripMargin

  /** Hybrid-retrieval oracle: BM25 top-20 (CTE chain above) and exact
    * cosine top-20 (the q_sim_topk CTEs, probes = vec_id < 3 to match the
    * bm25 query ids) fused by reciprocal rank — each list contributes
    * `1000000 // (60 + rnk)` (the 10⁻⁶-grid floor of 1/(60+rank)), summed
    * as integers, re-ranked per query. Twin of Curation.rrfFuse. */
  private val retrievalHybridSql =
    s"""WITH $bm25RankedCtes,
       |tr AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= 20),
       |$simCtes,
       |scored AS (SELECT query_id, neighbor_id,
       |  round($dotSql / (cnorm * qnorm), 6) AS cos
       |  FROM cn CROSS JOIN qn WHERE neighbor_id <> query_id AND query_id < 3),
       |vranked AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS vrnk
       |  FROM scored),
       |vr AS (SELECT query_id, neighbor_id AS doc_id, vrnk AS rnk
       |       FROM vranked WHERE vrnk <= 20),
       |u AS (SELECT * FROM tr UNION ALL SELECT * FROM vr),
       |f AS (SELECT query_id, doc_id,
       |  sum(1000000 // (60 + rnk)) AS rrf_q6,
       |  CAST(count(*) AS BIGINT) AS n_lists
       |  FROM u GROUP BY 1, 2),
       |fr AS (SELECT query_id, doc_id, rrf_q6, n_lists, row_number() OVER
       |  (PARTITION BY query_id ORDER BY rrf_q6 DESC, doc_id) AS rnk FROM f)
       |SELECT query_id, doc_id, CAST(rrf_q6 AS DOUBLE) / 1000000.0 AS rrf,
       |  n_lists, rnk FROM fr WHERE rnk <= 10""".stripMargin

  /** Little-endian byte rendering of an int expression — DuckDB twin of
    * Multimodal.leBytes. */
  private def leSql(v: String, nBytes: Int): String =
    "unhex(printf('" + "%02x" * nBytes + "', " +
      (0 until nBytes).map(i => s"((($v) >> ${8 * i}) & 255)").mkString(", ") +
      "))"

  /** media CTE = Multimodal.mediaFromDocuments in SQL: payload = UTF-8
    * text bytes, except AUDIO rows carry a real PCM WAV wrapping those
    * bytes — the oracle assembles the IDENTICAL 44-byte-header blob from
    * first principles, so the Spark side's javax.sound.sampled decode is
    * checked against an independent reconstruction of the container. */
  private val mediaCte = {
    val wav = Seq(
      "'RIFF'::BLOB", leSql("dlen + 36", 4),
      "'WAVEfmt '::BLOB", leSql("16", 4),
      leSql("1", 2), leSql("1", 2),
      leSql("sr", 4), leSql("sr", 4),
      leSql("1", 2), leSql("8", 2),
      "'data'::BLOB", leSql("dlen", 4), "data").mkString(" || ")
    s"""media AS (SELECT doc_id AS media_id,
       |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
       |  encode(text) AS data,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS dlen,
       |  CAST(8000 + (octet_length(encode(text)) % 3) * 4000 AS BIGINT) AS sr
       |  FROM documents),
       |mp AS (SELECT media_id, kind, dlen, sr,
       |  CASE WHEN kind = 'audio' THEN $wav ELSE data END AS payload
       |  FROM media),
       |m AS (SELECT media_id, kind, CAST(octet_length(payload) AS BIGINT) AS n,
       |  payload, dlen, sr FROM mp)""".stripMargin
  }

  /** pHash oracle (stub path — no JDK codec accepts a text payload):
    * the code-point signal bucketed into 64 floor-bound spans, per-span
    * floor mean vs the whole-signal floor mean, bits packed into 4
    * 16-bit bands. Shared by the fingerprint and near-dup oracles. */
  private def mmPhashCtesOf(plantTwins: Boolean) = {
    val pi =
      if (plantTwins)
        """pi AS (SELECT media_id, s FROM pi0
          |  UNION ALL SELECT media_id + 100000, 'z' || substr(s, 2)
          |  FROM pi0 WHERE media_id % 7 = 0),""".stripMargin
      else "pi AS (SELECT media_id, s FROM pi0),"
    s"""$mediaCte,
       |pi0 AS (SELECT media_id, decode(payload) AS s FROM m
       |  WHERE kind = 'image'),
       |$pi
       |pii AS (SELECT media_id, s, CAST(len(s) AS BIGINT) AS n FROM pi
       |  WHERE len(s) >= 64),
       |cpl AS (SELECT media_id, n,
       |  list_transform(range(1, CAST(n + 1 AS INT)),
       |    i -> ord(substr(s, CAST(i AS INT), 1))) AS L FROM pii),
       |gg AS (SELECT media_id, n, L,
       |  CAST(list_sum(L) AS BIGINT) // n AS gm FROM cpl),
       |bkt AS (SELECT media_id, b, gm,
       |  CAST(list_sum(L[CAST((b * n) // 64 + 1 AS INT) :
       |                  CAST(((b + 1) * n) // 64 AS INT)]) AS BIGINT)
       |    // (((b + 1) * n) // 64 - (b * n) // 64) AS mv
       |  FROM gg, (SELECT unnest(range(0, 64)) AS b)),
       |pbands AS (SELECT media_id, b // 16 AS band,
       |  CAST(sum(CASE WHEN mv > gm THEN 1 << CAST(b % 16 AS INT)
       |           ELSE 0 END) AS BIGINT) AS bv
       |  FROM bkt GROUP BY 1, 2)""".stripMargin
  }

  private val mmPhashSql =
    s"""WITH ${mmPhashCtesOf(false)}
       |SELECT media_id,
       |  max(CASE WHEN band = 0 THEN bv END) AS pb0,
       |  max(CASE WHEN band = 1 THEN bv END) AS pb1,
       |  max(CASE WHEN band = 2 THEN bv END) AS pb2,
       |  max(CASE WHEN band = 3 THEN bv END) AS pb3
       |FROM pbands GROUP BY 1""".stripMargin

  private val mmPhashDupsSql =
    s"""WITH ${mmPhashCtesOf(true)},
       |ph AS MATERIALIZED (SELECT media_id,
       |  max(CASE WHEN band = 0 THEN bv END) AS pb0,
       |  max(CASE WHEN band = 1 THEN bv END) AS pb1,
       |  max(CASE WHEN band = 2 THEN bv END) AS pb2,
       |  max(CASE WHEN band = 3 THEN bv END) AS pb3
       |  FROM pbands GROUP BY 1),
       |bd AS MATERIALIZED (SELECT media_id, band, bv FROM pbands),
       |cand AS (SELECT l.media_id AS id_a, r.media_id AS id_b
       |  FROM bd l JOIN bd r ON l.band = r.band AND l.bv = r.bv
       |    AND l.media_id < r.media_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(bit_count(xor(a.pb0, b.pb0))
       |    + bit_count(xor(a.pb1, b.pb1)) + bit_count(xor(a.pb2, b.pb2))
       |    + bit_count(xor(a.pb3, b.pb3)) AS BIGINT) AS hamming
       |FROM cand JOIN ph a ON a.media_id = id_a
       |JOIN ph b ON b.media_id = id_b
       |WHERE bit_count(xor(a.pb0, b.pb0)) + bit_count(xor(a.pb1, b.pb1))
       |    + bit_count(xor(a.pb2, b.pb2)) + bit_count(xor(a.pb3, b.pb3))
       |  <= 3""".stripMargin

  private val mmMetaSql =
    s"""WITH $mediaCte
       |SELECT media_id, kind, n AS n_bytes,
       |  CASE kind WHEN 'image' THEN 64 + n % 512 WHEN 'video' THEN CAST(320 AS BIGINT) END AS width,
       |  CASE kind WHEN 'image' THEN 64 + (n * 7) % 512 WHEN 'video' THEN CAST(240 AS BIGINT) END AS height,
       |  CASE kind WHEN 'audio' THEN sr END AS sample_rate,
       |  CASE kind WHEN 'audio' THEN dlen * 1000 // sr
       |            WHEN 'video' THEN n * 13 % 10000 END AS duration_ms
       |FROM m""".stripMargin

  private val mmFramesSql =
    s"""WITH $mediaCte,
       |v AS (SELECT media_id, n * 13 % 10000 AS dur FROM m WHERE kind = 'video')
       |SELECT media_id, frame_ms,
       |  md5(CAST(media_id AS VARCHAR) || ':' || CAST(frame_ms AS VARCHAR)) AS frame_id
       |FROM (SELECT media_id, unnest(generate_series(0, dur, 1000)) AS frame_ms FROM v)""".stripMargin

  private val mmAudioWindowsSql =
    s"""WITH $mediaCte,
       |a AS (SELECT media_id, sr, dlen * 1000 // sr AS dur
       |  FROM m WHERE kind = 'audio'),
       |w AS (SELECT media_id, sr, dur, unnest(range(0, dur, 100)) AS window_ms
       |  FROM a WHERE dur > 0)
       |SELECT media_id, window_ms,
       |  CAST(floor(sr * least(250, dur - window_ms) / 1000.0) AS BIGINT) AS n_samples
       |FROM w""".stripMargin

  private val mmFeaturesSql: String = {
    val fs = (0 until 8).map(i =>
      // the digest runs over hex(payload) in BOTH engines: DuckDB md5
      // only takes VARCHAR, and hex is byte-faithful for arbitrary
      // binary (WAV headers included) where a VARCHAR cast is not
      s"CAST(${hexIntSql(s"(md5(hex(payload)) || '$i')")} % 1000 AS DOUBLE) / 1000.0 AS f$i")
      .mkString(",\n  ")
    s"""WITH $mediaCte
       |SELECT media_id, kind,
       |  $fs
       |FROM m""".stripMargin
  }

  /** Repeated-span oracle mirroring Dedup.repeatedSpans (k=20, stride 1):
    * position-indexed gram hashes, global count > 1, per-doc
    * gaps-and-islands. */
  private val dedupSpansSql = {
    val h = Hashing.hexLongSql("substr(text, CAST(p AS INT), 20)")
    s"""WITH px AS (SELECT doc_id, unnest(range(1, length(text) - 18)) AS p, text
       |  FROM documents WHERE length(text) >= 20),
       |g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, $h AS h FROM px),
       |rep AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM rep)),
       |i AS (SELECT doc_id, pos,
       |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
       |       THEN 1 ELSE 0 END AS ni FROM m),
       |s AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |  ROWS UNBOUNDED PRECEDING) AS isl FROM i)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + 19 AS span_end,
       |  max(pos) + 19 - min(pos) + 1 AS span_len,
       |  CAST(count(*) AS BIGINT) AS n_grams
       |FROM s GROUP BY doc_id, isl""".stripMargin
  }

  /** Excision oracle mirroring Dedup.exciseSpans: the q_dedup_spans CTE
    * chain, span-content digests, keep-first rank, and a per-character
    * rebuild (the oracle may spell the rewrite per-char; the engine uses
    * a one-pass fold). */
  private val dedupExciseSql = {
    val h = Hashing.hexLongSql("substr(text, CAST(p AS INT), 20)")
    s"""WITH px AS (SELECT doc_id, unnest(range(1, length(text) - 18)) AS p, text
       |  FROM documents WHERE length(text) >= 20),
       |g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, $h AS h FROM px),
       |rep AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM rep)),
       |i AS (SELECT doc_id, pos,
       |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
       |       THEN 1 ELSE 0 END AS ni FROM m),
       |sl AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |  ROWS UNBOUNDED PRECEDING) AS isl FROM i),
       |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 19 AS e
       |  FROM sl GROUP BY doc_id, isl),
       |dgs AS (SELECT sp.doc_id, s, e,
       |    md5(substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))) AS dg
       |  FROM sp JOIN documents USING (doc_id)),
       |dr AS (SELECT doc_id, s, e FROM (
       |    SELECT doc_id, s, e, row_number() OVER
       |      (PARTITION BY dg ORDER BY doc_id, s) AS rk FROM dgs)
       |  WHERE rk > 1),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped_spans
       |  FROM dr GROUP BY 1),
       |chars AS (SELECT d.doc_id, unnest(range(1, length(d.text) + 1)) AS p,
       |    d.text FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM dr)),
       |keepc AS (SELECT c.doc_id, c.p, c.text FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM dr
       |    WHERE dr.doc_id = c.doc_id AND c.p BETWEEN dr.s AND dr.e)),
       |rebuilt AS (SELECT doc_id,
       |    string_agg(substr(text, CAST(p AS INT), 1), '' ORDER BY p) AS ct
       |  FROM keepc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN a.doc_id IS NULL THEN d.text ELSE coalesce(r.ct, '') END
       |    AS clean_text,
       |  coalesce(a.n_dropped_spans, 0) AS n_dropped_spans,
       |  CAST(length(d.text) - length(CASE WHEN a.doc_id IS NULL THEN d.text
       |    ELSE coalesce(r.ct, '') END) AS BIGINT) AS dropped_chars
       |FROM documents d
       |LEFT JOIN agg a USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)""".stripMargin
  }

  /** Cross-corpus span-excision oracle mirroring Dedup.exciseCrossSpans:
    * the q_dedup_spans gram/island chain on the TRAIN carve, but
    * "repeated" = the gram hash occurs in the EVAL carve's distinct gram
    * set; every marked span drops (no keep-first rank — the canonical
    * copy lives in the eval corpus), per-character rebuild as in the
    * excise oracle. */
  private val decontamSpansSql = {
    val h = Hashing.hexLongSql("substr(text, CAST(p AS INT), 20)")
    s"""WITH px AS (SELECT doc_id, unnest(range(1, length(text) - 18)) AS p, text
       |  FROM documents WHERE doc_id % 97 <> 0 AND length(text) >= 20),
       |g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, $h AS h FROM px),
       |rpx AS (SELECT unnest(range(1, length(text) - 18)) AS p, text
       |  FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 20),
       |eg AS (SELECT DISTINCT $h AS h FROM rpx),
       |m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM eg)),
       |i AS (SELECT doc_id, pos,
       |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
       |       THEN 1 ELSE 0 END AS ni FROM m),
       |sl AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |  ROWS UNBOUNDED PRECEDING) AS isl FROM i),
       |dr AS (SELECT doc_id, min(pos) AS s, max(pos) + 19 AS e
       |  FROM sl GROUP BY doc_id, isl),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped_spans
       |  FROM dr GROUP BY 1),
       |chars AS (SELECT d.doc_id, unnest(range(1, length(d.text) + 1)) AS p,
       |    d.text FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM dr)),
       |keepc AS (SELECT c.doc_id, c.p, c.text FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM dr
       |    WHERE dr.doc_id = c.doc_id AND c.p BETWEEN dr.s AND dr.e)),
       |rebuilt AS (SELECT doc_id,
       |    string_agg(substr(text, CAST(p AS INT), 1), '' ORDER BY p) AS ct
       |  FROM keepc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN a.doc_id IS NULL THEN d.text ELSE coalesce(r.ct, '') END
       |    AS clean_text,
       |  coalesce(a.n_dropped_spans, 0) AS n_dropped_spans,
       |  CAST(length(d.text) - length(CASE WHEN a.doc_id IS NULL THEN d.text
       |    ELSE coalesce(r.ct, '') END) AS BIGINT) AS dropped_chars
       |FROM (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0) d
       |LEFT JOIN agg a USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)""".stripMargin
  }

  /** Span-matrix oracle: the span-excision chain as a scoped CTE (the
    * tokenizerParitySql nesting pattern), joined back to documents for
    * the stratum/length pass, rolled up per source with frac4 rates. */
  private lazy val decontamSpanMatrixSql =
    s"""WITH sp AS MATERIALIZED ($decontamSpansSql)
       |SELECT d.source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN sp.n_dropped_spans > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_docs_hit,
       |  CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
       |  CAST(sum(sp.dropped_chars) AS BIGINT) AS dropped_chars,
       |  ${frac4Sql(
             "sum(CASE WHEN sp.n_dropped_spans > 0 THEN 1 ELSE 0 END)",
             "count(*)")} AS doc_frac,
       |  ${frac4Sql("sum(sp.dropped_chars)", "sum(length(d.text))")}
       |    AS char_frac
       |FROM documents d JOIN sp USING (doc_id)
       |WHERE d.doc_id % 97 <> 0
       |GROUP BY 1""".stripMargin

  /** Paragraph-dedup oracle mirroring Dedup.paragraphDedup over the
    * 5-doc page view: keep-first by (page_id, pos) per paragraph md5,
    * ordered reassembly with chr(10). */
  private val dedupParagraphSql =
    s"""WITH pages AS (SELECT doc_id // 5 AS page_id,
       |    string_agg(text, chr(10) ORDER BY doc_id) AS text
       |  FROM documents GROUP BY 1),
       |pl AS (SELECT page_id, string_split(text, chr(10)) AS l FROM pages),
       |pu AS (SELECT page_id, unnest(range(1, len(l) + 1)) AS i, l FROM pl),
       |px AS (SELECT page_id, CAST(i - 1 AS BIGINT) AS pos,
       |    l[CAST(i AS INT)] AS para FROM pu),
       |rk AS (SELECT page_id, pos, para, row_number() OVER
       |    (PARTITION BY md5(para) ORDER BY page_id, pos) AS rk FROM px),
       |reb AS (SELECT page_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(para, chr(10) ORDER BY pos) AS clean_text
       |  FROM rk WHERE rk = 1 GROUP BY 1),
       |tot AS (SELECT page_id,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_paragraphs
       |  FROM pages)
       |SELECT t.page_id, coalesce(r.clean_text, '') AS clean_text,
       |  t.n_paragraphs,
       |  t.n_paragraphs - coalesce(r.n_kept, 0) AS n_dropped_paras
       |FROM tot t LEFT JOIN reb r USING (page_id)""".stripMargin

  /** Vocabulary-head oracle: exact word counts, (count desc, term) order,
    * top 40. */
  private val vocabTopSql =
    s"""WITH w AS (SELECT unnest(${wordsSqlOf("text")}) AS term FROM documents)
       |SELECT term, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY term
       |ORDER BY n DESC, term LIMIT 40""".stripMargin

  /** Top-30%-per-language oracle mirroring Curation.topQualityPerGroup:
    * per-stratum rank over (q4 desc, id), int64 cross-multiplied keep
    * test. */
  private val sampleTopQualitySql =
    s"""WITH base AS (SELECT doc_id, lang AS stratum,
       |  ${qualityQ4Sql("text", "ws", "h_en")} AS q4
       |  FROM (SELECT doc_id, lang, text, ws,
       |    len(list_filter(wl, x -> list_contains(${stopLists("en")}, x))) AS h_en
       |    FROM (SELECT doc_id, lang, text, ${wordsSqlOf("text")} AS ws,
       |      ${wordsSqlOf("lower(text)")} AS wl FROM documents))),
       |c AS (SELECT stratum, count(*) AS c FROM base GROUP BY 1),
       |r AS (SELECT doc_id, stratum, q4, ROW_NUMBER() OVER (
       |  PARTITION BY stratum ORDER BY q4 DESC, doc_id) AS rnk FROM base)
       |SELECT doc_id, stratum, CAST(q4 AS DOUBLE) / 10000.0 AS quality,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM r JOIN c USING (stratum) WHERE rnk * 1000000 <= 300000 * c""".stripMargin

  /** Resize oracle mirroring Multimodal.resizeImages (max 256x256): stub
    * geometry (64 + n%512 by 64 + 7n%512), integer cross-multiplied axis
    * choice, floor-div scaling, prefix-slice resample. DuckDB slices/md5s
    * VARCHAR only — payloads here are ASCII text bytes, so the cast
    * digests the same bytes Spark's byte-array md5 sees. */
  private val mmResizeSql =
    s"""WITH $mediaCte,
       |i AS (SELECT media_id, n, payload,
       |  64 + n % 512 AS w, 64 + (n * 7) % 512 AS h
       |  FROM m WHERE kind = 'image'),
       |g AS (SELECT media_id, n, payload, w, h,
       |  CASE WHEN w <= 256 AND h <= 256 THEN w
       |       WHEN w * 256 >= h * 256 THEN 256
       |       ELSE greatest(1, (w * 256) // h) END AS out_w,
       |  CASE WHEN w <= 256 AND h <= 256 THEN h
       |       WHEN w * 256 >= h * 256 THEN greatest(1, (h * 256) // w)
       |       ELSE 256 END AS out_h
       |  FROM i)
       |SELECT media_id, w AS in_w, h AS in_h, out_w, out_h,
       |  least(n, (out_w * out_h) // 64) AS out_bytes,
       |  md5(substring(CAST(payload AS VARCHAR), 1,
       |    CAST(least(n, (out_w * out_h) // 64) AS BIGINT))) AS out_digest
       |FROM g""".stripMargin

  /** Skip-gram oracle: pairs at distance d are the extreme words of the
    * (d+1)-grams — the same [[Hashing.ngramsSql]] generator every
    * shingle oracle uses, so tokenization cannot drift. */
  private val textSkipgramSql = {
    val ws = wordsSqlOf("lower(text)")
    val byD = (1 to 2).map { d =>
      s"SELECT unnest(${Hashing.ngramsSql("w", d + 1)}) AS gram FROM ws"
    }.mkString("\nUNION ALL ")
    s"""WITH ws AS (SELECT $ws AS w FROM documents),
       |g AS ($byD)
       |SELECT (string_split(gram, ' '))[1] AS w_a,
       |  (string_split(gram, ' '))[-1] AS w_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM g GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin
  }

  /** PMI oracle: identical ratio lattice, HUGEINT `//` floor (positive
    * operands — BIGINT/HUGEINT `//` floors; only DECIMAL `//` rounds). */
  private val textPmiSql = {
    val ws = wordsSqlOf("lower(text)")
    s"""WITH ws AS (SELECT $ws AS w FROM documents),
       |uni AS (SELECT unnest(w) AS wd FROM ws),
       |uc AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
       |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
       |bg0 AS (SELECT unnest(${Hashing.ngramsSql("w", 2)}) AS bg FROM ws),
       |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_xy FROM bg0 GROUP BY 1),
       |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bc),
       |s AS (SELECT (string_split(bg, ' '))[1] AS w_a,
       |  (string_split(bg, ' '))[2] AS w_b, c_xy FROM bc WHERE c_xy >= 5)
       |SELECT s.w_a, s.w_b, s.c_xy, ua.c AS c_a, ub.c AS c_b,
       |  CAST(((CAST(s.c_xy AS HUGEINT) * n_uni * n_uni)
       |      // (CAST(n_bi AS HUGEINT) * ua.c * ub.c)) * 1000000
       |    + (((CAST(s.c_xy AS HUGEINT) * n_uni * n_uni)
       |      % (CAST(n_bi AS HUGEINT) * ua.c * ub.c)) * 1000000)
       |      // (CAST(n_bi AS HUGEINT) * ua.c * ub.c) AS BIGINT)
       |    AS pmi_ratio_q6
       |FROM s JOIN uc ua ON ua.wd = s.w_a JOIN uc ub ON ub.wd = s.w_b,
       |  nu, nb""".stripMargin
  }

  /** Chi-square oracle: full margin grid (zero cells included), null
    * categories excluded, per-cell q6 floor via the same
    * ⌊d²/den⌋·10⁶ + ⌊(d² mod den)·10⁶/den⌋ decomposition. */
  private val statsChi2Sql =
    """WITH o AS (SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
      |  FROM documents
      |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
      |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
      |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
      |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
      |grid AS (SELECT ra.a, cb.b, ra.r, cb.c, nt.n,
      |    coalesce(o.o, 0) AS o
      |  FROM ra CROSS JOIN cb CROSS JOIN nt
      |  LEFT JOIN o ON o.a = ra.a AND o.b = cb.b),
      |cells AS (SELECT a, b, n,
      |    (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) AS d,
      |    CAST(n AS HUGEINT) * r * c AS den
      |  FROM grid)
      |SELECT CAST(max(n) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(count(DISTINCT a) AS BIGINT) AS n_a,
      |  CAST(count(DISTINCT b) AS BIGINT) AS n_b,
      |  CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
      |  CAST(sum(((d * d) // den) * 1000000
      |    + (((d * d) % den) * 1000000) // den) AS BIGINT) AS chi2_q6
      |FROM cells""".stripMargin

  /** Gini oracle: ascending-count ranks (ties broken by group name —
    * total order), exact rational on the q6 lattice. */
  private val statsGiniSql =
    """WITH g AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS x
      |  FROM documents GROUP BY 1),
      |r AS (SELECT x, row_number() OVER (ORDER BY x, grp) AS i FROM g),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(sum(x) AS BIGINT) AS n_total,
      |    sum(CAST(i AS HUGEINT) * x) AS six FROM r)
      |SELECT n_groups, n_total,
      |  CAST(((2 * six - (CAST(n_groups AS HUGEINT) + 1) * n_total) * 1000000)
      |    // (CAST(n_groups AS HUGEINT) * n_total) AS BIGINT) AS gini_q6
      |FROM a""".stripMargin

  /** Erasure oracle, both phases. The 'post' rows_forget_keyed are the
    * literal 0 the engine must REPRODUCE from the re-read tables — the
    * non-tautological certification (the engine counts them with a real
    * semi-join against storage; only a correct rewrite matches). */
  private val privacyErasureSql = {
    def total(tbl: String) =
      s"(SELECT CAST(count(*) AS BIGINT) FROM $tbl)"
    def fkeyed(tbl: String, key: String) =
      s"""(SELECT CAST(count(*) AS BIGINT) FROM $tbl
         |     WHERE $key IN (SELECT k FROM f))""".stripMargin
    def kept(tbl: String, key: String) =
      s"""(SELECT CAST(count(*) AS BIGINT) FROM $tbl
         |     WHERE $key NOT IN (SELECT k FROM f))""".stripMargin
    s"""WITH f AS (SELECT doc_id AS k FROM documents WHERE source = 'src7')
       |SELECT 'pre' AS phase, 'documents' AS tbl,
       |  ${total("documents")} AS rows_before,
       |  ${fkeyed("documents", "doc_id")} AS rows_forget_keyed,
       |  ${kept("documents", "doc_id")} AS rows_after
       |UNION ALL
       |SELECT 'pre', 'embeddings', ${total("embeddings")},
       |  ${fkeyed("embeddings", "vec_id")}, ${kept("embeddings", "vec_id")}
       |UNION ALL
       |SELECT 'post', 'documents', ${kept("documents", "doc_id")},
       |  CAST(0 AS BIGINT), ${kept("documents", "doc_id")}
       |UNION ALL
       |SELECT 'post', 'embeddings', ${kept("embeddings", "vec_id")},
       |  CAST(0 AS BIGINT), ${kept("embeddings", "vec_id")}""".stripMargin
  }

  /** Record-linkage oracle: identical perturbation, blocking, and
    * weighted agreement arithmetic. */
  private val linkRecordsSql =
    """WITH base AS (SELECT c_custkey AS k, c_name, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_mktsegment
      |  FROM customer),
      |a AS (SELECT k AS a_id, c_nationkey AS bn,
      |    substr(c_name, length(c_name) - 4, 5) AS bd,
      |    c_name AS a_name, cents AS a_cents, c_mktsegment AS a_seg
      |  FROM base),
      |b0 AS (SELECT k,
      |    CASE WHEN k % 3 = 0
      |      THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11, 8)
      |      ELSE c_name END AS b_name,
      |    c_nationkey, cents + (k % 7) AS b_cents,
      |    CASE WHEN k % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS b_seg
      |  FROM base),
      |b AS (SELECT k + 1000000 AS b_id, c_nationkey AS bn,
      |    substr(b_name, length(b_name) - 4, 5) AS bd,
      |    b_name, b_cents, b_seg FROM b0),
      |p AS (SELECT a_id, b_id,
      |    CAST(CASE WHEN a_name = b_name THEN 40 ELSE 0 END AS BIGINT) AS s_name,
      |    CAST(CASE WHEN abs(a_cents - b_cents) <= 5 THEN 25 ELSE 0 END AS BIGINT) AS s_cents,
      |    CAST(CASE WHEN a_seg = b_seg THEN 10 ELSE 0 END AS BIGINT) AS s_seg
      |  FROM a JOIN b USING (bn, bd))
      |SELECT a_id, b_id, s_name, s_cents, s_seg,
      |  (s_name + s_cents + s_seg) AS score
      |FROM p WHERE s_name + s_cents + s_seg >= 35""".stripMargin

  /** Script-profile oracle: ranges derived from the SAME
    * TextAnalysis.scriptRanges Seq (never retyped — desync-proof), CASE
    * priority = list order, matching the engine's foldRight. */
  private val textScriptsSql = {
    val ranges = TextAnalysis.scriptRanges
    val counts = ranges.map { case (n, re) =>
      s"CAST(len(regexp_extract_all(coalesce(text, ''), '$re')) AS BIGINT) AS n_$n"
    }.mkString(",\n|    ")
    val best = ranges.map(r => s"n_${r._1}").mkString("greatest(", ", ", ")")
    val cases = ranges.map { case (n, _) =>
      s"WHEN n_$n > 0 AND n_$n = $best THEN '$n'"
    }.mkString("\n|    ")
    s"""WITH c AS (SELECT doc_id,
       |    CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
       |    $counts
       |  FROM documents)
       |SELECT doc_id, n_chars, ${ranges.map(r => s"n_${r._1}").mkString(", ")},
       |  CASE
       |    $cases
       |    ELSE 'none' END AS dominant
       |FROM c""".stripMargin
  }

  /** Correlation-matrix oracle: generated from the same pair list as the
    * engine; HUGEINT sufficient statistics, shared-text IEEE finish. */
  private val statsCorrSql = {
    val names = Seq("qty", "price", "disc", "tax")
    val srcCols = Map(
      "qty" -> "l_quantity", "price" -> "l_extendedprice",
      "disc" -> "l_discount", "tax" -> "l_tax")
    val cents = names.map(n =>
      s"CAST(round(${srcCols(n)} * 100) AS BIGINT) AS $n").mkString(", ")
    def h(n: String) = s"CAST($n AS HUGEINT)"
    val sums = names.map(n => s"sum(${h(n)}) AS s_$n") ++
      names.map(n => s"sum(${h(n)} * ${h(n)}) AS ss_$n") ++
      (for { i <- names.indices; j <- names.indices if i < j }
        yield s"sum(${h(names(i))} * ${h(names(j))}) AS sp_${names(i)}_${names(j)}")
    val rows = for { i <- names.indices; j <- names.indices if i < j } yield {
      val (a, b) = (names(i), names(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |  CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |    nullif(sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)) *
         |           sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)), 0.0) AS corr
         |FROM a""".stripMargin
    }
    s"""WITH v0 AS (SELECT $cents FROM lineitem),
       |v AS (SELECT * FROM v0
       |  WHERE ${names.map(n => s"$n IS NOT NULL").mkString(" AND ")}),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  ${sums.mkString(",\n|  ")}
       |  FROM v)
       |${rows.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** Group-regression oracle: floor(epoch) matches Spark's
    * unix_timestamp second truncation on the microsecond timestamps. */
  private val statsRegressionSql =
    """WITH v AS (SELECT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS x,
      |    CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
      |  FROM v GROUP BY 1),
      |s AS (SELECT user_id, n, sx, sy,
      |    CAST(n * sxy - sx * sy AS DOUBLE) /
      |      nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) AS slope
      |  FROM a)
      |SELECT user_id, n, slope,
      |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n AS intercept
      |FROM s""".stripMargin

  /** Benford oracle: expected-ppm literals derived from the SAME
    * Stats.benfordPpm Seq (ADVICE r11 #5 discipline). */
  private val statsBenfordSql = {
    val expCase = graft.ext.Stats.benfordPpm.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN CAST($p AS BIGINT)" }
      .mkString(" ")
    s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
       |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
       |    AS digit FROM c),
       |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
       |SELECT digit, n, n_total,
       |  CAST((CAST(n AS HUGEINT) * 1000000) // n_total AS BIGINT) AS obs_ppm,
       |  CASE digit $expCase END AS exp_ppm,
       |  CAST((CAST(n AS HUGEINT) * 1000000) // n_total AS BIGINT)
       |    - (CASE digit $expCase END) AS dev_ppm
       |FROM g, t""".stripMargin
  }

  /** Scene-cut oracle: replays the stub decode (video duration =
    * byte-length·13 mod 10⁴), the frame grid, the char-window slice, the
    * 4 floor span-means, and the lagged SAD — all integer arithmetic. */
  private val mmScenecutSql =
    """WITH d AS (SELECT doc_id AS media_id, text AS sig0,
      |    CAST(octet_length(encode(text)) AS BIGINT) * 13 % 10000 AS dur,
      |    CAST(length(text) AS BIGINT) AS lch
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT media_id, sig0, lch, dur,
      |    unnest(range(0, dur + 1, 1000)) AS frame_ms
      |  FROM d WHERE lch >= 64),
      |s AS (SELECT media_id, CAST(frame_ms AS BIGINT) AS frame_ms,
      |    substr(sig0, CAST(1 + (CAST(frame_ms AS HUGEINT) * (lch - 64))
      |      // greatest(dur, 1) AS BIGINT), 64) AS sig
      |  FROM f),
      |q AS (SELECT media_id, frame_ms,
      |    list_transform(range(0, 4), b -> CAST(
      |      list_sum(list_transform(range(1, 17),
      |        i -> ascii(substr(sig, CAST(b * 16 + i AS BIGINT), 1)))) // 16
      |      AS BIGINT)) AS ms
      |  FROM s),
      |l AS (SELECT media_id, frame_ms, ms,
      |    lag(ms) OVER (PARTITION BY media_id ORDER BY frame_ms) AS pm
      |  FROM q),
      |r AS (SELECT media_id, frame_ms,
      |    ms[1] AS m0, ms[2] AS m1, ms[3] AS m2, ms[4] AS m3,
      |    CASE WHEN pm IS NULL THEN 0
      |      ELSE abs(ms[1] - pm[1]) + abs(ms[2] - pm[2]) +
      |           abs(ms[3] - pm[3]) + abs(ms[4] - pm[4]) END AS sad
      |  FROM l)
      |SELECT media_id, frame_ms, m0, m1, m2, m3, CAST(sad AS BIGINT) AS sad,
      |  CAST(CASE WHEN sad >= 16 THEN 1 ELSE 0 END AS BIGINT) AS is_cut
      |FROM r""".stripMargin

  /** URL-domain oracle: identical planting, the same Java∩RE2 pattern
    * (taken from TextAnalysis.urlRe — never retyped). */
  private val textUrlsSql = {
    val re = TextAnalysis.urlRe
    val host = TextAnalysis.urlHostRe
    s"""WITH p AS (SELECT doc_id,
       |    CASE WHEN doc_id % 14 = 0 THEN text || ' visit http://site' ||
       |        CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' ||
       |        CAST(doc_id AS VARCHAR) || ' and https://mirror.example.org/d/' ||
       |        CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 7 = 0 THEN text || ' visit http://site' ||
       |        CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' ||
       |        CAST(doc_id AS VARCHAR)
       |      ELSE text END AS t
       |  FROM documents),
       |u AS (SELECT doc_id, unnest(regexp_extract_all(coalesce(t, ''), '$re'))
       |    AS url FROM p),
       |d AS (SELECT doc_id, regexp_extract(url, '$host', 1) AS domain FROM u)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM d GROUP BY 1""".stripMargin
  }

  /** Manifest oracle: the shard CTE is the registered shard oracle
    * verbatim; the digest is the same mod-2⁶¹ HUGEINT sum. */
  private val curationManifestSql =
    s"""WITH sh AS (${curationShardsSql}),
       |j AS (SELECT sh.shard, sh.n_chars, d.text
       |  FROM sh JOIN documents d USING (doc_id))
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(CAST(${Hashing.hexIntSql("text")} AS HUGEINT))
       |    % ${graft.ext.Curation.manifestMod} AS BIGINT) AS content_mod
       |FROM j GROUP BY 1""".stripMargin

  /** Spectrum oracle: same bin-length octaves, HUGEINT ppm floor. */
  private val vocabSpectrumSql =
    s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
       |    (SELECT unnest(${wordsSqlOf("lower(text)")}) AS w FROM documents)
       |  GROUP BY 1),
       |sp AS (SELECT CAST(len(bin(c)) AS BIGINT) AS octave,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(c) AS BIGINT) AS n_tokens
       |  FROM wc GROUP BY 1),
       |t AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN octave = 1 THEN n_types END), 0)
       |      AS BIGINT) AS n1,
       |    CAST(sum(n_tokens) AS BIGINT) AS nt FROM sp)
       |SELECT octave, n_types, n_tokens,
       |  CAST((CAST(n1 AS HUGEINT) * 1000000) // nt AS BIGINT)
       |    AS unseen_mass_ppm
       |FROM sp, t""".stripMargin

  /** Facet-overlap oracle: identical postings self-join + q4 floor. */
  private val vocabOverlapSql =
    s"""WITH post AS (SELECT DISTINCT source AS f, w FROM
       |    (SELECT source, unnest(${wordsSqlOf("lower(text)")}) AS w
       |     FROM documents)),
       |sz AS (SELECT f, CAST(count(*) AS BIGINT) AS sz FROM post GROUP BY 1),
       |i AS (SELECT a.f AS f_a, b.f AS f_b, CAST(count(*) AS BIGINT)
       |    AS n_common
       |  FROM post a JOIN post b ON a.w = b.w AND a.f < b.f GROUP BY 1, 2)
       |SELECT f_a, f_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
       |  CAST((n_common * 10000) // (sa.sz + sb.sz - n_common) AS DOUBLE)
       |    / 10000.0 AS jaccard
       |FROM i JOIN sz sa ON sa.f = i.f_a JOIN sz sb ON sb.f = i.f_b""".stripMargin

  /** Readability oracle: same split chains, one common-denominator
    * HUGEINT floor. */
  private val textReadabilitySql =
    s"""WITH c AS (SELECT doc_id,
       |    CAST(len(${wordsSqlOf("coalesce(text, '')")}) AS BIGINT) AS nw,
       |    CAST(len(list_filter(string_split_regex(coalesce(text, ''),
       |      '[.!?]+\\s+'), s -> len(s) > 0)) AS BIGINT) AS ns,
       |    CAST(len(list_filter(${wordsSqlOf("coalesce(text, '')")},
       |      x -> len(x) >= 7)) AS BIGINT) AS nlw
       |  FROM documents)
       |SELECT doc_id, nw AS n_words, ns AS n_sentences,
       |  nlw AS n_long_words,
       |  CASE WHEN ns > 0 AND nw > 0
       |    THEN CAST(((CAST(nw AS HUGEINT) * nw + 100 * CAST(nlw AS HUGEINT) * ns)
       |        * 10000) // (CAST(ns AS HUGEINT) * nw) AS DOUBLE) / 10000.0
       |    ELSE 0.0 END AS lix
       |FROM c""".stripMargin

  /** Source-matrix oracle: the registered MinHash chain as a CTE,
    * unordered source pair via least/greatest. */
  private lazy val dedupSourceMatrixSql =
    s"""WITH p AS ($dedupMinhashSql),
       |m AS (SELECT least(da.source, db.source) AS src_a,
       |    greatest(da.source, db.source) AS src_b
       |  FROM p JOIN documents da ON da.doc_id = p.id_a
       |  JOIN documents db ON db.doc_id = p.id_b)
       |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM m GROUP BY 1, 2""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", qDedupExact, dedupExactSql),
    QuerySpec("q_dedup_normalized", qDedupNormalized, dedupNormalizedSql),
    QuerySpec("q_dedup_minhash", qDedupMinhash, dedupMinhashSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_dedup_ngram_jaccard", qDedupNgramJaccard, dedupNgramJaccardSql),
    QuerySpec("q_dedup_simhash", qDedupSimhash, dedupSimhashSql),
    QuerySpec("q_dedup_fingerprint", qDedupFingerprint, dedupFingerprintSql),
    QuerySpec("q_dedup_fuzzy", qDedupFuzzy, dedupFuzzySql),
    QuerySpec("q_text_stats", qTextStats, textStatsSql),
    QuerySpec("q_text_fingerprint", qTextFingerprint, textFingerprintSql),
    QuerySpec("q_sample_stratified", qSampleStratified, sampleStratifiedSql),
    QuerySpec("q_text_tfidf", qTextTfidf, textTfidfSql),
    QuerySpec("q_text_redact", qTextRedact, textRedactSql),
    QuerySpec("q_dedup_clusters", qDedupClusters, dedupClustersSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_text_chunks", qTextChunks, textChunksSql),
    QuerySpec("q_text_bpe", qTextBpe, textBpeSql),
    QuerySpec("q_text_bpe_bytes", qTextBpeBytes, textBpeBytesSql),
    QuerySpec("q_bpe_bytes_parity", qBpeBytesParity, bpeBytesParitySql),
    QuerySpec("q_curation_funnel5", qCurationFunnel5, curationFunnel5Sql),
    QuerySpec("q_tok_fertility", qTokFertility, tokFertilitySql),
    QuerySpec("q_tok_oov", qTokOov, tokOovSql,
      counter = Some(distinctWords)),
    QuerySpec("q_quality_drift", qQualityDrift, qualityDriftSql),
    QuerySpec("q_bpe_train", qBpeTrain, bpeTrainSql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_bpe_trained", qTextBpeTrained, textBpeTrainedSql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_unigram", qTextUnigram, textUnigramSql,
      counter = Some(distinctWords)),
    // increment-union == batch-recompute law: the incremental memoized
    // tokenizer's oracle IS the whole-corpus committed-vocab statement
    QuerySpec("q_text_unigram_incr", qTextUnigramIncr, textUnigramSql,
      counter = Some(distinctWords)),
    QuerySpec("q_unigram_train", qUnigramTrain, unigramTrainSql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_unigram_trained", qTextUnigramTrained,
      textUnigramTrainedSql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_tokenizer_parity", qTextTokenizerParity,
      tokenizerParitySql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_wordpiece", qTextWordpiece, textWordpieceSql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_wordpiece_trained", qTextWordpieceTrained,
      textWordpieceTrainedSql,
      counter = Some(distinctWords)),
    QuerySpec("q_text_wordpiece_bert", qTextWordpieceBert, textWordpieceBertSql,
      counter = Some(distinctWords)),
    QuerySpec("q_tokenizer_bert_parity", qTokenizerBertParity,
      tokenizerBertParitySql,
      counter = Some(distinctWords)),
    QuerySpec("q_tokenizer_greedy_gap", qTokenizerGreedyGap,
      tokenizerGreedyGapSql,
      counter = Some(distinctWords)),
    QuerySpec("q_sim_matryoshka_recall", qSimMatryoshkaRecall, simMatryoshkaSql),
    QuerySpec("q_text_chunks_bpe", qTextChunksBpe, textChunksBpeSql),
    QuerySpec("q_text_pack_bpe", qTextPackBpe, textPackBpeSql),
    QuerySpec("q_sample_per_group", qSamplePerGroup, samplePerGroupSql),
    QuerySpec("q_decontaminate", qDecontaminate, decontaminateSql),
    QuerySpec("q_decontam_excise", qDecontamExcise, decontamExciseSql),
    QuerySpec("q_decontam_spans", qDecontamSpans, decontamSpansSql),
    // the incremental face's oracle IS the batch SQL: rewrites are pure
    // functions of the frozen gram state, so increment ∪ base ≡ full
    QuerySpec("q_decontam_spans_incr", qDecontamSpansIncr, decontamSpansSql),
    QuerySpec("q_decontam_span_matrix", qDecontamSpanMatrix,
      decontamSpanMatrixSql),
    QuerySpec("q_decontam_profile", qDecontamProfile, decontamProfileSql),
    // the incremental path must reproduce the one-shot recompute exactly
    QuerySpec("q_decontam_incr", qDecontamIncr, decontaminateSql),
    QuerySpec("q_decontaminate_semantic", qDecontaminateSemantic,
      decontaminateSemanticSql),
    QuerySpec("q_decontam_semantic_indexed", qDecontamSemanticIndexed,
      decontamSemanticIndexedSql,
      setup = Some(ensureDcIndex _)),
    QuerySpec("q_decontam_semantic_indexed_eval", qDecontamSemanticIndexedEval,
      decontamSemanticIndexedEvalSql,
      setup = Some(ensureDcIndex _)),
    QuerySpec("q_text_repetition", qTextRepetition, textRepetitionSql),
    QuerySpec("q_text_gopher", qTextGopher, textGopherSql),
    QuerySpec("q_text_hashvec", qTextHashvec, textHashvecSql),
    QuerySpec("q_text_hashvec_knn", qTextHashvecKnn, textHashvecKnnSql),
    QuerySpec("q_sample_mix", qSampleMix, sampleMixSql),
    QuerySpec("q_mix_schedule", qMixSchedule, mixScheduleSql),
    QuerySpec("q_sample_temperature", qSampleTemperature, sampleTemperatureSql),
    QuerySpec("q_curation_funnel3", qCurationFunnel3, curationFunnel3Sql),
    QuerySpec("q_text_pack", qTextPack, textPackSql),
    QuerySpec("q_dedup_best", qDedupBest, dedupBestSql),
    QuerySpec("q_text_boilerplate", qTextBoilerplate, textBoilerplateSql),
    QuerySpec("q_corpus_report", qCorpusReport, corpusReportSql),
    QuerySpec("q_corpus_report_kmv", qCorpusReportKmv, corpusReportKmvSql,
      planOk = Map(Smell.GlobalWindow ->
        "rollup windows over kept KMV states (sources×k rows)")),
    QuerySpec("q_corpus_quality_quantiles", qCorpusQualityQuantiles,
      corpusQualityQuantilesSql),
    QuerySpec("q_sample_topq", qSampleTopQuality, sampleTopQualitySql),
    QuerySpec("q_vocab_top", qVocabTop, vocabTopSql),
    QuerySpec("q_dedup_spans", qDedupSpans, dedupSpansSql),
    QuerySpec("q_dedup_excise", qDedupExcise, dedupExciseSql),
    QuerySpec("q_dedup_paragraph", qDedupParagraph, dedupParagraphSql),
    QuerySpec("q_dedup_crossmodal", qDedupCrossmodal, dedupCrossmodalSql),
    QuerySpec("q_dedup_novel", qDedupNovel, dedupNovelSql),
    QuerySpec("q_text_normalize", qTextNormalize, textNormalizeSql),
    QuerySpec("q_curation_funnel", qCurationFunnel, curationFunnelSql),
    QuerySpec("q_sim_topk", qSimTopK, simTopKSql),
    QuerySpec("q_sim_ann", qSimAnn, simAnnSql),
    QuerySpec("q_sim_neardup", qSimNearDup, simNearDupSql),
    QuerySpec("q_sim_ivf", qSimIvf, simIvfSql),
    QuerySpec("q_sim_kmeans", qSimKmeans, simKmeansSql),
    QuerySpec("q_sim_ivf_kmeans", qSimIvfKmeans, simIvfKmeansSql),
    QuerySpec("q_sim_pq", qSimPq, simPqSql),
    QuerySpec("q_sim_pq_search", qSimPqSearch, simPqSearchSql),
    QuerySpec("q_sim_drift", qSimDrift, simDriftSql),
    QuerySpec("q_sim_pq_indexed", qSimPqIndexed, simPqSearchSql,
      setup = Some(ensurePqIndex _)),
    QuerySpec("q_sim_ivfpq", qSimIvfPq, simIvfPqSql),
    // the persisted index must reproduce the recompute path exactly —
    // sharing the oracle IS the assertion
    QuerySpec("q_sim_ivfpq_indexed", qSimIvfPqIndexed, simIvfPqSql,
      setup = Some(ensureIvfIndex _)),
    QuerySpec("q_sim_ivfpq_res", qSimIvfPqRes, simIvfPqResSql),
    // cardinalities of the persisted index tables: K coarse centroids,
    // subspaces·k codebook rows, one code row per (vector, subspace)
    QuerySpec("q_sim_ivfpq_build", qSimIvfPqBuild,
      """SELECT 'coarse' AS part, CAST(8 AS BIGINT) AS n_rows
        |UNION ALL SELECT 'codebook', CAST(128 AS BIGINT)
        |UNION ALL SELECT 'codes',
        |  (SELECT CAST(count(*) * 8 AS BIGINT) FROM embeddings)""".stripMargin),
    QuerySpec("q_sim_ivfpq_res_indexed", qSimIvfPqResIndexed, simIvfPqResSql,
      setup = Some(ensureResIndex _)),
    QuerySpec("q_sim_pq_stream_twin", qSimPqStreamTwin, simPqSearchSql),
    QuerySpec("q_emb_quantize", qEmbQuantize, embQuantizeSql),
    QuerySpec("q_emb_project", qEmbProject, embProjectSql),
    QuerySpec("q_sim_topk_proj", qSimTopkProj, simTopkProjSql),
    QuerySpec("q_sim_topk_sq8", qSimTopkSq8, simTopkSq8Sql),
    QuerySpec("q_sample_split", qSampleSplit, sampleSplitSql),
    QuerySpec("q_sample_split_group", qSampleSplitGroup, sampleSplitGroupSql),
    QuerySpec("q_sample_split_cluster", qSampleSplitCluster,
      sampleSplitClusterSql),
    QuerySpec("q_classify_eval", qClassifyEval, classifyEvalSql),
    QuerySpec("q_classify_eval_split", qClassifyEvalSplit, classifyEvalSplitSql),
    QuerySpec("q_langid_eval", qLangidEval, langidEvalSql),
    QuerySpec("q_quality_calibrate", qQualityCalibrate, qualityCalibrateSql),
    QuerySpec("q_eval_roc", qEvalRoc, evalRocSql,
      planOk = Map(Smell.GlobalWindow ->
        "cumulative window over the ≤10⁴+1-value quality-score lattice")),
    QuerySpec("q_eval_auc", qEvalAuc, evalAucSql,
      planOk = Map(Smell.GlobalWindow ->
        "cumulative window over the ≤10⁴+1-value quality-score lattice")),
    QuerySpec("q_dedup_semantic", qDedupSemantic, dedupSemanticSql),
    QuerySpec("q_dedup_semantic_cap", qDedupSemanticCap, dedupSemanticCapSql),
    QuerySpec("q_mix_budget", qMixBudget, mixBudgetSql),
    QuerySpec("q_decontam_matrix", qDecontamMatrix, decontamMatrixSql),
    QuerySpec("q_dedup_impact", qDedupImpact, dedupImpactSql),
    QuerySpec("q_sample_weighted", qSampleWeighted, sampleWeightedSql,
      planOk = Map(Smell.GlobalWindow -> ("window over ≤1024 per-bucket " +
        "totals; the corpus prefix sum is bucket-partitioned"))),
    QuerySpec("q_sample_priority", qSamplePriority, samplePrioritySql),
    QuerySpec("q_pref_pairs", qPrefPairs, prefPairsSql),
    QuerySpec("q_dedup_containment", qDedupContainment, dedupContainmentSql),
    QuerySpec("q_dedup_containment_incr", qDedupContainmentIncr,
      dedupContainmentSql),
    QuerySpec("q_dedup_paragraph_incr", qDedupParagraphIncr, dedupParagraphSql),
    QuerySpec("q_dedup_minhash_eval", qDedupMinhashEval, dedupMinhashEvalSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_dedup_simhash_eval", qDedupSimhashEval, dedupSimhashEvalSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_dedup_fingerprint_eval", qDedupFingerprintEval,
      dedupFingerprintEvalSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_dedup_minhash_calib", qDedupMinhashCalib, dedupMinhashCalibSql),
    QuerySpec("q_dedup_sketchonly", qDedupSketchonly, dedupSketchonlySql),
    QuerySpec("q_dedup_sketchonly_eval", qDedupSketchonlyEval,
      dedupSketchonlyEvalSql),
    QuerySpec("q_dedup_containment_est", qDedupContainmentEst,
      dedupContainmentEstSql),
    QuerySpec("q_dedup_containment_est_eval", qDedupContainmentEstEval,
      dedupContainmentEstEvalSql),
    QuerySpec("q_dedup_sketchonly_clusters", qDedupSketchonlyClusters,
      dedupSketchonlyClustersSql),
    QuerySpec("q_graph_pagerank", qGraphPagerank, graphPagerankSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_bpe_compression", qBpeCompression, bpeCompressionSql),
    QuerySpec("q_langid_kappa", qLangidKappa, langidKappaSql),
    QuerySpec("q_curriculum", qCurriculum, curriculumSql),
    QuerySpec("q_dedup_cluster_sizes", qDedupClusterSizes, dedupClusterSizesSql),
    QuerySpec("q_sim_recall_eval", qSimRecallEval, simRecallEvalSql),
    QuerySpec("q_eval_rankcorr", qEvalRankcorr, evalRankcorrSql,
      counter = Some(trigramPositions)),
    QuerySpec("q_mix_epochs", qMixEpochs, mixEpochsSql),
    QuerySpec("q_text_ngram_coverage", qTextNgramCoverage, textNgramCoverageSql),
    QuerySpec("q_text_sentences", qTextSentences, textSentencesSql),
    QuerySpec("q_text_chunk_sentences", qTextChunkSentences,
      textChunkSentencesSql),
    QuerySpec("q_pack_eval", qPackEval, packEvalSql),
    QuerySpec("q_classify_calibration", qClassifyCalibration,
      classifyCalibrationSql),
    QuerySpec("q_graph_hits", qGraphHits, graphHitsSql),
    QuerySpec("q_graph_labelprop", qGraphLabelprop, graphLabelpropSql),
    QuerySpec("q_graph_triangles", qGraphTriangles, graphTrianglesSql),
    QuerySpec("q_graph_kcore", qGraphKcore, graphKcoreSql),
    QuerySpec("q_text_lm_score", qTextLmScore, textLmScoreSql),
    QuerySpec("q_text_lm_kn", qTextLmKn, textLmKnSql),
    QuerySpec("q_text_lm_kn3", qTextLmKn3, textLmKn3Sql),
    QuerySpec("q_text_lm_kn_incr", qTextLmKnIncr, textLmKnIncrSql),
    QuerySpec("q_text_lm_kn3_incr", qTextLmKn3Incr, textLmKn3IncrSql),
    QuerySpec("q_curation_dsir", qCurationDsir, curationDsirSql),
    QuerySpec("q_select_kcenter", qSelectKcenter, selectKcenterSql),
    QuerySpec("q_text_blocklist", qTextBlocklist, textBlocklistSql),
    QuerySpec("q_text_char_hhi", qTextCharHhi, textCharHhiSql),
    QuerySpec("q_sim_hard_negatives", qSimHardNegatives, simHardNegativesSql),
    QuerySpec("q_privacy_kanon", qPrivacyKanon, privacyKanonSql),
    QuerySpec("q_emb_class_margins", qEmbClassMargins, embClassMarginsSql),
    QuerySpec("q_text_ttr", qTextTtr, textTtrSql),
    QuerySpec("q_curation_funnel4", qCurationFunnel4, curationFunnel4Sql),
    QuerySpec("q_curation_dsir_freeze", qCurationDsirFreeze,
      curationDsirFreezeSql),
    QuerySpec("q_curation_shards", qCurationShards, curationShardsSql),
    QuerySpec("q_sim_bitext", qSimBitext, simBitextSql),
    QuerySpec("q_sim_bitext_lsh", qSimBitextLsh, simBitextLshSql),
    QuerySpec("q_sim_bitext_lsh_eval", qSimBitextLshEval, simBitextLshEvalSql),
    QuerySpec("q_privacy_redact", qPrivacyRedact, privacyRedactSql),
    QuerySpec("q_privacy_ldiv", qPrivacyLdiv, privacyLdivSql),
    QuerySpec("q_privacy_tclose", qPrivacyTclose, privacyTcloseSql),
    QuerySpec("q_text_heaps", qTextHeaps, textHeapsSql),
    QuerySpec("q_text_dup_exposure", qTextDupExposure, textDupExposureSql),
    QuerySpec("q_eval_ngram_overlap", qEvalNgramOverlap, evalNgramOverlapSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_eval_rouge_l", qEvalRougeL, evalRougeLSql,
      counter = Some(minhashPairs05)),
    QuerySpec("q_eval_fleiss", qEvalFleiss, evalFleissSql),
    QuerySpec("q_eval_self_bleu", qEvalSelfBleu, evalSelfBleuSql),
    QuerySpec("q_retrieval_ndcg", qRetrievalNdcg, retrievalNdcgSql),
    QuerySpec("q_curation_domaincap", qCurationDomaincap, curationDomaincapSql),
    QuerySpec("q_curation_funnel2", qCurationFunnel2, curationFunnel2Sql),
    QuerySpec("q_text_typicality", qTextTypicality, textTypicalitySql,
      counter = Some(trigramPositions)),
    QuerySpec("q_text_bm25", qTextBm25, textBm25Sql),
    QuerySpec("q_retrieval_hybrid", qRetrievalHybrid, retrievalHybridSql),
    QuerySpec("q_retrieval_mmr", qRetrievalMmr, retrievalMmrSql),
    QuerySpec("q_mm_meta", qMmMeta, mmMetaSql),
    QuerySpec("q_mm_frames", qMmFrames, mmFramesSql),
    QuerySpec("q_mm_audio_windows", qMmAudioWindows, mmAudioWindowsSql),
    QuerySpec("q_mm_features", qMmFeatures, mmFeaturesSql),
    QuerySpec("q_classify_source", qClassifySource,
      Classifier.trainPredictSqlOf("source")),
    QuerySpec("q_cluster_topics", qClusterTopics, clusterTopicsSql),
    QuerySpec("q_cluster_silhouette", qClusterSilhouette, clusterSilhouetteSql),
    QuerySpec("q_cluster_elbow", qClusterElbow, clusterElbowSql),
    QuerySpec("q_cluster_ari", qClusterAri, clusterAriSql),
    QuerySpec("q_mm_resize", qMmResize, mmResizeSql),
    QuerySpec("q_mm_phash", qMmPhash, mmPhashSql),
    QuerySpec("q_mm_phash_dups", qMmPhashDups, mmPhashDupsSql),
    QuerySpec("q_text_pmi", qTextPmi, textPmiSql),
    QuerySpec("q_text_skipgram", qTextSkipgram, textSkipgramSql),
    QuerySpec("q_stats_chi2", qStatsChi2, statsChi2Sql),
    QuerySpec("q_stats_gini", qStatsGini, statsGiniSql,
      planOk = Map(Smell.GlobalWindow ->
        "window over per-source totals (facet-sized)")),
    QuerySpec("q_privacy_erasure", qPrivacyErasure, privacyErasureSql),
    QuerySpec("q_link_records", qLinkRecords, linkRecordsSql),
    QuerySpec("q_text_scripts", qTextScripts, textScriptsSql),
    QuerySpec("q_stats_corr", qStatsCorr, statsCorrSql),
    QuerySpec("q_stats_regression", qStatsRegression, statsRegressionSql),
    QuerySpec("q_stats_benford", qStatsBenford, statsBenfordSql),
    QuerySpec("q_mm_scenecut", qMmScenecut, mmScenecutSql),
    QuerySpec("q_text_urls", qTextUrls, textUrlsSql),
    QuerySpec("q_curation_manifest", qCurationManifest, curationManifestSql),
    QuerySpec("q_vocab_spectrum", qVocabSpectrum, vocabSpectrumSql),
    QuerySpec("q_vocab_overlap", qVocabOverlap, vocabOverlapSql),
    QuerySpec("q_dedup_source_matrix", qDedupSourceMatrix, dedupSourceMatrixSql),
    QuerySpec("q_text_readability", qTextReadability, textReadabilitySql))
}
