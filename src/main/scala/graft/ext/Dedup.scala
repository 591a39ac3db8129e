package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing._
import graft.ops.Mat.Cp

/** Deduplication operators for large text corpora — the training-data
  * pipeline surface (north star; not in the reference, which has no text
  * processing). Four families: exact, MinHash+LSH, SimHash, exact n-gram
  * Jaccard. Embedding-space near-dup lives in [[Similarity]].
  *
  * Scale design (100 TB corpus):
  *  - exact: one hash-shuffle on a 32-byte digest, not the document text;
  *  - MinHash: signatures are computed in a single explode→groupBy pass
  *    (map-side partial min), candidates come from equi-joins on short
  *    band keys — never an all-pairs product;
  *  - SimHash: fingerprint is a pure per-row higher-order expression —
  *    NO shuffle at all until the (tiny) near-dup pair join;
  *  - Jaccard verify runs only over LSH candidates.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the smallest id as the
    * canonical representative. Shuffles 40ish bytes/doc regardless of
    * document size (sha2 computed before the exchange). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Canonical text normalization (the C4/CCNet canonicalization slot):
    * case-fold, map punctuation/symbols to spaces (letters and digits
    * of ANY script survive — a Latin-only class would collapse every
    * CJK document to the empty string), squeeze whitespace, trim. Pure
    * codegen projection; the oracle applies the IDENTICAL regex chain. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "),
      "\\s+", " "))

  /** Normalization-insensitive exact dedup: [[exact]] on the
    * [[normalizeText]] digest — catches trivially reformatted copies
    * ("Hello, World!" vs "hello world") that byte-exact dedup misses,
    * at the same cost (one digest groupBy, no similarity join; the
    * digest is computed BEFORE the exchange so shuffle width stays
    * ~40 bytes/doc). */
  def normalizedExact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), md5(normalizeText(col(textCol))).as("norm_md5"))
      .groupBy(col("norm_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles: (id, shingle) pairs. */
  def shingles(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(array_distinct(ngrams(words(col(textCol)), n))).as("shingle"))

  /** MinHash signatures: k per-document minima over universal hashes of
    * the shingle hash. One groupBy(id) with ONE mergeable sketch
    * aggregate ([[graft.functions.MinHashSketch]]) computing all k lanes
    * per buffer update; the array unpacks to mh0..mh{k-1} columns so the
    * banding stage and the DuckDB oracle are unchanged. */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    import graft.functions.MinHashSketch.minhashSketch
    sh.select(col("id"), hexInt(col("shingle")).as("h"))
      .groupBy(col("id"))
      .agg(minhashSketch(col("h"), numHashes).as("sig"))
      .select(col("id") +: (0 until numHashes).map(i => col("sig")(i).as(s"mh$i")): _*)
  }

  /** LSH banding: b rows per doc keyed by (band index, digest of the
    * band's signature slice). Equal band key ⇒ candidate pair. */
  def lshBands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("bh"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
  }

  /** Candidate pairs from shared LSH buckets (a < b, distinct). The join
    * key (band, 32-hex digest) is short and uniformly distributed — skew
    * only appears for degenerate corpora (e.g. empty docs), which an
    * upstream length filter removes.
    *
    * Self-join strategy, measured r18 (left AS the planner chooses, on
    * purpose): at bench scale one side broadcasts, so the upstream
    * signature chain executes twice — but both alternatives measured
    * SLOWER at sf0.1 (eager band checkpoint: ~+1 s/query, the
    * materialization barrier outweighs the saved recompute; SHUFFLE_HASH
    * hint pinning both sides to one reusable exchange: +6-9% on the
    * 20-query LSH family across repeated same-window runs — two shuffle
    * stages beat by the pipelined broadcast at this size). At corpus
    * scale the band frame is far past broadcast size, the planner picks
    * a sort-merge join whose two IDENTICAL shuffles plan as one
    * ReusedExchange — the signature chain runs once there without any
    * help. So the naive form is the right one at BOTH scales. */
  def lshCandidates(bandsDf: DataFrame): DataFrame = {
    val l = bandsDf.as("l")
    val r = bandsDf.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Jaccard i/u as an exact 4-decimal fixed-point value:
    * ⌊i·10⁴/u⌋ / 10⁴. i/u is a RATIONAL — round(…,4) lands exactly on
    * decimal midpoints (i/u = odd/32 etc.) where engines' round-half
    * conventions disagree; integer floor-division is unambiguous. The
    * pmod subtraction makes the double division exact (numerator is a
    * multiple of u; quotient ≤ 10⁴). */
  private def jaccard4(i: Column, u: Column): Column = {
    val scaled = i * lit(10000L)
    (scaled - pmod(scaled, u)).cast("double") / u.cast("double") / lit(10000.0)
  }

  /** Exact Jaccard for given (id_a, id_b) pairs, via two hash joins
    * against the shingle index — never materializes shingle sets. */
  def jaccardFor(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val sa = sh.select(col("id").as("id_a"), col("shingle"))
    val sb = sh.select(col("id").as("id_b"), col("shingle"))
    val inter = pairs
      .join(sa, "id_a").join(sb, Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard4(col("inter"),
          col("sz_a") + col("sz_b") - col("inter")).as("jaccard"))
  }

  /** MinHash+LSH near-dup pipeline: shingle → sign → band → candidate →
    * exact-Jaccard verify ≥ threshold. The shingle index feeds four plan
    * branches (signatures, sizes, both sides of the intersection join) —
    * materialized once via eager localCheckpoint so the explode+hash pass
    * runs once, not four times. Checkpoint, not persist: cache-registry
    * entries outlive the call (one leak per invocation in a loop or a
    * streaming batch), checkpointed blocks are GC-reclaimed. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    minhashNearDupsFromPostings(shingles(docs).cp(), threshold)

  /** [[minhashNearDups]] starting from an already-materialized (and
    * checkpointed) shingle postings list (id, shingle) — lets a caller
    * that ALSO needs the postings (the sketch-vs-exact eval queries, a
    * standing incremental index) tokenize the corpus exactly once. At
    * 100 TB the explode+hash shingle pass is a full corpus scan; an eval
    * that grades the sketch against the exact index was paying it twice
    * for byte-identical postings. */
  def minhashNearDupsFromPostings(sh: DataFrame, threshold: Double = 0.5): DataFrame = {
    val cands = lshCandidates(lshBands(minhashSignatures(sh)))
    jaccardFor(cands, sh).filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard ≥ threshold via the inverted shingle index (no
    * LSH): candidate pairs are docs sharing ≥1 kept shingle. A shingle
    * shared by m docs fans out m² pairs, so shingles with document
    * frequency > `maxDocFreq` are dropped from the index BEFORE the
    * self-join (the standard df-cap): boilerplate shingles ("terms of
    * service") stop generating quadratic candidates, and a pair of docs
    * related only through such stop-shingles has Jaccard ≪ threshold
    * anyway. Jaccard is computed over the capped shingle space on both
    * sides (sizes included), keeping the metric internally consistent.
    * At 100 TB the MinHash+LSH variant above is still the production
    * path; this one is the accuracy oracle with its hazard bounded. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = 64): DataFrame =
    // no checkpoint: the grouped-postings chain (r19) consumes the
    // postings exactly once (the bounded-collect aggregate), so the old
    // two-branch materialization point no longer exists
    ngramJaccardFromPostings(shingles(docs, n),
      threshold, maxDocFreq)

  /** Sketch-estimate calibration: for every LSH candidate pair, the
    * number of AGREEING minhash lanes (the unbiased Jaccard estimator
    * k_eq/k) bucketed against the pair's EXACT Jaccard — one row per
    * agreement level (lanes_eq, n_pairs, mean_j4 with mean exact Jaccard
    * on the 4-decimal lattice as an integer 0..10000).
    *
    * This is the table that decides whether a 100 TB run can skip the
    * exact-verify join entirely: if the lanes_eq ≥ c rows all sit above
    * the dedup threshold, thresholding on the sketch alone (a projection
    * over 16 ints already computed for banding) replaces a
    * shuffle-join against the full shingle index. Everything is
    * integer-lattice: lane agreement is a count, mean_j4 is an integer
    * floor-division — no float comparisons cross the oracle boundary. */
  def minhashEstCalibration(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).cp()
    val sig = minhashSignatures(sh).cp()
    val cands = lshCandidates(lshBands(sig)).cp()
    val est = laneAgreement(sig, cands)
    // exact Jaccard for the SAME candidates, unfiltered; j4 recovers the
    // integer lattice point exactly (jaccard is k/10⁴ for integer k)
    val ex = jaccardFor(cands, sh)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard") * 10000).cast("long").as("j4"))
    est.join(ex, Seq("id_a", "id_b"))
      .groupBy(col("lanes_eq"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sum_j4"))
      .select(col("lanes_eq"), col("n_pairs"),
        ((col("sum_j4") - pmod(col("sum_j4"), col("n_pairs"))) /
          col("n_pairs")).cast("long").as("mean_j4"))
  }

  /** Derive the calibrated sketch-only lane cutoff from the data
    * (VERDICT r13 #2 — the operating point was a hardcoded readout of
    * one draw's calibration table): run [[minhashEstCalibration]] over a
    * deterministic hash-bucket SAMPLE of the corpus, collect the
    * lanes-sized table (≤ numHashes+1 rows — a bounded collect), and
    * return the smallest lane level whose suffix (this level and every
    * stricter one) keeps mean exact Jaccard on/above `minMeanJ4`
    * (default 5000 = the 0.5 dedup threshold). Corpora with no
    * qualifying level fall back to `numHashes` (only exact-signature
    * agreement trusted).
    *
    * Sampling is what keeps the sketch-only lane's 100 TB story intact:
    * the calibration's exact-verify join runs over the sample's
    * candidates only (both endpoints must fall in the sample, so a 1/m
    * doc sample keeps ~1/m² of the pairs); production would size m so
    * the sample is a few million docs. The derivation is deterministic
    * (hash-bucketed sample, integer lattice), so the DuckDB oracle
    * re-derives the identical cutoff in SQL. */
  def calibratedLaneCutoff(docs: DataFrame, sampleMod: Int = 2,
      minMeanJ4: Long = 5000L, idCol: String = "doc_id"): Int = {
    val sample = docs.filter(pmod(hexInt(
      concat(lit("calib:"), col(idCol).cast("string"))), lit(sampleMod)) === 0)
    cutoffFromRows(minhashEstCalibration(sample)
      .select(col("lanes_eq"), col("mean_j4")).collect(), minMeanJ4)
  }

  /** [[calibratedLaneCutoff]] over PRE-COMPUTED full-corpus frames — the
    * shared-scan face for callers that already hold the checkpointed
    * postings and the all-candidates lane agreement (the sketch-only
    * eval/cluster queries, which previously re-shingled and re-signed
    * the calibration sample from text as a SECOND full chain; guide
    * §2.4). The sampled corpus's calibration table equals the
    * full-corpus frames FILTERED to pairs with both endpoints in the
    * sample, because every stage commutes with the id-predicate filter:
    * shingles/signatures/bands are per-row or per-id; [[lshCandidates]]
    * is a self-join on band keys with NO frequency caps, so the sample's
    * candidate set is exactly the full candidate set restricted to
    * sampled endpoints; [[laneAgreement]] and [[jaccardFor]] read only
    * the two endpoint docs' rows, which the filter leaves untouched.
    * `agree` must be the lane agreement over ALL candidates (minLanes
    * 0); `sh` the full postings. Returns the identical cutoff to
    * [[calibratedLaneCutoff]] on the same corpus. */
  def calibratedLaneCutoffFrom(agree: DataFrame, sh: DataFrame,
      sampleMod: Int = 2, minMeanJ4: Long = 5000L): Int = {
    def inSample(c: Column): Column = pmod(hexInt(
      concat(lit("calib:"), c.cast("string"))), lit(sampleMod)) === 0
    val sAgree = agree.filter(inSample(col("id_a")) && inSample(col("id_b")))
    // the verify join reads only sampled endpoints' postings — filtering
    // sh to the sample halves both hash-join probes (per-doc shingle
    // sets and sizes are untouched by an id filter)
    val shS = sh.filter(inSample(col("id")))
    val ex = jaccardFor(sAgree.select(col("id_a"), col("id_b")), shS)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard") * 10000).cast("long").as("j4"))
    cutoffFromRows(sAgree.join(ex, Seq("id_a", "id_b"))
      .groupBy(col("lanes_eq"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sum_j4"))
      .select(col("lanes_eq"),
        ((col("sum_j4") - pmod(col("sum_j4"), col("n_pairs"))) /
          col("n_pairs")).cast("long").as("mean_j4"))
      .collect(), minMeanJ4)
  }

  /** The suffix-min cutoff rule shared by both calibration faces:
    * smallest lane level whose suffix keeps mean exact Jaccard on/above
    * `minMeanJ4`; no qualifying level → numHashes. */
  private def cutoffFromRows(rows: Array[org.apache.spark.sql.Row],
      minMeanJ4: Long): Int = {
    var sfxMin = Long.MaxValue
    var cut = numHashes
    rows.sortBy(-_.getLong(0)).foreach { r =>
      sfxMin = math.min(sfxMin, r.getLong(1))
      if (sfxMin >= minMeanJ4) cut = r.getLong(0).toInt
    }
    cut
  }

  /** (id_a, id_b, lanes_eq): minhash lane agreement per candidate pair —
    * two broadcast-size joins against the signature table, no re-scan of
    * the corpus. */
  private[ext] def laneAgreement(sig: DataFrame, cands: DataFrame): DataFrame = {
    val aCols = col("id").as("id_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"a$i"))
    val bCols = col("id").as("id_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"b$i"))
    val lanesEq = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cands
      .join(sig.select(aCols: _*), "id_a")
      .join(sig.select(bCols: _*), "id_b")
      .select(col("id_a"), col("id_b"), lanesEq.as("lanes_eq"))
  }

  /** Sketch-only near-dup pairs: threshold on minhash lane agreement
    * (lanes_eq ≥ minLanes, the k_eq/k ≥ minLanes/k Jaccard estimate)
    * WITHOUT the exact-verify join — the 100 TB fast path the
    * [[minhashEstCalibration]] table justifies. The whole pipeline
    * touches the corpus text exactly once (shingle pass → 16-int
    * signatures); candidates and agreement run over signatures alone,
    * so the dominant shuffle is 64 bytes/doc instead of the full
    * shingle index. Precision/recall tradeoff vs the verified path is
    * measured, not assumed: see `q_dedup_sketchonly_eval`. */
  def minhashSketchOnlyDups(docs: DataFrame, minLanes: Int = 8): DataFrame =
    minhashSketchOnlyFromPostings(shingles(docs), minLanes)

  /** [[minhashSketchOnlyDups]] over pre-materialized postings (the
    * shared-scan face; postings need not be checkpointed — they are
    * consumed exactly once, by the signature aggregate). */
  def minhashSketchOnlyFromPostings(sh: DataFrame, minLanes: Int = 8): DataFrame = {
    val sig = minhashSignatures(sh).cp()
    val cands = lshCandidates(lshBands(sig))
    laneAgreement(sig, cands).filter(col("lanes_eq") >= minLanes)
  }

  /** Sketch-estimated CONTAINMENT pairs — the asymmetric complement of
    * [[minhashSketchOnlyDups]]: minhash lanes estimate Jaccard, and with
    * per-doc set sizes (one count per doc — a 16-byte aggregate, not a
    * second text pass) containment is derivable,
    *   c(a→b) = i/|a|,  i = J·(|a|+|b|)/(1+J)  with  J ≈ k_eq/k
    *   ⇒ c_est = k_eq·(|a|+|b|) / ((k+k_eq)·|a|)
    * on the exact 4-decimal lattice. Both directions of every LSH
    * candidate are scored with their own denominators, mirroring
    * [[containmentPairs]]' ordered-pair contract (id, container_id).
    *
    * No verify join, no postings self-join: after the one shingle pass
    * the plan touches signatures (64 B/doc) and sizes (16 B/doc) only —
    * the quotes/excerpt screen a 100 TB run can afford to run corpus-wide
    * (caveat: LSH candidates bound recall by SYMMETRIC similarity, so a
    * tiny excerpt inside a huge doc may never band together — the
    * measured recall in q_dedup_containment_est_eval prices exactly
    * that). */
  def containmentEstFromPostings(sh: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .cp()
    val sig = minhashSignatures(sh).cp()
    val cands = lshCandidates(lshBands(sig))
    val agree = laneAgreement(sig, cands).cp()
    containmentFromAgreement(agree, sizes, threshold)
  }

  /** The size-corrected containment estimate over an already-computed
    * lane-agreement pair list — shared by the batch path above and the
    * streaming standing-index sink ([[graft.streaming.EventStreams
    * .containmentIndexSink]], VERDICT r13 #5), so both faces score the
    * identical rational on the identical lattice. `agree` carries
    * (id_a, id_b, lanes_eq); `sizes` carries (id, sz) distinct-shingle
    * counts. Both directions of every pair are scored. */
  private[graft] def containmentFromAgreement(agree: DataFrame,
      sizes: DataFrame, threshold: Double): DataFrame = {
    val both = agree
      .select(col("id_a").as("id"), col("id_b").as("container_id"),
        col("lanes_eq"))
      .unionByName(agree.select(col("id_b").as("id"),
        col("id_a").as("container_id"), col("lanes_eq")))
    val est = both
      .join(sizes.select(col("id"), col("sz")), Seq("id"))
      .join(sizes.select(col("id").as("container_id"),
        col("sz").as("sz_c")), Seq("container_id"))
      .select(col("id"), col("container_id"), {
        val num = col("lanes_eq") * (col("sz") + col("sz_c")) * lit(10000L)
        val den = (lit(numHashes.toLong) + col("lanes_eq")) * col("sz")
        // clamped to the containment range: the estimator is EXACTLY 1
        // for a true subset under exact J, but k_eq/k sampling error can
        // push the rational above 1 (a 16/16 agreement between docs of
        // very different sizes) — containment is ≤ 1 by definition
        least(lit(1.0),
          ((num - pmod(num, den)) / den).cast("double") / 10000.0)
          .as("containment_est")
      })
    est.filter(col("containment_est") >= threshold)
  }

  /** [[containmentEstFromPostings]] from documents. */
  def containmentEstPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    containmentEstFromPostings(
      shingles(docs).cp(), threshold)

  /** [[ngramJaccardPairs]] starting from already-materialized shingle
    * postings (id, shingle), checkpointed by the caller — the shared-scan
    * face for callers that need the same postings twice (eval queries
    * grading a sketch against this exact index). */
  def ngramJaccardFromPostings(sh0: DataFrame, threshold: Double = 0.5,
      maxDocFreq: Int = 64): DataFrame = {
    // Grouped-postings truth chain (r19, guide §2.3/§2.4). The old form
    // made three passes over the full (id, shingle) stream: a df-count
    // aggregate, a left-semi cap join back onto the postings, and a
    // postings self-join by shingle over the checkpointed survivors.
    // ONE bounded-collect aggregate ([[graft.functions
    // .CollectBoundedLong]] — buffers capped at maxDocFreq+1 ids, so a
    // boilerplate shingle can never OOM a task at 100 TB) replaces all
    // three: overflowed groups ARE the df cap, the materialized index
    // stores each shingle string once instead of df times (and then
    // drops it — only id lists survive), and candidate pairs unfold
    // inline from the sorted list with no further join. Same-window
    // warm A/B (OPTIMIZATION_r19.md, sf0.1): 2.05–2.47 s → 1.19–1.57 s,
    // row-identical output. Exactness: pairs (x, y) with x < y from a
    // group's value-sorted id list, once per shared kept shingle, is
    // precisely the old self-join's id_a < id_b row multiset; sizes
    // count the same kept (id, shingle) rows.
    val grouped = groupedCappedPostings(sh0, maxDocFreq)
    val sizes = cappedSizes(grouped)
    val inter = orderedPairsFromGroups(grouped)
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard4(col("inter"),
          col("sz_a") + col("sz_b") - col("inter")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Postings grouped by shingle into bounded, value-sorted id lists —
    * the shared first stage of the exact truth chains: one exchange of
    * the postings, the df cap applied as aggregate overflow (NULL for
    * groups past `maxDocFreq`), the shingle column dropped after
    * grouping. Checkpointed: both consumers (sizes + pair generation)
    * read the id lists, never the postings. PRECONDITION: non-null ids
    * (the bounded collect skips nulls, which would undercount the cap
    * decision — every in-repo postings producer has them non-null). */
  private def groupedCappedPostings(sh0: DataFrame,
      maxDocFreq: Int): DataFrame = {
    import graft.functions.CollectBoundedLong.collectBoundedLong
    sh0.groupBy(col("shingle"))
      .agg(collectBoundedLong(col("id"), maxDocFreq).as("ids"))
      .filter(col("ids").isNotNull)
      .select(array_sort(col("ids")).as("ids"))
      .cp()
  }

  /** Per-id kept-shingle counts over the grouped capped postings —
    * row-identical to the old `capped.groupBy(id).count()`. */
  private def cappedSizes(grouped: DataFrame): DataFrame =
    grouped.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("sz"))

  /** All position-ordered id pairs (a[i], a[j]), i < j, of each group's
    * sorted id list — one row per co-occurrence of two docs on a kept
    * shingle, ascending by value within the pair. Callers filter
    * `id_a < id_b` (strict Jaccard orientation) or `id_a =!= id_b`
    * (containment, both directions restored after aggregation). */
  private def orderedPairsFromGroups(grouped: DataFrame): DataFrame =
    grouped.select(explode(expr(
      "flatten(transform(ids, (x, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))"))
      .as("p"))
      .select(col("p.x").as("id_a"), col("p.y").as("id_b"))

  /** DIRECTIONAL containment c(a→b) = |S(a)∩S(b)| / |S(a)|: flags
    * documents SUBSUMED by another (quotes, excerpts, prefix-crawl
    * re-fetches) that symmetric Jaccard misses — a short doc fully
    * contained in a long one has i/u ≈ |a|/|b| ≪ 1 but containment 1.0.
    * Emits ordered pairs (id, container_id, containment ≥ threshold);
    * both directions of every intersecting pair are scored, so mutual
    * near-copies appear twice with their own denominators.
    *
    * Same inverted-index + df-cap shape as [[ngramJaccardPairs]] (one
    * self-join on kept shingles, m² fan-out bounded by `maxDocFreq`),
    * and the same caveat: at corpus scale run it over LSH candidates;
    * this form is the exact oracle with the hazard bounded. Containment
    * is computed over the capped shingle space consistently on both
    * sides. */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Int = 64): DataFrame =
    // no checkpoint: postings are consumed once by the grouped chain (r19)
    containmentFromPostings(shingles(docs, n),
      threshold, maxDocFreq)

  /** [[containmentPairs]] starting from an already-materialized shingle
    * postings list (id, shingle) — the face [[IncrementalDedup
    * .containmentState]] reads: a standing index accumulates postings
    * once per document (text is shingled exactly once, ever) and this
    * readout scores pairs over digests alone, with the df cap computed
    * over the GLOBAL accumulated postings so the verdicts are identical
    * to a full recompute. */
  def containmentFromPostings(sh0: DataFrame, threshold: Double = 0.8,
      maxDocFreq: Int = 64): DataFrame = {
    // Same grouped-postings rewrite as [[ngramJaccardFromPostings]]
    // (r19, guide §2.3/§2.4), plus one further shuffle cut: the old
    // self-join kept BOTH orientations of every intersecting pair
    // through the pair-count exchange; intersection is symmetric, so the
    // ascending orientation is counted once and the mirror restored
    // AFTER the aggregate — half the pair rows through the exchange.
    val grouped = groupedCappedPostings(sh0, maxDocFreq)
    val sizes = cappedSizes(grouped)
    val half = orderedPairsFromGroups(grouped)
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    val inter = half.unionByName(half.select(col("id_b").as("id_a"),
      col("id_a").as("id_b"), col("inter")))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .select(col("id_a").as("id"), col("id_b").as("container_id"),
        jaccard4(col("inter"), col("sz_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Duplication-exposure score (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — duplicated text is
    * memorized disproportionately): per document, the share of its
    * distinct word n-gram shingles that also occur in ANY other
    * document. A doc at exposure 1 is wholly assembled from shared
    * text (boilerplate, quotes, near-dups the pair miners may have
    * missed below their thresholds); the score ranks what to audit or
    * down-weight even when no pair fires.
    *
    *   dup_exposure_q4 = ⌊10⁴ · #(shingles with df ≥ 2) / #shingles⌋
    *
    * Scale shape: the [[shingles]] pass (distinct per doc built in),
    * one shingle-keyed df aggregate, one co-partitioned postings⋈df
    * join (same key — no extra shuffle), one per-doc count. Docs too
    * short to shingle report 0 over 0. */
  def dupExposure(docs: DataFrame, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, n, idCol, textCol).cp()
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val per = sh.join(df, Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col(idCol)).join(per, col(idCol) === col("id"), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        // shingle-less docs report 0, not the 0/0 null
        when(coalesce(col("n_shingles"), lit(0L)) > 0L,
          jaccard4(col("n_shared"), col("n_shingles")))
          .otherwise(lit(0.0)).as("dup_exposure_q4"))
  }

  /** SimHash bits (32): per-token ±1 votes per bit position — a pure
    * projection, no explode/shuffle. The word-hash array is materialized
    * once and folded by the codegen'd [[graft.functions.SimHash32]] (one
    * traversal; the 32-aggregate higher-order form recomputed the md5 of
    * every word 32×). */
  val simhashBits = 32

  def simhash(text: Column): Column =
    graft.functions.ArrayOps.simhash32(transform(words(text), w => hexInt(w)))

  /** Fingerprint-bucket near-dups (winnowing family): candidate pairs
    * share BOTH extreme char-gram hashes — (min, max) of the 32-bit
    * 5-gram hashes, two 8-byte keys per doc, the cheapest possible bucket
    * join — then verify by exact shingle Jaccard. Content-defined, so
    * recall covers documents whose extreme grams survive the edit — a
    * complement, not a substitute, for MinHash (which bounds recall by
    * similarity); the min alone under-buckets on low-entropy corpora
    * (measured: 87 buckets over 5k synthetic docs → quadratic verify). */
  def fingerprintNearDups(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      postings: Option[DataFrame] = None): DataFrame = {
    import graft.functions.GramOps
    // materialized before the self-join (r18, guide §2.4): fp is a pure
    // projection — no exchange for physical reuse to latch onto — so
    // both join sides re-ran the full text scan + per-char-gram hashing
    // for byte-identical (id, mn, mn2, mx) rows (measured: 2.11 s →
    // 0.46 s for the candidate leg at sf0.1). 32 B/doc, never text —
    // exactly the "decide with small rows" shape at 100 TB.
    val fp = docs
      .select(col(idCol).as("id"),
        GramOps.gramExtremes(col(textCol), TextAnalysis.fpGram).as("e"))
      .select(col("id"), col("e.mn").as("mn"), col("e.mn2").as("mn2"),
        col("e.mx").as("mx"))
      .cp()
    val cands = fp.as("l").join(fp.as("r"),
        col("l.mn") === col("r.mn") && col("l.mn2") === col("r.mn2") &&
        col("l.mx") === col("r.mx") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .cp()
    val candIds = cands.select(col("id_a").as("cid"))
      .union(cands.select(col("id_b").as("cid"))).distinct()
    val sh = postings match {
      // caller already holds the corpus shingle postings (eval queries):
      // restrict to candidates — no second tokenization pass
      case Some(sh0) =>
        // checkpoint the restriction: jaccardFor reads sh three times
        // (sizes + both join sides); without it each branch re-filters
        // the full postings
        sh0.join(broadcast(candIds), col("id") === col("cid"), "left_semi")
          .cp()
      // standalone: shingle ONLY the candidate documents — the verify set
      // is tiny next to the corpus, so the explode+hash pass shrinks
      // proportionally
      case None =>
        val candDocs = docs.join(broadcast(candIds),
          col(idCol) === col("cid"), "left_semi")
        shingles(candDocs, 3, idCol, textCol).cp()
    }
    jaccardFor(cands, sh).filter(col("jaccard") >= threshold)
  }

  /** Duplicate clusters: connected components over the MinHash near-dup
    * pair graph, labeled by the smallest doc id in each component (the
    * canonical representative a dedup pipeline keeps). Min-label
    * propagation to fixpoint: each round is one equi-join of the
    * (tiny, persisted) symmetric edge set against the current labels +
    * a min-aggregate — rounds are bounded by the component diameter,
    * which for near-dup clusters is small. At extreme graph scale the
    * same loop upgrades to alternating star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) without
    * changing the contract. Singletons label themselves. */
  def duplicateClusters(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", maxIters: Int = 50): DataFrame =
    clustersFromPairs(docs,
      minhashNearDups(docs, threshold).select(col("id_a"), col("id_b")),
      idCol, maxIters)

  /** [[duplicateClusters]] over sketch-only pairs
    * ([[minhashSketchOnlyDups]] at the calibrated lane cutoff) — the
    * END-TO-END dedup pipeline with no exact-verify join anywhere:
    * shingle once → signatures → banded candidates → lane-agreement
    * threshold → connected components. After the one shingle pass
    * nothing text-wide or postings-wide survives in the plan; the
    * cluster loop state is O(|pairs|). */
  def sketchOnlyClusters(docs: DataFrame, minLanes: Int = 13,
      idCol: String = "doc_id", maxIters: Int = 50): DataFrame =
    clustersFromPairs(docs,
      minhashSketchOnlyDups(docs, minLanes).select(col("id_a"), col("id_b")),
      idCol, maxIters)

  /** Min-label connected components over an arbitrary (id_a, id_b) pair
    * graph — the loop shared by the verified and sketch-only cluster
    * faces. */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIters: Int = 50): DataFrame = {
    // localCheckpoint (eager) materializes AND truncates lineage. In an
    // iterative DataFrame algorithm plain persist() is not enough: every
    // round's logical plan embeds the previous rounds' (the self-join
    // references double it), so analysis/codegen cost grows exponentially
    // with iterations even though execution reads the cache. Truncating
    // per round keeps the driver-side plan O(1) — the same hygiene
    // GraphFrames applies. On a cluster, swap for reliable checkpoints
    // at a coarser cadence if executor loss must be survivable mid-loop.
    val edges = pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .cp()
    // Only nodes that appear in the pair graph iterate — loop state is
    // O(|edges|), not O(corpus); the (overwhelming) singleton majority
    // joins the result labeled by itself at the end, outside the loop.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).cp()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      // neighbor-min step: lbl(v) := min(lbl(v), min over lbl(neighbors))
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id")).agg(min(col("lbl")).as("nbl"))
      val stepped = labels.withColumnRenamed("lbl", "old")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nbl"), col("old"))).as("lbl"), col("old"))
      // pointer-jump step: lbl(v) := lbl(lbl(v)) — labels are node ids of
      // the same graph, so one extra self-join halves the remaining path
      // each round: convergence in O(log diameter) rounds instead of
      // O(diameter), which is what makes chain-shaped duplicate families
      // (common in crawl corpora) cheap
      val jump = stepped.select(col("lbl").as("jid"), col("id"), col("old"))
      val lblOfLbl = stepped.select(col("id").as("jid"), col("lbl").as("jlbl"))
      val next = jump.join(lblOfLbl, Seq("jid"), "left")
        .select(col("id"), coalesce(col("jlbl"), col("jid")).as("lbl"), col("old"))
        .cp()
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.drop("old")
      iters += 1
    }
    val connected = labels.select(col("id").as(idCol), col("lbl").as("cluster_id"))
    val singletons = docs.select(col(idCol))
      .join(connected.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("cluster_id", col(idCol))
    connected.unionByName(singletons)
  }

  /** Canonical selection by QUALITY rather than min-id: for every
    * duplicate cluster, keep the member with the highest
    * [[TextAnalysis.qualityScore]] (doc id breaks ties) — "of these
    * near-copies, train on the best-written one". Composes
    * [[duplicateClusters]] with the quality projection; the arg-max
    * window partitions by cluster, so there is no global funnel, and
    * cluster sizes are near-dup family sizes — small by nature.
    * Singletons pick themselves. */
  def bestOfClusters(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bestOfClustersFrom(docs, duplicateClusters(docs, threshold, idCol),
      idCol, textCol)

  /** [[bestOfClusters]] over a PRECOMPUTED cluster table — the form a
    * pipeline uses when it already ran [[duplicateClusters]] for labels,
    * so the iterative propagation doesn't run twice. */
  def bestOfClustersFrom(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = docs.select(col(idCol),
      TextAnalysis.qualityScore(col(textCol)).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col(idCol))
    clusters.join(scored, Seq(idCol))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("cluster_id"), col(idCol).as("best_id"),
        col("quality").as("best_quality"), col("n_members"))
  }

  /** Incremental dedup: documents NOT already present (by content digest)
    * in a known corpus — the "what's new since the last training run"
    * gate. Digest-keyed LEFT ANTI join: both sides shuffle 32-byte
    * digests, never text; the known side is typically the larger and
    * stays where it is.
    *
    * Null-text rows are dropped on BOTH sides, pinning the SQL `NOT IN`
    * semantics: a null digest in `docs` must not classify as novel
    * (anti-join would keep it — null keys never match), and a single null
    * digest in `known` must not drop every row (NOT IN over a set
    * containing NULL yields NULL for all). */
  def novelAgainst(docs: DataFrame, known: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol), md5(col(textCol)).as("__d"))
      .filter(col("__d").isNotNull)
    val k = known.select(md5(col(textCol)).as("__d"))
      .filter(col("__d").isNotNull)
    d.join(k, Seq("__d"), "left_anti").select(col(idCol))
  }

  /** Span-level repeated-substring detection — the exact-substring dedup
    * of Lee et al. (2022), re-expressed relationally: find maximal char
    * spans whose every k-gram occurs more than once in the corpus
    * (boilerplate, licenses, templated passages — the spans one removes
    * rather than the documents).
    *
    * Plan shape: (1) explode a position index of k-gram hashes — the
    * corpus cost is O(chars), the relational stand-in for the paper's
    * suffix array (a `stride` > 1 winnows positions for a cheaper
    * approximation); (2) mark grams whose global occurrence count > 1 —
    * one map-side-combined count keyed by the 8-byte hash, then a
    * semi-join back; (3) merge marked positions into maximal spans with
    * a per-document gaps-and-islands window (partitioned by doc — no
    * global sort). Span ends are exclusive of nothing: [start, end] spans
    * start..end chars inclusive, end = last marked pos + k - 1. */
  def repeatedSpans(docs: DataFrame, k: Int = 20, stride: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0 && stride > 0, s"need positive k/stride, got $k/$stride")
    val g = gramPositions(docs, k, stride, idCol, textCol)
    val rep = g.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val marked = g.join(rep, Seq("h"), "left_semi")
    spansFromMarked(marked, k, stride, idCol)
  }

  /** The gram-position index shared by [[repeatedSpans]] and
    * [[crossRepeatedSpans]]: one (id, pos, 60-bit hash) row per k-gram
    * position — O(chars) corpus cost, the relational stand-in for the
    * suffix array (a `stride` > 1 winnows positions for a cheaper
    * approximation). */
  private def gramPositions(docs: DataFrame, k: Int, stride: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol).as("t"))
      .filter(length(col("t")) >= k)
      .select(col(idCol), col("t"),
        explode(sequence(lit(1), length(col("t")) - (k - 1), lit(stride)))
          .as("p"))
      .select(col(idCol), col("p").cast("long").as("pos"),
        // 60-bit hash: at 10⁹+ gram positions a 32-bit key space would
        // mark ~20% of unique grams as spuriously repeated
        hexLong(col("t").substr(col("p"), lit(k))).as("h"))

  /** Merge marked gram positions (id, pos) into maximal spans — the
    * per-document gaps-and-islands window (partitioned by doc, never a
    * global sort) shared by both span faces. */
  private def spansFromMarked(marked: DataFrame, k: Int, stride: Int,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("ni",
        when(col("prev").isNull || col("pos") - col("prev") > stride, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"),
        col("n_grams"))
  }

  /** Substring-level dedup EXCISION — the rewrite half of
    * [[repeatedSpans]]: Lee et al. (2022) remove repeated SUBSTRINGS
    * rather than documents, keeping one occurrence. Contract here: among
    * all instances of a distinct maximal-span content (md5 of the span
    * text), the FIRST — smallest (doc_id, span_start) — survives; every
    * other document is rewritten with its later instances cut out.
    * Documents with no repeated spans pass through byte-identical.
    *
    * Output: (id, clean_text, n_dropped_spans, dropped_chars).
    * `n_dropped_spans` counts excised span INSTANCES; `dropped_chars`
    * counts chars actually REMOVED (= length(text) − length(clean_text))
    * — two islands whose gram positions sit closer than k overlap by up
    * to k−1 chars in char space, and those chars are removed once, not
    * once per span (ADVICE r9).
    *
    * Plan shape: the span scan is [[repeatedSpans]] (O(chars) gram
    * index, one count shuffle, per-doc islands window); the keep-first
    * choice is a map-side-combined min-aggregate over span-content
    * digests joined back on the digest — NOT a window: a corpus-wide
    * boilerplate span makes its digest a hot key, and a window must
    * colocate every instance in one task, while the aggregate reduces
    * each map partition to one row per digest before the exchange and
    * the join back is AQE-skew-splittable (VERDICT r9 #3). The rewrite
    * itself is a single `aggregate` higher-order fold over each doc's
    * sorted drop list — pure codegen projection, one pass over the text,
    * NO per-character explode (the oracle spells the same semantics
    * per-char; the engine must not). The fold's cursor is clamped
    * monotone, so char-overlapping drop spans excise their union. */
  def exciseSpans(docs: DataFrame, k: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol), col(textCol).as("t"))
    val spans = repeatedSpans(docs, k, 1, idCol, textCol)
    // materialized once (r19, guide §2.4): withDigest feeds BOTH the
    // keeper aggregate and the drops join; un-pinned, the whole
    // repeatedSpans pipeline (O(chars) gram explode ×2, count shuffle,
    // islands window) executed twice. One small row per span INSTANCE
    // (id, start, end, 32-hex digest) — never text.
    val withDigest = spans.join(d, idCol)
      .select(col(idCol), col("span_start"), col("span_end"),
        md5(col("t").substr(col("span_start").cast("int"),
          (col("span_end") - col("span_start") + 1L).cast("int"))).as("dg"))
      .cp()
    val keeper = withDigest.groupBy(col("dg"))
      .agg(min(struct(col(idCol), col("span_start"))).as("keep"))
    val drops = withDigest.join(keeper, Seq("dg"))
      .filter(!(col(idCol) === col("keep").getField(idCol) &&
        col("span_start") === col("keep").getField("span_start")))
      .select(col(idCol), col("span_start").cast("int").as("s"),
        col("span_end").cast("int").as("e"))
    rebuildExcised(d, drops, idCol)
  }

  /** The excision rewrite shared by [[exciseSpans]] and
    * [[exciseCrossSpans]]: given `d` = (id, t) and the (id, s, e) drop
    * spans, rebuild each document with the spans' UNION cut out — a
    * single `aggregate` higher-order fold over the doc's sorted drop
    * list (pure codegen projection, one pass over the text, no
    * per-character explode; the clamped-monotone cursor removes
    * char-overlapping spans once). Docs with no drops pass through
    * byte-identical. */
  private def rebuildExcised(d: DataFrame, drops: DataFrame,
      idCol: String): DataFrame = {
    val perDoc = drops.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("sp"),
        count(lit(1)).as("n_dropped_spans"))
    val rebuilt = aggregate(col("sp"),
      struct(lit(1).as("cur"), lit("").as("out")),
      (acc, span) => struct(
        greatest(span.getField("e") + 1, acc.getField("cur")).as("cur"),
        concat(acc.getField("out"),
          col("t").substr(acc.getField("cur"),
            span.getField("s") - acc.getField("cur"))).as("out")),
      acc => concat(acc.getField("out"),
        col("t").substr(acc.getField("cur"),
          length(col("t")) - acc.getField("cur") + 1)))
    d.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        when(col("sp").isNull, col("t")).otherwise(rebuilt).as("clean_text"),
        coalesce(col("n_dropped_spans"), lit(0L)).as("n_dropped_spans"))
      .select(col(idCol), col("clean_text"), col("n_dropped_spans"),
        (length(col("t")) - length(col("clean_text"))).cast("long")
          .as("dropped_chars"))
  }

  /** The frozen corpus's whole state for cross-corpus span work: its
    * DISTINCT k-gram hashes (always stride 1 — a winnowed reference
    * would miss grams and under-mark). For an eval/benchmark reference
    * this is metadata-sized and broadcasts; persist it (the
    * [[graft.ext.Decontamination.indexEval]] pattern) to amortize
    * across increments. */
  def spanGrams(ref: DataFrame, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"need positive k, got $k")
    ref.select(col(textCol).as("t"))
      .filter(length(col("t")) >= k)
      .select(col("t"),
        explode(sequence(lit(1), length(col("t")) - (k - 1))).as("p"))
      .select(hexLong(col("t").substr(col("p"), lit(k))).as("h"))
      .distinct()
  }

  /** Cross-corpus span marking (VERDICT r17 #5) — the two-corpus face
    * of [[repeatedSpans]]: maximal char spans of `docs` whose every
    * k-gram occurs ANYWHERE in the frozen corpus behind `refGrams`
    * ([[spanGrams]]). This is the span-level train-vs-eval /
    * train-vs-frozen-train split of Lee et al. (2022): the spans worth
    * excising repeat against a DIFFERENT corpus (a benchmark, an
    * earlier crawl already trained on), where [[repeatedSpans]] only
    * sees repetition within this one.
    *
    * Scale shape: the [[Decontamination.evalGrams]] broadcast
    * discipline — the reference's distinct 8-byte gram hashes broadcast
    * into a semi-join, the train corpus is touched ONCE (gram index +
    * per-doc islands window, no corpus shuffle of text); a reference
    * past broadcast size degrades to the same plan minus the hint (a
    * shuffled hash semi-join), never all-pairs. */
  def crossRepeatedSpans(docs: DataFrame, refGrams: DataFrame,
      k: Int = 20, stride: Int = 1, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0 && stride > 0, s"need positive k/stride, got $k/$stride")
    val g = gramPositions(docs, k, stride, idCol, textCol)
    val marked = g.join(broadcast(refGrams.select(col("h"))),
      Seq("h"), "left_semi")
    spansFromMarked(marked, k, stride, idCol)
  }

  /** Cross-corpus span EXCISION — decontamination-by-excision at span
    * level (VERDICT r17 #5; q_decontam_excise is its doc/word-lattice
    * sibling): cut every char span of `docs` whose k-grams all occur in
    * the frozen corpus. ALL marked instances drop — there is no
    * keep-first here, because the canonical copy lives in the reference
    * corpus, not in `docs`. Output contract identical to
    * [[exciseSpans]]: (id, clean_text, n_dropped_spans, dropped_chars),
    * clean docs pass through byte-identical. */
  def exciseCrossSpans(docs: DataFrame, refGrams: DataFrame, k: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol), col(textCol).as("t"))
    val drops = crossRepeatedSpans(docs, refGrams, k, 1, idCol, textCol)
      .select(col(idCol), col("span_start").cast("int").as("s"),
        col("span_end").cast("int").as("e"))
    rebuildExcised(d, drops, idCol)
  }

  /** Paragraph-level dedup — the Gopher/MassiveText middle ground
    * between document dedup ([[exact]]) and substring excision
    * ([[exciseSpans]]): split each document into paragraphs on a
    * separator, keep the FIRST occurrence (smallest (doc_id, position))
    * of each distinct paragraph corpus-wide, drop every later
    * occurrence, and reassemble the survivors in original order. The
    * canonical use is stripping cross-page boilerplate (nav bars,
    * license footers) that repeats verbatim across millions of pages.
    *
    * Output: (id, clean_text, n_paragraphs, n_dropped_paras). A document
    * whose every paragraph first appeared elsewhere reassembles to the
    * empty string (the downstream length filter's job, not this one's).
    *
    * Scale shape: paragraphs shuffle as (md5 digest, doc, pos) triples
    * — never the paragraph text (the digest is the groupBy key, text
    * stays with its source row until reassembly). Keep-first is a
    * map-side-combinable min-struct aggregate per digest, NOT a window:
    * a corpus-wide boilerplate paragraph makes its digest a hot key,
    * and the aggregate reduces each map partition to one row per digest
    * before the exchange while the join back is AQE-skew-splittable —
    * the same discipline as [[exciseSpans]]' keeper. Reassembly is one
    * per-doc sort-in-array (collect_list + array_sort), partitioned by
    * doc id: no global sort, no window funnel. */
  def paragraphDedup(docs: DataFrame, sep: String = "\n",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol), col(textCol).as("t"))
    val paras = d.select(col(idCol),
        posexplode(split(col("t"), java.util.regex.Pattern.quote(sep))))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").as("para"))
    val withDg = paras.select(col(idCol), col("pos"), col("para"),
      md5(col("para")).as("dg"))
    val keeper = withDg.groupBy(col("dg"))
      .agg(min(struct(col(idCol), col("pos"))).as("keep"))
    val kept = withDg.join(keeper, Seq("dg"))
      .filter(col(idCol) === col("keep").getField(idCol) &&
        col("pos") === col("keep").getField("pos"))
      .select(col(idCol), col("pos"), col("para"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          p => p.getField("para"))).as("clean_text"))
    val totals = d.select(col(idCol),
      (size(split(col("t"), java.util.regex.Pattern.quote(sep))))
        .cast("long").as("n_paragraphs"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paragraphs"),
        (col("n_paragraphs") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped_paras"))
  }

  /** Approximate novelty gate: [[novelAgainst]]'s scale path when the
    * known corpus is too large to sit on one side of a join every run. A
    * Bloom filter of the known set's 64-bit content hashes is built ONCE
    * (one mergeable aggregate pass, fixed memory: ~1.2 bytes/key at 1%
    * fpp), then the incoming corpus is gated by a pure filter projection
    * — no join, no shuffle, scan speed.
    *
    * One-sided error, the conservative direction for training hygiene: a
    * false positive drops a genuinely novel doc (rate ≤ fpp), a known doc
    * is NEVER classified novel. Spark's Bloom filter is deterministic
    * (fixed hash seed), so results reproduce run-to-run. The serialized
    * filter lands on the driver and ships once in the task binary — size
    * expectedItems honestly (10⁹ keys @1% ≈ 1.2 GB; beyond that, shard
    * by digest prefix or fall back to [[novelAgainst]]). */
  def novelAgainstApprox(docs: DataFrame, known: DataFrame,
      expectedItems: Long = 1L << 22, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.BloomOps
    val numBits = BloomOps.optimalNumBits(expectedItems, fpp)
    val bloom = known.filter(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("__h"))
      .agg(BloomOps.bloomAgg(col("__h"), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    val d = docs.filter(col(textCol).isNotNull)
    if (bloom == null) d.select(col(idCol)) // empty known set: all novel
    else d.filter(!BloomOps.mightContain(lit(bloom), xxhash64(col(textCol))))
      .select(col(idCol))
  }

  /** Cross-modal dedup verification: MinHash text near-dup pairs scored
    * against the documents' embedding cosine — textual duplicates whose
    * embeddings disagree (template pages, boilerplate collisions) and
    * vice versa are exactly the pairs a curation pipeline wants a human
    * (or a stronger model) to arbitrate. Pairs stream through two hash
    * joins against the embedding table; nothing quadratic. */
  def crossModalNearDups(docs: DataFrame, emb: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val v = emb.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    minhashNearDups(docs, threshold)
      .join(v.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nv").as("na")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nv").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        round(Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("cos"))
  }

  /** Dedup IMPACT report: what exact deduplication would remove, per
    * stratum — the datasheet row ("source X is 40% verbatim copies")
    * that decides whether a crawl slice is worth re-fetching. Keeper =
    * smallest id per content digest (the [[exact]] rule); every other
    * row is a removable duplicate. Null-text docs are counted in
    * `n_docs` but never as duplicates (no content to collide on —
    * matching [[exact]]'s null semantics).
    *
    * Scale shape: one digest groupBy (map-side combined, digests not
    * text on the wire) + one broadcast-joinable keeper lookup; the
    * rollup is a stratum-keyed count/sum aggregate. No windows, no
    * all-pairs. */
  def dedupImpact(docs: DataFrame, stratum: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol), stratum.as("stratum"),
      col(textCol).as("__t"), length(col(textCol)).cast("long").as("__len"))
    val keeper = d.filter(col("__t").isNotNull)
      .groupBy(md5(col("__t")).as("dg"))
      .agg(min(col(idCol)).as("keep_id"))
    val flagged = d.withColumn("dg",
        when(col("__t").isNotNull, md5(col("__t"))))
      .join(keeper, Seq("dg"), "left")
      .select(col("stratum"), col("__len"),
        when(col("keep_id").isNotNull && col("keep_id") =!= col(idCol), 1L)
          .otherwise(0L).as("is_dup"))
    val dupChars = coalesce(col("dup_chars"), lit(0L))
    flagged.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup_docs"),
        coalesce(sum(col("__len")), lit(0L)).as("total_chars"),
        coalesce(sum(when(col("is_dup") === 1L, col("__len"))
          .otherwise(0L)), lit(0L)).as("dup_chars"))
      .select(col("stratum"), col("n_docs"), col("n_dup_docs"),
        col("total_chars"), dupChars.as("dup_chars"), {
          val scaled = col("n_dup_docs") * lit(10000L)
          when(col("n_docs") > 0,
            ((scaled - pmod(scaled, col("n_docs"))) / col("n_docs"))
              .cast("double") / 10000.0)
            .otherwise(lit(0.0)).as("dup_frac")
        })
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with k-means, then drop documents whose cosine to ANOTHER
    * member of the SAME cluster exceeds `threshold` — semantic
    * duplicates (paraphrases, templated rewrites, translations) that no
    * lexical dedup can see. Keep policy is the deterministic
    * ordered-scan greedy: a document is dropped iff some SMALLER-id
    * member of its cluster is within threshold (so the smallest id of
    * every semantic group survives; a dropped doc's `dup_of` names the
    * smallest such witness).
    *
    * Output: (vec_id, cent_id, dup_of, n_dups_smaller, keep).
    *
    * Scale shape — the reason SemDeDup beats all-pairs at 100 TB: the
    * all-pairs cosine is confined WITHIN clusters, and k grows with the
    * corpus (the paper uses k ≈ √n · c) so expected cluster size stays
    * bounded; cost is Σ|cluster|² ≈ n²/k, tunable to n·√n or below. The
    * k-means fit is [[KMeans.fit]]'s integer-lattice Lloyd (centroids
    * collect driver-side, assignment is a zero-shuffle literal
    * projection); the pair join shuffles each cluster's members to one
    * task — AQE skew-split handles a moderately fat cluster, and
    * `witnessCap` is the hard guard: when > 0, only the `witnessCap`
    * smallest-id members of each cluster act as WITNESSES (the a-side
    * of the pair join), so one degenerate giant cluster costs at most
    * cap·|cluster| comparisons instead of |cluster|². Every member is
    * still probed (b-side), and because the keep policy already
    * privileges small ids the capped witness set is exactly the members
    * that survive an uncapped scan's earliest picks; a doc whose ONLY
    * in-threshold witnesses rank beyond the cap is conservatively kept
    * (dedup misses, never over-drops). The witness ranking itself is a
    * window over (cent_id, id) pairs — two longs per row, never the
    * embedding vectors. */
  def semanticDedup(emb: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.4, idCol: String = "vec_id",
      embCol: String = "embedding", witnessCap: Int = 0): DataFrame = {
    val cents = KMeans.fit(emb, k, iters, 1, idCol, embCol)
    val asg = KMeans.assignments(emb, cents, idCol, embCol)
      .select(col("id"), col("cent_id")).cp()
    val v = emb.select(col(idCol).as("id"),
        Similarity.toDouble(col(embCol)).as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val m = asg.join(v, Seq("id"))
    val aSide = if (witnessCap > 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cent_id")).orderBy(col("id"))
      val witnessIds = asg.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= witnessCap).select(col("id"))
      m.join(witnessIds, Seq("id"), "left_semi")
    } else m
    val pairs = aSide.as("a").join(m.as("b"),
        col("a.cent_id") === col("b.cent_id") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nv") * col("b.nv")), 6).as("cos"))
      .filter(col("cos") >= threshold)
    val dups = pairs.groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"),
        count(lit(1)).as("n_dups_smaller"))
    asg.join(dups, Seq("id"), "left")
      .select(col("id").as(idCol), col("cent_id"), col("dup_of"),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, candidates via
    * 8-bit band equality (any of 4 bands equal ⇒ candidate — guarantees
    * recall for distance ≤ 3 by pigeonhole). */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // materialized before the band self-join (r19, guide §2.4 — the
    // fingerprintNearDups shape): fp is a pure projection, so without a
    // barrier BOTH join sides re-ran the full text scan + per-word
    // hashing + simhash fold for byte-identical (id, fp) rows (at bench
    // scale one side broadcasts; measured ~1.05 → ~0.9 s warm at sf0.1,
    // and at corpus scale this halves the dominant text pass). 16 B/doc,
    // never text — "decide with small rows".
    val withFp = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
      .cp()
    val banded = withFp.select(col("id"), col("fp"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * 8).bitwiseAND(lit(0xFFL)).as("bh"))): _*)).as("bb"))
      .select(col("id"), col("fp"), col("bb.band"), col("bb.bh"))
    val l = banded.as("l")
    val r = banded.as("r")
    val cands = l.join(r, col("l.band") === col("r.band") &&
        col("l.bh") === col("r.bh") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("l.fp").as("fp_a"),
        col("r.id").as("id_b"), col("r.fp").as("fp_b"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Edit-distance near-dup pairs over SHORT KEY strings — the
    * entity-resolution member of the dedup family (names, titles,
    * emails, product keys), complementing the token/hash families
    * (MinHash, SimHash, winnowing) which see word-level similarity but
    * not character-level typos.
    *
    * Candidate generation is PassJoin-style pigeonhole segment blocking
    * (Li, Deng, Feng, ICDE 2011): partition each string into
    * `maxDist + 1` contiguous segments — at most `maxDist` edit
    * operations can touch at most `maxDist` segments, so any string
    * within distance d shares at least ONE segment verbatim as a
    * substring. Index side emits its d+1 segments; probe side emits all
    * substrings of the lengths those segments can take (lengths of
    * strings within ±d); the equi-join on segment content yields a
    * candidate SUPERSET with no false negatives for strings of length
    * >= d+1, a supplemental bounded block covers the shorter ones (see
    * inline note), and the exact `levenshtein` filter (built-in,
    * codegen, identical in DuckDB) keeps correctness exact — the recall
    * guarantee is property-tested over random edit scripts.
    *
    * Scale shape: explode factor is O(len·d) per row — intended for KEY
    * strings of tens of characters, not documents (the gram/hash
    * families own long text); the join is an equi-join on segment
    * content, never a product. Known hazard: low-entropy shared
    * prefixes (e.g. a constant "Customer#" prefix) produce hot blocks —
    * `saltFactor > 1` spreads each hot segment over that many reducer
    * partitions via [[graft.ops.SkewJoin]] (probe side salted, segment
    * side replicated; multiplicity preserved exactly, so the result is
    * identical). Entropy-rich keys block evenly at saltFactor = 1. */
  def editDistancePairs(df: DataFrame, maxDist: Int = 1,
      idCol: String = "id", strCol: String = "s",
      saltFactor: Int = 1): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(saltFactor >= 1, s"saltFactor must be >= 1, got $saltFactor")
    val d = maxDist
    val k = d + 1
    val base = df.select(col(idCol).cast("long").as("id"),
      col(strCol).as("s"), length(col(strCol)).as("n"))
    val segs = base
      .select(col("id"), col("s"), col("n"),
        explode(sequence(lit(0), lit(d))).as("i"))
      .withColumn("st", expr(s"(i * n) div $k + 1"))
      .withColumn("sl", expr(s"((i + 1) * n) div $k - (i * n) div $k"))
      .filter(col("sl") >= 1)
      .withColumn("seg", expr("substring(s, st, sl)"))
      .select(col("id").as("id_a"), col("s").as("s_a"),
        col("n").as("n_a"), col("seg"))
    val probes = base
      .select(col("id"), col("s"), col("n"),
        explode(sequence(
          expr(s"greatest(1, (n - $d) div $k)"),
          expr(s"(n + ${2 * d}) div $k"))).as("L"))
      .filter(col("n") - col("L") + 1 >= 1)
      .select(col("id"), col("s"), col("n"), col("L"),
        explode(sequence(lit(1), col("n") - col("L") + 1)).as("p"))
      .withColumn("seg", expr("substring(s, p, L)"))
      .select(col("id").as("id_b"), col("s").as("s_b"),
        col("n").as("n_b"), col("seg"))
    // Pigeonhole needs d+1 NONEMPTY segments, i.e. length >= d+1 — two
    // strings of length <= d can be fully rewritten by d edits and share
    // no segment. Supplemental exact block: a string of length <= d is
    // within distance d of t only if |t| <= 2d (ed >= ||s|-|t||), so
    // crossing the <= d-length strings with the <= 2d-length ones covers
    // every pair either pigeonhole direction misses. Both sides are
    // bounded-length (and in key data, bounded-cardinality) — the tiny
    // side broadcasts.
    val tiny = base.filter(col("n") <= d)
      .select(col("id").as("id_a"), col("s").as("s_a"), col("n").as("n_a"))
    val shortish = base.filter(col("n") <= 2 * d)
      .select(col("id").as("id_b"), col("s").as("s_b"), col("n").as("n_b"))
    val segPairs = (if (saltFactor > 1)
        graft.ops.SkewJoin.saltedInnerJoin(probes, segs, Seq("seg"),
          saltFactor)
      else segs.join(probes, "seg"))
      .select(col("id_a"), col("s_a"), col("n_a"),
        col("id_b"), col("s_b"), col("n_b"))
    val cand = segPairs.unionByName(broadcast(tiny).crossJoin(shortish))
      .filter(col("id_a") =!= col("id_b") &&
        abs(col("n_a") - col("n_b")) <= d)
      .select(
        least(col("id_a"), col("id_b")).as("ida"),
        greatest(col("id_a"), col("id_b")).as("idb"),
        when(col("id_a") < col("id_b"), col("s_a")).otherwise(col("s_b")).as("sa"),
        when(col("id_a") < col("id_b"), col("s_b")).otherwise(col("s_a")).as("sb"))
      .distinct()
    cand.filter(levenshtein(col("sa"), col("sb")) <= d)
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("dist"))
  }
}
