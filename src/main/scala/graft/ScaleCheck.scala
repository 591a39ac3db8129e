package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale checkpoint (VERDICT r9 #2): times the heaviest queries at
  * sf0.1 and at a synthesized 10× corpus ("sf1"), printing per-query
  * ratios — a 10× data point under the 100 TB linearity claims in
  * SCALE.md. A scan-bound operator should land near 10× (local[32] has
  * spare cores at sf0.1, so <10× is common); anything super-linear
  * (≳15×) is flagged for a named cause.
  *
  * The sf1 corpus is derived, not copied: facts replicate `reps` times
  * with ids shifted per replica (join keys shifted consistently), and
  * TEXT columns get a per-replica caesar rotation — 10 byte-identical
  * copies would turn the whole corpus into exact duplicates and
  * degenerate every dedup operator into one giant cluster, while rotated
  * text keeps each replica's internal near-dup/span/vocabulary structure
  * intact and disjoint from the others (vocabulary grows 10×, the shape
  * a real corpus has). Embeddings replicate with new ids (same vector
  * distribution, 10× rows); dims (region/nation/customer/supplier) stay
  * 1× like real dimensions do.
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_SCALE_DIR
  * (output, default target/scale/sf1), SPARK_GRAFT_SCALE_REPS (default
  * 10), SPARK_GRAFT_CPUS (default 32). Args: query names (default: the
  * committed heavy set). Generation is cached: a `_done` marker skips it.
  */
object ScaleCheck {

  val heavySet: Seq[String] = Seq(
    "q1_agg", "q_dedup_minhash", "q_dedup_ngram_jaccard", "q_dedup_spans",
    "q_dedup_excise", "q_dedup_best", "q_dedup_clusters",
    "q_dedup_fingerprint", "q_sim_pq", "q_sim_ivfpq_indexed",
    "q_sim_ivfpq_build", "q_sim_ivfpq_res_indexed", "q_retrieval_hybrid",
    "q_text_bm25", "q_text_bpe", "q_scd2_apply", "q_skew_join",
    "q_quantile_profile", "q_classify_source", "q_cluster_topics",
    // r10 additions: the new dedup/tokenizer/sketch/retrieval surface
    "q_dedup_paragraph", "q_bpe_train", "q_text_bpe_trained",
    "q_sketch_cms", "q_emb_project", "q_sim_topk_proj", "q_retrieval_mmr",
    // r11 additions: graph iteration, approximation evals, global-order
    "q_graph_pagerank", "q_dedup_minhash_eval", "q_sim_recall_eval",
    "q_eval_rankcorr", "q_curriculum",
    // r12 additions: the full graph family (VERDICT r11 #1 — HITS was
    // the one found scale-killer) and the capped SemDeDup
    "q_graph_hits", "q_graph_labelprop", "q_dedup_semantic_cap",
    // r12 new operators: triangle census, k-core peel, bigram LM
    "q_graph_triangles", "q_graph_kcore", "q_text_lm_score",
    // r12 batch 2: DSIR model-build+rescan, k-center driver loop,
    // triplet mining (anchor-broadcast corpus scan)
    "q_curation_dsir", "q_select_kcenter", "q_sim_hard_negatives",
    // r12 batch 6/7: bitext candidate stream, pair-graded n-gram
    // precision, bucketed write+join
    "q_sim_bitext", "q_eval_ngram_overlap", "q_store_bucketed",
    "q_eval_rouge_l", "q_eval_self_bleu",
    // r12 batch 10: token-pair generators, register sketch, blocked
    // linkage, compaction write path (chi2/gini are one-pass facet
    // aggregates — not heavy-set material, same call as fleiss)
    "q_text_pmi", "q_text_skipgram", "q_sketch_hll", "q_link_records",
    "q_store_compact",
    // r13 additions: the round's perf-touched queries (single-pass
    // langId stratified sample, one-pass boilerplate, plain-PQ indexed
    // search) so their sf1 rows stay current with the new plans
    "q_sample_stratified", "q_text_boilerplate", "q_sim_pq_indexed",
    // r13 shared-scan refactors: one-tokenization eval chains + the
    // self-trained classifier gate in funnel v3
    "q_dedup_fingerprint_eval", "q_curation_funnel3",
    // r13 new operators: sketch-only dedup (+calibration/eval), KN LM,
    // span excision, n-sweep contamination profile
    "q_dedup_sketchonly", "q_dedup_sketchonly_eval", "q_dedup_minhash_calib",
    "q_text_lm_kn", "q_decontam_excise", "q_decontam_profile",
    "q_dedup_containment_est", "q_dedup_containment_est_eval",
    "q_dedup_sketchonly_clusters",
    // r12 batch 11: frame-window shot detection and the full-scan
    // correlation pass (scripts/benford/regression are one-pass
    // projections/aggregates — covered by the scan-bound family)
    "q_mm_scenecut", "q_stats_corr",
    // r12 batch 14: vocab-count shuffle + facet-bounded postings self-join
    "q_vocab_spectrum", "q_vocab_overlap",
    // r12 batch 15: snapshot write+read and the two-exceptAll CDC diff
    "q_store_timetravel", "q_store_cdc",
    // r12 batch 16: pair-bounded leakage matrix over the LSH generator
    "q_dedup_source_matrix",
    // r14 new operators: ANN-routed semantic decontamination (+grade),
    // the unigram-LM tokenizer family (distinct-word Viterbi DP,
    // driver-side EM train), and the BPE-vs-unigram parity readout
    "q_decontam_semantic_indexed", "q_decontam_semantic_indexed_eval",
    "q_text_unigram", "q_unigram_train", "q_text_unigram_trained",
    "q_text_tokenizer_parity",
    // r14 batch 2: greedy tokenizer faces + the truncation recall eval
    "q_text_wordpiece", "q_text_wordpiece_trained",
    "q_tokenizer_greedy_gap", "q_sim_matryoshka_recall",
    "q_sample_priority",
    // r15 additions: BERT-convention WordPiece faces, the memoized
    // incremental tokenizer (the sf1 row prices the FULL two-increment
    // recompute — the incremental win shows in the per-increment spec,
    // not here), and the trigram-KN perplexity filter
    "q_text_wordpiece_bert", "q_tokenizer_bert_parity",
    "q_text_unigram_incr", "q_text_lm_kn3", "q_text_lm_kn_incr",
    "q_text_lm_kn3_incr",
    // r16 additions: the LSH-composed corpus×corpus bitext miner (the
    // band-candidate volume is the scale claim), its graded eval
    // (deliberately runs the exact quadratic side too), and the
    // one-pass per-lang fertility table
    "q_sim_bitext_lsh", "q_sim_bitext_lsh_eval", "q_tok_fertility",
    // r17 additions: byte-level BPE face + parity, CCNet KN funnel,
    // Heaps curve + duplication exposure (both corpus-postings-shaped)
    "q_text_bpe_bytes", "q_bpe_bytes_parity", "q_curation_funnel5",
    "q_text_heaps", "q_text_dup_exposure", "q_tok_oov",
    // r18 additions: cross-corpus span excision (train-side gram index +
    // broadcast ref-gram semi-join — the linear term is the train scan)
    // and its per-source release-gate rollup
    "q_decontam_spans", "q_decontam_span_matrix",
    // r18 batch 2: the cluster-quality battery — |fits| corpus scans
    // with literal-projection assignment (elbow = 3 fits; ARI adds one
    // K·L-row contingency aggregate)
    "q_cluster_silhouette", "q_cluster_elbow", "q_cluster_ari")

  private val lowerAz = "abcdefghijklmnopqrstuvwxyz"
  private val upperAz = lowerAz.toUpperCase

  /** Per-replica caesar rotation over letters (digits/punct unchanged):
    * replica 0 is the original text. */
  private def caesar(c: org.apache.spark.sql.Column, k: Int) =
    if (k == 0) c
    else {
      val lo = lowerAz.drop(k % 26) + lowerAz.take(k % 26)
      translate(c, lowerAz + upperAz, lo + lo.toUpperCase)
    }

  private def span(df: DataFrame, idCol: String): Long = {
    val r = df.agg(max(col(idCol).cast("long"))).head()
    require(!r.isNullAt(0), s"empty source table (no $idCol) — cannot scale")
    r.getLong(0) + 1L
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      reps: Int): Unit = {
    def load(n: String) = Tables.load(spark, srcDir, n)
    def write(n: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$n.parquet")

    Seq("region", "nation", "customer", "supplier").foreach(n =>
      write(n, load(n)))

    val docs = load("documents")
    val dSpan = span(docs, "doc_id")
    write("documents", (0 until reps).map(k =>
      docs.select((col("doc_id") + k * dSpan).as("doc_id"),
        caesar(col("text"), k).as("text"), col("lang"), col("source"),
        col("n_chars"))).reduce(_.unionByName(_)))

    val emb = load("embeddings")
    val eSpan = span(emb, "vec_id")
    write("embeddings", (0 until reps).map(k =>
      emb.select((col("vec_id") + k * eSpan).as("vec_id"),
        col("embedding"), col("label"))).reduce(_.unionByName(_)))

    val part = load("part")
    val pSpan = span(part, "p_partkey")
    write("part", (0 until reps).map(k =>
      part.select((col("p_partkey") + k * pSpan).as("p_partkey"),
        caesar(col("p_name"), k).as("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")))
      .reduce(_.unionByName(_)))

    val ev = load("events")
    val evSpan = span(ev, "event_id")
    val uSpan = span(ev.select(col("user_id")), "user_id")
    write("events", (0 until reps).map(k =>
      ev.select((col("event_id") + k * evSpan).as("event_id"), col("ts"),
        (col("user_id") + k * uSpan).as("user_id"), col("event_type"),
        col("value"), col("props"))).reduce(_.unionByName(_)))

    val ord = load("orders")
    val oSpan = span(ord, "o_orderkey")
    write("orders", (0 until reps).map(k =>
      ord.select((col("o_orderkey") + k * oSpan).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority")))
      .reduce(_.unionByName(_)))

    val li = load("lineitem")
    write("lineitem", (0 until reps).map(k =>
      li.select((col("l_orderkey") + k * oSpan).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))).reduce(_.unionByName(_)))

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/_done"), s"reps=$reps\n")
  }

  private def makeSession(cpus: String): SparkSession = {
    val s = Sessions.local(cpus)
    // same untimed warmup as Bench (r13): without it the FIRST query of
    // each pass absorbs session+HOF JIT (measured: q_sample_stratified
    // read 7.7 s at sf0.1 and 1.2 s at sf1 purely from run order)
    Bench.warmup(s)
    s
  }

  /** (seconds, succeeded). A failure records time-to-crash but is
    * MARKED — a crashed run's ratio must never read as a measurement
    * (a fast OOM at 10× would otherwise look like great scaling). */
  private def runOne(spark: SparkSession, name: String,
      dir: String): (Double, Boolean) = {
    // same untimed setup contract as Bench (r13): indexed searches are
    // timed search-only at BOTH scales or the ratio mixes build into
    // whichever side ran on colder scratch
    try SparkEntry.benchSetup.get(name).foreach(f => f(spark, dir))
    catch { case e: Throwable =>
      System.err.println(s"[scale] $name setup @ $dir failed: ${e.getMessage}")
    }
    val t0 = System.nanoTime()
    val ok =
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[scale] $name @ $dir failed: ${e.getMessage}")
        false
      }
    val elapsed = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    (elapsed, ok)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = if (args.nonEmpty) args.toSeq else heavySet

    var spark = makeSession(cpus)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/_done"))) {
      val t0 = System.nanoTime()
      generate(spark, srcDir, outDir, reps)
      System.err.println(f"[scale] generated $outDir (${reps}x) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    def restart(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.gc()
      spark = makeSession(cpus)
    }
    // base pass, then scaled pass on a fresh session (heap parity)
    val base = names.map(n => n -> runOne(spark, n, srcDir)).toMap
    restart()
    val scaled = names.map(n => n -> runOne(spark, n, outDir)).toMap
    val entries = names.map { n =>
      val ((bT, bOk), (sT, sOk)) = (base(n), scaled(n))
      val r = sT / math.max(bT, 1e-9)
      val failed = if (bOk && sOk) "" else """, "failed": true"""
      f"""    "$n": {"sf01_sec": $bT%.3f, "sf1_sec": $sT%.3f, "ratio": $r%.2f$failed}"""
    }
    println(s"""{\n  "reps": $reps,\n  "queries": {\n${entries.mkString(",\n")}\n  }\n}""")
    spark.stop()
  }
}
