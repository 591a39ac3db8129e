package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing._
import graft.ops.Mat.Cp

/** Model-based document classification — the second-stage filter every
  * production pre-training pipeline runs after the heuristic gates
  * ([[TextAnalysis.qualityScore]], Gopher flags): a classifier trained on
  * the corpus itself routes documents to domains / quality buckets
  * (fastText-style filtering in CCNet and the LLaMA data pipeline; no
  * reference equivalent — north-star extension surface).
  *
  * The model is a CENTROID (Rocchio) classifier over word unigrams: a
  * class's profile is its L1-normalized gram-frequency vector, a
  * document's score for a class is the sum of profile weights over its
  * gram occurrences, predict = argmax. Chosen over logistic/NB forms
  * deliberately: training is ONE map-side-combined aggregation (no
  * gradient loop), and with profile weights on a fixed-point q6 lattice
  * (integer floor division of exact counts) both training and scoring
  * are INTEGER arithmetic end-to-end — order-independent, overflow-safe
  * (score < 10⁶·|doc grams| ≪ 2⁶³) and bit-identical in any engine, so
  * the DuckDB oracle checks the whole train→predict chain, not a
  * rounded proxy. A log-space NB twin would hash-diverge on summation
  * order; argmax parity here is exact.
  *
  * Scale shape: training shuffles (label, gram) count pairs — digests,
  * never text — sized |vocab|·|classes|, map-side combined. Scoring
  * joins doc gram occurrences to the profile table; profiles are
  * vocabulary-sized (bounded by training-corpus vocab, not corpus rows)
  * and broadcast when small; past broadcast size the join degrades to a
  * hash-partitioned equi-join on the gram — never all-pairs. The argmax
  * is a map-side-combined struct-min per doc, not a window.
  */
object Classifier {

  /** Train: per-class L1-normalized gram frequencies on the q6 lattice.
    * Output: (label, gram, w_q6: long). One pass: [[trainState]] +
    * [[profilesFromState]]. */
  def classProfiles(docs: DataFrame, labelCol: String = "source",
      textCol: String = "text"): DataFrame =
    profilesFromState(trainState(docs, labelCol, textCol))

  /** Mergeable training state: per-(label, gram) occurrence counts — a
    * commutative monoid (merge = addition), the same incremental
    * discipline as [[IncrementalAgg]]: new labeled docs fold in at
    * O(increment) cost and profiles re-derive from the state without
    * ever re-scanning the corpus. State size is bounded by
    * |vocab|·|classes|, not corpus rows. */
  def trainState(docs: DataFrame, labelCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(labelCol).as("label"),
        explode(words(lower(col(textCol)))).as("gram"))
      .groupBy(col("label"), col("gram"))
      .agg(count(lit(1)).as("cnt"))

  /** Fold two training states (shuffles STATE rows, never documents). */
  def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("label"), col("gram"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** Profiles from a training state: class totals re-derived by one
    * state-sized aggregation, weights by exact floor division. */
  def profilesFromState(state: DataFrame): DataFrame = {
    val tot = state.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    state.join(tot, Seq("label"))
      .select(col("label"), col("gram"),
        ((col("cnt") * 1000000L - pmod(col("cnt") * 1000000L, col("tot")))
          / col("tot")).cast("long").as("w_q6"))
  }

  /** Score + argmax: each document's predicted label and its q6 score.
    * Ties break to the lexicographically smallest label (struct-min on
    * (-score, label) — deterministic cross-engine). Docs whose grams all
    * miss the profile table (empty docs, fully out-of-vocabulary)
    * predict null. */
  def predict(docs: DataFrame, profiles: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(idCol),
      explode(words(lower(col(textCol)))).as("gram"))
    argmaxFinish(docs, perClassScores(occ, profiles, idCol), idCol)
  }

  /** (id, label, score_q6) per document per overlapping class.
    * Occurrences pre-aggregate to per-(doc, gram) counts BEFORE the
    * profile join (r19, guide §2.3 — aggregate before you shuffle): the
    * join then fans out distinct doc-grams × classes instead of every
    * occurrence × classes, and Σ_occurrences w ≡ Σ_grams cnt·w exactly
    * (integer lattice; cnt ≤ doc words, w ≤ 10⁶ — no overflow). */
  private def perClassScores(occ: DataFrame, profiles: DataFrame,
      idCol: String): DataFrame =
    occ.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("__c"))
      .join(profiles, Seq("gram"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__c") * col("w_q6")).as("score_q6"))

  private def argmaxFinish(docs: DataFrame, perClass: DataFrame,
      idCol: String): DataFrame = {
    val best = perClass.groupBy(col(idCol))
      .agg(min(struct((-col("score_q6")).as("ns"), col("label"))).as("best"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        col("best.label").as("predicted"),
        (-col("best.ns")).as("score_q6"))
  }

  /** Train on the corpus and score the SAME corpus with ONE tokenization
    * pass (self-consistency eval, calibration curves): the exploded gram
    * stream is checkpointed and feeds BOTH the (label, gram) training
    * counts and the scoring join — the two-call form
    * (`predict(d, classProfiles(d))`) tokenizes the corpus twice, which
    * at 100 TB is a second full corpus scan for byte-identical tokens
    * (the same single-pass discipline as `Curation.boilerplateStats`).
    * Output matches the two-call form exactly (same state, same
    * profiles, same join). */
  def predictSelfTrained(docs: DataFrame, labelCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text",
      withMargin: Boolean = false): DataFrame = {
    val occ = docs.select(col(idCol), col(labelCol).as("label"),
        explode(words(lower(col(textCol)))).as("gram"))
      .localCheckpoint()
    val state = occ.groupBy(col("label"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val profiles = profilesFromState(state)
    val perClass = perClassScores(occ.select(col(idCol), col("gram")),
      profiles, idCol)
    if (withMargin) top2Finish(docs, perClass, idCol)
    else argmaxFinish(docs, perClass, idCol)
  }

  /** [[predict]] plus the decision MARGIN: best score minus second-best
    * (the doc's own evidence gap — what a routing threshold or a
    * calibration curve bins on). Single-class docs report the full best
    * score as margin (all evidence one way); no-overlap docs stay null.
    * Tie rule matches [[predict]]: (score desc, label asc) at both rank
    * positions. Per-doc class lists are ≤ #classes long, so the
    * collect+sort aggregate is bounded — never corpus-shaped. */
  def predictWithMargin(docs: DataFrame, profiles: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(idCol),
      explode(words(lower(col(textCol)))).as("gram"))
    top2Finish(docs, perClassScores(occ, profiles, idCol), idCol)
  }

  private def top2Finish(docs: DataFrame, perClass: DataFrame,
      idCol: String): DataFrame = {
    val top2 = perClass.groupBy(col(idCol))
      .agg(slice(array_sort(collect_list(
        struct((-col("score_q6")).as("ns"), col("label")))), 1, 2).as("t2"))
    val s1 = -col("t2")(0).getField("ns")
    val s2 = -col("t2")(1).getField("ns")
    docs.select(col(idCol))
      .join(top2, Seq(idCol), "left")
      .select(col(idCol),
        col("t2")(0).getField("label").as("predicted"),
        s1.as("score_q6"),
        when(size(col("t2")) > 1, s1 - s2).otherwise(s1).as("margin_q6"))
  }

  /** Classifier evaluation against gold labels: per-class counts,
    * true positives, and fixed-point precision / recall / F1 — the
    * readout that gates a router/filter model before it touches the
    * corpus. `predicted` is [[predict]]'s output (id, predicted);
    * `truth` carries (id, label). An unpredicted document (null
    * prediction — no vocabulary overlap) counts against recall of its
    * actual class and against no class's precision.
    *
    * Exactness: precision = ⌊tp·10⁴/n_predicted⌋, recall =
    * ⌊tp·10⁴/n_actual⌋, F1 = ⌊2·tp·10⁴/(n_actual+n_predicted)⌋ — the
    * exact rational form (2tp+fp+fn = n_actual+n_predicted), never a
    * float composition of already-floored P and R.
    *
    * Scale: ONE corpus-sized pass builds the (actual, predicted) count
    * matrix — map-side combined, ≤ classes² rows out; every metric
    * derives from that tiny matrix (eagerly checkpointed so the three
    * readouts don't re-run the join). */
  def evaluate(predicted: DataFrame, truth: DataFrame,
      idCol: String = "doc_id", predCol: String = "predicted",
      labelCol: String = "label"): DataFrame = {
    val j = truth.select(col(idCol), col(labelCol).as("actual"))
      .join(predicted.select(col(idCol), col(predCol).as("pred")),
        Seq(idCol), "left")
    val conf = j.groupBy(col("actual"), col("pred"))
      .agg(count(lit(1)).as("n")).cp()
    val per = conf.groupBy(col("actual").as("label"))
      .agg(sum(col("n")).as("n_actual"),
        coalesce(sum(when(col("pred") === col("actual"), col("n"))
          .otherwise(0L)), lit(0L)).as("tp"))
    val pt = conf.filter(col("pred").isNotNull)
      .groupBy(col("pred").as("label"))
      .agg(sum(col("n")).as("n_predicted"))
    val nA = coalesce(col("n_actual"), lit(0L))
    val nP = coalesce(col("n_predicted"), lit(0L))
    val tp = coalesce(col("tp"), lit(0L))
    def frac4(num: Column, den: Column): Column = {
      val scaled = num * lit(10000L)
      when(den > 0, ((scaled - pmod(scaled, den)) / den).cast("double") / 10000.0)
        .otherwise(lit(0.0))
    }
    per.join(pt, Seq("label"), "full_outer")
      .select(col("label"), nA.as("n_actual"), nP.as("n_predicted"),
        tp.as("tp"),
        frac4(tp, nP).as("precision"),
        frac4(tp, nA).as("recall"),
        frac4(tp * 2L, nA + nP).as("f1"))
  }

  /** Corpus cartography: label each embedding-space k-means cluster with
    * its most DISTINGUISHING terms — per-cluster relative term frequency
    * minus the global relative frequency, both on the q6 lattice, top-N
    * by (score desc, term asc). The standard map-of-the-corpus readout
    * (what are my clusters about?) composed from two already-green
    * operators: [[KMeans.fit]]'s deterministic integer-lattice Lloyd and
    * the gram aggregation discipline above.
    *
    * Scale shape: one id-equi-join ships each doc's text to its
    * cluster id once (co-partition docs and embeddings by id at the
    * store level to make it shuffle-free); all three frequency
    * aggregations are map-side-combined counts; the global total is a
    * 1-row broadcast; the top-N window partitions by cent_id over
    * vocabulary-sized input with the rank filter pushed (WindowGroupLimit
    * — never sorts the corpus). */
  def clusterTopics(docs: DataFrame, emb: DataFrame, k: Int = 8,
      iters: Int = 2, topN: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = KMeans.fit(emb, k, iters)
    val memb = KMeans.assignments(emb, cents)
      .select(col("id").as(idCol), col("cent_id"))
    val occ = docs.join(memb, Seq(idCol))
      .select(col("cent_id"), explode(words(lower(col(textCol)))).as("term"))
    // ONE pass over the exploded text: cluster totals, global term
    // counts and the grand total all re-aggregate the vocabulary-sized
    // cCnt table — deriving them from occ directly would re-execute the
    // docs⋈assignment join + explode once per branch (4× the text moved)
    val cCnt = occ.groupBy(col("cent_id"), col("term")).agg(count(lit(1)).as("cnt"))
      .cp()
    val cTot = cCnt.groupBy(col("cent_id")).agg(sum(col("cnt")).as("tot"))
    val gCnt = cCnt.groupBy(col("term")).agg(sum(col("cnt")).as("gcnt"))
    val gTot = cCnt.agg(sum(col("cnt")).as("gtot"))
    def q6(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ((a * 1000000L - pmod(a * 1000000L, b)) / b).cast("long")
    val sc = cCnt.join(cTot, Seq("cent_id")).join(gCnt, Seq("term"))
      .crossJoin(broadcast(gTot))
      .select(col("cent_id"), col("term"),
        (q6(col("cnt"), col("tot")) - q6(col("gcnt"), col("gtot"))).as("score_q6"))
    val w = Window.partitionBy(col("cent_id"))
      .orderBy(col("score_q6").desc, col("term"))
    sc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topN)
      .select(col("cent_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("score_q6"))
  }

  /** Score a document STREAM against frozen profiles — the
    * fit-batch/score-stream pattern ([[graft.streaming.EventStreams]]
    * .assignStream's sibling for vocabulary-sized models): profiles are
    * too big to bake as plan literals, so each micro-batch runs the
    * batch [[predict]] (stream-static join + per-doc argmax) inside
    * foreachBatch ([[graft.streaming.MicroBatch.sink]]) and stages each
    * batch's verdicts into `name` with [[graft.store.TableStore
    * .appendStaged]], which also creates the table. A doc's verdict is
    * identical whether it arrived by stream or backfill (spec-asserted);
    * replays append duplicate rows — route through an id-keyed dedup if
    * the source replays. */
  def classifySink(docs: DataFrame, profiles: DataFrame,
      store: graft.store.TableStore, name: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.sink(docs, checkpointDir, trigger) { (batch, _) =>
      store.appendStaged(name, predict(batch, profiles, idCol, textCol))
    }

  // ------------------------------------------------------------ oracle
  /** DuckDB twin of the full train→predict chain over `documents`,
    * predicting `labelCol`. Same q6 floor-division lattice, same
    * (-score, label) tie order. */
  def trainPredictSqlOf(labelCol: String): String =
    s"""WITH ${classifierCtes(labelCol)}
       |SELECT d.doc_id, b.predicted, b.score_q6
       |FROM documents d LEFT JOIN best b USING (doc_id)""".stripMargin

  /** The train→predict CTE chain (ending in `best`: doc_id, predicted,
    * score_q6) as a composable fragment, so funnel oracles can build on
    * the same text. `trainRel` / `predictRel` parameterize which
    * relation trains the profiles vs which gets scored (defaults: the
    * resubstitution form over `documents`; the split-eval oracle passes
    * the train/test bucket CTEs). */
  def classifierCtes(labelCol: String, trainRel: String = "documents",
      predictRel: String = "documents"): String = {
    val w = Hashing.wordsSqlOf("lower(text)")
    s"""occ AS (
       |  SELECT doc_id, $labelCol AS label, unnest($w) AS gram FROM $trainRel),
       |cnt AS (SELECT label, gram, count(*) AS cnt FROM occ GROUP BY 1, 2),
       |tot AS (SELECT label, count(*) AS tot FROM occ GROUP BY 1),
       |prof AS (
       |  SELECT label, gram,
       |         CAST((cnt * 1000000 - ((cnt * 1000000) % tot)) / tot AS BIGINT) AS w_q6
       |  FROM cnt JOIN tot USING (label)),
       |docc AS (SELECT doc_id, unnest($w) AS gram FROM $predictRel),
       |per_class AS (
       |  SELECT d.doc_id, p.label, CAST(SUM(p.w_q6) AS BIGINT) AS score_q6
       |  FROM docc d JOIN prof p USING (gram) GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, label AS predicted, score_q6 FROM (
       |    SELECT doc_id, label, score_q6,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY score_q6 DESC, label) AS rn
       |    FROM per_class) WHERE rn = 1)""".stripMargin
  }
}
