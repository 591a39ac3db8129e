package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.{Decontamination, IncrementalLm, IncrementalTokens}
import graft.store.TableStore

/** Per-increment cost curve for the incremental faces (VERDICT r15 #6):
  * splits the documents table into K equal doc-id ranges, ingests them
  * in order into fresh stores, and prints one JSON line per increment
  * with wall seconds + state sizes — the measurement that shows
  * per-increment cost going ~FLAT as word types saturate (Heaps' law)
  * instead of tracking accumulated corpus volume. Run it against a
  * `tools/make_draw.py --vocab-mult=100` draw for the vocabulary-heavy
  * worst case: increment 1 pays the type flood, later increments see
  * mostly memoized types.
  *
  * Measured faces: IncrementalTokens.tokenizeIncrement (unigram memo),
  * IncrementalLm.scoreIncrement (bigram KN), scoreIncrement3 (trigram
  * KN), and Decontamination.exciseSpansIncrement (cross-corpus span
  * excision against a frozen eval-gram index built once, untimed — its
  * per-increment term is increment chars + the pruned-id-column
  * anti-join against the accumulated rewrite ledger). The untimed Bench
  * warmup runs first so increment 1 is not flattered by JIT landing on
  * it.
  *
  * Usage: tools/run.sh graft.IncrScale [sfDir] [k]
  */
object IncrScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    Bench.warmup(spark)

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    val tmp = Files.createTempDirectory("graft-incrscale").toString
    val tokStore = new TableStore(spark, s"$tmp/tok")
    val lmStore = new TableStore(spark, s"$tmp/lm")
    val lm3Store = new TableStore(spark, s"$tmp/lm3")
    val spanStore = new TableStore(spark, s"$tmp/spans")
    // frozen reference corpus: the eval slice, indexed once up front —
    // increments are cut against it, they never touch it
    Decontamination.indexEvalSpans(spanStore, "s",
      docs.filter(col("doc_id") % 97 === 0))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    (0 until k).foreach { i =>
      val lo = i * maxId / k
      val hi = (i + 1) * maxId / k
      val inc = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .localCheckpoint(true)
      val n = inc.count()
      val tTok = timed(IncrementalTokens.tokenizeIncrement(inc, tokStore, "t")
        .write.format("noop").mode("overwrite").save())
      val memo = IncrementalTokens.memoSize(tokStore, "t")
      val tLm = timed(IncrementalLm.scoreIncrement(inc, lmStore, "m")
        .write.format("noop").mode("overwrite").save())
      val tLm3 = timed(IncrementalLm.scoreIncrement3(inc, lm3Store, "m3")
        .write.format("noop").mode("overwrite").save())
      val ngrams = IncrementalLm.modelState(lmStore, "m").count()
      val tSpan = timed(Decontamination.exciseSpansIncrement(spanStore, "s",
        inc.filter(col("doc_id") % 97 =!= 0))
        .write.format("noop").mode("overwrite").save())
      val ledger = Decontamination.spanExcisionState(spanStore, "s").count()
      println(s"""{"increment":${i + 1},"docs":$n,"tok_sec":$tTok,""" +
        s""""memo_types":$memo,"lm_sec":$tLm,"lm3_sec":$tLm3,""" +
        s""""model_bigram_types":$ngrams,"span_sec":$tSpan,""" +
        s""""span_ledger":$ledger,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
