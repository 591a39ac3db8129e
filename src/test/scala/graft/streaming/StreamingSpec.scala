package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ext.TimeSeries
import graft.model.Schemas
import graft.store.TableStore
import graft.streaming.EventStreams.{Event, Session}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming sessionization closes sessions on event-time gap; matches batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionizeStream(input.toDS(), gapMs = 30 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // user 1: two bursts 2h apart → first session closes when the
      // watermark passes its gap; user 2: one burst
      input.addData(
        Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Event(2L, 1L, ts("2024-01-01 10:10:00"), "view", 2.0),
        Event(3L, 2L, ts("2024-01-01 10:05:00"), "click", 5.0))
      q.processAllAvailable()
      input.addData( // advances watermark to 12:00-1h = 11:00 > 10:10+30m
        Event(4L, 1L, ts("2024-01-01 12:00:00"), "click", 3.0))
      q.processAllAvailable()
      input.addData( // push watermark far out so the 12:00 session times out too
        Event(5L, 9L, ts("2024-01-01 23:00:00"), "click", 0.0))
      q.processAllAvailable()

      val got = spark.table("sessions_out").as[Session].collect()
        .map(s => (s.user_id, s.session_start.toString, s.n_events, s.sum_value))
        .toSet
      assert(got.contains((1L, "2024-01-01 10:00:00.0", 2L, 3.0)))
      assert(got.contains((2L, "2024-01-01 10:05:00.0", 1L, 5.0)))
      assert(got.contains((1L, "2024-01-01 12:00:00.0", 1L, 3.0)))

      // batch twin over the same finite input agrees on every closed session
      val batch = EventStreams.sessionizeBatch(Seq(
        (1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        (2L, 1L, ts("2024-01-01 10:10:00"), "view", 2.0),
        (3L, 2L, ts("2024-01-01 10:05:00"), "click", 5.0),
        (4L, 1L, ts("2024-01-01 12:00:00"), "click", 3.0),
        (5L, 9L, ts("2024-01-01 23:00:00"), "click", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(3), r.getDouble(4))).toSet
      assert(got.subsetOf(batch))
    } finally q.stop()
  }

  test("watermarked windowed aggregate emits finalized daily windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = EventStreams.windowedAgg(input.toDF(), delay = "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.5),
        Event(2L, 2L, ts("2024-01-01 11:00:00"), "click", 2.5),
        Event(3L, 3L, ts("2024-01-01 09:00:00"), "view", 4.0))
      q.processAllAvailable()
      // next day's event pushes the watermark past day-1's close
      input.addData(Event(4L, 1L, ts("2024-01-02 02:00:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("d"),
          col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set(
        ("2024-01-01", "click", 2L, 4.0),
        ("2024-01-01", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("dedup-within-watermark drops re-delivered keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val deduped = EventStreams.dedupStream(input.toDF(), Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.0), // duplicate
        Event(2L, 2L, ts("2024-01-01 10:05:00"), "view", 2.0))
      q.processAllAvailable()
      input.addData( // re-delivery in a later batch, still within watermark
        Event(2L, 2L, ts("2024-01-01 10:05:00"), "view", 2.0),
        Event(3L, 1L, ts("2024-01-01 10:10:00"), "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch twin and drops out-of-horizon purchases") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStreams.attributionJoin(
      clicks.toDF(), purchases.toDF(), delay = "10 minutes", horizonMin = 30)
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      val cRows = Seq(
        Event(1L, 7L, ts("2024-01-01 10:00:00"), "click", 0.0),
        Event(2L, 7L, ts("2024-01-01 11:00:00"), "click", 0.0),
        Event(3L, 8L, ts("2024-01-01 10:00:00"), "click", 0.0))
      val pRows = Seq(
        Event(10L, 7L, ts("2024-01-01 10:20:00"), "purchase", 5.0), // joins click 1
        Event(11L, 7L, ts("2024-01-01 11:29:00"), "purchase", 7.0), // joins click 2
        Event(12L, 8L, ts("2024-01-01 12:00:00"), "purchase", 9.0)) // out of horizon
      clicks.addData(cRows: _*)
      purchases.addData(pRows: _*)
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .select("user_id", "click_id", "purchase_id", "lag_us", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got === Set(
        (7L, 1L, 10L, 20L * 60 * 1000000, 5.0),
        (7L, 2L, 11L, 29L * 60 * 1000000, 7.0)))

      // batch twin over the same finite input produces the same pairs
      val batch = EventStreams.attributionJoinBatch(
        cRows.toDF(), pRows.toDF(), horizonMin = 30).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("stream-static enrichment joins the dim per micro-batch without state") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[Event]
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val q = EventStreams.enrichStream(events.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      events.addData(
        Event(1L, 7L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Event(2L, 8L, ts("2024-01-01 10:01:00"), "view", 2.0),
        Event(3L, 9L, ts("2024-01-01 10:02:00"), "click", 3.0)) // no dim row → dropped
      q.processAllAvailable()
      val got = spark.table("enrich_out").select("event_id", "tier").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(got === Set(1L -> "gold", 2L -> "basic"))
    } finally q.stop()
  }

  test("streaming as-of enrichment resolves late events against their event-time version") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Scd2Config, Schemas}
    val conf = Scd2Config(naturalKeys = Seq("user_id"))
    // user 7: bronze until Jan 10, gold after; user 8: basic from Jan 5
    val hist = Seq(
      (7L, "bronze", ts("2024-01-01 00:00:00"), ts("2024-01-10 00:00:00")),
      (7L, "gold", ts("2024-01-10 00:00:00"), Schemas.openEndedValidTo),
      (8L, "basic", ts("2024-01-05 00:00:00"), Schemas.openEndedValidTo)
    ).toDF("user_id", "tier", "da_valid_from_date", "da_valid_to_date")
    val events = MemoryStream[Event]
    val q = EventStreams.enrichAsOfStream(events.toDF(), hist, conf, "ts")
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      val rows = Seq(
        Event(1L, 7L, ts("2024-01-05 12:00:00"), "click", 1.0), // late: bronze era
        Event(2L, 7L, ts("2024-01-15 12:00:00"), "click", 2.0), // gold era
        Event(3L, 8L, ts("2024-01-01 12:00:00"), "view", 3.0),  // before first version
        Event(4L, 9L, ts("2024-01-15 12:00:00"), "view", 4.0))  // unknown key
      events.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("asof_out").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
        .toSet
      // the LATE event sees bronze — the version valid at its event time,
      // not the current (gold) slice enrichStream would have joined
      assert(got === Set(1L -> "bronze", 2L -> "gold", 3L -> null, 4L -> null))
      // stream ≡ batch pointInTime on the same rows
      val batch = graft.scd2.Historizer
        .pointInTime(hist, rows.toDF(), conf, "ts")
        .select(col("event_id"), col("tier")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
        .toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("curation projections are stream-safe and agree with their batch forms") {
    // normalize/quality/langId/stratified-keep are pure projections, so
    // the SAME Column expressions run unchanged on a stream — this pins
    // that (no accidental aggregate/window sneaking into the battery)
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Curation, TextAnalysis}
    val docs = MemoryStream[(Long, String)]
    val battery = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"),
      Curation.normalizeText(col("text")).as("norm"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.langId(col("text")).as("lang"))
    val q = battery(docs.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curation_stream_out")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, "  The   A of TO  "), (2L, "el la de que y en un es"))
      docs.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("curation_stream_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
      val batch = battery(rows.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
      assert(got === batch)
      assert(got.exists(_._4 == "es"))
    } finally q.stop()
  }

  test("streaming minhash index sink: cross-batch near-dup pairs, doc-keyed idempotence") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val distinct = (100 to 130).map(i => s"v$i").mkString(" ")
    val docs = MemoryStream[(Long, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("mh-sink-store").toString)
    val ckpt = Files.createTempDirectory("mh-sink-ckpt").toString
    val q = EventStreams.minhashIndexSink(
      docs.toDF().toDF("doc_id", "text"), store, "mhidx", "pairs", ckpt,
      threshold = 0.5, trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: the near-dup pair arrives together
      docs.addData((1L, base), (2L, nearDup), (3L, distinct))
      q.processAllAvailable()
      // batch 2: a later copy of base pairs against BOTH indexed docs,
      // plus a re-delivered doc 1 (first-write-wins: no self-pair)
      docs.addData((4L, base), (1L, base))
      q.processAllAvailable()
    } finally q.stop()

    val pairs = store.read("pairs")
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // the index carries each doc exactly once despite the re-delivery
    val indexed = store.read("mhidx_sigs").select("id").collect()
      .map(_.getLong(0)).toSeq
    assert(indexed.sorted === Seq(1L, 2L, 3L, 4L))
  }

  test("streaming LM sink: prequential scores obey the prefix law; replay adds nothing") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "a b a b a c"), (2L, "a b x"), (3L, "z"),
      (4L, "a c a b"), (5L, "x a b"))
    val docs = MemoryStream[(Long, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("lm-sink-store").toString)
    val ckpt = Files.createTempDirectory("lm-sink-ckpt").toString
    val q = EventStreams.lmScoreSink(
      docs.toDF().toDF("doc_id", "text"), store, "kn", "scores", ckpt,
      trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData(rows.take(3): _*)
      q.processAllAvailable()
      // batch 2 re-delivers doc 1 alongside new docs — ledgered away
      docs.addData(rows.drop(3) :+ rows.head: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = store.read("scores")
      .select(col("doc_id"), col("n_bigrams"), col("kn_ppm")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // prefix law: batch-1 docs score as batch KN over rows 1-3; batch-2
    // docs as batch KN over all rows, restricted to their ids
    val pre = graft.ext.TextAnalysis
      .lmScoreKn(rows.take(3).toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val whole = graft.ext.TextAnalysis
      .lmScoreKn(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size === 5) // doc 1 scored once, not twice
    assert((1L to 3L).forall(i => got(i) === pre(i)))
    assert((4L to 5L).forall(i => got(i) === whole(i)))
  }


  test("streaming quality-drift sink: state equals batch histogram; replay counts nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{IncrementalAgg, Stats, TextAnalysis}
    def histOf(df: org.apache.spark.sql.DataFrame) = {
      val q4 = TextAnalysis.qualityScoreQ4(col("text"))
      df.select(col("source"),
          ((q4 - pmod(q4, lit(1000L))) / 1000L).cast("long").as("bin"))
        .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("n"))
    }
    val rows = Seq(
      (1L, "a", "the quick brown fox jumps over the lazy dog near the gate"),
      (2L, "a", "x"), (3L, "b", "a perfectly ordinary sentence, with words."),
      (4L, "b", "zz zz zz zz zz"), (5L, "a", "another plain enough line of text"))
    // frozen reference: the first three docs' histogram (the curated
    // corpus the filter shipped against)
    val ref = histOf(rows.take(3).toDF("doc_id", "source", "text"))
      .localCheckpoint(true)
    val docs = MemoryStream[(Long, String, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("drift-sink-store").toString)
    val ckpt = Files.createTempDirectory("drift-sink-ckpt").toString
    val q = EventStreams.qualityDriftSink(
      docs.toDF().toDF("doc_id", "source", "text"), store, "qd", "drift",
      ckpt, ref, trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData(rows.take(3): _*)
      q.processAllAvailable()
      // batch 2 re-delivers doc 1 alongside new docs, AND carries doc 4
      // twice WITHIN the batch (ADVICE r17: an at-least-once source can
      // duplicate inside one micro-batch; the ledger alone can't see it)
      docs.addData(rows.drop(3) ++ Seq(rows.head, rows(3)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // replay invariance: the standing histogram equals the batch
    // histogram over the 5 UNIQUE docs (doc 1 and doc 4 counted once)
    val all = rows.toDF("doc_id", "source", "text")
    val wantHist = histOf(all).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gotHist = IncrementalAgg.driftState(store, "qd").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotHist === wantHist)
    // the LAST batch's emitted drift equals the batch computation over
    // everything the stream carried
    val lastBatch = store.read("drift")
      .agg(org.apache.spark.sql.functions.max(col("__batch")))
      .collect()(0).getLong(0)
    val gotDrift = store.read("drift")
      .filter(col("__batch") === lastBatch)
      .select(col("source"), col("n_a"), col("n_b"), col("tvd")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val wantDrift = Stats
      .histogramDriftFromCounts(histOf(all), ref, "source", "bin", "n")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotDrift === wantDrift)
    // a stream distributed exactly like the reference drifts to 0:
    // source "a"'s reference is docs 1-2, its stream total is docs 1,2,5
    // — nonzero; but self-reference sanity runs on the increment face
    val store2 = new TableStore(spark,
      Files.createTempDirectory("drift-self-store").toString)
    val self = IncrementalAgg.qualityDriftIncrement(all, store2, "qd2",
      ref = histOf(all))
    self.collect().foreach(r => assert(r.getDouble(3) === 0.0, r.toString))
  }

  test("streaming span-excise sink: stream rewrites equal the batch cut; replay cuts nothing twice") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Decontamination, Dedup}
    val block = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123" // 30 chars, frozen-corpus passage
    val ref = Seq((100L, s"frozen head ${block} frozen tail"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, s"xxxx${block}yyyy"),
      (2L, "entirely novel text matching nothing anywhere at all"),
      (3L, s"zz${block}ww plus a unique tail of its own"))
    val docs = MemoryStream[(Long, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("span-sink-store").toString)
    val ckpt = Files.createTempDirectory("span-sink-ckpt").toString
    Decontamination.indexEvalSpans(store, "sp", ref, k = 10)
    val q = EventStreams.spanExciseSink(
      docs.toDF().toDF("doc_id", "text"), store, "sp", "cuts", ckpt, k = 10,
      trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData(rows.take(2): _*)
      q.processAllAvailable()
      // batch 2 re-delivers doc 1 (ledgered away) and carries doc 3 twice
      docs.addData(Seq(rows(2), rows.head, rows(2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // per-doc output (latest batch per id) equals the batch cut over the
    // unique docs — stream-or-backfill identical
    val got = store.read("cuts")
      .groupBy(col("doc_id"))
      .agg(max(struct(col("__batch"), col("clean_text"),
        col("n_dropped_spans"), col("dropped_chars"))).as("s"))
      .select(col("doc_id"), col("s.clean_text"),
        col("s.n_dropped_spans"), col("s.dropped_chars"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val want = Dedup.exciseCrossSpans(rows.toDF("doc_id", "text"),
        Dedup.spanGrams(ref, k = 10), k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === want)
    assert(got(1L)._1 === "xxxxyyyy") // the frozen passage really cut
    assert(got(2L)._2 === 0L)
    // the ledger carries each doc exactly once despite the re-delivery
    // and the within-batch duplicate
    val state = Decontamination.spanExcisionState(store, "sp")
    assert(state.count() === 3L)
    assert(state.select("doc_id").collect().map(_.getLong(0)).sorted
      === Seq(1L, 2L, 3L))
  }

  test("streaming fertility sink: accumulated datasheet equals the batch twin; replay counts nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Bpe, IncrementalAgg, WordPiece}
    // the q_tok_oov frozen vocab: committed pieces minus the rare-letter
    // ones, so OOV is a real nonzero number
    val vocab = WordPiece.bertPieces
      .filterNot { case (p, _) => p.exists("qjkxz".contains(_)) }
    val rows = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "zebra quartz jackal box"), // OOV-heavy (q/j/x/z words)
      (3L, "de", "der ozean und die berge"),
      (4L, "de", "quix jazz"),
      (5L, "en", "plain words only here"))
    val docs = MemoryStream[(Long, String, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("fert-sink-store").toString)
    val ckpt = Files.createTempDirectory("fert-sink-ckpt").toString
    val q = EventStreams.tokFertilitySink(
      docs.toDF().toDF("doc_id", "lang", "text"), store, "fert", "sheet",
      ckpt, vocab, trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData(rows.take(3): _*)
      q.processAllAvailable()
      // batch 2 re-delivers doc 1 (ledgered away) AND carries doc 4
      // twice within the batch (within-increment dedup)
      docs.addData(rows.drop(3) ++ Seq(rows.head, rows(3)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // the batch twin over the 5 UNIQUE docs — q_tok_oov's exact shape
    val all = rows.toDF("doc_id", "lang", "text")
    val tb = WordPiece.tokenizeBert(all, vocab)
      .select(col("doc_id"), col("n_tokens"), col("n_unk_words"))
    val want = all
      .select(col("doc_id"), col("lang"),
        Bpe.pieceCount(col("text")).as("nw"))
      .join(tb, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_unk_words")).as("n_unk_words"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val lastBatch = store.read("sheet")
      .agg(max(col("__batch"))).collect()(0).getLong(0)
    val got = store.read("sheet").filter(col("__batch") === lastBatch)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (lang, (nd, nw, nt, nu, oov, fert)) =>
      val (wd, ww, wt, wu) = want(lang)
      assert((nd, nw, nt, nu) === ((wd, ww, wt, wu)), s"lang $lang")
      // rates are frac4 floors of the exact accumulated sums
      assert(oov === (wu * 10000L / ww).toDouble / 10000.0, s"oov $lang")
      assert(fert === (wt * 10000L / ww).toDouble / 10000.0, s"fert $lang")
    }
    // the OOV mechanism is live: the rare-letter words really fall out
    assert(got("en")._4 > 0L && got("de")._4 > 0L)
    // standing state equals the accumulated sums too (replay-safe)
    val st = IncrementalAgg.fertilityState(store, "fert").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(st === want)
  }

  test("streaming tokenize sink: memoized output equals the batch tokenizer on any slicing") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "the theater is near"), (2L, "near the gate"),
      (3L, "gates and theaters"), (4L, "entirely fresh wording"))
    val docs = MemoryStream[(Long, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("tok-sink-store").toString)
    val ckpt = Files.createTempDirectory("tok-sink-ckpt").toString
    val q = EventStreams.tokenizeSink(
      docs.toDF().toDF("doc_id", "text"), store, "tokmemo", "toks", ckpt,
      trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData(rows.take(2): _*)
      q.processAllAvailable()
      // second batch overlaps word types with the first (memo hits) and
      // re-delivers doc 1 — the memo must not accrete duplicates
      docs.addData(rows.drop(2) :+ rows.head: _*)
      q.processAllAvailable()
    } finally q.stop()
    // per-doc results equal the batch twin (latest batch per doc id —
    // the re-delivered doc 1 re-emits identically, batch-stamped)
    val got = store.read("toks")
      .groupBy(col("doc_id"))
      .agg(max(struct(col("__batch"), col("n_tokens"), col("tok_digest")))
        .as("s"))
      .select(col("doc_id"), col("s.n_tokens"), col("s.tok_digest"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    val batch = graft.ext.Unigram
      .tokenize(rows.toDF("doc_id", "text"), graft.ext.Unigram.pieces)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(got === batch)
    // memo carries each word type exactly once despite the overlap
    val memo = store.read("tokmemo_wordtoks").select("w").collect()
      .map(_.getString(0)).toSeq
    assert(memo.distinct.size === memo.size)
  }

  test("streaming priority-sample sink: state equals the batch sample on any slicing") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 400L).map(i => (i, (i % 5) * 37L + (i % 3)))
    val docs = MemoryStream[(Long, Long)]
    val store = new TableStore(spark,
      Files.createTempDirectory("pri-sink-store").toString)
    val ckpt = Files.createTempDirectory("pri-sink-ckpt").toString
    val q = EventStreams.prioritySampleSink(
      docs.toDF().toDF("doc_id", "n_chars"), store, "prisample", 40,
      "n_chars", ckpt, trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData(rows.take(150): _*)
      q.processAllAvailable()
      // second batch includes a replayed slice of the first — the
      // idempotent merge law must absorb it
      docs.addData(rows.drop(150) ++ rows.slice(100, 150): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = store.read("prisample")
      .select(col("doc_id"), col("weight"), col("priority")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ext.Curation.prioritySample(
        rows.toDF("doc_id", "n_chars"), 40, "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
    assert(got.size === 40)
  }

  test("streaming containment sink equals the batch estimator; re-delivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 25).map(i => s"w$i").mkString(" ") // prefix quote
    val distinct = (100 to 130).map(i => s"v$i").mkString(" ")
    val docs = MemoryStream[(Long, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("ct-sink-store").toString)
    val ckpt = Files.createTempDirectory("ct-sink-ckpt").toString
    val q = EventStreams.containmentIndexSink(
      docs.toDF().toDF("doc_id", "text"), store, "ctidx", "cpairs", ckpt,
      threshold = 0.8, trigger = Trigger.ProcessingTime(0))
    try {
      docs.addData((1L, base), (3L, distinct))
      q.processAllAvailable()
      // the excerpt arrives a batch later and must pair against the
      // INDEXED base; doc 1 is re-delivered (first-write-wins: no-op)
      docs.addData((2L, excerpt), (1L, base))
      q.processAllAvailable()
    } finally q.stop()
    val got = store.read("cpairs")
      .select(col("id"), col("container_id"), col("containment_est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // finite-input equivalence with the batch twin on the same corpus
    val batch = graft.ext.Dedup.containmentEstPairs(
        Seq((1L, base), (2L, excerpt), (3L, distinct)).toDF("doc_id", "text"),
        threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === batch)
    // the quote direction is flagged: excerpt ⊂ base
    assert(got.exists { case (id, cid, _) => id == 2L && cid == 1L },
      s"excerpt→container pair missing: $got")
    // doc-keyed idempotence: index carries each doc once, sizes too
    assert(store.read("ctidx_sigs").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(store.read("ctidx_sizes").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("streaming novelty gate drops known digests, agrees with the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val known = Seq((100L, "seen before"), (101L, "also seen"))
      .toDF("doc_id", "text")
    val q = EventStreams.novelStream(
        docs.toDF().toDF("doc_id", "text"), known)
      .writeStream.format("memory").queryName("novel_out")
      .outputMode("append").start()
    try {
      docs.addData((1L, "seen before"), (2L, "fresh content"),
        (3L, "also seen"), (4L, null.asInstanceOf[String]))
      q.processAllAvailable()
      val got = spark.table("novel_out").select("doc_id").as[Long].collect().toSet
      assert(got === Set(2L))
      // batch twin returns the same novel ids on the same finite input
      val batchIn = Seq((1L, "seen before"), (2L, "fresh content"),
        (3L, "also seen"), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
      val batch = graft.ext.Dedup.novelAgainst(batchIn, known)
        .as[Long].collect().toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("streaming semantic-decontamination gate equals the batch operator") {
    // the literal-baked gate is a pure projection — it must run on an
    // unbounded stream with no state and verdict-match the batch path
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Decontamination
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val evalE = Seq((100L, v(1, 0, 0)), (101L, v(0, 1, 0)))
      .toDF("vec_id", "embedding")
    val rows = Seq(
      (1L, v(2, 0, 0)),      // paraphrase of e100 → flagged
      (2L, v(0, 0, 1)),      // orthogonal → clean
      (3L, v(0.1, 0.9, 0)))  // close to e101 → flagged
    val vecs = MemoryStream[(Long, Seq[Float])]
    val q = Decontamination.semanticOverlapLiteral(
        vecs.toDF().toDF("vec_id", "embedding"), evalE, threshold = 0.4)
      .writeStream.format("memory").queryName("semgate_out")
      .outputMode("append").start()
    try {
      vecs.addData(rows: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val got = shape(spark.table("semgate_out"))
      val batch = shape(Decontamination.semanticOverlap(
        rows.toDF("vec_id", "embedding"), evalE, threshold = 0.4))
      assert(got === batch)
      val flags = got.map(t => t._1 -> t._4).toMap
      assert(flags === Map(1L -> 1L, 2L -> 0L, 3L -> 1L))
    } finally q.stop()
  }

  test("streaming centroid assignment routes vectors to the batch path's cells") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, Seq(10f, 0f)), (2L, Seq(10.1f, 0.2f)), (3L, Seq(9.9f, -0.1f)),
      (4L, Seq(-10f, 0f)), (5L, Seq(-10.2f, 0.1f)), (6L, Seq(-9.8f, 0f))
    ).toDF("vec_id", "embedding")
    val cents = graft.ext.KMeans.fit(corpus, k = 2, iters = 2)
    val vecs = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.assignStream(
        vecs.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("assign_out")
      .outputMode("append").start()
    try {
      vecs.addData((7L, Seq(9.5f, 0.3f)), (8L, Seq(-9.5f, -0.3f)))
      q.processAllAvailable()
      val got = spark.table("assign_out").select("vec_id", "cent_id")
        .as[(Long, Long)].collect().toMap
      // the stream rows land in the same cells as a batch backfill
      val batch = EventStreams.assignStream(
        Seq((7L, Seq(9.5f, 0.3f)), (8L, Seq(-9.5f, -0.3f)))
          .toDF("vec_id", "embedding"), cents)
        .select("vec_id", "cent_id").as[(Long, Long)].collect().toMap
      assert(got === batch)
      // and the two blobs route to two different cells
      assert(got(7L) !== got(8L))
      // vectors near a blob join that blob's corpus members
      val corpusCells = EventStreams.assignStream(corpus, cents)
        .select("vec_id", "cent_id").as[(Long, Long)].collect().toMap
      assert(got(7L) === corpusCells(1L))
      assert(got(8L) === corpusCells(4L))
    } finally q.stop()
  }

  test("streaming ADC top-k equals batch pqSearchFrom on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val e = graft.Tables.load(spark, sf(), "embeddings").cache()
    // fit-batch: frozen codebook + wide codes, as a PqIndex store would
    // serve them
    val cents = graft.ext.KMeans.pqFit(e)
    val codes = graft.ext.KMeans.pqAssignments(e, cents)
    val wide = graft.ext.KMeans.codesWide(codes).cache()
    val queriesBatch = e.filter(col("vec_id") < 4)

    // score-stream: the same queries arrive in two micro-batches
    val qs = MemoryStream[(Long, Seq[Float])]
    val stream = EventStreams.pqSearchStream(
      qs.toDF().toDF("vec_id", "embedding"), wide, cents, topK = 5)
    val q = stream.writeStream.format("memory").queryName("adc_out")
      .outputMode("update").start()
    try {
      val qrows = queriesBatch.select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect()
      qs.addData(qrows.take(2).toSeq: _*)
      q.processAllAvailable()
      qs.addData(qrows.drop(2).toSeq: _*)
      q.processAllAvailable()
      // update-mode memory sink: keep the LAST emission per query
      val got = spark.table("adc_out")
        .as[EventStreams.AdcHit].collect()
        .groupBy(h => (h.query_id, h.neighbor_id))
        .map { case ((qid, nid), hs) => (qid, nid, hs.last.adc, hs.last.rank) }
        .toSet
      val expect = graft.ext.KMeans.pqSearchFrom(codes, cents,
          queriesBatch, topK = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === expect)
    } finally { q.stop(); wide.unpersist(); e.unpersist() }
  }

  test("file-source tree stream lands batches through the SCD2 sink with NC absorption") {
    val dir = Files.createTempDirectory("graft-stream")
    val in = dir.resolve("in"); Files.createDirectories(in)
    val ckpt = dir.resolve("ckpt").toString
    val store = new TableStore(spark, dir.resolve("store").toString)

    def runOnce(): Unit = {
      val landing = StreamingIngest.landingStream(
        StreamingIngest.readTreeStream(spark, in.toString), "DEV01")
      val q = StreamingIngest.scd2Sink(landing, store, "hist", ckpt,
        clock = () => ts("2024-06-01 00:00:00"), trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    Files.writeString(in.resolve("t1.json"),
      """{"2024-03-01": {"09:00:00": {"TimeZone": "IST", "Humidity": "62.0",
        |"Temperature": "29.4", "Timestamp": "2024-03-01 09:00:00"},
        |"09:05:00": {"TimeZone": "IST", "Humidity": "63.1",
        |"Temperature": "29.6", "Timestamp": "2024-03-01 09:05:00"}}}""".stripMargin)
    runOnce()
    val after1 = store.read("hist")
    assert(after1.count() === 2)
    assert(after1.filter(col("da_current_flag") === "Y").count() === 2)

    // second file: one repeat (NC) + one changed reading (new version)
    Files.writeString(in.resolve("t2.json"),
      """{"2024-03-01": {"09:00:00": {"TimeZone": "IST", "Humidity": "62.0",
        |"Temperature": "29.4", "Timestamp": "2024-03-01 09:00:00"},
        |"09:05:00": {"TimeZone": "IST", "Humidity": "70.0",
        |"Temperature": "29.6", "Timestamp": "2024-03-01 09:05:00"}}}""".stripMargin)
    runOnce()
    val after2 = store.read("hist")
    assert(after2.count() === 3) // unchanged + closed old version + new version
    val current = after2.filter(col("da_current_flag") === "Y")
    assert(current.count() === 2) // one current row per natural key
    assert(current.filter(col("humidity") === "70.0").count() === 1)
  }

  test("the SCD2 sink reads each micro-batch's input file in one execution") {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft-stream-once")
    val in = dir.resolve("in"); Files.createDirectories(in)
    val store = new TableStore(spark, dir.resolve("store").toString)
    Seq("t1.json" -> "62.0", "t2.json" -> "70.0").foreach { case (file, hum) =>
      Files.writeString(in.resolve(file),
        s"""{"2024-03-01": {"09:00:00": {"TimeZone": "IST", "Humidity": "$hum",
           |"Temperature": "29.4", "Timestamp": "2024-03-01 09:00:00"}}}""".stripMargin)
    }
    // The files an execution reads: its plan's file scans, and the file
    // scans in the lineage of the RDDs it scans — foreachBatch hands the
    // sink its micro-batch as an RDD over the file source's plan, and a
    // checkpointed RDD's lineage stops at its checkpoint.
    def lineageFiles(rdd: RDD[_]): Seq[String] = rdd match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.filePath.toString))
      case r => r.dependencies.flatMap(d => lineageFiles(d.rdd))
    }
    val readers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        readers.add(collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
          case r: RDDScanExec => lineageFiles(r.rdd)
        }.flatten.map(p => p.substring(p.lastIndexOf('/') + 1)).distinct)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the start: the stream runs in a clone of the
    // session, which copies the listeners it has at that point
    spark.listenerManager.register(listener)
    try {
      val landing = StreamingIngest.landingStream(
        StreamingIngest.readTreeStream(spark, in.toString, maxFilesPerTrigger = 1), "DEV01")
      StreamingIngest.scd2Sink(landing, store, "hist", dir.resolve("ckpt").toString,
        clock = () => ts("2024-06-01 00:00:00"), trigger = Trigger.AvailableNow())
        .awaitTermination()
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val reads = readers.asScala.toSeq
    Seq("t1.json", "t2.json").foreach { file =>
      assert(reads.count(_.contains(file)) == 1, s"$file: $reads")
    }
    // two micro-batches, the second a new version of the first's reading
    val hist = store.read("hist")
    assert(hist.count() === 2)
    assert(hist.filter(col("da_current_flag") === "Y")
      .select("humidity").collect().map(_.getString(0)).toSeq == Seq("70.0"))
  }

  test("streaming classification appends batch-identical verdicts (fit-batch/score-stream)") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, "web", "the cat sat on the mat"),
      (2L, "code", "def foo return bar end")).toDF("doc_id", "source", "text")
    // frozen model: profiles pinned once (localCheckpoint), scored per batch
    val profiles = graft.ext.Classifier.classProfiles(train, "source")
      .localCheckpoint(true)
    val input = MemoryStream[(Long, String)]
    val store = new TableStore(spark,
      Files.createTempDirectory("cls-store").toString)
    val ckpt = Files.createTempDirectory("cls-ckpt").toString
    val q = graft.ext.Classifier.classifySink(
      input.toDF().toDF("doc_id", "text"), profiles, store, "verdicts", ckpt,
      trigger = Trigger.ProcessingTime(0))
    val docs = Seq((10L, "the cat"), (11L, "def bar"), (12L, "zzz"))
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = store.read("verdicts").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val batch = graft.ext.Classifier.predict(docs.toDF("doc_id", "text"), profiles)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(streamed === batch)
    assert(streamed.contains((10L, Some("web"))) && streamed.contains((12L, None)))
  }

  test("streaming rollup sink folds micro-batches into batch-identical state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("rollup-store").toString)
    val ckpt = Files.createTempDirectory("rollup-ckpt").toString
    val q = EventStreams.rollupSink(input.toDF(), store, "state",
      Seq("event_type"), "value", ckpt, Trigger.ProcessingTime(0))
    try {
      input.addData(
        Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.25),
        Event(2L, 2L, ts("2024-01-01 10:01:00"), "view", 2.50))
      q.processAllAvailable()
      input.addData(
        Event(3L, 1L, ts("2024-01-01 10:02:00"), "click", 0.25),
        Event(4L, 3L, ts("2024-01-01 10:03:00"), "click", 10.00))
      q.processAllAvailable()
    } finally q.stop()

    val all = Seq(
      Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.25),
      Event(2L, 2L, ts("2024-01-01 10:01:00"), "view", 2.50),
      Event(3L, 1L, ts("2024-01-01 10:02:00"), "click", 0.25),
      Event(4L, 3L, ts("2024-01-01 10:03:00"), "click", 10.00)).toDF()
    val streamed = graft.ext.IncrementalAgg.finalizeState(
      store.read("state").drop("__folded_batch"), Seq("event_type"))
    val batch = graft.ext.IncrementalAgg.finalizeState(
      graft.ext.IncrementalAgg.buildState(all, Seq("event_type"), "value"),
      Seq("event_type"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // the fold watermark rides inside the state table (atomic with it)
    assert(store.read("state").columns.contains("__folded_batch"))
  }

  test("streamed (group, unit) rollup state yields batch-identical lattice quantiles") {
    // the streaming face of the lattice-histogram quantile profile is
    // rollupSink keyed by (group, unit): its state already carries cnt,
    // so quantile extraction over streamed state must equal the batch
    // histogram path on the same rows
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Sketches
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("latq-store").toString)
    val ckpt = Files.createTempDirectory("latq-ckpt").toString
    val withUnit = (df: org.apache.spark.sql.DataFrame) => df.withColumn(
      "unit", round(col("value") * 100).cast("decimal(18,0)").cast("long"))
    val q = EventStreams.rollupSink(withUnit(input.toDF()), store, "latq",
      Seq("event_type", "unit"), "value", ckpt, Trigger.ProcessingTime(0))
    val rows = Seq(
      Event(1L, 1L, ts("2024-01-01 10:00:00"), "click", 1.25),
      Event(2L, 2L, ts("2024-01-01 10:01:00"), "click", 2.50),
      Event(3L, 1L, ts("2024-01-01 10:02:00"), "click", 0.25),
      Event(4L, 3L, ts("2024-01-01 10:03:00"), "view", 10.00),
      Event(5L, 3L, ts("2024-01-01 10:04:00"), "click", 2.50))
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val qs = Seq("p50" -> 500000L, "p99" -> 990000L)
    val streamed = Sketches.latticeQuantiles(
      store.read("latq").select(col("event_type"), col("unit"), col("cnt")),
      "event_type", qs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Sketches.latticeQuantiles(
      Sketches.latticeHistogram(withUnit(rows.toDF()), "event_type", col("unit")),
      "event_type", qs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.exists(_._1 == "click"))
  }

  test("streaming resample folds micro-batches into batch-identical grid state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("resample-store").toString)
    val ckpt = Files.createTempDirectory("resample-ckpt").toString
    val q = EventStreams.resampleSink(input.toDF(), store, "grid",
      "user_id", "ts", "value", 3600L, ckpt, Trigger.ProcessingTime(0))
    val rows = Seq(
      Event(1L, 1L, ts("2024-01-01 10:05:00"), "click", 1.25),
      Event(2L, 1L, ts("2024-01-01 10:55:00"), "click", 2.50),
      Event(3L, 2L, ts("2024-01-01 10:10:00"), "view", 0.75),
      Event(4L, 1L, ts("2024-01-01 12:20:00"), "click", 10.00),
      // late arrival for an already-folded bucket: folds, never dropped
      Event(5L, 1L, ts("2024-01-01 10:30:00"), "click", 0.10))
    try {
      input.addData(rows(0), rows(1), rows(2))
      q.processAllAvailable()
      input.addData(rows(3), rows(4))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = EventStreams
      .resampleState(store.read("grid").drop("__folded_batch"), "user_id")
      .select(col("user_id"), col("bucket"), col("n"), col("sum_cents"))
    val batch = graft.ext.TimeSeries
      .resample(rows.toDF(), "user_id", "ts", "value", 3600L)
      .select(col("user_id"), col("bucket"), col("n"), col("sum_cents"))
    // shape-identical, not just values-equal: resampleState casts the
    // stored decimal(38,0) accumulator down to batch resample's
    // decimal(28,0), so batch ∪ streamed grids union without widening
    // (names+types compared; nullability always widens through a
    // parquet store roundtrip)
    assert(streamed.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      batch.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // the 10:00 bucket accumulated across batches: 3 readings, 385 cents
    val b10 = streamed.filter(col("user_id") === 1L &&
      col("bucket") === ts("2024-01-01 10:00:00").getTime / 1000).head()
    assert(b10.getLong(2) === 3L)
    assert(b10.getDecimal(3).longValue === 385L)
  }

  test("streaming KMV sketch state equals the batch sketch, stays <= k rows per group") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("kmv-store").toString)
    val ckpt = Files.createTempDirectory("kmv-ckpt").toString
    val k = 8
    val rows = (1L to 60L).map(i =>
      Event(i, i % 25, ts("2024-01-01 10:00:00"), if (i % 2 == 0) "click" else "view", 1.0))
    val q = EventStreams.kmvSink(input.toDF(), store, "kmv",
      "event_type", "user_id", k, ckpt, Trigger.ProcessingTime(0))
    try {
      input.addData(rows.take(20): _*)
      q.processAllAvailable()
      input.addData(rows.drop(20): _*)   // re-delivers user_ids seen in batch 0
      q.processAllAvailable()
    } finally q.stop()

    val state = store.read("kmv")
    // bounded state: never more than k rows per group, whatever the stream length
    val sizes = state.groupBy(col("event_type")).count().collect()
    sizes.foreach(r => assert(r.getLong(1) <= k, s"state overflow: $r"))
    val streamed = graft.ext.Sketches
      .kmvProfile(state.drop("__folded_batch"), "event_type", k)
    val batch = graft.ext.Sketches
      .kmvDistinct(rows.toDF(), "event_type", "user_id", k)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming CMS state equals the batch sketch; estimates agree") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("cms-store").toString)
    val ckpt = Files.createTempDirectory("cms-ckpt").toString
    val rows = (1L to 80L).map(i =>
      Event(i, i % 7, ts("2024-01-01 10:00:00"),
        if (i % 3 == 0) "click" else "view", 1.0))
    val q = EventStreams.cmsSink(input.toDF(), store, "cms",
      "event_type", ckpt, trigger = Trigger.ProcessingTime(0))
    try {
      input.addData(rows.take(30): _*)
      q.processAllAvailable()
      input.addData(rows.drop(30): _*)
      q.processAllAvailable()
    } finally q.stop()
    val state = store.read("cms").drop("__folded_batch")
    val whole = graft.ext.Sketches.cmsBuild(rows.toDF(), "event_type")
    assert(state.exceptAll(whole).count() === 0)
    assert(whole.exceptAll(state).count() === 0)
    // estimates from the streamed state match exact counts (uncrowded)
    val cand = Seq("click", "view").toDF("event_type")
    val est = graft.ext.Sketches
      .cmsEstimate(state, cand, "event_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("click" -> 26L, "view" -> 54L))
  }

  test("stream-fed interpolation equals batch interpolation end to end") {
    // the full streaming → regularized-series path (VERDICT r6 #6):
    // micro-batched readings → resampleSink state → resampleState →
    // interpolateFromGrid must row-equal interpolateLinear over the same
    // readings in one batch — including an interpolated interior gap
    // (user 1 has no 11:00 bucket).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("interp-store").toString)
    val ckpt = Files.createTempDirectory("interp-ckpt").toString
    val q = EventStreams.resampleSink(input.toDF(), store, "grid",
      "user_id", "ts", "value", 3600L, ckpt, Trigger.ProcessingTime(0))
    val rows = Seq(
      Event(1L, 1L, ts("2024-01-01 10:05:00"), "click", 1.25),
      Event(2L, 1L, ts("2024-01-01 10:55:00"), "click", 2.50),
      Event(3L, 2L, ts("2024-01-01 10:10:00"), "view", 0.75),
      Event(4L, 1L, ts("2024-01-01 12:20:00"), "click", 10.00),
      Event(5L, 1L, ts("2024-01-01 10:30:00"), "click", 0.10))
    try {
      input.addData(rows(0), rows(1), rows(2))
      q.processAllAvailable()
      input.addData(rows(3), rows(4))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = TimeSeries.interpolateFromGrid(
      EventStreams.resampleState(
        store.read("grid").drop("__folded_batch"), "user_id"),
      "user_id", 3600L)
    val batch = TimeSeries.interpolateLinear(
      rows.toDF(), "user_id", "ts", "value", 3600L)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // the gap really exercised interpolation: user 1's 11:00 grid point
    // is unobserved (v null) and filled between 10:00 and 12:00 means
    val gap = streamed.filter(col("user_id") === 1L &&
      col("bucket") === ts("2024-01-01 11:00:00").getTime / 1000).head()
    assert(gap.isNullAt(2))
    assert(!gap.isNullAt(3))
  }

  test("streaming HLL registers equal the batch sketch; estimate agrees") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val store = new TableStore(spark,
      Files.createTempDirectory("hll-store").toString)
    val ckpt = Files.createTempDirectory("hll-ckpt").toString
    val rows = (1L to 90L).map(i =>
      Event(i, i % 37, ts("2024-01-01 10:00:00"),
        if (i % 2 == 0) "click" else "view", 1.0))
    val q = EventStreams.hllSink(input.toDF(), store, "hll",
      "event_type", "user_id", ckpt, Trigger.ProcessingTime(0))
    try {
      input.addData(rows.take(30): _*)
      q.processAllAvailable()
      input.addData(rows.drop(30): _*) // re-delivers user_ids from batch 0
      q.processAllAvailable()
    } finally q.stop()
    val state = store.read("hll").drop("__folded_batch")
    // bounded state: at most 64 registers per group, forever
    state.groupBy(col("event_type")).count().collect()
      .foreach(r => assert(r.getLong(1) <= graft.ext.Sketches.hllBuckets))
    val whole = graft.ext.Sketches
      .hllRegisters(rows.toDF(), "event_type", "user_id")
    assert(state.exceptAll(whole).count() === 0)
    assert(whole.exceptAll(state).count() === 0)
    // the live estimate read off the streamed state = the batch estimate
    val se = graft.ext.Sketches.hllEstimate(state, "event_type")
    val be = graft.ext.Sketches.hllEstimate(whole, "event_type")
    assert(se.exceptAll(be).count() === 0 && be.exceptAll(se).count() === 0)
  }
}
