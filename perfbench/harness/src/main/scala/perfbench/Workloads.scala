package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.json4s._

import graft.model.{Scd2Config, Schemas}
import graft.pipeline.Pipeline
import graft.store.TableStore
import graft.streaming.StreamingIngest

/** Directory helpers shared by the workloads. */
object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  def copyInto(file: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.copy(file, dir.resolve(file.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Regular files under `dir`: path -> (bytes, mtime). */
  def snapshot(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => dir.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }

  def bytes(snap: Map[String, (Long, Long)]): Long = snap.values.map(_._1).sum
}

/** Store write statistics gathered around each op in the traced pass. */
class WriteStats(storeDir: Path, target: String) {
  var filesWritten = 0L
  var bytesWritten = 0L
  var targetBytesWritten = 0L
  var bucketsTouched = 0L
  var bucketsSeen = 0L
  private var before: Map[String, (Long, Long)] = Map.empty
  private var targetStart: Long = -1L

  def begin(): Unit = {
    before = Fs.snapshot(storeDir)
    if (targetStart < 0) targetStart = targetBytes(before)
  }

  private def targetBytes(s: Map[String, (Long, Long)]) =
    s.collect { case (k, (b, _)) if k.startsWith(target + "/") => b }.sum

  def end(): Unit = {
    val after = Fs.snapshot(storeDir)
    val written = after.filter { case (k, v) => !before.get(k).contains(v) }
    filesWritten += written.size
    bytesWritten += Fs.bytes(written)
    val tw = written.filter(_._1.startsWith(target + "/"))
    targetBytesWritten += Fs.bytes(tw)
    bucketsTouched += tw.keys.flatMap(_.split('/').find(_.startsWith("nk_bucket="))).toSet.size
    bucketsSeen += 1
  }

  def layers(buckets: Int): Map[String, Double] = {
    val end = targetBytes(Fs.snapshot(storeDir))
    val grown = math.max(1L, end - math.max(0L, targetStart))
    Map(
      "store.files_written" -> filesWritten.toDouble,
      "store.mb_written" -> bytesWritten / 1048576.0,
      "store.write_amp" -> targetBytesWritten.toDouble / grown,
      "scd2.buckets_touched_ratio" ->
        (if (bucketsSeen == 0) 0.0 else bucketsTouched.toDouble / (bucketsSeen * buckets)))
  }
}

/** Counts read back from a store after a pass (untimed). */
object StoreFacts {
  def apply(spark: SparkSession, storeDir: Path, target: String, fed: Long): Map[String, Double] = {
    val store = new TableStore(spark, storeDir.toString)
    val t = store.readOrEmpty(target, Schemas.scd2TargetStored)
    val r = t.agg(count(lit(1)), sum(when(col("da_current_flag") === "N", 1).otherwise(0)))
      .collect().head
    val versions = r.getLong(0)
    val closed = Option(r.get(1)).map(_.toString.toLong).getOrElse(0L)
    val snap = Fs.snapshot(storeDir)
    def files(prefix: String) =
      snap.keys.count(k => k.startsWith(prefix + "/") && k.endsWith(".parquet")).toDouble
    Map(
      "scd2.inserted" -> (versions - closed).toDouble,
      "scd2.updated" -> closed.toDouble,
      "scd2.closed" -> closed.toDouble,
      "scd2.unchanged" -> math.max(0L, fed - versions).toDouble,
      "store.target_files" -> files(target),
      "stage.int_files" -> files("dht11_data_int"),
      "control.files" -> (files("data_control_table") + files("hist_load_control")))
  }
}

/** Shared pieces of the pipeline workloads. */
abstract class PipelineWorkload(workDir: String, plan: JValue) extends Workload {
  implicit val formats: Formats = DefaultFormats
  val devices: Seq[String] = (plan \ "devices").extract[Seq[String]]
  val conf = Scd2Config()
  val target = "hist_dht11_data"
  private var passes = 0
  var lastStore: Path = _
  var retries = 0

  def freshDir(tag: String): Path = {
    val d = Paths.get(workDir, s"$tag$passes")
    passes += 1
    Fs.delete(d)
    Files.createDirectories(d)
    d
  }

  def pipeline(spark: SparkSession, store: TableStore, dev: String) =
    new Pipeline(spark, store, interfaceName = s"ESP_DHT11_DATA_$dev", interfaceCd = dev)

  def runOnce(p: Pipeline, tree: Path, dev: String, now: Timestamp) =
    p.runWithRetry(tree.toString, dev, now, retries = 1, retryDelayMs = 0L,
      sleep = _ => retries += 1)

  /** Warm-up: one nightly run over the generator's `warm/` files on a
    * throwaway store. */
  def warmup(spark: SparkSession): Unit = {
    val d = freshDir("warm-store")
    val p = pipeline(spark, new TableStore(spark, d.resolve("store").toString), "WARM")
    runOnce(p, Paths.get(workDir, "warm"), "WARM", Timestamp.valueOf("2024-01-03 00:00:00"))
    Fs.delete(d)
  }

  def span[T](spans: Option[Spans], name: String, module: String)(f: => T): T =
    spans.fold(f)(_.apply(name, module)(f))
}

/** One device's run on one night: its `now` and the counts it must report. */
final case class Expect(now: String, ingested: Long, inserted: Long)
final case class Day(day: Int, runs: Map[String, Expect])

/** nightly_batch: the reference's daily cron. Each device's export
  * directory gains one tree file per simulated day; every day runs
  * `Pipeline.runWithRetry` once per device against one shared store. */
class Nightly(workDir: String, plan: JValue) extends PipelineWorkload(workDir, plan) {
  val days: Seq[Day] = (plan \ "days").children.map(j => Day((j \ "day").extract[Int],
    devices.map { d =>
      val r = j \ "runs" \ d
      d -> Expect((r \ "now").extract[String], (r \ "ingested").extract[Long],
        (r \ "inserted").extract[Long])
    }.toMap))

  def run(spark: SparkSession, traced: Option[(Tracer, Spans)]): Outcome = {
    val spans = traced.map(_._2)
    val pass = freshDir("pass")
    lastStore = pass.resolve("store")
    val store = new TableStore(spark, lastStore.toString)
    val pipes = devices.map(d => d -> pipeline(spark, store, d)).toMap
    val ws = traced.map(_ => new WriteStats(lastStore, target))
    val ops = mutable.ArrayBuffer.empty[Op]
    val clock = new PhaseClock
    var rows = 0L
    var landed = 0L
    retries = 0
    for (day <- days) {
      devices.foreach(d => Fs.copyInto(
        Paths.get(workDir, "trees", d, f"day${day.day}%02d.json"), pass.resolve("export").resolve(d)))
      for (d <- devices) clock {
        ws.foreach(_.begin())
        val op = timeOp("run", s"$d@day${day.day}", spans, "pipeline") {
          val e = day.runs(d)
          val r = runOnce(pipes(d), pass.resolve("export").resolve(d), d, Timestamp.valueOf(e.now))
          landed += r.ingested
          (r.inserted,
            if (r.skipped || r.ingested != e.ingested || r.inserted != e.inserted)
              Some(s"ingested ${r.ingested}, inserted ${r.inserted}; expected $e")
            else None)
        }
        ws.foreach(_.end())
        ops += op
        if (op.ok) rows += op.rows
      }
    }
    val layers = traced.fold(Map.empty[String, Double]) { _ =>
      ws.get.layers(conf.targetBuckets) ++ StoreFacts(spark, lastStore, target, landed) ++ Map(
        "pipeline.retries" -> retries.toDouble,
        "ingest.rows_landed" -> landed.toDouble)
    }
    Outcome(ops.toSeq, clock.wallS, clock.cpuS, rows, layers, lastStore.toString)
  }
}

/** stream_revisions: per device, a backlog of tree files (some re-sending
  * earlier readings, changed or identical) drained by the streaming SCD2
  * sink with `Trigger.AvailableNow`, one query per device in turn. */
class StreamRevisions(workDir: String, plan: JValue) extends PipelineWorkload(workDir, plan) {
  val maxFiles: Int = (plan \ "max_files").extract[Int]
  /** Per device and micro-batch: readings in its files, and the new
    * versions (inserts plus changed re-sends) it must write. */
  val batchRows: Map[String, Seq[Long]] = (plan \ "batch_rows").extract[Map[String, Seq[Long]]]
  val batchNew: Map[String, Seq[Long]] = (plan \ "batch_new").extract[Map[String, Seq[Long]]]

  private val base = Timestamp.valueOf("2024-02-01 00:00:00").getTime
  private var tick = 0L
  private val issued = mutable.ArrayBuffer.empty[Timestamp]
  /** The sink's clock: one distinct instant per micro-batch, recorded so
    * each batch's new versions can be found by their insert time. */
  private def clock(): Timestamp = {
    tick += 1
    val t = new Timestamp(base + tick * 1000L)
    issued += t
    t
  }

  private def drain(spark: SparkSession, store: TableStore, src: Path, dev: String,
      ckpt: Path, filesPerBatch: Int = maxFiles)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val q = StreamingIngest.scd2Sink(
      StreamingIngest.landingStream(
        StreamingIngest.readTreeStream(spark, src.toString, filesPerBatch), dev),
      store, target, ckpt.toString, conf, () => clock(), Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  override def warmup(spark: SparkSession): Unit = {
    val d = freshDir("warm-store")
    val store = new TableStore(spark, d.resolve("store").toString)
    // one file per micro-batch: the second batch meets a non-empty target
    drain(spark, store, Paths.get(workDir, "warm"), "WARM", d.resolve("ckpt"), filesPerBatch = 1)
    Fs.delete(d)
  }

  def run(spark: SparkSession, traced: Option[(Tracer, Spans)]): Outcome = {
    val spans = traced.map(_._2)
    val pass = freshDir("pass")
    lastStore = pass.resolve("store")
    val store = new TableStore(spark, lastStore.toString)
    val ws = traced.map(_ => new WriteStats(lastStore, target))
    val ops = mutable.ArrayBuffer.empty[Op]
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val clock = new PhaseClock
    var rows = 0L
    for (d <- devices) {
      ws.foreach(_.begin())
      val issuedBefore = issued.size
      val got = clock {
        try Right(span(spans, s"stream:$d", "streaming")(
          drain(spark, store, Paths.get(workDir, "streams", d), d, pass.resolve("ckpt").resolve(d))))
        catch { case scala.util.control.NonFatal(e) =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      }
      ws.foreach(_.end())
      got match {
        case Right(ps) =>
          progress ++= ps
          // untimed check: versions inserted at each batch's instant
          val ticks = issued.drop(issuedBefore).toSeq
          val made = store.read(target).filter(col("deviceid") === d)
            .groupBy(col("da_inserted_datetime")).count().collect()
            .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
          val want = batchNew(d)
          for (i <- want.indices) {
            val secs = ps.lift(i).map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
              .getOrElse(0.0)
            val n = ticks.lift(i).flatMap(made.get).getOrElse(0L)
            val why = if (ps.size == want.size && ticks.size == want.size && n == want(i)) None
              else Some(s"batch $i wrote $n new versions of ${want(i)}; " +
                s"${ps.size} batches of ${want.size}")
            ops += Op("batch", s"$d#$i", secs, why.isEmpty, batchRows(d)(i), why.getOrElse(""))
            if (why.isEmpty) rows += batchRows(d)(i)
          }
        case Left(err) =>
          batchNew(d).indices.foreach(i => ops += Op("batch", s"$d#$i", 0.0, ok = false, 0L, err))
      }
    }
    val layers = traced.fold(Map.empty[String, Double]) { _ =>
      def share(k: String) = {
        val tot = progress.map(_.durationMs.get("triggerExecution").toDouble).sum
        if (tot <= 0) 0.0 else progress.map(p =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / tot
      }
      ws.get.layers(conf.targetBuckets) ++ StoreFacts(spark, lastStore, target, rows) ++ Map(
        "streaming.offsets_share" -> (share("latestOffset") + share("getBatch")),
        "streaming.planning_share" -> share("queryPlanning"),
        "streaming.add_batch_share" -> share("addBatch"),
        "streaming.commit_share" -> (share("walCommit") + share("commitOffsets")),
        "ingest.rows_landed" -> rows.toDouble,
        "streaming.backlog_files" ->
          devices.map(d => Fs.snapshot(Paths.get(workDir, "streams", d)).size).sum.toDouble)
    }
    Outcome(ops.toSeq, clock.wallS, clock.cpuS, rows, layers, lastStore.toString)
  }
}

/** registry_slice: a fixed, ordered list of registry queries run through
  * `SparkEntry.queries` into the noop sink, `passes` times. The untimed
  * warm-up pass writes each query's result instead, with the oracle texts,
  * for the check against DuckDB made after the run. */
class RegistrySlice(workDir: String, plan: JValue) extends Workload {
  implicit val formats: Formats = DefaultFormats
  val queries: Seq[String] = (plan \ "queries").extract[Seq[String]]
  val passes: Int = (plan \ "passes").extract[Int]
  val dataDir: String = Paths.get(workDir, "tables").toString
  private val dump = Paths.get(workDir, "dump")
  private var resultRows = 0L

  private def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def warmup(spark: SparkSession): Unit = {
    Files.createDirectories(dump)
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(dump.resolve("oracle_sql.json"), Json.obj(queries.flatMap(q =>
      oracle.get(q).map(sql => q -> Json.str(sql)))))
    resultRows = 0L
    for (q <- queries) {
      graft.SparkEntry.queries(q)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(dump.resolve(q).toString)
      resultRows += spark.read.parquet(dump.resolve(q).toString).count()
      clean(spark)
    }
  }

  def run(spark: SparkSession, traced: Option[(Tracer, Spans)]): Outcome = {
    val spans = traced.map(_._2)
    val ops = mutable.ArrayBuffer.empty[Op]
    val clock = new PhaseClock
    for (p <- 0 until passes; q <- queries) {
      ops += clock(timeOp("query", q, spans, "registry") {
        graft.SparkEntry.queries(q)(spark, dataDir)
          .write.format("noop").mode("overwrite").save()
        (0L, None)
      })
      clean(spark)
    }
    Outcome(ops.toSeq, clock.wallS, clock.cpuS, resultRows * passes)
  }
}
