package graft.scd2

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{AdaptivePlans, SparkSpec}
import graft.model.{Scd2Config, Schemas}
import graft.store.TableStore

/** Partition-scoped SCD2 rewrite (VERDICT r1 #6): a batch touching one
  * natural key, or one device-day, must rewrite ONLY its hash-bucket
  * partition — every other partition's parquet files stay byte-identical
  * on disk. */
class Scd2PartitionSpec extends SparkSpec {
  import spark.implicits._

  private val conf = Scd2Config(loadKey = 1L)
  private val now1 = Timestamp.valueOf("2024-03-03 00:00:00")
  private val now2 = Timestamp.valueOf("2024-03-04 00:00:00")

  private def batch(loadKey: Long, hum: Int => String): DataFrame =
    (0 until 40).map { i =>
      ("IST", hum(i), "29.4",
        Timestamp.valueOf(f"2024-03-01 09:${i % 60}%02d:00"), s"DEV$i", loadKey)
    }.toDF("timezone", "humidity", "temperature", "timestamp", "deviceid", "load_key")

  private val bucketOf =
    Historizer.nkBucket(conf.naturalKeys, conf.targetBuckets, Schemas.scd2Target)

  private val name = "hist"

  private def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-scd2-part").toString)

  /** One SCD2 merge of `src` into the stored target `name`. */
  private def applyTo(store: TableStore, src: DataFrame, now: Timestamp,
      loadKey: Long): Unit =
    Historizer.mergeInto(store, name, Historizer.batch(src, conf.copy(loadKey = loadKey)), now)

  /** A day of `dev`'s readings (every 20 minutes) from UTC midnight of
    * `day` — one device-day, the shape of one date subtree of an export. */
  private def deviceDay(dev: String, day: String, loadKey: Long): DataFrame = {
    val midnight = Instant.parse(s"${day}T00:00:00Z")
    (0 until 72).map { i =>
      ("IST", "60.0", "29.4", Timestamp.from(midnight.plusSeconds(i * 1200L)), dev, loadKey)
    }.toDF("timezone", "humidity", "temperature", "timestamp", "deviceid", "load_key")
  }

  /** `df`'s rows over `schema`'s columns, as sorted strings. */
  private def sortedRows(df: DataFrame, schema: StructType): Seq[String] =
    df.select(schema.fieldNames.map(col).toSeq: _*).collect().map(_.toString).toSeq.sorted

  /** The `nk_bucket=<b>` directory of a target-relative file path. */
  private def bucketDir(rel: String): String = rel.takeWhile(_ != '/')

  /** All parquet data files under the target, relative path → bytes. */
  private def dataFiles(root: Path): Map[String, Array[Byte]] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p))
      .toMap

  test("second batch rewrites only the touched bucket; untouched partition files are byte-identical") {
    val store = freshStore()
    val root = Paths.get(store.path(name))

    applyTo(store, batch(1L, _ => "60.0"), now1, 1L)
    // eager snapshot: the second apply rewrites files underneath a lazy
    // reader, so pin batch-1's target content now
    val tgt1 = store.read(name).localCheckpoint(true)
    assert(tgt1.count() === 40)
    val nBuckets1 = tgt1.select("nk_bucket").distinct().count()
    assert(nBuckets1 > 1, "fixture must spread over multiple buckets")
    val before = dataFiles(root)
    assert(before.nonEmpty)

    // batch 2: ONE changed reading (DEV7) → exactly one 'U' natural key
    applyTo(store, batch(2L, i => if (i == 7) "99.9" else "60.0"), now2, 2L)

    val changedBucket = batch(2L, _ => "")
      .filter($"deviceid" === "DEV7")
      .select(bucketOf)
      .first().getInt(0)
    val after = dataFiles(root)

    val untouchedBefore = before.filter(!_._1.startsWith(s"nk_bucket=$changedBucket/"))
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { case (rel, bytes) =>
      assert(after.contains(rel), s"untouched file $rel disappeared")
      assert(java.util.Arrays.equals(after(rel), bytes),
        s"untouched file $rel was rewritten")
    }
    // the touched bucket WAS rewritten (old file set replaced)
    val touchedBefore = before.keySet.filter(_.startsWith(s"nk_bucket=$changedBucket/"))
    val touchedAfter = after.keySet.filter(_.startsWith(s"nk_bucket=$changedBucket/"))
    assert(touchedBefore.nonEmpty && touchedAfter.nonEmpty && touchedBefore != touchedAfter)

    // MERGE semantics intact: 41 rows total, 40 current, DEV7 has 2 versions
    val tgt2 = store.read(name)
    assert(tgt2.count() === 41)
    assert(tgt2.filter($"da_current_flag" === "Y").count() === 40)
    val dev7 = tgt2.filter($"deviceid" === "DEV7")
    assert(dev7.count() === 2)
    assert(dev7.filter($"da_current_flag" === "Y")
      .select("humidity").first().getString(0) === "99.9")
    // the touched bucket's exact content: DEV7's old version closed at
    // now2, its new version (key 41, durable AK, the new payload and hash)
    // open from now2, and every other row as batch 1 wrote it
    val bucket1 = tgt1.filter($"nk_bucket" === changedBucket)
    val old7 = bucket1.filter($"deviceid" === "DEV7")
    assert(old7.count() === 1)
    val expected = bucket1.filter($"deviceid" =!= "DEV7")
      .unionByName(old7
        .withColumn("da_current_flag", lit("N"))
        .withColumn("da_valid_to_date", lit(now2))
        .withColumn("da_updated_datetime", lit(now2)))
      .unionByName(old7
        .withColumn("dht11_key", lit(41L))
        .withColumn("humidity", lit("99.9"))
        .withColumn("delta_hash", sha2(concat(lit("99.9"), $"temperature"), 256))
        .withColumn("da_updated_datetime", lit(now2))
        .withColumn("da_inserted_datetime", lit(now2))
        .withColumn("da_valid_from_date", lit(now2))
        .withColumn("da_valid_to_date", lit(Schemas.openEndedValidTo))
        .withColumn("da_current_flag", lit("Y")))
    val partitioned = tgt2.filter($"nk_bucket" === changedBucket)
    assert(sortedRows(partitioned, Schemas.scd2TargetStored) ===
      sortedRows(expected, Schemas.scd2TargetStored))

    // NC-only batch: the merge returns no row, so no bucket is touched and
    // every file stays byte-identical
    val nc = Historizer.applyScd2Partitioned(Historizer.batch(
        batch(3L, i => if (i == 7) "99.9" else "60.0"), conf.copy(loadKey = 3L)),
      store.read(name), Timestamp.valueOf("2024-03-05 00:00:00"))
    assert(nc.isEmpty)
    store.overwritePartitionsDynamic(name, nc, Seq("nk_bucket"))
    val after3 = dataFiles(root)
    assert(after3.keySet === after.keySet)
    after.foreach { case (rel, bytes) =>
      assert(java.util.Arrays.equals(after3(rel), bytes), s"NC batch rewrote $rel")
    }
  }

  test("a one device-day batch into a multi-day target rewrites exactly one bucket") {
    val store = freshStore()
    val root = Paths.get(store.path(name))
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04")
    val history = (for (dev <- Seq("DEVA", "DEVB"); day <- days)
      yield deviceDay(dev, day, 1L)).reduce(_ union _)
    applyTo(store, history, now1, 1L)
    val before = dataFiles(root)
    assert(before.keySet.map(bucketDir).size > 1, "fixture must spread over multiple buckets")

    // the next night: one new device-day, 72 readings
    val night = deviceDay("DEVA", "2024-03-05", 2L)
    applyTo(store, night, now2, 2L)
    val nightBuckets = night.select(bucketOf).distinct().collect().map(_.getInt(0))
    assert(nightBuckets.length == 1, "a device-day must hash to one bucket")
    val nightBucket = s"nk_bucket=${nightBuckets.head}"

    // every file outside the night's bucket is byte-identical, and that
    // bucket's files were replaced
    val after = dataFiles(root)
    def unchanged(rel: String) = before.get(rel).zip(after.get(rel))
      .exists { case (b, a) => java.util.Arrays.equals(b, a) }
    val rewritten = (before.keySet ++ after.keySet).filterNot(unchanged)
    assert(rewritten.map(bucketDir) === Set(nightBucket))
    val tgt = store.read(name)
    assert(tgt.count() === 9 * 72)
    assert(tgt.filter($"da_inserted_datetime" === now2).count() === 72)
  }

  test("the partitioned apply runs no collect; both bucket sets are observed") {
    val store = freshStore()
    applyTo(store, batch(1L, _ => "60.0"), now1, 1L)
    val tgtStored = store.read(name)
    val (merged, executions) = executionsOf(Historizer.applyScd2Partitioned(Historizer.batch(
      batch(2L, i => if (i == 7) "99.9" else "60.0"), conf.copy(loadKey = 2L)), tgtStored, now2))
    val names = executions.map(_._1)
    assert(names.count(_ == "collect") == 0, names)
    // one checkpoint of the source batch, one of the delta
    assert(names.count(_ == "localCheckpoint") == 2, names)
    // the one 'U' key's bucket is the only one the merge returns
    val dev7 = batch(2L, _ => "").filter($"deviceid" === "DEV7").select(bucketOf).first().getInt(0)
    assert(merged.select("nk_bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(dev7))
  }

  test("the in-memory apply runs the production merge: mergeInto's rows, two checkpoints, no collect") {
    val store = freshStore()
    applyTo(store, batch(1L, _ => "60.0"), now1, 1L)
    val tgt1 = store.read(name).localCheckpoint(true)
    // DEV0-29 re-sent (DEV7, 13, 21 changed: 'U'; the rest 'NC'), DEV30-39
    // target-only, DEV40-44 new ('I')
    val changed = Set(7, 13, 21)
    val batch2 = ((0 until 30) ++ (40 until 45)).map { i =>
      ("IST", if (changed(i)) "99.9" else "60.0", "29.4",
        Timestamp.valueOf(f"2024-03-01 09:${i % 60}%02d:00"), s"DEV$i", 2L)
    }.toDF("timezone", "humidity", "temperature", "timestamp", "deviceid", "load_key")
    val (applied, executions) = executionsOf(Historizer.applyScd2(
      batch2, tgt1.drop("nk_bucket"), conf.copy(loadKey = 2L), now2))
    val names = executions.map(_._1)
    assert(names.count(_ == "collect") == 0, names)
    assert(names.count(_ == "localCheckpoint") == 2, names)
    // the wrapper adds no execution of its own to the merge's
    val (_, merge) = executionsOf(Historizer.applyScd2Partitioned(
      Historizer.batch(batch2, conf.copy(loadKey = 2L)), tgt1, now2))
    assert(names == merge.map(_._1))

    val inMemory = sortedRows(applied, Schemas.scd2Target)
    assert(inMemory.size == 40 + 3 + 5)
    assert(applied.filter($"da_current_flag" === "N").count() == 3)
    assert(applied.filter($"deviceid".isin("DEV7", "DEV13", "DEV21", "DEV40"))
      .select(bucketOf).distinct().count() > 1, "the touched rows must span several buckets")
    applyTo(store, batch2, now2, 2L)
    assert(sortedRows(store.read(name), Schemas.scd2Target) == inMemory)
  }

  test("mergeInto reads only the batch's buckets of a multi-bucket target, with no nested-loop or full outer join") {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    val store = freshStore()
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    applyTo(store, (for (dev <- Seq("DEVA", "DEVB"); day <- days)
      yield deviceDay(dev, day, 1L)).reduce(_ union _), now1, 1L)
    val root = Paths.get(store.path(name))
    assert(dataFiles(root).keySet.map(bucketDir).size > 2, "fixture must spread over multiple buckets")
    // the next night: a new device-day, and one reading of the day before revised
    val revised = deviceDay("DEVA", "2024-03-03", 2L)
      .filter($"timestamp" === Timestamp.from(Instant.parse("2024-03-03T00:00:00Z")))
      .withColumn("humidity", lit("99.9"))
    val night = deviceDay("DEVA", "2024-03-04", 2L).unionByName(revised)
    val nightBuckets = night.select(bucketOf).distinct().count()
    val (_, plans) = plansOf(applyTo(store, night, now2, 2L))
    val names = plans.map(_._1)
    assert(names.count(_ == "localCheckpoint") == 2 && names.count(_ == "collect") == 0, names)
    val targetScans = plans.flatMap(p => fileScans(p._2)).filter(_.relation.location.rootPaths
      .exists(_.toUri.getPath.stripSuffix("/") == root.toUri.getPath.stripSuffix("/")))
    assert(targetScans.nonEmpty, s"no execution read the target: $names")
    val read = targetScans.map(s => s.partitionFilters.nonEmpty -> s.metrics("numPartitions").value)
    assert(read.forall { case (pruned, n) => pruned && n <= nightBuckets } && read.exists(_._2 > 0),
      s"a target scan reads other buckets (pruned, buckets read): $read")
    plans.foreach { case (n, plan) =>
      assert(AdaptivePlans.collectWithSubqueries(plan) {
        case j: BroadcastNestedLoopJoinExec => j
        case j: BaseJoinExec if j.joinType == FullOuter => j
      }.isEmpty, s"$n plans a nested-loop or full outer join:\n$plan")
    }
    val tgt = store.read(name)
    assert(tgt.count() === 6 * 72 + 72 + 1)
    assert(tgt.filter($"da_current_flag" === "N").count() === 1)
    // the minted keys continue the footers' marks, gapless
    assert(tgt.filter($"da_inserted_datetime" === now2).select("dht11_key").as[Long]
      .collect().sorted.toSeq === (6 * 72 + 1L to 6 * 72 + 73L))
  }

  test("a target file whose footer lacks a key's statistics fails mergeInto before it writes") {
    import org.apache.parquet.conf.PlainParquetConfiguration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val store = freshStore()
    applyTo(store, batch(1L, _ => "60.0"), now1, 1L)
    val root = Paths.get(store.path(name))
    // a data file holding a key above every other, written without statistics
    val schema = MessageTypeParser.parseMessageType(
      "message spark_schema { optional int64 dht11_key; optional int64 dht11_ak; }")
    val file = root.resolve(bucketDir(dataFiles(root).keys.head)).resolve("part-nostats.parquet")
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(schema)
      .withConf(new PlainParquetConfiguration).withStatisticsEnabled(false).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("dht11_key", 1000L).append("dht11_ak", 1000L))
    finally writer.close()
    val before = dataFiles(root)
    val e = intercept[IllegalStateException](
      applyTo(store, batch(2L, i => if (i == 7) "99.9" else "60.0"), now2, 2L))
    assert(e.getMessage.contains("no footer statistics for column dht11_key"), e.getMessage)
    val after = dataFiles(root)
    assert(after.keySet == before.keySet && after.forall { case (rel, bytes) =>
      java.util.Arrays.equals(before(rel), bytes) })
  }

  test("a parquet source is scanned by one execution across the merge and its write") {
    val store = freshStore()
    applyTo(store, batch(1L, _ => "60.0"), now1, 1L)
    val srcDir = Files.createTempDirectory("graft-scd2-src").resolve("batch").toString
    batch(2L, i => if (i == 7) "99.9" else "60.0").repartition(3).write.parquet(srcDir)
    val (_, executions) = executionsOf(
      applyTo(store, spark.read.parquet(srcDir), now2, 2L))
    val scans = executions.filter(_._2.contains(Paths.get(srcDir).toUri.getPath.stripSuffix("/")))
    assert(scans.size == 1, executions)
    assert(store.read(name).count() === 41)
  }

  test("an empty batch into an empty target returns without blocking on its observation") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val store = freshStore()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.intermediate)
    val merged = Future {
      val tgtStored = store.readOrEmpty(name, Schemas.scd2TargetStored)
      val b = Historizer.batch(empty, conf)
      (b.count, Historizer.applyScd2Partitioned(b, tgtStored, now1).count(),
        Historizer.mergeInto(store, name, Historizer.batch(empty, conf), now1))
    }
    assert(Await.result(merged, 120.seconds) == ((0L, 0L, 0L)))
  }

  test("a batch whose keys bucket unlike the target's is refused, not merged") {
    // a string timestamp key hashes by value, the target's by UTC day: the
    // pruned join would miss the key's current version
    val store = freshStore()
    val stringKeys = batch(1L, _ => "60.0").withColumn("timestamp", $"timestamp".cast("string"))
    val e = intercept[IllegalArgumentException](Historizer.mergeInto(
      store, name, Historizer.batch(stringKeys, conf), now1))
    assert(e.getMessage.contains("bucket as the target's"))
    assert(!store.exists(name))
  }

  test("a timestamp key's bucket is its UTC day's, under any session time zone") {
    // 18:30-24:00 UTC is already the next calendar day in Asia/Kolkata, so
    // a bucket built on the session-local date would move these keys
    val instants = Seq("2024-03-01T19:00:00Z", "2024-03-02T21:15:00Z",
      "2024-03-03T23:59:59Z").map(Instant.parse)
    def keys(at: Seq[Instant]): DataFrame =
      at.map(i => ("DEV1", Timestamp.from(i))).toDF("deviceid", "timestamp")
    val tzKey = "spark.sql.session.timeZone"
    def buckets(df: DataFrame, tz: String): Seq[Int] = {
      val prev = spark.conf.get(tzKey)
      spark.conf.set(tzKey, tz)
      try df.select(bucketOf).collect().map(_.getInt(0)).toSeq
      finally spark.conf.set(tzKey, prev)
    }
    val utc = buckets(keys(instants), "UTC")
    assert(buckets(keys(instants), "Asia/Kolkata") === utc)
    assert(buckets(keys(instants.map(_.truncatedTo(ChronoUnit.DAYS))), "Asia/Kolkata") === utc)
  }
}
