package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.control.ControlTable
import graft.ingest.TreeIngest
import graft.model.{ControlEntry, HistLoadControlEntry, Schemas}
import graft.store.TableStore

/** End-to-end pipeline spec — SURVEY §7.4's minimum slice: tree → flatten
  * → threshold filter → landing → INT → SCD2 → control-table Success;
  * re-run absorbs as NC. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  val fixture = getClass.getResource("/firebase_tree.json").getPath
  val dev = "DEV01OMKARVARMA"

  def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-pipe").toString)

  test("tree ingest: flatten + N/A defaults + epoch-default threshold (S1/S2/P1/F13)") {
    val flat = TreeIngest.flatten(TreeIngest.readTree(spark, fixture))
    assert(flat.count() == 6)
    val landing = TreeIngest.toLanding(flat, dev, Schemas.epoch)
    assert(landing.count() == 6) // missing-Timestamp row defaults to epoch ⇒ passes
    val naHum = landing.filter($"humidity" === "N/A")
    assert(naHum.count() == 1) // 09:15 row missing Humidity
    assert(landing.filter($"timestamp".isNull).count() == 1) // 09:10 row
    // threshold at 2024-03-02 00:00:00 keeps the 2 day-2 rows; boundary >= kept
    val th = Timestamp.valueOf("2024-03-02 09:00:00")
    val filtered = TreeIngest.toLanding(flat, dev, th)
    assert(filtered.count() == 2) // 09:00 boundary row (>=) + 10:30
  }

  test("full pipeline run then re-run: SCD2 absorbs, control table advances (ST1-ST6)") {
    val store = freshStore()
    val pipe = new Pipeline(spark, store)
    val ctl = new ControlTable(spark, store)

    val now1 = Timestamp.valueOf("2024-03-02 11:00:00")
    val r1 = pipe.run(fixture, dev, now1)
    assert(!r1.skipped && r1.loadKey == 1L)
    // 6 land; the null-Timestamp row classifies 'I' but the merge never
    // inserts it (null natural key, Oracle `=` semantics) ⇒ 5 inserted
    assert(r1.ingested == 6 && r1.inserted == 5)
    assert(ctl.prevRunDetails("001").get._1 == "Success")

    val tgt = store.read(pipe.targetName)
    assert(tgt.count() == 5)
    assert(tgt.filter($"da_current_flag" === "Y").count() == 5)

    // re-run: prev start = now1, fixture max ts = 2024-03-02 10:30 < now1
    // ⇒ only the epoch-defaulted missing-Timestamp row... which lands as
    // null ts but passes the >= filter via epoch? No: epoch < now1 ⇒ excluded.
    val now2 = Timestamp.valueOf("2024-03-03 11:00:00")
    val r2 = pipe.run(fixture, dev, now2)
    assert(r2.skipped && r2.loadKey == 2L)
    assert(store.read(pipe.targetName).count() == 5) // unchanged

    // gate: force last status non-Success ⇒ next run refuses
    ctl.addCurrentRunEntry("ESP_DHT11_DATA", "001", 3L, now2, "APP SPECIFIC LOADING")
    intercept[IllegalArgumentException] {
      pipe.run(fixture, dev, Timestamp.valueOf("2024-03-04 11:00:00"))
    }
  }

  test("D7 retry: a transient failure replays its load key to Success; exhaustion marks Failed") {
    val store = freshStore()
    var failuresLeft = 1
    val pipe = new Pipeline(spark, store) {
      override protected def ingestDelta(treePath: String, deviceId: String,
          prevStart: Timestamp) = {
        if (failuresLeft > 0) { failuresLeft -= 1; sys.error("transient ingest failure") }
        super.ingestDelta(treePath, deviceId, prevStart)
      }
    }
    val ctl = new ControlTable(spark, store)
    var slept = 0L
    val now1 = Timestamp.valueOf("2024-03-02 11:00:00")
    // attempt 1 fails after the control entry is created; retry replays
    val r = pipe.runWithRetry(fixture, dev, now1, retries = 1,
      retryDelayMs = 30000L, sleep = slept += _)
    assert(!r.skipped && r.inserted == 5 && slept == 30000L)
    assert(ctl.prevRunDetails("001").get._1 == "Success")
    // the replay left exactly one control entry (the successful attempt)
    assert(ctl.control.filter($"interface_cd" === "001").count() == 1)
    assert(store.read(pipe.targetName).count() == 5)

    // exhaustion: both attempts fail ⇒ Failed status blocks the next run
    failuresLeft = 2
    val ex = intercept[RuntimeException] {
      pipe.runWithRetry(fixture, dev, Timestamp.valueOf("2024-03-03 11:00:00"),
        retries = 1, retryDelayMs = 1L, sleep = _ => ())
    }
    assert(ex.getMessage.contains("transient"))
    assert(ctl.prevRunDetails("001").get._1 == "Failed")
    intercept[IllegalArgumentException] {
      pipe.run(fixture, dev, Timestamp.valueOf("2024-03-04 11:00:00"))
    }

    // a LATER runWithRetry against the exhausted state must NOT erase the
    // Failed entry to sneak past the gate — it refuses identically, at
    // once: a gate refusal is not retried
    failuresLeft = 0
    val failedKey = ctl.prevRunDetails("001").get._3
    var laterSleeps = 0
    intercept[IllegalArgumentException] {
      pipe.runWithRetry(fixture, dev,
        Timestamp.valueOf("2024-03-05 11:00:00"), retries = 1,
        retryDelayMs = 1L, sleep = _ => laterSleeps += 1)
    }
    assert(laterSleeps == 0)
    assert(ctl.prevRunDetails("001").get._1 == "Failed")
    assert(ctl.prevRunDetails("001").get._3 == failedKey)
  }

  test("re-run with epoch threshold: every row absorbs as NC, target stable") {
    val store = freshStore()
    val pipe = new Pipeline(spark, store)
    val now1 = Timestamp.valueOf("1970-01-01 00:00:00") // epoch start ⇒ re-runs see all
    val r1 = pipe.run(fixture, dev, now1)
    assert(r1.inserted == 5) // null-nk row dropped from the merge's delta
    val r2 = pipe.run(fixture, dev, Timestamp.valueOf("1970-01-01 00:00:01"))
    // threshold = prev start = epoch ⇒ all 6 re-ingest; 5 absorb as NC,
    // the null-nk row re-classifies 'I' and is re-dropped — stable
    assert(!r2.skipped)
    assert(r2.inserted == 0)
    val tgt = store.read(pipe.targetName)
    assert(tgt.count() == 5)
    assert(tgt.filter($"da_current_flag" === "Y").count() == 5)
  }

  test("a run computes its batch once: every stage reads the batch's checkpoint") {
    val store = freshStore()
    val computed = spark.sparkContext.longAccumulator("delta rows")
    val pipe = new Pipeline(spark, store) {
      override protected def ingestDelta(treePath: String, deviceId: String,
          prevStart: Timestamp) = {
        val rows = computed  // a local, so the task closure does not capture the pipeline
        super.ingestDelta(treePath, deviceId, prevStart).filter { _ => rows.add(1); true }
      }
    }
    val r = pipe.run(fixture, dev, Schemas.epoch)
    assert(!r.skipped && r.ingested == 6)
    assert(computed.value == r.ingested)
  }

  test("a run materializes its batch once") {
    // cached DataFrames only: the batch's and the delta's localCheckpoints
    // are persistent RDDs too, released by the context cleaner
    def cached = spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)
    val before = cached
    @volatile var atLanded = -1
    val pipe = new Pipeline(spark, freshStore()) {
      override protected def fault(point: String): Unit =
        if (point == "landed") atLanded = cached
    }
    val (r, executions) = executionsOf(pipe.run(fixture, dev, Schemas.epoch))
    assert(!r.skipped && r.ingested == 6)
    assert(atLanded == before, "a cached DataFrame was live at the landing write")
    // the batch's checkpoint and the merge's delta checkpoint; no probe
    val names = executions.map(_._1)
    assert(names.count(_ == "localCheckpoint") == 2, names)
    assert(!names.exists(Set("isEmpty", "head")), names)
  }

  test("after the landing write, no plan of the run scans landing or INT") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val store = freshStore()
    // each leaf file scan of an execution started once the current run's
    // landing write has returned: its table directory, and whether it
    // prunes partitions
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    @volatile var landed = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (landed) fileScans(qe.executedPlan).foreach(s => s.relation.location.rootPaths
          .foreach(p => scanned.add(p.getName -> s.partitionFilters.nonEmpty)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val pipe = new Pipeline(spark, store) {
      override protected def fault(point: String): Unit = if (point == "landed") {
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
        landed = true
      }
    }
    spark.listenerManager.register(listener)
    try {
      // epoch threshold: the second run re-ingests the tree, one reading
      // revised, into the non-empty target, so its merge reads the
      // target's buckets of that device-day
      Seq(fixture -> 0L, PipelineSpec.revised(fixture) -> 1000L).foreach { case (tree, ms) =>
        landed = false
        assert(!pipe.run(tree, dev, new Timestamp(Schemas.epoch.getTime + ms)).skipped)
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      }
    } finally spark.listenerManager.unregister(listener)
    val scans = scanned.toArray(Array.empty[(String, Boolean)]).toSeq
    val tables = scans.map(_._1).toSet
    assert(tables.contains(pipe.targetName), s"the listener saw no target scan: $tables")
    assert(scans.filter(_._1 == pipe.targetName).forall(_._2), s"a target scan is not pruned: $scans")
    assert(!tables.contains(pipe.landingName) && !tables.contains(pipe.intName), tables)
    assert(store.read(pipe.targetName).count() == 6)
  }

  test("INT holds the device's landing rows plus the load key (S6), in the intermediate schema") {
    val store = freshStore()
    val pipes = Seq("DHT00", "DHT01").map(d =>
      d -> new Pipeline(spark, store, interfaceName = s"ESP_DHT11_DATA_$d", interfaceCd = d))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    // both interfaces mint load key 1, then 2 (re-ingest from the epoch)
    Seq(0L, 1000L).foreach { ms =>
      pipes.foreach { case (d, p) =>
        val r = p.run(fixture, d, new Timestamp(Schemas.epoch.getTime + ms))
        assert(!r.skipped)
        val landing = store.readOrEmpty(p.landingName, Schemas.landing)
          .filter($"deviceid" === d).withColumn("load_key", lit(r.loadKey))
        val int = store.read(p.intName)
        assert(int.schema.fieldNames.toSeq == Schemas.intermediate.fieldNames.toSeq)
        val intRows = int.filter($"deviceid" === d && $"load_key" === r.loadKey)
        assert(intRows.count() == r.ingested)
        assert(sorted(intRows) == sorted(landing), s"$d load key ${r.loadKey}")
      }
    }
  }

  test("control-table stamps keep each control table at one parquet file") {
    val store = freshStore()
    val pipe = new Pipeline(spark, store)
    // epoch threshold: every run re-ingests the fixture, so all three runs
    // take the full path (landing, INT, SCD2, every stamp)
    (0 until 3).foreach { i =>
      val r = pipe.run(fixture, dev, new Timestamp(Schemas.epoch.getTime + i * 1000L))
      assert(!r.skipped)
    }
    def parquetFiles(table: String): Long =
      Files.list(java.nio.file.Paths.get(store.path(table)))
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
    assert(parquetFiles(pipe.ctl.controlName) == 1)
    assert(parquetFiles(pipe.ctl.histLoadName) == 1)
  }

  test("control-table rewrites read with the caller's schema: one Spark job each, no inference") {
    val store = freshStore()
    val ctl = new ControlTable(spark, store)
    val t = Timestamp.valueOf("2024-03-02 11:00:00")
    ctl.addHistLoadEntry(1L, "S", "in progress", t, t, t)
    ctl.addCurrentRunEntry("I", "001", 1L, t)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf(ctl.markHistLoadProcessed(1L, "S")) == 1)
      assert(jobsOf(ctl.updateStatus("001", 1L, "Success", t)) == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(store.read(ctl.histLoadName).select("status").as[String].collect().toSeq ==
      Seq("processed"))
    assert(ctl.control.select("load_status").as[String].collect().toSeq == Seq("Success"))
  }

  test("control-table writes run one Spark job, the read, and write one parquet file on the driver") {
    val store = freshStore()
    val ctl = new ControlTable(spark, store)
    val t1 = Timestamp.valueOf("2024-03-02 11:00:00.123456")
    val t2 = Timestamp.valueOf("2024-03-03 11:00:00")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a status change with no entry to change writes nothing
      assert(jobsOf(ctl.updateStatus("001", 1L, "Failed", t1)) == 0)
      assert(!store.exists(ctl.controlName) && !store.exists(ctl.histLoadName))
      // the first write to an absent table reads nothing
      assert(jobsOf(ctl.addCurrentRunEntry("I", "001", 1L, t1)) == 0)
      assert(jobsOf(ctl.addHistLoadEntry(1L, "I", "in progress", t1, t1, t1)) == 0)
      assert(jobsOf(ctl.updateStatus("001", 1L, "Success", t2)) == 1)
      assert(jobsOf(ctl.markHistLoadProcessed(1L, "I")) == 1)
      assert(jobsOf(ctl.addCurrentRunEntry("I", "001", 2L, t2)) == 1)
      assert(jobsOf(ctl.addHistLoadEntry(2L, "I", "in progress", t2, t2, t2)) == 1)
      assert(jobsOf(ctl.addCurrentRunEntry("I", "001", 3L, t2)) == 1)
    } finally spark.sparkContext.removeSparkListener(listener)

    // Spark reads the driver-written files back, with inferred column types
    // equal to the case classes' and every value (micros, a null timestamp)
    // intact
    def types(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType)
    val control = store.read(ctl.controlName)
    assert(types(control.schema) == types(Encoders.product[ControlEntry].schema))
    assert(control.as[ControlEntry].collect().sortBy(_.load_key).toSeq == Seq(
      ControlEntry("I", "001", "Success", t1, t2, 1L),
      ControlEntry("I", "001", "APP SPECIFIC LOADING", t2, null, 2L),
      ControlEntry("I", "001", "APP SPECIFIC LOADING", t2, null, 3L)))
    val hist = store.read(ctl.histLoadName)
    assert(types(hist.schema) == types(Encoders.product[HistLoadControlEntry].schema))
    assert(hist.as[HistLoadControlEntry].collect().sortBy(_.load_key).toSeq == Seq(
      HistLoadControlEntry(1L, "I", "processed", t1, t1, t1),
      HistLoadControlEntry(2L, "I", "in progress", t2, t2, t2)))
    assert(ctl.prevRunDetails("001").contains(("APP SPECIFIC LOADING", t2, 3L)))
    Seq(ctl.controlName, ctl.histLoadName).foreach { table =>
      val files = Files.list(java.nio.file.Paths.get(store.path(table))).toArray.toSeq
      assert(files.size == 1 && files.head.toString.endsWith(".parquet"), files)
    }
  }

  test("adding a control or hist-load entry again under its key replaces it") {
    val store = freshStore()
    val ctl = new ControlTable(spark, store)
    val t1 = Timestamp.valueOf("2024-03-02 11:00:00")
    val t2 = Timestamp.valueOf("2024-03-03 11:00:00")
    // the same load key under another interface or subject area is kept
    ctl.addCurrentRunEntry("I", "001", 1L, t1)
    ctl.addCurrentRunEntry("J", "002", 1L, t1)
    ctl.addHistLoadEntry(1L, "I", "in progress", t1, t1, t1)
    ctl.addHistLoadEntry(1L, "J", "in progress", t1, t1, t1)
    ctl.updateStatus("001", 1L, "INTEGRATION LOAD COMPLETED", t1)
    ctl.markHistLoadProcessed(1L, "I")

    ctl.addCurrentRunEntry("I", "001", 1L, t2)
    ctl.addHistLoadEntry(1L, "I", "in progress", t2, t2, t2)
    assert(store.rows[ControlEntry](ctl.controlName).sortBy(_.interface_cd) == Seq(
      ControlEntry("I", "001", "APP SPECIFIC LOADING", t2, null, 1L),
      ControlEntry("J", "002", "APP SPECIFIC LOADING", t1, null, 1L)))
    assert(store.rows[HistLoadControlEntry](ctl.histLoadName).sortBy(_.subject_area) == Seq(
      HistLoadControlEntry(1L, "I", "in progress", t2, t2, t2),
      HistLoadControlEntry(1L, "J", "in progress", t1, t1, t1)))
  }
}

object PipelineSpec {
  /** A copy of the fixture tree `fixture` with its 2024-03-01 09:00
    * reading's humidity revised. */
  def revised(fixture: String): String = {
    val tree = Files.createTempDirectory("graft-tree").resolve("firebase_tree.json")
    Files.writeString(tree, Files.readString(Paths.get(fixture)).replace("\"62.0\"", "\"99.9\""))
    tree.toString
  }
}
