package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.store.TableStore

/** Crash injection for the batch pipeline: every fault point of a run, the
  * order in which the run reaches them, and `runWithRetry` converging to
  * the crash-free store after a crash at any one of them. */
class PipelineCrashSpec extends SparkSpec {
  import spark.implicits._

  val fixture = getClass.getResource("/firebase_tree.json").getPath
  val dev = "DEV01OMKARVARMA"
  val now = Timestamp.valueOf("2024-03-02 11:00:00")

  /** Every fault point a full run reaches, in the order it reaches them. */
  val points = Seq(
    "stamp APP SPECIFIC LOADING",
    "landed",
    "stamp APP SPECIFIC LOADING COMPLETED",
    "int appended",
    "stamp hist-load in progress",
    "stamp INTEGRATION LOAD COMPLETED",
    "scd2 written",
    "stamp hist-load processed",
    "stamp Success")

  /** A pipeline that throws the first `times` times it reaches `crashAt`,
    * records every fault point it reaches, and runs `probe` at each. */
  class Crashing(val store: TableStore, crashAt: String = "", times: Int = 1,
      probe: (Crashing, String) => Unit = (_, _) => ()) extends Pipeline(spark, store) {
    val reached = new ConcurrentLinkedQueue[String]
    private val left = new AtomicInteger(times)
    override protected def fault(point: String): Unit = {
      reached.add(point)
      probe(this, point)
      if (point == crashAt && left.getAndDecrement() > 0)
        throw new RuntimeException(s"injected crash at $point")
    }
  }

  def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-crash").toString)

  def rows(store: TableStore, name: String): Seq[String] =
    if (!store.exists(name)) Nil
    else store.read(name).collect().map(_.toString).toSeq.sorted

  /** Target, control, hist-load and INT rows, every column. */
  def state(p: Crashing): Seq[Seq[String]] =
    Seq(p.targetName, p.ctl.controlName, p.ctl.histLoadName, p.intName)
      .map(rows(p.store, _))

  def statusOf(p: Crashing): Option[String] =
    p.ctl.prevRunDetails("001").filter(_._3 == 1L).map(_._1)

  lazy val crashFree: Seq[Seq[String]] = {
    val p = new Crashing(freshStore())
    val r = p.runWithRetry(fixture, dev, now, retries = 0)
    assert(!r.skipped && r.inserted == 5)
    state(p)
  }

  test("a run reaches every fault point; each stamp follows the write it reports and the stamp before it") {
    val seen = scala.collection.concurrent.TrieMap.empty[String, (Option[String], Boolean)]
    val p = new Crashing(freshStore(), probe = (p, point) => {
      // what the stamp can see when it starts: the control status of this
      // run, and whether the write it reports is on disk
      val written = point match {
        case "stamp APP SPECIFIC LOADING COMPLETED" =>
          Files.exists(Paths.get(p.store.path(p.landingName), s"deviceid=$dev"))
        case "stamp hist-load in progress" | "stamp INTEGRATION LOAD COMPLETED" =>
          p.store.exists(p.intName) &&
            !p.store.read(p.intName).filter($"load_key" === 1L).isEmpty
        case "stamp hist-load processed" | "stamp Success" =>
          p.store.exists(p.targetName)
        case _ => true
      }
      if (point.startsWith("stamp")) seen(point) = (statusOf(p), written)
    })
    p.run(fixture, dev, now)
    assert(p.reached.asScala.toSet == points.toSet)
    assert(p.reached.size == points.size)
    assert(seen.values.forall(_._2), s"a stamp ran before its write: $seen")
    assert(seen.map { case (k, v) => k -> v._1 }.toMap == Map(
      "stamp APP SPECIFIC LOADING" -> None,
      "stamp APP SPECIFIC LOADING COMPLETED" -> Some("APP SPECIFIC LOADING"),
      "stamp hist-load in progress" -> Some("APP SPECIFIC LOADING COMPLETED"),
      "stamp INTEGRATION LOAD COMPLETED" -> Some("APP SPECIFIC LOADING COMPLETED"),
      "stamp hist-load processed" -> Some("INTEGRATION LOAD COMPLETED"),
      "stamp Success" -> Some("INTEGRATION LOAD COMPLETED")))
    assert(statusOf(p).contains("Success"))
    assert(rows(p.store, p.ctl.histLoadName).map(_.contains("processed")) == Seq(true))
  }

  points.foreach { point =>
    test(s"a crash at '$point' then runWithRetry converges to the crash-free store") {
      val p = new Crashing(freshStore(), crashAt = point)
      var slept = 0
      val r = p.runWithRetry(fixture, dev, now, retries = 1, retryDelayMs = 1L,
        sleep = _ => slept += 1)
      assert(slept == 1, "the first attempt did not crash")
      assert(!r.skipped && r.loadKey == 1L && r.ingested == 6)
      assert(state(p) == crashFree)
    }
  }

  test("a failed stamp is rethrown by run, and the stamps after it are skipped") {
    val p = new Crashing(freshStore(), crashAt = "stamp INTEGRATION LOAD COMPLETED")
    val e = intercept[RuntimeException](p.run(fixture, dev, now))
    assert(e.getMessage == "injected crash at stamp INTEGRATION LOAD COMPLETED")
    // the hist-load entry issued before it landed; the terminal stamps never ran
    assert(statusOf(p).contains("APP SPECIFIC LOADING COMPLETED"))
    assert(rows(p.store, p.ctl.histLoadName).map(_.contains("in progress")) == Seq(true))
    // the run stops at the failed stamp: no fault point after it is reached
    def upTo(point: String) = points.take(points.indexOf(point) + 1)
    assert(p.reached.asScala.toSeq == upTo("stamp INTEGRATION LOAD COMPLETED"))

    val q = new Crashing(freshStore(), crashAt = "stamp APP SPECIFIC LOADING COMPLETED")
    intercept[RuntimeException](q.run(fixture, dev, now))
    assert(statusOf(q).contains("APP SPECIFIC LOADING"))
    assert(!q.store.exists(q.ctl.histLoadName))
    assert(q.reached.asScala.toSeq == upTo("stamp APP SPECIFIC LOADING COMPLETED"))
    assert(!q.store.exists(q.intName))

    // the current-run entry is written before the first data write
    val r = new Crashing(freshStore(), crashAt = "stamp APP SPECIFIC LOADING")
    intercept[RuntimeException](r.run(fixture, dev, now))
    assert(r.reached.asScala.toSeq == upTo("stamp APP SPECIFIC LOADING"))
    assert(!r.store.exists(r.landingName))
  }

  test("a process that dies after any data write leaves a control row that refuses the next run") {
    Seq("landed", "int appended", "scd2 written").foreach { death =>
      // A process death: from the crash on, no stamp that has not started
      // yet lands, and no rollback or Failed stamp runs.
      var died = false
      val p = new Crashing(freshStore(), crashAt = death, probe = (_, point) => {
        if (point == death) died = true
        else if (died) throw new RuntimeException(s"dead before $point")
      })
      intercept[RuntimeException](p.run(fixture, dev, now))
      val intRows = rows(p.store, p.intName)
      val e = intercept[IllegalArgumentException](
        new Pipeline(spark, p.store).run(fixture, dev, now))
      assert(e.getMessage.contains("did not finish with status Success"), death)
      assert(statusOf(p).exists(_ != "Success"), death)
      assert(rows(p.store, p.intName) == intRows, s"$death: the refused run wrote INT rows")
    }
  }

  test("a retried attempt's replay leaves another interface's INT rows of the same load key") {
    // per-device interfaces share one store and each mints load keys 1, 2, …
    val store = freshStore()
    def intRows(device: String, loadKey: Long): Seq[String] =
      store.read("dht11_data_int").filter($"deviceid" === device && $"load_key" === loadKey)
        .collect().map(_.toString).toSeq.sorted
    val dht00 = new Pipeline(spark, store, interfaceName = "ESP_DHT11_DATA_DHT00",
      interfaceCd = "DHT00")
    assert(dht00.run(fixture, "DHT00", now).loadKey == 1L)
    val before = intRows("DHT00", 1L)
    assert(before.size == 6)

    val dht01 = new Pipeline(spark, store, interfaceName = "ESP_DHT11_DATA_DHT01",
      interfaceCd = "DHT01") {
      var crashes = 1
      override protected def fault(point: String): Unit =
        if (point == "int appended" && crashes > 0) {
          crashes -= 1
          throw new RuntimeException(s"injected crash at $point")
        }
    }
    val r = dht01.runWithRetry(fixture, "DHT01", now, retries = 1, retryDelayMs = 1L,
      sleep = _ => ())
    assert(dht01.crashes == 0, "the first attempt did not crash")
    assert(!r.skipped && r.loadKey == 1L && r.ingested == 6)
    assert(intRows("DHT00", 1L) == before)
    // the replay replaced the crashed attempt's own rows: one copy, not two
    assert(intRows("DHT01", 1L) == before.map(_.replace("DHT00", "DHT01")))
    assert(dht00.ctl.prevRunDetails("DHT00").map(_._1).contains("Success"))
    assert(dht01.ctl.prevRunDetails("DHT01").map(_._1).contains("Success"))
  }

  test("a retry replays its load key without scanning INT or touching another device's INT files") {
    import org.apache.spark.sql.functions.input_file_name
    val store = freshStore()
    val dht00 = new Pipeline(spark, store, interfaceName = "ESP_DHT11_DATA_DHT00",
      interfaceCd = "DHT00")
    assert(dht00.run(fixture, "DHT00", now).loadKey == 1L)
    // every file that holds DHT00's INT or landing rows, with its size and mtime
    val files = Seq(dht00.intName, dht00.landingName).flatMap(table =>
      store.read(table).filter($"deviceid" === "DHT00")
        .select(input_file_name()).distinct().as[String].collect()
        .map(u => Paths.get(new java.net.URI(u).getPath)))
    assert(files.exists(_.toString.contains(s"/${dht00.intName}/")) &&
      files.exists(_.toString.contains(s"/${dht00.landingName}/")), files)
    def stats = files.map(f =>
      if (!Files.exists(f)) None
      else Some((Files.size(f), Files.getLastModifiedTime(f).toMillis)))
    val before = stats
    def landed(device: String): Seq[String] =
      store.read(dht00.landingName).filter($"deviceid" === device)
        .collect().map(_.toString).toSeq.sorted
    val landed00 = landed("DHT00")
    assert(landed00.size == 6)
    // an earlier load of DHT01 under its own interface, one reading of
    // which the fixture revises: the retry's merge closes that version, so
    // it reads DHT01's buckets of the target
    assert(new Pipeline(spark, store, interfaceName = "ESP_DHT11_DATA_DHT01",
      interfaceCd = "DHT01").run(PipelineSpec.revised(fixture), "DHT01", now).inserted == 5)

    // interface "001" mints load key 1 too, for device DHT01
    val dht01 = new Crashing(store, crashAt = "int appended")
    var slept = 0
    val (r, executions) = executionsOf(dht01.runWithRetry(fixture, "DHT01", now,
      retries = 1, retryDelayMs = 1L, sleep = _ => slept += 1))
    assert(slept == 1, "the first attempt did not crash")
    assert(!r.skipped && r.loadKey == 1L && r.ingested == 6 && r.inserted == 1)
    val tables = executions.flatMap(_._2).map(Paths.get(_).getFileName.toString).toSet
    assert(tables.contains(dht00.targetName), s"the listener saw no target scan: $tables")
    assert(!tables.contains(dht00.intName), tables)
    assert(stats == before, "another device's INT or landing files were rewritten")
    // both attempts landed DHT01: the replay replaced the first, one copy
    assert(landed("DHT01") == landed00.map(_.replace("DHT00", "DHT01")))
  }

  test("a failed attempt leaves no cached DataFrame") {
    // cached DataFrames only: the SCD2 merge's eager localCheckpoint is a
    // persistent RDD too, released by the context cleaner, not by the run
    def cached = spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)
    val before = cached
    val p = new Crashing(freshStore(), crashAt = "landed")
    p.runWithRetry(fixture, dev, now, retries = 1, retryDelayMs = 1L, sleep = _ => ())
    assert(cached == before)
    val q = new Crashing(freshStore(), crashAt = "landed", times = 2)
    intercept[RuntimeException] {
      q.runWithRetry(fixture, dev, now, retries = 1, retryDelayMs = 1L, sleep = _ => ())
    }
    assert(cached == before)
  }
}
