package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One timed operation: a pipeline run, a micro-batch, a probe or a query.
  * `ok` is false when it threw, exhausted its retry or failed its check. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean,
    rows: Long = 0L, error: String = "")

/** What a workload's timed phase hands back to [[Main]]: its ops, wall
  * and process CPU time, the rows it processed (readings for the pipelines,
  * result rows for the registry), traced-pass layer counters and the store
  * it wrote. */
final case class Outcome(ops: Seq[Op], wallS: Double, cpuS: Double, rows: Long,
    layers: Map[String, Double] = Map.empty, store: String = "")

/** A fixed mix of small Spark jobs that runs no program code: generate,
  * hash, aggregate, write and read back parquet, twice. Its time follows
  * the host's speed, which on a shared host drifts by tens of percent
  * between runs; it is the unit of the normalized metrics. */
object HostProbe {
  def apply(spark: SparkSession, workDir: String): PhaseClock = {
    val clock = new PhaseClock
    val dir = Paths.get(workDir, "probe").toString
    for (_ <- 0 until 2) clock {
      spark.range(0, 400000, 1, 4)
        .selectExpr("id % 101 as k", "id * 7 % 1000 as v", "sha2(cast(id as string), 256) as h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"),
          org.apache.spark.sql.functions.max("h"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).collect()
    }
    clock
  }
}

/** Wall and process CPU time (all JVM threads) over the timed sections. */
class PhaseClock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var wallS = 0.0
  var cpuS = 0.0

  def apply[T](f: => T): T = {
    val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    try f finally {
      wallS += (System.nanoTime() - w0) / 1e9
      cpuS += (os.getProcessCpuTime - c0) / 1e9
    }
  }
}

/** Benchmark process: set-up, one workload's timed phase, result file.
  *
  * Usage: perfbench.Main <workDir> <workload> <trace 0|1> <cpus>
  *
  * Reads `<workDir>/plan.json` (written by gen.py) and writes
  * `<workDir>/result.json`; with trace 1 also `spans.json` and `jobs.json`.
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val Array(workDir, workload, traceArg, cpusArg) = args
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val plan = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(workDir, "plan.json")), "UTF-8"))
    val wl: Workload = workload match {
      case "nightly_batch" => new Nightly(workDir, plan)
      case "stream_revisions" => new StreamRevisions(workDir, plan)
      case "registry_slice" => new RegistrySlice(workDir, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up is everything before the first timed op: process start,
    // SparkSession, the workload's warm-up on throwaway inputs, and one
    // untimed reference job (its first run compiles its plans).
    val processStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    def sinceStart = (System.currentTimeMillis() - processStartMs) / 1e3
    val spark = session(cpus, workDir)
    val sessionS = sinceStart
    wl.warmup(spark)
    HostProbe(spark, workDir)
    val out = mutable.LinkedHashMap("setup_s" -> Json.num(sinceStart),
      "session_s" -> Json.num(sessionS))
    // the reference job brackets the timed phase: its time is the host's
    // speed at that moment, the unit of the normalized metrics
    val before = HostProbe(spark, workDir)
    val plain = wl.run(spark, traced = None)
    val after = HostProbe(spark, workDir)
    out("probe_wall_s") = Json.num((before.wallS + after.wallS) / 2)
    out("probe_cpu_s") = Json.num((before.cpuS + after.cpuS) / 2)
    out ++= Json.outcome(plain)
    if (trace) {
      // The traced pass repeats the timed phase from a fresh state with
      // the listeners registered; its wall against the plain pass gives
      // the tracing overhead.
      val tracer = new Tracer
      val spans = new Spans
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val traced = wl.run(spark, traced = Some((tracer, spans)))
      BusDrain(spark)
      val layers = Layers.compute(traced, tracer, spans, cpus) ++ Map(
        "trace.overhead_ratio" -> (traced.wallS / plain.wallS - 1.0),
        "jvm.peak_rss_mb" -> Layers.peakRssMb)
      out("traced") = Json.obj(Json.outcome(traced))
      out("layers") = Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      Files.writeString(Paths.get(workDir, "spans.json"), Json.spans(spans.all))
      Files.writeString(Paths.get(workDir, "jobs.json"), Json.jobs(tracer.snapshotJobs))
    }
    Files.writeString(Paths.get(workDir, "result.json"), Json.obj(out.toSeq))
    stop(spark)
  }
}

/** A benchmark workload: a warm-up on throwaway inputs and a timed phase
  * that starts from a fresh store each time it is called. */
trait Workload {
  def warmup(spark: SparkSession): Unit
  def run(spark: SparkSession, traced: Option[(Tracer, Spans)]): Outcome

  /** Time one op; a throw or a failed check is recorded, not rethrown. */
  protected def timeOp(kind: String, name: String, spans: Option[Spans], module: String)
      (body: => (Long, Option[String])): Op = {
    val t0 = System.nanoTime()
    val res =
      try Right(spans match {
        case Some(s) => s(s"$kind:$name", module)(body)
        case None => body
      })
      catch { case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val secs = (System.nanoTime() - t0) / 1e9
    res match {
      case Right((rows, None)) => Op(kind, name, secs, ok = true, rows)
      case Right((rows, Some(why))) => Op(kind, name, secs, ok = false, rows, why)
      case Left(err) => Op(kind, name, secs, ok = false, 0L, err)
    }
  }
}
