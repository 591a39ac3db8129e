package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer metrics of the traced pass, from the listener's job and
  * execution records and the benchmark's own spans. Module times are
  * reported as shares of the pass's timed wall (`*_share`), counts per op. */
object Layers {
  val modules: Seq[String] =
    Seq("pipeline", "ingest", "stage", "scd2", "store", "control", "streaming", "registry")

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Total length of the union of [start, end) intervals, ms. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def iv(j: JobRec) = (j.startMs.toDouble, j.endMs.toDouble)

  def compute(o: Outcome, tracer: Tracer, spans: Spans, cpus: Int): Map[String, Double] = {
    val sp = spans.all
    val top = sp.filter(_.parent < 0)
    val (t0, t1) = (top.map(_.startMs).min, top.map(_.endMs).max)
    // a job with no program frame in its own or its root execution's stack
    // was triggered by the benchmark itself (e.g. the noop write of a
    // registry query): it is charged to the enclosing span's module, and
    // still counts as unattributed below
    val raw = tracer.snapshotJobs.filter(j => j.startMs >= t0 - 1 && j.startMs <= t1 + 1)
    val js = raw.map { j =>
      if (j.module != "unattributed") j
      else top.find(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
        .fold(j)(s => j.copy(module = s.module))
    }
    val ex = tracer.snapshotExecs.filter(e => e.startMs >= t0 - 1 && e.startMs <= t1 + 1)
    val nOps = math.max(1, o.ops.size)
    val wallMs = math.max(1.0, o.wallS * 1000.0)
    val mb = 1048576.0
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    for (mod <- modules) {
      val mj = js.filter(_.module == mod)
      m(s"$mod.jobs_per_op") = mj.size.toDouble / nOps
      m(s"$mod.time_share") = unionMs(mj.map(iv)) / wallMs
    }
    m("control.incl_store_share") =
      unionMs(js.filter(j => j.module == "control" || j.caller == "control").map(iv)) / wallMs

    // pipeline: driver time = run span minus the part of it jobs cover
    val runs = top.filter(s => s.module == "pipeline")
    m("pipeline.driver_share") = runs.map { s =>
      val inside = js.filter(j => j.startMs >= s.startMs - 1 && j.endMs <= s.endMs + 1)
      (s.endMs - s.startMs) - unionMs(inside.map(iv))
    }.sum / wallMs
    // late-quartile over early-quartile run median (first and last run
    // when there are fewer than four)
    val timedRuns = o.ops.filter(op => op.kind == "run" && op.ok).map(_.seconds)
    m("pipeline.run_growth") =
      if (timedRuns.size < 2) 0.0 else {
        val q = math.max(1, timedRuns.size / 4)
        median(timedRuns.takeRight(q)) / median(timedRuns.take(q))
      }

    // the tree read is lazy and runs inside whichever module calls the
    // action, so ingest's scan is found by plan content (a text scan)
    val scans = js.filter(_.treeScan)
    m("ingest.scan_share") = unionMs(scans.map(iv)) / wallMs
    m("ingest.mb_read") = scans.map(_.inputBytes).sum / mb
    m("scd2.shuffle_mb") = js.filter(_.module == "scd2").map(_.shuffleBytes).sum / mb

    val batches = o.ops.count(_.kind == "batch")
    m("streaming.jobs_per_batch") =
      if (batches == 0) 0.0 else js.count(_.streaming).toDouble / batches

    // registry: per query, from the jobs and executions inside its span
    val qs = top.filter(_.name.startsWith("query:"))
    def within(s: Span) = js.filter(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
    def execsIn(s: Span) = ex.filter(e => e.startMs >= s.startMs - 1 && e.startMs <= s.endMs + 1)
    val nq = math.max(1, qs.size)
    val qMs = math.max(1.0, qs.map(s => s.endMs - s.startMs).sum)
    m("registry.planning_share") = qs.flatMap(execsIn).map(_.planningMs).sum / qMs
    m("registry.jobs_per_query") = qs.map(within(_).size).sum.toDouble / nq
    m("registry.cp_jobs") = qs.map(within(_).count(_.cp)).sum.toDouble / nq
    m("registry.exchanges") =
      qs.flatMap(execsIn).map(e => e.shuffles + e.broadcasts).sum.toDouble / nq
    m("registry.shuffle_mb") = qs.flatMap(within).map(_.shuffleBytes).sum / mb / nq
    m("registry.spill_mb") = qs.flatMap(within).map(_.spillBytes).sum / mb / nq
    m("registry.task_skew") = median(qs.flatMap { s =>
      val t = within(s).flatMap(_.taskMs).map(_.toDouble)
      if (t.isEmpty) None else Some(t.max / math.max(1.0, median(t)))
    })

    val tasks = js.flatMap(_.taskMs).map(_.toDouble)
    val run = js.map(_.runMs).sum.toDouble
    val jobMs = js.map(j => (j.endMs - j.startMs).toDouble).sum
    m("spark.jobs") = js.size.toDouble
    m("spark.tasks") = tasks.size.toDouble
    m("spark.task_p50_ms") = median(tasks)
    m("spark.task_max_ms") = if (tasks.isEmpty) 0.0 else tasks.max
    m("spark.gc_share") = if (run <= 0) 0.0 else js.map(_.gcMs).sum / run
    m("spark.core_busy_share") = run / (wallMs * cpus)
    m("spark.unattributed_share") = if (jobMs <= 0) 0.0 else
      raw.filter(_.module == "unattributed").map(j => (j.endMs - j.startMs).toDouble).sum / jobMs
    (m ++ o.layers).toMap
  }
}
