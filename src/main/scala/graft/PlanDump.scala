package graft

/** Plan-capture tool for the optimization rounds: writes each named
  * query's `explain("formatted")` output to `plans/<tag>/<name>_<suffix>.txt`
  * so the before/after plan evidence the round deliverable asks for is
  * reproducible (`tools/run.sh graft.PlanDump [-full] <sfDir> <outDir>
  * <suffix> <query...>`). Building a query may EXECUTE its eager setup
  * (index builds, fit collects) — same contract as PlanSweep.
  *
  * `-full` (VERDICT r18 #7) sets `graft.plan.nocp`, which turns every
  * BATCH-operator materialization point ([[graft.ops.Mat.cp]]) into a
  * no-op so the dump shows the full subtree instead of
  * `Scan ExistingRDD` — checkpoint-hidden plan changes become provable.
  * Caveats: incremental state machines keep hard checkpoints (their
  * pins are crash-ordering contracts), and ITERATIVE fits (KMeans,
  * graph loops) rely on per-round lineage truncation — dumping those
  * under `-full` can blow up driver-side planning; use it on the
  * operator faces you changed, not blanket.
  *
  * Not a driver surface: no timing, no JSON line; purely a developer
  * tool, like PlanSweep.
  */
object PlanDump {
  def main(args0: Array[String]): Unit = {
    val full = args0.headOption.contains("-full")
    if (full) System.setProperty("graft.plan.nocp", "true")
    val args = if (full) args0.drop(1) else args0
    require(args.length >= 4,
      "usage: PlanDump [-full] <sfDir> <outDir> <suffix> <query...>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
