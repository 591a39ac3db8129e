package perfbench

import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.spark.BusDrain

import graft.control.ControlTable
import graft.store.TableStore

/** Checks the tracer attributes known calls to the right modules:
  * `TableStore.overwrite` to `store`, and the store rewrite that
  * `ControlTable.updateStatus` makes to `store` with `control` as caller.
  *
  * Usage: perfbench.SelfCheck <workDir> <cpus>; exits non-zero on failure.
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val Array(workDir, cpus) = args
    val spark = Main.session(cpus.toInt, workDir)
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    val store = new TableStore(spark, Paths.get(workDir, "selfcheck-store").toString)
    def jobsOf(f: => Unit): Seq[JobRec] = {
      BusDrain(spark)
      val before = tracer.snapshotJobs.size
      f
      BusDrain(spark)
      tracer.snapshotJobs.drop(before)
    }
    val overwrite = jobsOf(store.overwrite("t", spark.range(100).toDF("id")))
    val ctl = new ControlTable(spark, store)
    val now = new Timestamp(0L)
    ctl.addCurrentRunEntry("I", "001", 1L, now)
    val status = jobsOf(ctl.updateStatus("001", 1L, "Success", now))
    val failures = Seq(
      "TableStore.overwrite -> store" -> overwrite.exists(_.module == "store"),
      "ControlTable.updateStatus -> store, caller control" ->
        status.exists(j => j.module == "store" && j.caller == "control"),
      "frame graft.ext.Dedup -> registry" ->
        Attribution.moduleOf("graft.ext.Dedup$.shingles(Dedup.scala:10)").contains("registry"),
      "frame org.apache.spark -> none" ->
        Attribution.moduleOf("org.apache.spark.sql.Dataset.count(Dataset.scala:1)").isEmpty,
    ).collect { case (name, false) => name }
    println(s"attribution: overwrite jobs ${overwrite.map(j => j.module + "/" + j.caller)}, " +
      s"updateStatus jobs ${status.map(j => j.module + "/" + j.caller)}")
    Main.stop(spark)
    if (failures.nonEmpty) {
      println("FAILED: " + failures.mkString("; "))
      sys.exit(1)
    }
    println("attribution self-check passed")
  }
}
