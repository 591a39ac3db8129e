package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle
  * partition count for test speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `f`'s result and the SQL executions it starts, in order: each one's
    * action name and its executed plan (for AQE, the final plan). */
  def plansOf[T](f: => T): (T, Seq[(String, SparkPlan)]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName -> qe.executedPlan)
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = f
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The leaf file scans of `plan`, its subqueries' included. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    AdaptivePlans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }

  /** `f`'s result and the SQL executions it starts, in order: each one's
    * action name and the table directories its leaf file scans read. */
  def executionsOf[T](f: => T): (T, Seq[(String, Seq[String])]) = {
    val (result, plans) = plansOf(f)
    (result, plans.map { case (name, plan) =>
      name -> fileScans(plan).flatMap(_.relation.location.rootPaths)
        .map(_.toUri.getPath.stripSuffix("/"))
    })
  }
}

/** AQE-aware plan traversal: it walks into each adaptive plan's current
  * plan and into subqueries. */
object AdaptivePlans extends AdaptiveSparkPlanHelper

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
