package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle
  * partition count for test speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `f`'s result and the SQL executions it starts, in order: each one's
    * action name and the table directories its leaf file scans read. */
  def executionsOf[T](f: => T): (T, Seq[(String, Seq[String])]) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      private def record(funcName: String, qe: QueryExecution): Unit =
        seen.add(funcName -> collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s
        }.flatMap(_.relation.location.rootPaths).map(_.toUri.getPath.stripSuffix("/")))
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(funcName, qe)
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = f
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

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
