package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A span recorded around one call the benchmark makes into a layer. */
final case class Span(id: Int, name: String, module: String, parent: Int,
    op: Int, startMs: Double, var endMs: Double = Double.NaN)

/** One finished Spark job with the module its work is charged to. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, module: String,
    caller: String, cp: Boolean, streaming: Boolean, treeScan: Boolean, tasks: Int,
    taskMs: Seq[Long], runMs: Long, gcMs: Long, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long)

/** Per-execution facts from the QueryExecutionListener. */
final case class ExecRec(startMs: Long, planningMs: Double, shuffles: Int,
    broadcasts: Int)

object Attribution {
  /** Repository module of a stack frame, or None for non-program frames.
    * graft.queries / graft.ext / graft.ops / graft.functions and the
    * top-level graft entry points all count as the query registry. */
  def moduleOf(frame: String): Option[String] = {
    val f = frame.trim
    if (!f.startsWith("graft.")) None
    else {
      val seg = f.stripPrefix("graft.").takeWhile(c => c != '.' && c != '(' && c != '$')
      seg match {
        case "pipeline" | "ingest" | "stage" | "scd2" | "store" | "control" |
             "streaming" => Some(seg)
        case "model" => None
        case _ => Some("registry")
      }
    }
  }

  /** Innermost program module of a call-site (frames listed innermost
    * first) and the next distinct module further out. */
  def attribute(callSite: String): (Option[String], Option[String]) = {
    val mods = callSite.split('\n').iterator.flatMap(moduleOf).toSeq
    val inner = mods.headOption
    (inner, inner.flatMap(m => mods.find(_ != m)))
  }

  def isCheckpoint(callSite: String): Boolean =
    callSite.contains("graft.ops.Mat") || callSite.contains("localCheckpoint")
}

/** Listener state for the traced run. Jobs are charged to the innermost
  * `graft.<module>` frame of their stage call-site. Jobs whose stack has
  * no program frame (AQE / broadcast threads) inherit the attribution of
  * their root SQL execution, taken from that execution's start event. */
class Tracer extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val execSite = mutable.Map.empty[Long, (Option[String], Option[String], Boolean)]
  private val execTreeScan = mutable.Set.empty[Long]
  private val open = mutable.Map.empty[Int, (Long, Seq[Int], java.util.Properties)]
  private val stageSite = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskMetricsRow]]

  private final case class TaskMetricsRow(ms: Long, run: Long, gc: Long,
      shuffle: Long, spill: Long, input: Long)

  private def locked[T](f: => T): T = lock.synchronized(f)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => locked {
      val site = s.description + "\n" + s.details
      val (m, c) = Attribution.attribute(site)
      val root = s.rootExecutionId.getOrElse(s.executionId)
      val own = (m, c, Attribution.isCheckpoint(site))
      execSite(s.executionId) =
        if (m.isDefined) own else execSite.getOrElse(root, own)
      // plan content, not call-site: the Firebase tree is the only text
      // source the pipelines read, so a text scan marks the ingest read
      if (s.physicalPlanDescription.contains("Scan text")) execTreeScan += s.executionId
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = locked {
    open(e.jobId) = (e.time, e.stageInfos.map(_.stageId), e.properties)
    e.stageInfos.foreach(si => stageSite(si.stageId) = si.name + "\n" + si.details)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
    val m = e.taskMetrics
    if (m != null) {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        TaskMetricsRow(e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
    open.remove(e.jobId).foreach { case (start, stages, props) =>
      val site = stages.flatMap(stageSite.get).mkString("\n")
      val (own, ownCaller) = Attribution.attribute(site)
      def prop(k: String) =
        Option(props).flatMap(p => Option(p.getProperty(k))).map(_.toLong)
      val execId = prop("spark.sql.execution.id")
      val fromExec = execId.orElse(prop("spark.sql.execution.root.id"))
        .flatMap(execSite.get)
      val treeScan = execId.exists(execTreeScan.contains)
      val (mod, caller) =
        if (own.isDefined) (own, ownCaller)
        else fromExec.map(x => (x._1, x._2)).getOrElse((None, None))
      val streaming = Option(props).exists(p =>
        p.getProperty("sql.streaming.queryId") != null)
      val cp = Attribution.isCheckpoint(site) || fromExec.exists(_._3)
      val rows = stages.flatMap(s => stageTasks.remove(s).getOrElse(Nil))
      stages.foreach(stageSite.remove)
      jobs += JobRec(e.jobId, start, e.time, mod.getOrElse("unattributed"),
        caller.getOrElse(""), cp, streaming, treeScan, rows.size, rows.map(_.ms),
        rows.map(_.run).sum, rows.map(_.gc).sum, rows.map(_.shuffle).sum,
        rows.map(_.spill).sum, rows.map(_.input).sum)
    }
  }

  private val helper = new AdaptiveSparkPlanHelper {}

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    locked {
      val plan: SparkPlan = qe.executedPlan
      val shuffles = helper.collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size
      val bcasts = helper.collectWithSubqueries(plan) { case x: BroadcastExchangeLike => x }.size
      val phases = qe.tracker.phases
      val planning = phases.get("planning").map(p => (p.endTimeMs - p.startTimeMs).toDouble)
        .getOrElse(0.0) + phases.get("optimization")
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0) +
        phases.get("analysis").map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val start = phases.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      execs += ExecRec(start, planning, shuffles, bcasts)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshotJobs: Seq[JobRec] = lock.synchronized(jobs.toList)
  def snapshotExecs: Seq[ExecRec] = lock.synchronized(execs.toList)
}

/** In-memory span recorder; written out when the run ends. */
class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var nextOp = 0

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds at sub-millisecond resolution, on the clock the
    * listener's job times use. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Record `f` as a span of `module`; a span with no open parent starts
    * a new op, and nested spans share their op's id. */
  def apply[T](name: String, module: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse(-1)
    if (parent < 0) { currentOp = nextOp; nextOp += 1 }
    val s = Span(buf.size, name, module, parent, currentOp, nowMs)
    buf += s
    stack = s.id :: stack
    try f finally {
      s.endMs = nowMs
      stack = stack.tail
    }
  }

  def all: Seq[Span] = buf.toList
}
