package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No process-global knobs: outside the named allowlist below, no code
  * under `src/main/scala` reads an environment variable or a JVM system
  * property. An option belongs in a parameter or a config record, where a
  * caller and a test can set it without touching the process. */
class KnobLintSpec extends AnyFunSuite {
  val root = Paths.get("src/main/scala")
  val knob = """sys\.env|System\.getenv|getProperty\(|sys\.props|Boolean\.getBoolean\(""".r

  /** (file under `src/main/scala`, or "" for any file; a substring the
    * line must contain, or "" for any read in the file). */
  val allowlist: Seq[(String, String)] = Seq(
    // the mains: a process's environment is its command line
    "graft/Bench.scala" -> "sys.env.get",
    "graft/Verify.scala" -> "sys.env.get",
    "graft/IncrScale.scala" -> "sys.env.get",
    "graft/ScaleCheck.scala" -> "sys.env.get",
    "graft/PlanSweep.scala" -> "sys.env.get",
    "graft/PlanDump.scala" -> "sys.env.get",
    // the default of an injected credential lookup
    "graft/streaming/OAuth2.scala" -> "env: String => Option[String] = k => sys.env.get(k)",
    "graft/streaming/TreeFetcher.scala" -> "env: String => Option[String] = k => sys.env.get(k)",
    // the plan-inspection switch that drops Mat's checkpoints
    "graft/ops/Mat.scala" -> """getBoolean("graft.plan.nocp")""",
    // the JVM's temp directory
    "" -> """System.getProperty("java.io.tmpdir")""")

  /** Every line under `src/main/scala` that reads a knob, as (file, line
    * number, line). */
  lazy val reads: Seq[(String, Int, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if knob.findFirstIn(line).isDefined => (rel, i + 1, line.trim)
      }
    } finally files.close()
  }

  def allows(entry: (String, String), read: (String, Int, String)): Boolean =
    (entry._1.isEmpty || entry._1 == read._1) && read._3.contains(entry._2)

  test("no code outside the allowlist reads an environment variable or a system property") {
    assert(reads.nonEmpty, s"no knob reads found under ${root.toAbsolutePath}")
    val offenders = reads.filterNot(r => allowlist.exists(allows(_, r)))
    assert(offenders.isEmpty,
      offenders.map { case (f, n, l) => s"$f:$n: $l" }.mkString("not allowlisted:\n", "\n", ""))
  }

  test("every allowlist entry still matches a read") {
    val stale = allowlist.filterNot(e => reads.exists(allows(e, _)))
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
