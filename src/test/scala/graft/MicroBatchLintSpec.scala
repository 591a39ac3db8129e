package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One micro-batch sink: under `src/main/scala`, only
  * `graft/streaming/MicroBatch.scala` starts a `foreachBatch` and writes
  * the fold-once (`__folded_batch`) or emit (`__batch`) stamp. A new
  * sink goes through `MicroBatch.sink`, `foldOnce` and `emit`, so it
  * cannot fork the replay rules they hold. */
class MicroBatchLintSpec extends AnyFunSuite {
  val root = Paths.get("src/main/scala")
  val home = "graft/streaming/MicroBatch.scala"
  val patterns = Seq("""\.foreachBatch\b""", "\"__folded_batch\"", "\"__batch\"").map(_.r)

  /** Every line under `src/main/scala` that matches a pattern, as
    * (pattern, file, line number, line). */
  lazy val hits: Seq[(String, String, Int, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        patterns.filter(_.findFirstIn(line).isDefined)
          .map(p => (p.regex, rel, i + 1, line.trim))
      }
    } finally files.close()
  }

  test("only MicroBatch starts a foreachBatch or writes a batch stamp") {
    val offenders = hits.filterNot(_._2 == home)
    assert(offenders.isEmpty,
      offenders.map { case (_, f, n, l) => s"$f:$n: $l" }
        .mkString("use graft.streaming.MicroBatch instead:\n", "\n", ""))
  }

  test("MicroBatch holds each of them exactly once") {
    val counts = patterns.map(p => p.regex -> hits.count(_._1 == p.regex)).toMap
    assert(counts.values.forall(_ == 1), s"matches per pattern: $counts")
  }
}
