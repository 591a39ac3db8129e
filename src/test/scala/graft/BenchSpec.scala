package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's measurement contract: a query that throws is a failure, not
  * a fast sample, and a subset run never replaces the full record. */
class BenchSpec extends SparkSpec {

  test("a registry query that throws is a failure, not a sample") {
    val empty = Files.createTempDirectory("graft-bench-empty").toString
    assert(Bench.runOne(spark, "q1_agg", empty).isEmpty)
    assert(Bench.runOne(spark, "q1_agg", sf()).exists(_ > 0))
  }

  test("failed queries are listed apart, left out of the total, and fail the run") {
    val line = Bench.longLine(Seq("q_a" -> 1.5), "sf", failed = Seq("q1_agg"))
    val doc = new ObjectMapper().readTree(line)
    assert(doc.get("value").asDouble() === 1.5)
    assert(doc.get("failed").get(0).asText() === "q1_agg")
    assert(!doc.get("queries").has("q1_agg"))
    assert(Bench.stamp("pass", Seq("q1_agg")) === "fail")
    assert(Bench.stamp("fail-contended", Seq("q1_agg")) === "fail")
    assert(Bench.stamp("pass", Nil) === "pass")
  }

  test("benchgate fails a run with a failed query even when every sample is in limits") {
    val dir = Files.createTempDirectory("graft-benchgate")
    val base = dir.resolve("baseline.json")
    Files.writeString(base, """{"queries": {"q_a": 1.5, "q1_agg": 1.0}}""")
    def gate(failed: Seq[String]): (Int, String) = {
      val p = new ProcessBuilder("python3", "tools/benchgate.py",
        base.toString, "-").redirectErrorStream(true).start()
      p.getOutputStream.write(
        Bench.longLine(Seq("q_a" -> 1.5), "sf", failed = failed).getBytes("UTF-8"))
      p.getOutputStream.close()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      (p.waitFor(), out)
    }
    assert(gate(Nil)._1 === 0)
    val (code, out) = gate(Seq("q1_agg"))
    assert(code === 1, out)
    assert(out.contains("FAILED q1_agg"), out)
  }

  test("only a full-registry run writes BENCH_LOCAL.json") {
    assert(Bench.recordFile(Nil) === "BENCH_LOCAL.json")
    assert(Bench.recordFile(Seq("q1_agg")) === "BENCH_SUBSET.json")
  }
}
