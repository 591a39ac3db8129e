package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness against a mid-run kill (round 8 lost 65/164 queries to one):
  * oracle_sql.json is written FIRST — the driver can then grade whatever
  * parquet subset landed before the kill — and queries run a few at a
  * time on a worker pool so the whole dump finishes in a fraction of the
  * sequential wall time. Each worker gets its own `spark.newSession()`
  * (shared SparkContext, private temp-view catalog + conf), so the
  * `Tables.registerAll` views and per-session confs never race; on-disk
  * side effects are already per-query-unique (fresh temp dirs, per-tag
  * scratch spools, atomic e2e fixture publish).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver passes exactly (sfDir, outDir); extra args select a query
    // subset for local iteration
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val workers = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
    val pool = Executors.newFixedThreadPool(math.max(1, workers))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // per-query progress ledger: appended as each query FINISHES, so a
    // mid-run kill still leaves machine-readable evidence of what landed
    // (VERDICT r16 #1 — the driver's r16 artifact was empty and nothing
    // on our side could say why; never again silent)
    val progressPath = Paths.get(s"$outDir/_progress.jsonl")
    Files.deleteIfExists(progressPath)
    def logProgress(line: String): Unit = synchronized {
      Files.writeString(progressPath, line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    val futures = selected.map { case (name, fn) =>
      Future {
        val session = spark.newSession()
        // parquet schema conversion (and anything else that calls
        // SQLConf.get) resolves conf through the THREAD-LOCAL active
        // session — without this, a worker thread falls back to the
        // default session and per-session confs (the events
        // nanosAsLong handling in Tables.load) silently don't apply.
        SparkSession.setActiveSession(session)
        val res: (String, Either[String, Long]) =
          try {
            fn(session, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // metadata-only count of what actually landed on disk —
            // the manifest records the dump, not the plan
            val n = session.read.parquet(s"$outDir/$name").count()
            logProgress(s"""{"query": ${q(name)}, "rows": $n}""")
            name -> Right(n)
          } catch { case e: Throwable =>
            val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            System.err.println(s"[verify] $name failed: $msg")
            logProgress(s"""{"query": ${q(name)}, "error": ${q(msg)}}""")
            name -> Left(msg)
          }
          // reap this query's localCheckpoint blocks (ADVICE r9): they
          // register as persistent RDDs and would otherwise accumulate
          // across all queries. Bench.runOne unpersists them directly, but
          // that is only safe SEQUENTIALLY — here a blanket unpersist could
          // kill a concurrent worker's in-flight checkpoint, whose
          // truncated lineage cannot recompute. GC-driven cleanup is the
          // concurrent-safe form: the query's frames just went out of
          // scope, so the ContextCleaner reaps exactly its blocks.
          finally System.gc()
        res
      }
    }
    val results = Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // _MANIFEST.json (VERDICT r16 #1): the checker refuses a dump whose
    // manifest is missing, lists failures, or disagrees with the parquet
    // on disk — an empty CORRECTNESS artifact can then only mean "the
    // driver never ran Verify", never "Verify silently produced nothing".
    val ok = results.collect { case (n, Right(r)) => n -> r }.sortBy(_._1)
    val failed = results.collect { case (n, Left(e)) => n -> e }.sortBy(_._1)
    val manifest =
      s"""{"queries": ${selected.size}, "ok": ${ok.size}, "failed": ${failed.size},
         |"rows": ${ok.map { case (n, r) => s"${q(n)}: $r" }.mkString("{", ", ", "}")},
         |"errors": ${failed.map { case (n, e) => s"${q(n)}: ${q(e)}" }.mkString("{", ", ", "}")}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/_MANIFEST.json"), manifest)
    // repo-root digest (VERDICT r17 #1): the driver's CORRECTNESS
    // artifact arrived EMPTY two rounds running while BENCH_r*.json
    // landed every round — so the verify outcome also drops here, where
    // graft.Bench picks it up and carries it in the bench tail line
    // (the artifact channel that demonstrably lands). Full runs only: a
    // subset dump must not masquerade as the registry digest. `ts`
    // tells a same-round digest from a committed prior-round one.
    if (only.isEmpty) {
      val digest = s"""{"ok": ${ok.size}, "failed": ${failed.size}, """ +
        s""""queries": ${selected.size}, """ +
        s""""ts": "${java.time.Instant.now()}", "sf": ${q(sfDir)}}"""
      try Files.writeString(Paths.get("VERIFY_LOCAL.json"), digest + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] VERIFY_LOCAL.json write failed: $e")
      }
    }
    spark.stop()
    // Bench-style tail-line + rc discipline: the LAST stdout line states
    // the outcome, and the exit code is non-zero on any failure or an
    // empty selection — a gate keyed on rc or on the tail line both work.
    if (failed.nonEmpty || selected.isEmpty) {
      println(s"VERIFY_FAIL ${ok.size}/${selected.size} ok; failed: " +
        failed.map(_._1).mkString(", "))
      sys.exit(1)
    }
    println(s"VERIFY_OK ${ok.size}/${selected.size}")
  }
}
