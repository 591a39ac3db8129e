package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A plan-sweep scale smell that a query may carry by design
  * ([[graft.PlanSweep]] detects them; a [[QuerySpec]] adjudicates). */
sealed abstract class Smell(val label: String)

object Smell {
  /** A window with an empty partition spec: one task sees every row. */
  case object GlobalWindow extends Smell("global-window")
  /** A global sort with no limit above it: a whole-result range sort. */
  case object UnlimitedSort extends Smell("global-sort-no-limit")
}

/** A named work counter: a cheap scan measuring the property of the
  * data draw that a query's cost tracks (near-dup pairs, distinct word
  * types, ...). graft.Bench records each referenced counter untimed, and
  * tools/benchgate.py scales the queries' limits by its ratio to the
  * baseline's, so a heavier draw reads as more work, not a regression. */
final case class Counter(name: String, count: (SparkSession, String) => Long)

/** One registry query: its name, its Spark plan over a scale-factor
  * directory, and the DuckDB statement it must equal (same column names;
  * the correctness gate hash-compares the two). Optional:
  *  - `setup`: untimed bench setup run before the timer starts (indexed
  *    searches build their persisted index there, so the timed sample is
  *    search-only on cold and warm scratch alike; Verify never calls it);
  *  - `counter`: the draw counter the query's cost is bounded by;
  *  - `planOk`: smells adjudicated as bounded for this query, with why. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    setup: Option[(SparkSession, String) => Unit] = None,
    counter: Option[Counter] = None,
    planOk: Map[Smell, String] = Map.empty)

object QuerySpec {

  /** `specs` as a registry: a name registered twice, or two different
    * counters under one name, fails here instead of one silently
    * replacing the other. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    def repeated(names: Seq[String]) =
      names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
        .toSeq.sorted
    val dupNames = repeated(specs.map(_.name))
    require(dupNames.isEmpty,
      s"query registered twice: ${dupNames.mkString(", ")}")
    val dupCounters = repeated(specs.flatMap(_.counter).distinct.map(_.name))
    require(dupCounters.isEmpty,
      s"counter name bound twice: ${dupCounters.mkString(", ")}")
    specs
  }
}
