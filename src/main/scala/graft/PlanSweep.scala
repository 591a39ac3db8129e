package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExecBase

import graft.queries.{QuerySpec, Smell}

/** Whole-registry physical-plan sweep — the standing form of the audit
  * the per-round verdicts run by hand ("whole-registry explain sweep
  * remains CartesianProduct-free"): build EVERY registered query at a
  * small sf and report scale smells, detected on the physical plan
  * NODES (ADVICE r15: Spark never prints the "PartitionSpec: []" label
  * the old string grep looked for, so the grep could never fire):
  *
  *  - [[CartesianProductExec]] — an unbounded all-pairs term (broadcast
  *    nested-loop over a bounded side is fine and NOT flagged);
  *  - [[WindowExecBase]] with an empty partition spec — a corpus-wide
  *    single-task funnel;
  *  - a global [[SortExec]] NOT under a limit operator ([[GlobalLimitExec]]
  *    / [[CollectLimitExec]] / [[TakeOrderedAndProjectExec]]) — a
  *    whole-result range sort, reported for eyes (a range-partitioned
  *    sort is distributed, but at 100 TB it is a full extra exchange;
  *    fine when the frame is bounded or the sort IS the product, e.g. a
  *    curriculum ordering).
  *
  * Exit 1 if any query carries a CartesianProduct — the one shape with
  * no 100 TB excuse. The others print as warnings for adjudication
  * (some queries legitimately sort a bounded/metadata-sized frame).
  *
  * Usage: tools/run.sh graft.PlanSweep [sfDir] [query...]
  * (default sf0.001 and the whole registry; building a query may
  * EXECUTE its eager setup — trains, incremental stores — so the sweep
  * runs real code, which is the point.)
  */
object PlanSweep {

  /** The scale smells one query's physical plan carries. */
  case class Smells(cartesian: Int, globalWindows: Int, unlimitedSorts: Int)

  /** Detect smells on `df`'s executed physical plan, with AQE wrappers
    * unwrapped (an [[AdaptiveSparkPlanExec]] is a LEAF to `collect` —
    * its current plan is only reachable through `executedPlan`, which
    * before the first job is the initial physical plan) and subquery
    * plans swept too (a cartesian hiding in a scalar subquery is still
    * a cartesian; `sparkPlan` would NOT do — subqueries are planned in
    * the executedPlan preparation, so at that stage a subquery
    * expression still holds a LOGICAL plan and casts blow up). */
  def smellsOf(df: DataFrame): Smells = {
    val plan = df.queryExecution.executedPlan
    // every physical node, descending through AQE wrappers and into
    // planned subquery expressions (ScalarSubquery/InSubqueryExec hold
    // a BaseSubqueryExec — itself a SparkPlan)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ =>
        val subs = p.expressions.flatMap(_.collect {
          case pe: PlanExpression[_] => pe.plan
        }).collect { case sp: SparkPlan => sp }
        p +: (p.children ++ subs).flatMap(nodes)
    }
    val all = nodes(plan)
    val cartesian = all.count(_.isInstanceOf[CartesianProductExec])
    val globalWindows = all.count {
      case w: WindowExecBase => w.partitionSpec.isEmpty
      case _ => false
    }
    // global Sort with no limit ancestor: walk with a limit flag — a
    // Sort directly under GlobalLimit/CollectLimit is a top-k in
    // disguise (and TakeOrderedAndProject never plans a SortExec at
    // all). Subquery trees restart with no limit ancestry.
    def unlimitedSorts(p: SparkPlan, underLimit: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => unlimitedSorts(a.executedPlan, underLimit)
      case _ =>
        val here = p match {
          case s: SortExec if s.global && !underLimit => 1
          case _ => 0
        }
        val ul = underLimit || (p match {
          case _: GlobalLimitExec | _: CollectLimitExec |
               _: TakeOrderedAndProjectExec => true
          case _ => false
        })
        val subs = p.expressions.flatMap(_.collect {
          case pe: PlanExpression[_] => pe.plan
        }).collect { case sp: SparkPlan => sp }
        here + p.children.map(unlimitedSorts(_, ul)).sum +
          subs.map(unlimitedSorts(_, underLimit = false)).sum
    }
    Smells(cartesian, globalWindows, unlimitedSorts(plan, underLimit = false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")

    val specs = SparkEntry.registry.sortBy(_.name)
      .filter(q => only.isEmpty || only(q.name))
    var products = List.empty[String]
    var globalWindows = List.empty[QuerySpec]
    var sorts = List.empty[QuerySpec]
    var failed = List.empty[String]
    specs.foreach { q =>
      try {
        val s = smellsOf(q.build(spark, sfDir))
        if (s.cartesian > 0) products ::= q.name
        if (s.globalWindows > 0) globalWindows ::= q
        if (s.unlimitedSorts > 0) sorts ::= q
      } catch {
        case e: Throwable =>
          failed ::= s"${q.name}: ${e.getClass.getSimpleName} ${e.getMessage}"
      }
    }
    println(s"swept ${specs.size} queries at $sfDir")
    if (products.nonEmpty)
      println(s"CARTESIAN PRODUCT (fail): ${products.sorted.mkString(", ")}")
    // a warning the query's spec adjudicates bounded (QuerySpec.planOk)
    // prints with its reason; any other prints as NEW — the sweep is a
    // regression detector for plan funnels, and a fresh unreviewed global
    // window must not blend into a known list. Only THIS kind's
    // adjudications apply (ADVICE r16): a query adjudicated for a
    // bounded window still reports a fresh sort.
    def report(kind: Smell, hint: String, hits: List[QuerySpec]): List[String] = {
      val (known, fresh) = hits.sortBy(_.name).partition(_.planOk.contains(kind))
      if (known.nonEmpty)
        println(s"${kind.label} (adjudicated bounded): " + known.map(q =>
          s"${q.name} [${q.planOk(kind)}]").mkString("; "))
      if (fresh.nonEmpty)
        println(s"${kind.label} NEW ($hint): ${fresh.map(_.name).mkString(", ")}" +
          " — adjudicate in the query's QuerySpec.planOk, or fix the funnel")
      fresh.map(_.name)
    }
    val newWindows = report(Smell.GlobalWindow,
      "fine only on driver-bounded frames", globalWindows)
    val newSorts = report(Smell.UnlimitedSort,
      "fine when the ordering is the product or the frame is bounded", sorts)
    failed.sorted.foreach(f => println(s"BUILD FAILED: $f"))
    if (products.isEmpty && failed.isEmpty &&
        newWindows.isEmpty && newSorts.isEmpty) println("sweep clean")
    spark.stop()
    // exit contract (ADVICE r16: NEW smells must be machine-visible, not
    // just a printed line): 1 = hard fail (cartesian / build failure),
    // 2 = fresh unadjudicated smells — a CI gate keyed on rc catches both.
    if (products.nonEmpty || failed.nonEmpty) sys.exit(1)
    if (newWindows.nonEmpty || newSorts.nonEmpty) sys.exit(2)
  }
}
