package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.DataQuality
import graft.ext.DataQuality._

/** Data-quality validation surface: declarative constraint suites and
  * column profiling over the star schema (graft.ext.DataQuality). Every
  * query has a DuckDB oracle that replays the full metric arithmetic
  * (fixed-point pass fractions included), so the driver's hash-compare
  * verifies the checks themselves, not just row counts.
  */
object QualityQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Constraint suite over lineitem: completeness, ranges, value
    * domains, a regex shape check, the (orderkey, linenumber) unique
    * key, and referential integrity into orders and part. One scan for
    * all row-level checks; key-only shuffles for the rest. */
  def qDqReport(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    DataQuality.report(li, Seq(
      Complete("l_shipdate"),
      Complete("l_quantity"),
      InRange("l_quantity", 1.0, 50.0),
      InRange("l_discount", 0.0, 0.1),
      InSet("l_returnflag", Seq("A", "N", "R")),
      InSet("l_linestatus", Seq("O", "F")),
      MatchesRegex("l_returnflag", "[A-Z]"),
      Unique(Seq("l_orderkey", "l_linenumber")),
      RefIntegrity("l_orderkey", t(s, dir, "orders"), "o_orderkey", "orders"),
      RefIntegrity("l_partkey", t(s, dir, "part"), "p_partkey", "part")))
      .withColumnRenamed("check", "check_name")
  }

  /** Column profile of orders (key + two varchar columns — types whose
    * string rendering is engine-portable). */
  def qProfileColumns(s: SparkSession, dir: String): DataFrame =
    DataQuality.profileColumns(t(s, dir, "orders"),
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))

  /** Profile drift between the even- and odd-key halves of orders — the
    * yesterday-vs-today promotion gate readout. */
  def qProfileDrift(s: SparkSession, dir: String): DataFrame =
    DataQuality.profileDrift(
      t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0),
      t(s, dir, "orders").filter(col("o_orderkey") % 2 === 1),
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))

  // =================================================== DuckDB oracles

  /** Floor-divided 4-dp pass fraction — the SQL twin of
    * DataQuality.passFrac (all operands non-negative, so plain % is the
    * same as pmod). */
  private def passFracSql(n: String, v: String): String =
    s"""CASE WHEN $n > 0
       | THEN CAST((($n - $v) * 10000 - (($n - $v) * 10000) % $n) / $n AS DOUBLE) / 10000.0
       | ELSE 1.0 END""".stripMargin

  private def dqBranch(name: String, target: String, nExpr: String,
      vExpr: String, from: String): String =
    s"""SELECT '$name' AS check_name, '$target' AS target,
       |  CAST(n AS BIGINT) AS n_rows, CAST(v AS BIGINT) AS n_violations,
       |  ${passFracSql("n", "v")} AS pass_frac,
       |  CASE WHEN v = 0 THEN 1 ELSE 0 END AS passed
       |FROM (SELECT $nExpr AS n, $vExpr AS v FROM $from)""".stripMargin

  private def rowViol(pred: String): String =
    s"coalesce(sum(CASE WHEN $pred THEN 1 ELSE 0 END), 0)"

  private val dqReportSql: String = Seq(
    dqBranch("complete", "l_shipdate", "count(*)",
      rowViol("l_shipdate IS NULL"), "lineitem"),
    dqBranch("complete", "l_quantity", "count(*)",
      rowViol("l_quantity IS NULL"), "lineitem"),
    dqBranch("range", "l_quantity", "count(*)",
      rowViol("l_quantity IS NULL OR NOT (l_quantity >= 1.0 AND l_quantity <= 50.0)"),
      "lineitem"),
    dqBranch("range", "l_discount", "count(*)",
      rowViol("l_discount IS NULL OR NOT (l_discount >= 0.0 AND l_discount <= 0.1)"),
      "lineitem"),
    dqBranch("in_set", "l_returnflag", "count(*)",
      rowViol("l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')"),
      "lineitem"),
    dqBranch("in_set", "l_linestatus", "count(*)",
      rowViol("l_linestatus IS NULL OR l_linestatus NOT IN ('O','F')"),
      "lineitem"),
    dqBranch("matches", "l_returnflag", "count(*)",
      rowViol("l_returnflag IS NULL OR NOT regexp_full_match(l_returnflag, '(?:[A-Z])')"),
      "lineitem"),
    dqBranch("unique", "l_orderkey,l_linenumber",
      "coalesce(sum(cnt), 0)", "coalesce(sum(cnt - 1), 0)",
      "(SELECT count(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)"),
    dqBranch("ref", "l_orderkey->orders.o_orderkey", "count(*)",
      rowViol("l_orderkey IS NOT NULL AND o_orderkey IS NULL"),
      "(SELECT l.l_orderkey, o.o_orderkey FROM lineitem l LEFT JOIN " +
        "(SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey)"),
    dqBranch("ref", "l_partkey->part.p_partkey", "count(*)",
      rowViol("l_partkey IS NOT NULL AND p_partkey IS NULL"),
      "(SELECT l.l_partkey, p.p_partkey FROM lineitem l LEFT JOIN " +
        "(SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey)"))
    .mkString("\nUNION ALL\n")

  private def profileBranches(table: String, c: String): String = Seq(
    s"SELECT '$c' AS col_name, 'n' AS metric, CAST(count(*) AS VARCHAR) AS value FROM $table",
    s"SELECT '$c', 'n_null', CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS VARCHAR) FROM $table",
    s"SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS VARCHAR) FROM $table",
    s"SELECT '$c', 'min', CAST(min($c) AS VARCHAR) FROM $table",
    s"SELECT '$c', 'max', CAST(max($c) AS VARCHAR) FROM $table")
    .mkString("\nUNION ALL\n")

  private val profileColumnsSql: String =
    Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      .map(profileBranches("orders", _)).mkString("\nUNION ALL\n")

  /** Drift oracle: the same profile branches over each half, full-outer
    * joined with a null-safe changed verdict. */
  private def profileSliceSql(pred: String): String =
    Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      .map(profileBranches(s"(SELECT * FROM orders WHERE $pred)", _))
      .mkString("\nUNION ALL\n")

  private val profileDriftSql =
    s"""WITH a AS (${profileSliceSql("o_orderkey % 2 = 0")}),
       |b AS (${profileSliceSql("o_orderkey % 2 = 1")})
       |SELECT coalesce(a.col_name, b.col_name) AS col_name,
       |  coalesce(a.metric, b.metric) AS metric,
       |  a.value AS value_old, b.value AS value_new,
       |  (a.value IS DISTINCT FROM b.value) AS changed
       |FROM a FULL OUTER JOIN b
       |  ON a.col_name = b.col_name AND a.metric = b.metric""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dq_report", qDqReport, dqReportSql),
    QuerySpec("q_profile_columns", qProfileColumns, profileColumnsSql),
    QuerySpec("q_profile_drift", qProfileDrift, profileDriftSql))
}
