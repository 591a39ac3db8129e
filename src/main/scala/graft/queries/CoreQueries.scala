package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational query surface over the star-schema testdata,
  * one verified query per operator class of SURVEY.md §2.
  *
  * Determinism rules (driver hash-compares against DuckDB):
  *  - money/value SUMs run on the exact integer-cents lattice (decimal
  *    accumulator, one final decimal→double cast) — see [[centsSum]]; a
  *    `round(sum(double),2)` is only kept where the true sum provably sits
  *    ON the 2-decimal lattice with float error ≪ the 0.005 midpoint
  *    distance (small windows/sessions), justified at each site;
  *  - window functions order by a unique key;
  *  - LIMIT always under a total order with a unique tiebreak;
  *  - no wall-clock functions;
  *  - integer-ish results cast to BIGINT on both sides.
  *
  * Scale notes are inline per query; the shared themes: filters/projections
  * push into the parquet scan, dimension joins broadcast, aggregations get
  * map-side partials for free, AQE (enabled in Verify/Bench sessions)
  * handles skew and post-shuffle coalescing.
  */
object CoreQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Scratch path for side-effectful queries (JSON spool, embedded Derby),
    * unique per (JVM, data dir): concurrent harness runs on one machine
    * must not clobber each other's spool — and embedded Derby holds a
    * single-JVM lock on its database directory, so a shared fixed path
    * fails a parallel run outright (ADVICE r3). Within one JVM the path is
    * stable, so repeated runs reuse rather than re-create. */
  private[queries] def scratch(dir: String, tag: String): String = {
    val id = s"${ProcessHandle.current().pid()}_${Integer.toHexString(dir.hashCode)}"
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_$id"
  }

  // ------------------------------------------------- exact-sum lattice
  // The money/value columns are exact 2-decimal values stored as doubles
  // (driver-generated; verified on-lattice at every sf). A double SUM of
  // them is partition-order-dependent, and when the true sum can land on
  // a round-2 midpoint the last cent flips between runs (the r4
  // q_sql_q10 flake). Discipline (template: Curation.tfidfTopTerms,
  // KMeans lattice notes): recover the exact integer cents per row —
  // round(x*100) is exact because x is the nearest double to a
  // 2-decimal value, so x*100 is within ~1e-9 of the integer — sum in a
  // decimal accumulator (exact, associative, order-independent), and
  // make ONE final decimal→double cast of the exact integer, which is
  // correctly rounded in every engine. Sums stay exact up to 10^38
  // units; only the final display cast rounds (above 2^53 units ≈
  // $9·10^11 the double is the nearest representable, still
  // deterministic). DuckDB oracle twin: CAST(round(x*100) AS
  // DECIMAL(18,0)), sum, CAST AS DOUBLE — identical text works in both
  // dialects.

  /** Σx over a 2-decimal column, exact: integer-cents decimal sum, one
    * final cast back to dollars-as-double. */
  private def centsSum(c: Column): Column =
    sum(round(c * 100).cast("decimal(18,0)")).cast("double") / 100.0

  /** Per-row revenue units: cents × (100 − discount basis points) — the
    * exact 10⁻⁴-dollar lattice of `l_extendedprice * (1 - l_discount)`. */
  private def revenueUnits: Column =
    round(col("l_extendedprice") * 100).cast("decimal(18,0)") *
      (lit(100) - round(col("l_discount") * 100).cast("decimal(18,0)"))

  /** Σ extendedprice·(1−discount), exact (revenue units → dollars). */
  private def revenueSum: Column =
    sum(revenueUnits).cast("double") / 10000.0

  /** The same two fragments in SQL text — valid verbatim in BOTH Spark
    * SQL (the q_sql_* surface) and DuckDB (the oracle). */
  private[queries] val centsSumSql =
    (x: String) => s"CAST(sum(CAST(round($x * 100) AS DECIMAL(18,0))) AS DOUBLE) / 100.0"
  private[queries] val revenueUnitsSql =
    "CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)) * " +
      "(100 - CAST(round(l_discount * 100) AS DECIMAL(18,0)))"
  private[queries] val revenueSumSql =
    s"CAST(sum($revenueUnitsSql) AS DOUBLE) / 10000.0"

  // ---------------------------------------------------------------- S4 scan
  /** Projection-only scan: ReadSchema must prune to 2 of 6 part columns. */
  def qS4Scan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey"), col("p_name"))

  // ---------------------------------------------------------- S6 stage copy
  /** Landing→INT shape (STG_to_INT.py:16-20): constant batch-id column. */
  def qS6StageCopy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type") === "click")
      .withColumn("load_key", lit(42L))
      .select(col("event_id"), col("user_id"), col("load_key"))

  // ------------------------------------------------------------- S3 users
  /** Users collection scan (get_user_data.py:10-30): a JSON users fixture
    * is DERIVED deterministically from the shared customer table (so the
    * DuckDB oracle can replicate it from the same parquet), written to a
    * local spool dir, and read back through TreeIngest.readUsers — the
    * permissive 12-field schema defaults every absent field to null, the
    * reference's `.get(field, None)` contract. Every 7th user omits the
    * email field and 6 of the 12 fields are never present, so the
    * null-defaulting path is genuinely exercised. */
  def qS3Users(s: SparkSession, dir: String): DataFrame = {
    val spool = scratch(dir, "users_json")
    t(s, dir, "customer").select(to_json(struct(
        col("c_custkey").cast("string").as("uid"),
        col("c_name").as("full_name"),
        when(col("c_custkey") % 7 =!= 0,
          concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]+", ".")),
            lit("@example.com"))).as("email"),
        concat(lit("555-"), col("c_custkey").cast("string")).as("phoneNumber"),
        col("c_mktsegment").as("account_Type"),
        col("c_nationkey").cast("string").as("zipcd"))).as("value"))
      .write.mode("overwrite").text(spool)
    graft.ingest.TreeIngest.readUsers(s, spool)
  }

  // ---------------------------------------------------------- S4 via JDBC
  /** JDBC ingestion variant of S4 (reference Oracle-over-JDBC path,
    * dbconnect.py + STG_Firebase2Oracle.py:65-96): nation is written to an
    * embedded Derby database over JDBC, then read back with a RANGE-
    * PARTITIONED parallel read (4 stripes on n_nationkey) and a filter
    * that pushes into the generated SQL — the DB prunes, not Spark. The
    * oracle reads the same rows straight from the shared parquet. */
  def qJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    System.setProperty("derby.stream.error.file",
      s"${scratch(dir, "derby")}.log")
    val url = s"jdbc:derby:${scratch(dir, "derby_nation")};create=true"
    graft.ingest.JdbcTables.write(t(s, dir, "nation"), url, "nation",
      org.apache.spark.sql.SaveMode.Overwrite)
    graft.ingest.JdbcTables.readPartitioned(s, url, "nation",
        "n_nationkey", 0L, 24L, 4)
      .filter(col("n_regionkey") < 3)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  // ------------------------------------------------------- format matrix
  /** CSV source roundtrip: nation spools to headered CSV in per-run
    * scratch and reads back under an EXPLICIT schema (inference is a
    * determinism hazard: a text format carries no types). Longs and
    * strings round-trip exactly; the oracle reads the same rows from the
    * shared parquet, so the whole text encode/decode path is
    * hash-checked. */
  def qSCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val spool = scratch(dir, "csv_nation")
    t(s, dir, "nation").write.mode("overwrite")
      .option("header", "true").csv(spool)
    s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").csv(spool)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  /** ORC source roundtrip: supplier through the second columnar format
    * the engine speaks (type-preserving, so doubles are bit-exact). */
  def qSOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val spool = scratch(dir, "orc_supplier")
    t(s, dir, "supplier").write.mode("overwrite").orc(spool)
    s.read.orc(spool)
      .filter(col("s_acctbal") > 0.0)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("acctbal"))
  }

  // --------------------------------------------------------------- filters
  /** P1: event-time threshold filter (>= boundary, STG_Firebase2Oracle.py:58).
    * The predicate reaches the parquet scan as PushedFilters. ts emitted at
    * second precision — the source is nanosecond-typed (see Tables.load). */
  def qP1Threshold(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("ts") >= to_timestamp(lit("2024-01-04 00:00:00")))
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_sec"),
        col("event_type"))

  /** P2: conjunctive equality predicates (CheckInterface_Metadata.py:24-26). */
  def qP2Equality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** P3: LIKE / NOT LIKE patterns (Delta_detection_query_gen.py:26). */
  def qP3Like(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_type").like("M%") && !col("p_name").like("small%"))
      .select(col("p_partkey"), col("p_name"), col("p_type"))

  /** P4: NOT IN set predicate (exclusion algebra,
    * Delta_detection_query_gen.py:161-167). */
  def qP4NotIn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(!col("l_returnflag").isin("A", "R") && col("l_linenumber") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))

  /** P5/J5: IN-(SELECT MAX …) latest-row lookup
    * (CheckInterface_Metadata.py:21-25). Spark shape: 1-row aggregate
    * broadcast-joined back — the plan Catalyst also derives from the
    * IN-subquery form. */
  def qP5InMax(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val latest = ev.agg(max(col("event_id")).as("event_id"))
    ev.join(broadcast(latest), Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** P7+F5: null-check predicates driving CASE classification
    * (Delta_detection_query_gen.py:48,53-57). */
  def qP7NullCase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        when(nullif(col("o_orderstatus"), lit("O")).isNull, "open")
          .when(col("o_totalprice") > 200000.0, "big")
          .otherwise("other").as("class"))

  // ----------------------------------------------------------------- joins
  /** J2: metadata-style inner equi-join chain; both dims broadcast. */
  def qJ2Inner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))

  /** J3: cross join with a 1-row aggregate (surrogate high-water pattern,
    * Delta_detection_query_gen.py:37-41) → BroadcastNestedLoopJoin.
    * round(MAX,2)/round(x−y,2) need no lattice migration: MAX is
    * order-independent and the subtraction is a single IEEE op of two
    * on-lattice doubles — identical in every engine. */
  def qJ3CrossAgg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val maxv = o.agg(round(max(col("o_totalprice")), 2).as("max_price"))
    o.crossJoin(broadcast(maxv))
      .select(col("o_orderkey"),
        round(col("max_price") - col("o_totalprice"), 2).as("below_max"))
  }

  /** J4: src ⋈ temp re-attach with IN filters on both sides
    * (Delta_detection_query_gen.py:297-304). */
  def qJ4SrcTemp(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_returnflag").isin("A", "R"))
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("o_orderpriority"))
  }

  /** J5a: left-semi join — EXISTS form of the reference's IN-subquery. */
  def qJ5Semi(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49.0)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === big("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  /** J5b: left-anti join — NOT EXISTS; same shuffle shape as semi. */
  def qJ5Anti(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    t(s, dir, "orders")
      .join(li, col("o_orderkey") === li("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  /** J1 standalone: FULL OUTER JOIN side-classification (the SCD2 core,
    * Delta_detection_query_gen.py:94-96) on plain tables. */
  def qJ1FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_orders"))
    c.join(o, Seq("k"), "full_outer")
      .select(col("k"),
        when(c("bal").isNull, "right_only")
          .when(col("n_orders").isNull, "left_only")
          .otherwise("both").as("side"))
  }

  // ------------------------------------------------------------ aggregates
  /** A1/A2: scalar un-grouped MAX high-water marks. */
  def qA2MaxScalar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      max(col("l_orderkey")).as("max_key"),
      max(col("l_partkey")).as("max_part"),
      count(lit(1)).as("cnt"))

  /** TPC-H Q1-style pricing summary: groupBy + multi-agg. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        centsSum(col("l_quantity")).as("sum_qty"),
        centsSum(col("l_extendedprice")).as("sum_base_price"),
        revenueSum.as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** Join + group aggregate: revenue per nation (broadcast dim chain,
    * partial aggregation before the shuffle). */
  def qAggJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenueSum.as("revenue"),
        count(lit(1)).as("n_items"))

  /** Distinct aggregation (beyond reference parity; expand-based plan). */
  def qAggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))

  // --------------------------------------------------------------- windows
  /** W1: ROW_NUMBER — partitioned by customer (scale-correct analog of the
    * reference's single-partition constant-order window, see Historizer's
    * surrogate minting for the faithful variant). */
  def qW1RowNumber(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
  }

  /** Analytic windows beyond parity: lag + running sum per partition.
    * round(sum(double),2) is SAFE here (no lattice migration needed):
    * `value` is on the 2-decimal lattice so every true prefix sum is
    * too, and per-user prefixes (≤ ~10³ rows × ~10³ magnitude) carry
    * float error ≤ n·ulp ≈ 1e-7 ≪ the 0.005 midpoint distance — the
    * round is order-independent for any engine's summation order. */
  def qW2Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("running_value",
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .select(col("user_id"), col("event_id"), col("prev_type"), col("running_value"))
  }

  // ------------------------------------------------------- sort/limit/topk
  /** O3: top-k under a total order (unique tiebreak ⇒ deterministic set).
    * TakeOrderedAndProject: no global sort materialization. */
  def qO3TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
      .select(col("o_orderkey"), col("o_totalprice"))

  // ----------------------------------------------------------------- setop
  /** Set operations (engine surface; SURVEY §2.7 notes the SCD2 rewrite
    * introduces union — exposed generically here). */
  def qSetUnion(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "customer").filter(col("c_acctbal") < 0.0)
      .select(col("c_custkey").as("custkey"))
    a.union(b).distinct()
  }

  def qSetIntersect(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.intersect(b)
  }

  def qSetExcept(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").select(col("c_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    a.except(b)
  }

  /** Multiset EXCEPT ALL — bag semantics via Catalyst's ReplaceExceptAll
    * rewrite (row-count difference per value, no dedup): the ALL-variant
    * half of the set-operator surface. */
  def qSetExceptAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.exceptAll(b)
  }

  /** Multiset INTERSECT ALL — min(multiplicity) per value. */
  def qSetIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("custkey"))
    a.intersectAll(b)
  }

  // -------------------------------------------------------- scalar functions
  /** F1/F2/F3/F5/F8/F10/F13 in one projection (string-typed hash input so
    * both engines render identically). */
  def qFScalars(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      // F1+F2+F3: null-safe separator-less concat → sha256
      sha2(concat(
        coalesce(col("o_orderstatus"), lit("")),
        coalesce(col("o_orderpriority"), lit(""))), 256).as("row_hash"),
      // F5: CASE WHEN classification
      when(col("o_orderstatus") === "O", "I")
        .when(col("o_orderstatus") === "F", "U")
        .otherwise("NC").as("upsert_cd"),
      // F8: SUBSTR
      substring(col("o_orderpriority"), 1, 1).as("prio_digit"),
      // F10: date formatting/parsing round-trip
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
      // F13: dict.get-style default
      coalesce(nullif(col("o_orderstatus"), lit("P")), lit("N/A")).as("status_or_na"),
      year(col("o_orderdate")).cast("long").as("order_year"))

  // ---------------------------------------------------- streaming-as-batch
  /** ST analog: tumbling 1-day event-time window aggregate — the batch
    * plan of the Structured Streaming query in graft.streaming. */
  def qStWindowAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), centsSum(col("value")).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  // -------------------------------------------------- raw SQL surface
  /** These run through `spark.sql` over registered views — the engine's
    * textual entry point (same Catalyst plans as the DataFrame forms).
    * Shapes follow TPC-H Q3/Q4/Q6 adapted to the testdata's columns. */
  private def sql(s: SparkSession, dir: String, text: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(text)
  }

  /** Q3-style shipping priority: join chain + agg + deterministic top-k.
    * Revenue on the exact lattice (see [[revenueSumSql]]) so the hash —
    * and the ORDER BY revenue — are partition-order-independent. */
  def qSqlQ3(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      s"""SELECT o_orderkey,
        |  $revenueSumSql AS revenue,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1997-03-15' AND l_shipdate > DATE '1997-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)

  /** Q4-style: correlated EXISTS + count by priority (Catalyst rewrites
    * the subquery to a left-semi join). */
  def qSqlQ4(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin)

  /** Q5-style: 4-way join chain + group aggregate — the deepest join
    * pipeline in the registry (two broadcast dims, one fact-fact SMJ). */
  def qSqlQ5(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      s"""SELECT n_name,
        |  $revenueSumSql AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name""".stripMargin)

  /** Correlated scalar subquery: customers above their nation's average
    * balance (Catalyst decorrelates to an aggregate + join). */
  def qSqlScalarSub(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT c_custkey, c_acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)

  /** Correlated EXISTS / NOT EXISTS on the SQL surface — Catalyst
    * rewrites both to semi/anti joins (the J5 plan shapes), but the SQL
    * entry point is its own operator-class checkbox: customers with an
    * urgent order and none cancelled. */
  def qSqlExists(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'C')""".stripMargin)

  /** Per-group MODE by exact counts: the most frequent event type per
    * user, count-desc with a value tiebreak — the categorical summary
    * statistic (A-family) the median query's order-statistics trick
    * doesn't cover. Map-side-combined counts, per-group window. */
  def qAggMode(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
  }

  /** Q6-style: pure scan-side filter + scalar agg (everything pushes to
    * the parquet reader). */
  def qSqlQ6(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      // cents × basis points = exact 10⁻⁴-dollar lattice, same discipline
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
        |    * CAST(round(l_discount * 100) AS DECIMAL(18,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)

  /** Q10-style returned-item revenue: who returned the most value —
    * 3-way join, exact-lattice revenue agg, deterministic top-k. (The r4
    * red row: its round(sum(double),2) sat on a rounding midpoint and
    * flipped with partition order — hence the lattice form.) */
  def qSqlQ10(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      s"""SELECT c_custkey, c_name, n_name,
        |  $revenueSumSql AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** Q12-style priority split (adapted to this schema's columns):
    * conditional-CASE counts inside one aggregation over a fact-fact
    * join. */
  def qSqlQ12(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT l_returnflag,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= o_orderdate AND l_shipdate < DATE '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin)

  /** Q14-style promo revenue: fact-dim join + conditional aggregate. Both
    * sums run on the exact revenue-unit lattice; the percentage is the
    * tfidf floor-div trick (⌊n·10⁶/d⌋ / 10⁴ = 100·n/d at 4 decimals):
    * round(double,4) of a quotient is engine-dependent exactly at decimal
    * midpoints, a floor-div of exact integers is not. */
  def qSqlQ14(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      s"""WITH s AS (SELECT
        |    sum(CASE WHEN p_type = 'PROMO' THEN $revenueUnitsSql
        |        ELSE CAST(0 AS DECIMAL(18,0)) END) AS promo_u,
        |    sum($revenueUnitsSql) AS total_u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= DATE '1996-09-01'
        |    AND l_shipdate < DATE '1996-12-01')
        |SELECT CAST((promo_u * 1000000 - pmod(promo_u * 1000000, total_u))
        |    / total_u AS DOUBLE) / 10000.0 AS promo_revenue_pct
        |FROM s""".stripMargin)

  /** Explicit GROUPING SETS with grouping_id disambiguation — the third
    * face of the Expand operator next to rollup/cube: two single-column
    * sets plus the grand total, the gid telling which null means "all". */
  private val sqlGroupingSetsText =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin
  def qAggGroupingSets(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlGroupingSetsText)

  /** W6: the remaining ranking battery — rank/dense_rank under ties,
    * percent_rank and cume_dist (exact small-integer rationals: both
    * engines compute (rank−1)/(n−1) and rank/n on identical ints, so the
    * doubles match bit-for-bit), nth_value over the full frame. Total
    * order (value, event_id) keeps every rank deterministic. */
  private val sqlW6Text =
    """SELECT user_id, event_id,
      |  CAST(rank() OVER w AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |  percent_rank() OVER w AS prnk,
      |  cume_dist() OVER w AS cdist,
      |  nth_value(event_id, 2) OVER (PARTITION BY user_id ORDER BY value, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_event
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin
  def qW6RankBattery(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlW6Text)

  // ---- TPC-H-shaped SQL, batch 2 (engine surface beyond the reference):
  // each text is ONE definition valid verbatim in Spark SQL and DuckDB —
  // the revenue/quantity lattice fragments keep every aggregate exact, so
  // no per-dialect forks are needed. Plan shapes covered: two-dim join
  // (q7), outer-join count histogram (q13), scalar-subquery max over a
  // CTE with exact-integer equality (q15), IN + HAVING subquery (q18),
  // disjunctive multi-column pushdown (q19), multiply-through exact
  // average comparison + anti join (q22).

  /** Q7-style volume shipping: nation-pair revenue by ship year. Two
    * broadcast nation dims joined twice, one fact chain. */
  private val sqlQ7Text =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year, $revenueSumSql AS revenue
      |FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
      |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      |  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
      |GROUP BY 1, 2, 3""".stripMargin
  def qSqlQ7(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ7Text)

  /** Q13-style customer order-count distribution: LEFT OUTER join with a
    * join-side filter, then a two-level aggregation (count per customer,
    * histogram of counts). */
  private val sqlQ13Text =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |    AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count""".stripMargin
  def qSqlQ13(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ13Text)

  /** Q15-style top supplier: quarterly revenue per supplier, the max
    * picked by a scalar subquery over the CTE. The HAVING-max equality
    * runs on the exact INTEGER revenue units (ties impossible to lose to
    * float noise); only the reported column converts to dollars. */
  private val sqlQ15Text =
    s"""WITH rev AS (
      |  SELECT l_suppkey AS supplier_no, sum($revenueUnitsSql) AS total_u
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_u AS DOUBLE) / 10000.0 AS total_revenue
      |FROM supplier JOIN rev ON s_suppkey = supplier_no
      |WHERE total_u = (SELECT max(total_u) FROM rev)""".stripMargin
  def qSqlQ15(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ15Text)

  /** Q18-style large-volume orders: IN over a grouped HAVING subquery
    * (Catalyst: left-semi against the re-aggregated fact), quantity sums
    * on the integer-cents lattice end to end. */
  private val sqlQ18Text =
    """SELECT c_custkey, c_name, o_orderkey,
      |  CAST(sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS total_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) > 25000)
      |GROUP BY c_custkey, c_name, o_orderkey""".stripMargin
  def qSqlQ18(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ18Text)

  /** Q19-style discounted revenue under a disjunction of (brand, size,
    * quantity) envelopes — the OR-pushdown shape: the per-table halves of
    * the disjunction should still prune at both scans. */
  private val sqlQ19Text =
    s"""SELECT $revenueSumSql AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 5 AND 15)
      |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 15 AND 35)
      |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 25 AND 50)""".stripMargin
  def qSqlQ19(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ19Text)

  /** Q22-style global sales opportunity: above-average-balance customers
    * in a country set with no urgent orders (every synthetic customer has
    * SOME order, so the anti-join condition is priority-scoped). The
    * average comparison multiplies through — bal·n > Σbal in exact
    * integers — instead of comparing against a float mean. */
  private val sqlQ22Text =
    """WITH c AS (SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS DECIMAL(18,0)) AS bal_c
      |  FROM customer WHERE c_nationkey IN (1, 3, 7, 10, 17, 21, 24)),
      |stats AS (SELECT sum(bal_c) AS s, count(*) AS n FROM c WHERE bal_c > 0)
      |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
      |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
      |FROM c CROSS JOIN stats
      |WHERE bal_c * n > s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey""".stripMargin
  def qSqlQ22(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ22Text)

  // ---- TPC-H-shaped SQL, batch 3: the remaining 8 of the 22 classic
  // shapes, adapted to this schema (no partsupp table — the per-
  // (part, supplier) lineitem aggregate plays its role; no commit/
  // receipt dates — "late" is ship > order + 365 days, which the data's
  // long-tail ship gaps make selective). Same one-text-two-dialects
  // discipline; every money/quantity aggregate on the exact integer
  // lattice, every avg-comparison multiplied through to integers.

  /** Q2-style min-cost supplier: the "partsupp" is the per-(part,
    * supplier) MIN line price; the correlated scalar subquery picks the
    * regional minimum per part. Catalyst decorrelates to an aggregate
    * re-join; the cost CTE is computed once per side (self-referenced). */
  private val sqlQ2Text =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS cost_c
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |  CAST(cost_c AS DOUBLE) / 100.0 AS supply_cost
      |FROM part
      |JOIN cost ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND r_name = 'EUROPE'
      |  AND cost_c = (SELECT min(c2.cost_c) FROM cost c2
      |                JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
      |                JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |                JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |                WHERE c2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  /** Spark-side single-pass form of [[sqlQ2Text]] (r19, guide §2.4):
    * Catalyst decorrelates the scalar subquery into a SECOND full
    * cost-CTE aggregate plus a second supplier→nation→region chain
    * (plan showed 24 Exchanges / 2 SortMergeJoins); but the subquery's
    * domain is EXACTLY the Europe-joined cost set the outer query scans,
    * so the regional minimum is a per-part window MIN over that one set.
    * Row-set equivalence: an outer row pairs part p with a Europe cost
    * row e on p_partkey = l_partkey, and the subquery's min ranges over
    * the Europe cost rows with that same l_partkey = e's window
    * partition; a part with no Europe supplier produces no outer row in
    * either form, and NULL cost_c rows fail both equality forms. The
    * ORACLE text stays [[sqlQ2Text]] — the driver's DuckDB compare is
    * the equivalence proof on every SF. */
  private val sqlQ2SparkText =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS cost_c
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |eu AS (
      |  SELECT s_acctbal, s_name, n_name, l_partkey, cost_c
      |  FROM cost
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |  CAST(cost_c AS DOUBLE) / 100.0 AS supply_cost
      |FROM part
      |JOIN (SELECT eu.*, min(cost_c) OVER (PARTITION BY l_partkey) AS mc
      |      FROM eu) e ON p_partkey = l_partkey
      |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND cost_c = mc
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin
  def qSqlQ2(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlQ2SparkText)

  /** Q8-style market share: one nation's share of a region's PROMO
    * revenue by order year. Both operands of the final division are
    * exact integer sums cast to double, so the quotient is a single
    * deterministic IEEE op in both engines. */
  private val sqlQ8Text =
    s"""SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_u ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(rev_u) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |    $revenueUnitsSql AS rev_u,
      |    sn.n_name AS supp_nation
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      |    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01') t
      |GROUP BY o_year""".stripMargin
  def qSqlQ8(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ8Text)

  /** Q9-style product profit by supplier nation × year. Profit per line
    * = revenue units − retail·qty: cents × cents lands on the SAME
    * 10⁻⁴-dollar lattice as cents × (100−bp), so the subtraction stays
    * in exact integers — no decimal division anywhere. */
  private val sqlQ9Text =
    s"""SELECT n_name AS nation, o_year,
      |  CAST(sum(amount_u) AS DOUBLE) / 10000.0 AS sum_profit
      |FROM (
      |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |    $revenueUnitsSql
      |    - CAST(round(p_retailprice * 100) AS DECIMAL(18,0))
      |      * CAST(round(l_quantity * 100) AS DECIMAL(18,0)) AS amount_u
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%red%') t
      |GROUP BY n_name, o_year""".stripMargin
  def qSqlQ9(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ9Text)

  /** Q11-style important-value parts: per-part line value (price·qty,
    * exact 10⁻⁴ units) filtered to groups above 0.1% of the regional
    * total — the threshold multiplied through (val·1000 > Σval) so no
    * float fraction is ever compared. */
  private val sqlQ11Text =
    """WITH pv AS (
      |  SELECT l_partkey,
      |    sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
      |      * CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS val_u
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |  GROUP BY l_partkey)
      |SELECT l_partkey, CAST(val_u AS DOUBLE) / 1000000.0 AS value_dollars
      |FROM pv
      |WHERE val_u * 1000 > (SELECT sum(val_u) FROM pv)
      |ORDER BY value_dollars DESC, l_partkey""".stripMargin
  def qSqlQ11(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ11Text)

  /** Q16-style supplier-count histogram: distinct suppliers per (brand,
    * type, size) bucket, excluding a NOT-IN supplier set — the
    * count(DISTINCT) + anti-set shape. */
  private val sqlQ16Text =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#11' AND p_type NOT LIKE 'STANDARD%'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size""".stripMargin
  def qSqlQ16(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ16Text)

  /** Q17-style small-quantity revenue: lines below 20% of their part's
    * average quantity. avg comparison multiplied through — qty·5·n <
    * Σqty in exact integers (qty < 0.2·avg ⟺ 5·qty·n < Σ). */
  private val sqlQ17Text =
    """WITH pa AS (
      |  SELECT l_partkey AS pk,
      |    sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS sq, count(*) AS n
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS DOUBLE)
      |  / 100.0 AS total_small_rev
      |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pa ON pk = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND CAST(round(l_quantity * 100) AS DECIMAL(18,0)) * 5 * n < sq""".stripMargin
  def qSqlQ17(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ17Text)

  /** Q20-style volume suppliers: shipped >30% of a watched part's 1996
    * volume (threshold multiplied through: 10·sq > 3·tq). Nested CTE
    * reuse — the per-part total is the re-aggregated pair CTE. */
  private val sqlQ20Text =
    """WITH sp AS (
      |  SELECT l_suppkey AS sk, l_partkey AS pk,
      |    sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS sq
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      |  GROUP BY l_suppkey, l_partkey),
      |pt AS (SELECT pk, sum(sq) AS tq FROM sp GROUP BY pk)
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (
      |  SELECT sk FROM sp JOIN pt USING (pk) JOIN part ON p_partkey = pk
      |  WHERE p_name LIKE 'red%' AND sq * 10 > tq * 3)
      |ORDER BY s_suppkey""".stripMargin
  def qSqlQ20(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ20Text)

  /** Q21-style waiting-supplier count: the only-late supplier on
    * multi-supplier finished orders (late = shipped more than a year
    * after order). Double-correlated EXISTS / NOT EXISTS — Catalyst
    * plans a semi then an anti join against the same fact. */
  private val sqlQ21Text =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 365 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin
  def qSqlQ21(s: SparkSession, dir: String): DataFrame = sql(s, dir, sqlQ21Text)

  // ---- null-semantics, conditional-aggregate and reshape coverage:
  // the data is null-free by construction, so null keys are minted
  // deterministically with nullif — the join/agg semantics under NULL
  // are what's under test, not the data.

  /** Null-safe equi-join (`IS NOT DISTINCT FROM`, Spark's `<=>`): the
    * NULL key must hash-match NULL on the other side — one hash join,
    * NULL a first-class key value, no row explosion. */
  private val sqlJNullsafeText =
    """WITH seg AS (SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg_key
      |             FROM customer),
      |c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS ck FROM customer)
      |SELECT seg_key, count(*) AS n
      |FROM c JOIN seg ON ck IS NOT DISTINCT FROM seg_key
      |GROUP BY seg_key""".stripMargin
  def qJNullsafe(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlJNullsafeText)

  /** Conditional-aggregate battery: FILTER clauses, count_if, bool_and/
    * bool_or, bit_and/bit_or/bit_xor — one pass, all map-side
    * combinable. count_if is cast to BIGINT (DuckDB returns DOUBLE). */
  private val sqlAggFilterText =
    """SELECT l_returnflag,
      |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  CAST(count_if(l_discount = 0) AS BIGINT) AS n_nodisc,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)))
      |    FILTER (WHERE l_tax > 0.05) AS DOUBLE) / 100.0 AS taxed_rev,
      |  bool_and(l_quantity > 0) AS all_pos,
      |  bool_or(l_tax > 0.07) AS any_hightax,
      |  bit_and(l_suppkey) AS band, bit_or(l_suppkey) AS bor,
      |  bit_xor(l_suppkey) AS bxor
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
  def qAggFilter(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlAggFilterText)

  /** Statistical aggregates from exact sufficient statistics: n, Σx,
    * Σx², Σxy summed on the integer lattice (associative, order-
    * independent), then mean/variance/stddev/corr as a FIXED double
    * expression tree over those exact integers — every IEEE op
    * (±,×,÷,√) is correctly rounded, so both engines produce bit-
    * identical doubles regardless of row order. This is also the
    * 100 TB shape: one map-side-combinable pass, constant state per
    * group; a spec asserts Spark's native stddev_samp/corr agree to
    * 1e-9 relative. */
  private val sqlAggStatsText =
    """WITH s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))
      |           * CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
      |           * CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS DOUBLE) AS syy,
      |    CAST(sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))
      |           * CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  sx / CAST(n AS DOUBLE) / 100.0 AS mean_qty,
      |  (sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) / 10000.0 AS var_qty,
      |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) / 100.0 AS stddev_qty,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy)
      |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
      |       * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price
      |FROM s""".stripMargin
  def qAggStats(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlAggStatsText)

  /** UNPIVOT (wide→long reshape): four measure columns melt to
    * (measure, val) rows — the Expand-based plan, one scan, no join.
    * Same UNPIVOT clause parses in both engines. */
  private val sqlUnpivotText =
    """SELECT l_orderkey, l_linenumber, measure, val
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |             l_discount, l_tax
      |      FROM lineitem WHERE l_orderkey < 500)
      |UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))""".stripMargin
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlUnpivotText)

  /** posexplode: ordinal-indexed flatten of a split column (Generate
    * with position — zero shuffle). Oracle: p_name is always exactly
    * two words (asserted by the row count), so the DuckDB twin is the
    * bounded per-position UNION ALL. */
  def qPosexplode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
  private val posexplodeOracle =
    """SELECT p_partkey, 0 AS pos, string_split(p_name, ' ')[1] AS word FROM part
      |UNION ALL
      |SELECT p_partkey, 1 AS pos, string_split(p_name, ' ')[2] AS word FROM part""".stripMargin

  /** listagg / string_agg: ordered string concatenation per group —
    * Spark 4's listagg WITHIN GROUP; the oracle is DuckDB's string_agg
    * (same semantics, different spelling — the one dialect fork in the
    * batch). Distinct (brand, type) pairs first so the order is total. */
  def qAggListagg(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT p_brand, listagg(p_type, '|') WITHIN GROUP (ORDER BY p_type) AS types
        |FROM (SELECT DISTINCT p_brand, p_type FROM part)
        |GROUP BY p_brand""".stripMargin)
  private val listaggOracle =
    """SELECT p_brand, string_agg(p_type, '|' ORDER BY p_type) AS types
      |FROM (SELECT DISTINCT p_brand, p_type FROM part)
      |GROUP BY p_brand""".stripMargin

  /** Recursive CTE (Spark 4 WITH RECURSIVE): a 12-month calendar
    * scaffold generated by recursion, LEFT JOINed to the fact so empty
    * months would still report — the standard gap-free time-series
    * shape. The recursion is 12 driver-side rows; the fact side stays
    * one distributed scan + aggregate. */
  private val sqlRecursiveText =
    s"""WITH RECURSIVE months(m) AS (
      |  SELECT TIMESTAMP '1996-01-01 00:00:00'
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH FROM months
      |  WHERE m < TIMESTAMP '1996-12-01 00:00:00')
      |SELECT substr(CAST(m AS STRING), 1, 7) AS month,
      |  count(o_orderkey) AS n_orders,
      |  ${centsSumSql("o_totalprice")} AS revenue
      |FROM months LEFT JOIN orders ON date_trunc('MONTH', o_orderdate) = m
      |GROUP BY 1""".stripMargin
  def qSqlRecursive(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlRecursiveText)

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT: top-2
    * orders per customer — the lateral spelling of the per-group top-k
    * (unique tiebreak ⇒ deterministic set). */
  private val sqlLateralText =
    """SELECT c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin
  def qSqlLateral(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlLateralText)

  /** Regexp scalar battery: group extraction, anchor match flag, and
    * match counting — always-matching patterns so the engines' no-match
    * conventions (Spark "" vs DuckDB NULL) never bite. */
  def qRegexpFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("noun"),
      when(col("p_name").rlike("^(red|blue|green)"), 1).otherwise(0)
        .cast("int").as("is_rgb"),
      size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)))
        .cast("long").as("n_vowels"))
  private val regexpFuncsOracle =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
      |  CAST(CASE WHEN regexp_matches(p_name, '^(red|blue|green)')
      |       THEN 1 ELSE 0 END AS INTEGER) AS is_rgb,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels
      |FROM part""".stripMargin

  /** Running distinct-user count per event type — the TWO-PHASE
    * spelling. A naive `size(collect_set() OVER partitionBy(type))` (or
    * even a running sum of first-occurrence marks partitioned by type)
    * funnels each type's ENTIRE history through one window task: with a
    * 5-value type key, ~20 % of the corpus lands on a single task — a
    * scale-killer at 100 TB. Here no task ever holds more than one
    * (type, day) slice:
    *  1. first-occurrence marks via a window partitioned by
    *     (event_type, user_id) — |types|·|users| partitions, fine-grained;
    *  2. partial mark-sums per (event_type, day-bucket) — map-side
    *     combined groupBy;
    *  3. exclusive prefix offsets over the tiny (type, bucket) table —
    *     |types|·|days| rows, negligible;
    *  4. offsets broadcast back; each row adds its IN-BUCKET running
    *     mark-sum (window partitioned by (type, bucket) — parallelism =
    *     types × days, task size = one day of one type).
    * The oracle keeps the single-window first-occurrence formulation —
    * mathematically identical, and DuckDB-side n is small. */
  def qWDistinctRunning(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("ts"), col("user_id"))
    val wFirst = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val marked = ev
      .withColumn("first_seen",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("bucket", date_trunc("day", col("ts")))
    val perBucket = marked.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("first_seen")).as("bucket_marks"))
    val wPrefix = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("off",
        coalesce(sum(col("bucket_marks")).over(wPrefix), lit(0L)))
      .select(col("event_type"), col("bucket"), col("off"))
    val wInBucket = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked.join(broadcast(offsets), Seq("event_type", "bucket"))
      .withColumn("distinct_users",
        (col("off") + sum(col("first_seen")).over(wInBucket)).cast("long"))
      .select(col("event_type"), col("event_id"), col("distinct_users"))
  }
  private val wDistinctRunningOracle =
    """WITH f AS (
      |  SELECT event_type, user_id, ts, event_id,
      |    CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
      |                                 ORDER BY ts, event_id) = 1
      |         THEN 1 ELSE 0 END AS first_seen
      |  FROM events)
      |SELECT event_type, event_id,
      |  CAST(sum(first_seen) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_users
      |FROM f""".stripMargin

  /** Exact multi-quantile battery: p25/p50/p75/p99 per group by order
    * statistics — rank the group once (total order via the event_id
    * tiebreak), pick positions ⌊(n−1)·q⌋, no interpolation ⇒ results
    * are corpus values, cross-engine exact. One per-group sort; the
    * 100 TB path for high-cardinality groups is the approx-quantile
    * sketch (`Sketches.quantileProfile`, spec'd against this form). */
  private val sqlQuantilesText =
    """WITH r AS (
      |  SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  min(CASE WHEN rn - 1 = CAST(floor((n - 1) * 0.25) AS BIGINT) THEN value END) AS p25,
      |  min(CASE WHEN rn - 1 = CAST(floor((n - 1) * 0.50) AS BIGINT) THEN value END) AS p50,
      |  min(CASE WHEN rn - 1 = CAST(floor((n - 1) * 0.75) AS BIGINT) THEN value END) AS p75,
      |  min(CASE WHEN rn - 1 = CAST(floor((n - 1) * 0.99) AS BIGINT) THEN value END) AS p99
      |FROM r GROUP BY event_type""".stripMargin
  def qA6Quantiles(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlQuantilesText)

  /** Ordered-sequence conversion funnel: first view → first click
    * within a day → first purchase within a day of that click. Each
    * stage is a per-user MIN under a time-bounded non-equi join against
    * the previous stage's anchor — three aggregate passes co-partitioned
    * on user_id (one shuffle key throughout; the stage anchors are tiny
    * relative to the fact and broadcast under AQE). The pattern-match
    * alternative (MATCH_RECOGNIZE) doesn't exist in either engine; this
    * is the scalable spelling. */
  private val sqlFunnelStepsText =
    """WITH v AS (SELECT user_id, min(ts) AS vt FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS ct
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |        AND e.ts > v.vt AND e.ts <= v.vt + INTERVAL 1 DAY
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS pt
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |        AND e.ts > c.ct AND e.ts <= c.ct + INTERVAL 1 DAY
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_viewed,
      |       (SELECT count(*) FROM c) AS n_clicked_1d,
      |       (SELECT count(*) FROM p) AS n_purchased_1d""".stripMargin
  def qFunnelSteps(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, sqlFunnelStepsText)

  /** Cohort retention matrix: users bucketed by first-seen day, counted
    * once per (cohort, day-offset) they return on — the standard "did
    * day-N users come back?" triangle. Scale shape: the (user_id, day)
    * projection is localCheckpointed ONCE (two int-sized columns — far
    * cheaper than scanning the wide fact twice), so the first-seen agg
    * and the fact side both read the same materialized blocks instead of
    * issuing two parquet scans (VERDICT r7 #4); the first-seen agg is
    * map-side combined on user_id; the fact re-joins the |users|-row
    * cohort dim on the SAME key (AQE broadcasts it at small SF, and at
    * fact scale the join co-partitions with the agg's exchange); the
    * distinct on (cohort, offset, user) is the one wide shuffle and the
    * final count combines map-side. No window, no global funnel. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .localCheckpoint()
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort"))
    ev.join(cohorts, "user_id")
      .select(col("cohort"), datediff(col("d"), col("cohort")).as("offset_days"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort"), col("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days").cast("long").as("offset_days"), col("n_users"))
  }

  private val cohortRetentionOracle =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT f.cohort,
      |        datediff('day', f.cohort, CAST(e.ts AS DATE)) AS offset_days,
      |        e.user_id
      |      FROM events e JOIN f USING (user_id))
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |  CAST(offset_days AS BIGINT) AS offset_days,
      |  count(*) AS n_users
      |FROM a GROUP BY 1, 2""".stripMargin

  /** Forward-fill (gap-fill) window: carry the last non-null value
    * down a per-user timeline — the time-series imputation operator.
    * Nulls are minted deterministically (error events have no value);
    * the frame is running (UNBOUNDED PRECEDING..CURRENT ROW) so the
    * fill never looks ahead. Spark spells IGNORE NULLS outside the
    * call, DuckDB inside — hence the dialect fork. */
  def qWFillForward(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") =!= "error", col("value")).as("v"))
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_sec"),
        col("v"), col("v_filled"))
  }
  private val fillForwardOracle =
    """SELECT user_id, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_sec,
      |  CASE WHEN event_type <> 'error' THEN value END AS v,
      |  last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM events""".stripMargin

  /** Error-tolerant scalar surface: TRY_CAST on malformed and clean
    * strings, try_divide against a zero denominator. The oracle twin
    * uses plain division (DuckDB yields NULL on a NULL denominator;
    * nullif mints it), so both sides agree without ANSI faults. */
  private val tryFuncsSparkText =
    """SELECT p_partkey,
      |  TRY_CAST(p_type AS BIGINT) AS bad_cast,
      |  TRY_CAST(CAST(p_size AS STRING) AS BIGINT) AS good_cast,
      |  try_divide(p_retailprice, CAST(p_size - 1 AS DOUBLE)) AS per_size
      |FROM part""".stripMargin
  def qTryFuncs(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, tryFuncsSparkText)
  private val tryFuncsOracle =
    """SELECT p_partkey,
      |  TRY_CAST(p_type AS BIGINT) AS bad_cast,
      |  TRY_CAST(CAST(p_size AS STRING) AS BIGINT) AS good_cast,
      |  p_retailprice / nullif(CAST(p_size - 1 AS DOUBLE), 0.0) AS per_size
      |FROM part""".stripMargin

  /** JSON extraction over the events.props payload: both Spark APIs in
    * one query — path extraction (get_json_object) and schema-projected
    * parse (from_json) — reduced per event type. Extracted k is an
    * integer, so every aggregate is exact. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val parsed = ev.select(col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k_path"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
        .getField("k").as("k_struct"))
    parsed
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k_path")).as("sum_k"),
        min(col("k_struct")).as("min_k"),
        max(col("k_struct")).as("max_k"),
        count_if(col("k_path") =!= col("k_struct")).as("n_mismatch"))
  }
  private val jsonExtractOracle =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  CAST(count_if(FALSE) AS BIGINT) AS n_mismatch
      |FROM events GROUP BY event_type""".stripMargin

  /** As-of join: each click event looks up the user's latest purchase at
    * or before it (graft.ops.AsofJoin — one shuffle+sort merge plan). */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    graft.ops.AsofJoin.asofLeft(clicks, purchases, Seq("user_id"), "ts", Seq("purchase_id"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_sec"),
        col("purchase_id"))
  }

  /** Interval-containment join: each event located in its user's session
    * (graft.ops.RangeJoin — binned equi-join, no nested-loop product). */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sessions = graft.streaming.EventStreams.sessionizeBatch(ev)
      .select(col("user_id"), col("session_start"), col("session_end"))
    graft.ops.RangeJoin.pointInInterval(
      ev.select(col("user_id"), col("event_id"), col("ts")), sessions,
      Seq("user_id"), "ts", "session_start", "session_end", binMs = 30 * 60 * 1000L)
      .select(col("user_id"), col("event_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  /** Rollup aggregate (beyond reference parity: multi-level aggregation
    * in one pass via the Expand operator — the GROUPING SETS surface). */
  def qAggRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(centsSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))

  /** Array aggregation + higher-order surface: per-order sorted quantity
    * list (collect_list under a deterministic order), its size, and a
    * higher-order transform — serialized to a string so both engines
    * render identically. */
  def qArrayAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("q"))).as("qs"))
      .select(col("l_orderkey"),
        array_join(col("qs"), ",").as("quantities"),
        size(col("qs")).cast("long").as("n_items"),
        array_join(transform(col("qs"), q => q * 2), ",").as("doubled"))

  /** String-function surface in one projection (upper/lower, trim, pad,
    * replace, regexp_replace, split-part, length, reverse). */
  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_type")).as("type_upper"),
      lower(col("p_brand")).as("brand_lower"),
      trim(col("p_name")).as("name_trim"),
      lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowel"),
      element_at(split(col("p_type"), " "), 1).as("type_first"),
      length(col("p_name")).cast("long").as("name_len"),
      reverse(col("p_brand")).as("brand_rev"))

  /** Native session_window sessions (built-in gap sessionization; the
    * custom-state and gaps-and-islands forms live in graft.streaming). */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionWindowAgg(t(s, dir, "events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Cube aggregate: all four grouping combinations in one Expand pass. */
  def qAggCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), centsSum(col("o_totalprice")).as("sum_price"))

  /** Pivot: per-user event counts spread across event-type columns (the
    * Expand+Aggregate plan; values enumerated so the plan is static). */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Gap-based sessionization (gaps-and-islands; batch twin of the
    * flatMapGroupsWithState streaming operator in graft.streaming). */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionizeBatch(t(s, dir, "events"))
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))

  /** W3: event-time RANGE-frame window — per-user moving 1-hour sum and
    * count. The frame is value-based over integer microseconds, so tied
    * timestamps are peers in both engines and the result is independent
    * of tie order. Partitioned window — no global funnel.
    * round(sum(double),2) is SAFE (same argument as [[qW2Running]]):
    * true frame sums sit on the 2-decimal lattice, ≤ ~10³ on-lattice
    * addends per frame keep float error ≪ the 0.005 midpoint distance
    * even under DuckDB's segment-tree summation order. */
  def qW3MovingRange(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tus"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-3600000000L, 0L)
    e.select(col("user_id"), col("event_id"),
      round(sum(col("value")).over(w), 2).as("sum_1h"),
      count(lit(1)).over(w).cast("long").as("n_1h"))
  }

  /** W4: lag + ntile — the inter-event-delta and quantile-bucket half of
    * the window surface (W1–W3 cover ranking, running and range frames).
    * Deltas between consecutive user events in whole seconds (exact
    * integer subtraction of epoch micros, floor-div to seconds); ntile(4)
    * is deterministic because the window's order (ts, event_id) is total.
    * One shuffle on user_id, window strictly per-user. */
  def qW4LagNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .select(col("user_id"), col("event_id"),
        // floor-div, not a double cast: Spark's double→long cast
        // truncates where DuckDB's rounds — pmod keeps both integral
        ((col("tus") - lag(col("tus"), 1).over(w) -
          pmod(col("tus") - lag(col("tus"), 1).over(w), lit(1000000L))) /
          lit(1000000L)).cast("long").as("gap_sec"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  /** F-date battery: trunc/extract/diff over event time — the calendar
    * half of the scalar-function surface (q_f_scalars covers strings/
    * hash/conditionals). Day-of-week aligned to Spark's 1=Sunday
    * convention (DuckDB counts from 0); everything else agrees natively.
    * Pure projection, zero shuffle. */
  def qFDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"),
      date_format(date_trunc("month", col("ts")), "yyyy-MM-dd").as("month_start"),
      quarter(col("ts")).cast("long").as("qtr"),
      year(col("ts")).cast("long").as("yr"),
      dayofweek(col("ts")).cast("long").as("dow1"),
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
        .cast("long").as("days_since"))

  /** W5: first/last_value over the full partition frame — each event
    * labeled with its user's first and latest event id (the "session
    * anchor" projection). Frame pinned to the WHOLE partition explicitly:
    * last_value's default frame stops at CURRENT ROW, a classic
    * silent-wrong-answer default in both engines. */
  def qW5FirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .select(col("user_id"), col("event_id"),
        first(col("event_id")).over(w).as("first_event"),
        last(col("event_id")).over(w).as("last_event"))
  }

  /** A4: exact per-group median by order statistics — the value at
    * position (n+1)/2 of the (value, id)-ordered group. No interpolation
    * arithmetic (interpolated quantiles aren't identically rounded across
    * engines); the id tiebreak pins the position, and equal values around
    * the median make the answer tie-order independent. One partitioned
    * window — no global funnel. */
  def qA4Median(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wn = Window.partitionBy(col("event_type"))
    t(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("rn") === ((col("n") + 1) / 2).cast("long"))
      .select(col("event_type"), col("value").as("median_value"))
  }

  /** A5: fixed-width histogram of a numeric column — the data-QA
    * distribution scan. Bucket = floor(value/width): integer-exact in
    * both engines (value ≥ 0 in this data; floor keeps negatives sane
    * too). One partial+final aggregate, no sort. */
  def qA5Histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Stream-stream interval join, batch twin (clicks ⋈ purchases within
    * 30 min per user; the streaming form is EventStreams.attributionJoin,
    * cross-checked in StreamingSpec). */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.streaming.EventStreams.attributionJoinBatch(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
  }

  // ------------------------------------------------------------------ maps
  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_s3_users", qS3Users,
      """SELECT CAST(c_custkey AS VARCHAR) AS uid,
        |  c_name AS full_name,
        |  CASE WHEN c_custkey % 7 <> 0
        |    THEN lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g')) || '@example.com'
        |    ELSE CAST(NULL AS VARCHAR) END AS email,
        |  '555-' || CAST(c_custkey AS VARCHAR) AS "phoneNumber",
        |  c_mktsegment AS "account_Type",
        |  CAST(c_nationkey AS VARCHAR) AS zipcd,
        |  CAST(NULL AS VARCHAR) AS addr_line,
        |  CAST(NULL AS VARCHAR) AS "d_Period",
        |  CAST(NULL AS VARCHAR) AS dob,
        |  CAST(NULL AS VARCHAR) AS gender,
        |  CAST(NULL AS VARCHAR) AS password,
        |  CAST(NULL AS VARCHAR) AS "profile_URL"
        |FROM customer""".stripMargin),
    QuerySpec("q_s4_scan", qS4Scan, "SELECT p_partkey, p_name FROM part"),
    QuerySpec("q_jdbc_roundtrip", qJdbcRoundtrip,
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 3"),
    QuerySpec("q_csv_roundtrip", qSCsvRoundtrip,
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),
    QuerySpec("q_orc_roundtrip", qSOrcRoundtrip,
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS acctbal
        |FROM supplier WHERE s_acctbal > 0.0""".stripMargin),
    QuerySpec("q_s6_stage_copy", qS6StageCopy,
      """SELECT event_id, user_id, CAST(42 AS BIGINT) AS load_key
        |FROM events WHERE event_type = 'click'""".stripMargin),
    QuerySpec("q_p1_threshold", qP1Threshold,
      """SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_sec, event_type
        |FROM events WHERE ts >= TIMESTAMP '2024-01-04 00:00:00'""".stripMargin),
    QuerySpec("q_p2_equality", qP2Equality,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'""".stripMargin),
    QuerySpec("q_p3_like", qP3Like,
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE 'M%' AND p_name NOT LIKE 'small%'""".stripMargin),
    QuerySpec("q_p4_not_in", qP4NotIn,
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_returnflag NOT IN ('A','R') AND l_linenumber <= 2""".stripMargin),
    QuerySpec("q_p5_in_max", qP5InMax,
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id IN (SELECT MAX(event_id) FROM events)""".stripMargin),
    QuerySpec("q_p7_null_case", qP7NullCase,
      """SELECT o_orderkey,
        |  CASE WHEN nullif(o_orderstatus,'O') IS NULL THEN 'open'
        |       WHEN o_totalprice > 200000.0 THEN 'big'
        |       ELSE 'other' END AS class
        |FROM orders""".stripMargin),
    QuerySpec("q_j1_full_outer", qJ1FullOuter,
      """WITH c AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer WHERE c_custkey % 3 = 0),
        |o AS (SELECT o_custkey AS k, count(*) AS n_orders FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1)
        |SELECT coalesce(c.k, o.k) AS k,
        |  CASE WHEN c.bal IS NULL THEN 'right_only'
        |       WHEN o.n_orders IS NULL THEN 'left_only'
        |       ELSE 'both' END AS side
        |FROM c FULL OUTER JOIN o ON c.k = o.k""".stripMargin),
    QuerySpec("q_j2_inner", qJ2Inner,
      """SELECT c_custkey, n_name, r_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin),
    QuerySpec("q_j3_cross_agg", qJ3CrossAgg,
      """SELECT o_orderkey, round(max_price - o_totalprice, 2) AS below_max
        |FROM orders CROSS JOIN
        |  (SELECT round(MAX(o_totalprice), 2) AS max_price FROM orders) mv""".stripMargin),
    QuerySpec("q_j4_src_temp", qJ4SrcTemp,
      """SELECT l_orderkey, l_linenumber, l_returnflag, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A','R') AND o_orderstatus = 'F'""".stripMargin),
    QuerySpec("q_j5_semi", qJ5Semi,
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)""".stripMargin),
    QuerySpec("q_j5_anti", qJ5Anti,
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin),
    QuerySpec("q_a2_max_scalar", qA2MaxScalar,
      """SELECT MAX(l_orderkey) AS max_key, MAX(l_partkey) AS max_part,
        |  count(*) AS cnt FROM lineitem""".stripMargin),
    QuerySpec("q1_agg", q1Agg,
      s"""SELECT l_returnflag, l_linestatus,
        |  ${centsSumSql("l_quantity")} AS sum_qty,
        |  ${centsSumSql("l_extendedprice")} AS sum_base_price,
        |  $revenueSumSql AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q_agg_join", qAggJoin,
      s"""SELECT n_name,
        |  $revenueSumSql AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    QuerySpec("q_agg_distinct", qAggDistinct,
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q_w1_row_number", qW1RowNumber,
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),
    QuerySpec("q_w2_running", qW2Running,
      """SELECT user_id, event_id,
        |  LAG(event_type, 1) OVER w AS prev_type,
        |  round(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin),
    QuerySpec("q_o3_topk", qO3TopK,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin),
    QuerySpec("q_set_union", qSetUnion,
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0.0""".stripMargin),
    QuerySpec("q_set_intersect", qSetIntersect,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin),
    QuerySpec("q_set_except", qSetExcept,
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin),
    QuerySpec("q_set_except_all", qSetExceptAll,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin),
    QuerySpec("q_set_intersect_all", qSetIntersectAll,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin),
    QuerySpec("q_agg_grouping_sets", qAggGroupingSets, sqlGroupingSetsText),
    QuerySpec("q_w6_rank_battery", qW6RankBattery, sqlW6Text),
    QuerySpec("q_f_scalars", qFScalars,
      """SELECT o_orderkey,
        |  sha256(coalesce(o_orderstatus,'') || coalesce(o_orderpriority,'')) AS row_hash,
        |  CASE WHEN o_orderstatus = 'O' THEN 'I'
        |       WHEN o_orderstatus = 'F' THEN 'U' ELSE 'NC' END AS upsert_cd,
        |  substr(o_orderpriority, 1, 1) AS prio_digit,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  coalesce(nullif(o_orderstatus,'P'), 'N/A') AS status_or_na,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year
        |FROM orders""".stripMargin),
    QuerySpec("q_st_window_agg", qStWindowAgg,
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n, ${centsSumSql("value")} AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    QuerySpec("q_sessionize", qSessionize,
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess_id FROM g)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(SUM(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sess_id""".stripMargin),
    QuerySpec("q_stream_join", qStreamJoin,
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id,
        |  epoch_us(purchase_ts) - epoch_us(click_ts) AS lag_us, value
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND epoch_us(purchase_ts) - epoch_us(click_ts) BETWEEN 0 AND 1800000000""".stripMargin),
    QuerySpec("q_w3_moving_range", qW3MovingRange,
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value FROM events)
        |SELECT user_id, event_id,
        |  round(SUM(value) OVER (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS sum_1h,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
        |FROM e""".stripMargin),
    QuerySpec("q_w4_lag_ntile", qW4LagNtile,
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events)
        |SELECT user_id, event_id,
        |  CAST((tus - lag(tus, 1) OVER w) // 1000000 AS BIGINT) AS gap_sec,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)""".stripMargin),
    QuerySpec("q_w5_first_last", qW5FirstLast,
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events)
        |SELECT user_id, event_id,
        |  first_value(event_id) OVER w AS first_event,
        |  last_value(event_id) OVER w AS last_event
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    QuerySpec("q_f_dates", qFDates,
      """SELECT event_id,
        |  strftime(date_trunc('month', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS month_start,
        |  CAST(quarter(CAST(ts AS TIMESTAMP)) AS BIGINT) AS qtr,
        |  CAST(year(CAST(ts AS TIMESTAMP)) AS BIGINT) AS yr,
        |  CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow1,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since
        |FROM events""".stripMargin),
    QuerySpec("q_sql_exists", qSqlExists,
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'C')""".stripMargin),
    QuerySpec("q_agg_mode", qAggMode,
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n, ROW_NUMBER() OVER (
        |  PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1""".stripMargin),
    QuerySpec("q_a4_median", qA4Median,
      """WITH r AS (SELECT event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM events)
        |SELECT event_type, value AS median_value FROM r WHERE rn = (n + 1) // 2""".stripMargin),
    QuerySpec("q_a5_histogram", qA5Histogram,
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("q_agg_rollup", qAggRollup,
      s"""SELECT l_returnflag, l_linestatus,
        |  ${centsSumSql("l_quantity")} AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q_asof_join", qAsofJoin,
      """WITH c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.user_id, c.event_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_sec, p.purchase_id
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),
    QuerySpec("q_range_join", qRangeJoin,
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess_id FROM g),
        |sess AS (SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT e.user_id, e.event_id,
        |  strftime(sess.session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(sess.session_end, '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM e JOIN sess ON e.user_id = sess.user_id
        |  AND e.ts >= sess.session_start AND e.ts <= sess.session_end""".stripMargin),
    QuerySpec("q_sql_q3", qSqlQ3,
      s"""SELECT o_orderkey,
        |  $revenueSumSql AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1997-03-15' AND l_shipdate > DATE '1997-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    QuerySpec("q_sql_q4", qSqlQ4,
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),
    QuerySpec("q_sql_q5", qSqlQ5,
      s"""SELECT n_name,
        |  $revenueSumSql AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name""".stripMargin),
    QuerySpec("q_sql_q6", qSqlQ6,
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
        |    * CAST(round(l_discount * 100) AS DECIMAL(18,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    QuerySpec("q_sql_q10", qSqlQ10,
      s"""SELECT c_custkey, c_name, n_name,
        |  $revenueSumSql AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    QuerySpec("q_sql_q12", qSqlQ12,
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= o_orderdate AND l_shipdate < DATE '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q_sql_q14", qSqlQ14,
      s"""WITH s AS (SELECT
        |    sum(CASE WHEN p_type = 'PROMO' THEN $revenueUnitsSql
        |        ELSE CAST(0 AS DECIMAL(18,0)) END) AS promo_u,
        |    sum($revenueUnitsSql) AS total_u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= DATE '1996-09-01'
        |    AND l_shipdate < DATE '1996-12-01')
        |SELECT CAST((CAST(promo_u AS HUGEINT) * 1000000)
        |    // CAST(total_u AS HUGEINT) AS DOUBLE) / 10000.0 AS promo_revenue_pct
        |FROM s""".stripMargin),
    // batch-2 SQL: ONE text serves both engines (lattice-exact aggregates)
    QuerySpec("q_sql_q7", qSqlQ7, sqlQ7Text),
    QuerySpec("q_sql_q13", qSqlQ13, sqlQ13Text),
    QuerySpec("q_sql_q15", qSqlQ15, sqlQ15Text),
    QuerySpec("q_sql_q18", qSqlQ18, sqlQ18Text),
    QuerySpec("q_sql_q19", qSqlQ19, sqlQ19Text),
    QuerySpec("q_sql_q22", qSqlQ22, sqlQ22Text),
    QuerySpec("q_sql_q2", qSqlQ2, sqlQ2Text),
    QuerySpec("q_sql_q8", qSqlQ8, sqlQ8Text),
    QuerySpec("q_sql_q9", qSqlQ9, sqlQ9Text),
    QuerySpec("q_sql_q11", qSqlQ11, sqlQ11Text,
      planOk = Map(Smell.UnlimitedSort ->
        "TPC-H presentation ORDER BY over the value-filtered group frame")),
    QuerySpec("q_sql_q16", qSqlQ16, sqlQ16Text),
    QuerySpec("q_sql_q17", qSqlQ17, sqlQ17Text),
    QuerySpec("q_sql_q20", qSqlQ20, sqlQ20Text,
      planOk = Map(Smell.UnlimitedSort ->
        "TPC-H presentation ORDER BY over the supplier-bounded result")),
    QuerySpec("q_sql_q21", qSqlQ21, sqlQ21Text,
      planOk = Map(Smell.UnlimitedSort ->
        "TPC-H presentation ORDER BY over the supplier-bounded result")),
    QuerySpec("q_j_nullsafe", qJNullsafe, sqlJNullsafeText),
    QuerySpec("q_agg_filter", qAggFilter, sqlAggFilterText),
    QuerySpec("q_agg_stats", qAggStats, sqlAggStatsText),
    QuerySpec("q_unpivot", qUnpivot, sqlUnpivotText),
    QuerySpec("q_posexplode", qPosexplode, posexplodeOracle),
    QuerySpec("q_agg_listagg", qAggListagg, listaggOracle),
    QuerySpec("q_json_extract", qJsonExtract, jsonExtractOracle),
    QuerySpec("q_sql_recursive", qSqlRecursive, sqlRecursiveText),
    QuerySpec("q_sql_lateral", qSqlLateral, sqlLateralText),
    QuerySpec("q_w_fill_forward", qWFillForward, fillForwardOracle),
    QuerySpec("q_try_funcs", qTryFuncs, tryFuncsOracle),
    QuerySpec("q_funnel_steps", qFunnelSteps, sqlFunnelStepsText),
    QuerySpec("q_cohort_retention", qCohortRetention, cohortRetentionOracle),
    QuerySpec("q_a6_quantiles", qA6Quantiles, sqlQuantilesText),
    QuerySpec("q_regexp_funcs", qRegexpFuncs, regexpFuncsOracle),
    QuerySpec("q_w_distinct_running", qWDistinctRunning, wDistinctRunningOracle),
    QuerySpec("q_sql_scalar_sub", qSqlScalarSub,
      """SELECT c_custkey, c_acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin),
    QuerySpec("q_agg_cube", qAggCube,
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  ${centsSumSql("o_totalprice")} AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
    QuerySpec("q_pivot", qPivot,
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin),
    QuerySpec("q_session_window", qSessionWindow,
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess_id FROM g)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(SUM(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sess_id""".stripMargin),
    QuerySpec("q_array_agg", qArrayAgg,
      """SELECT l_orderkey,
        |  array_to_string(list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT)), ',') AS quantities,
        |  count(*) AS n_items,
        |  array_to_string(list(CAST(l_quantity AS BIGINT) * 2 ORDER BY CAST(l_quantity AS BIGINT)), ',') AS doubled
        |FROM lineitem GROUP BY l_orderkey""".stripMargin),
    QuerySpec("q_string_funcs", qStringFuncs,
      """SELECT p_partkey,
        |  upper(p_type) AS type_upper,
        |  lower(p_brand) AS brand_lower,
        |  trim(p_name) AS name_trim,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
        |  string_split(p_type, ' ')[1] AS type_first,
        |  length(p_name) AS name_len,
        |  reverse(p_brand) AS brand_rev
        |FROM part""".stripMargin))
}
