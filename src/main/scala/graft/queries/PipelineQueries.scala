package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.TimeSeries
import graft.model.Scd2Config
import graft.scd2.Historizer

/** The reference pipeline shape chained END-TO-END as one oracle-checked
  * query (VERDICT r5 #8): device registry SCD2 (the reference's
  * historized DHT table, `Delta_detection_query_gen.py`) → current-slice
  * gate → hourly resample of the readings stream → z-score anomaly gate.
  * Every stage is an operator that already passes its own oracle
  * (`q_scd2_apply`, `q_ts_resample`, `q_ts_anomaly`); this query verifies
  * the COMPOSITION — flags flow from the historizer into the scan filter,
  * buckets into the stats join — against one DuckDB text.
  *
  * Scale shape: the SCD2 stages shuffle only the dimension (|devices|
  * rows); the current slice broadcasts into a semi join on the events
  * scan (no fact shuffle to apply the gate); resample is one
  * map-side-combined shuffle on (user, bucket); the anomaly stats table
  * is |users| rows broadcast back. Determinism: hourly sums on the
  * integer-cents lattice; z-scores are one shared-text IEEE formula over
  * exact decimal(38,0) sufficient statistics (n·Σc² − (Σc)² form — the
  * decimal accumulation cannot silently overflow the way an int64 Σc²
  * would once an hourly sum passes ~3·10⁹ cents).
  *
  * The synthetic device dimension derives deterministically from the
  * user universe (same discipline as Scd2Queries' orders-derived
  * stg/tgt): staging = user_id%10 ∈ {0,1,2,4,5} with a payload bump on
  * %10=5 (classifies 'U'), target = %10 ∈ [4,8] — so the current slice
  * exercises I, U, NC and tgt-only paths, and %10 ∈ {3,9} devices are
  * genuinely absent from the registry.
  */
object PipelineQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  private val conf = Scd2Config(
    naturalKeys = Seq("nk"),
    colsToExcludeFromLoad = Seq("load_key"),
    colsToExcludeFromDelta = Seq.empty,
    loadKey = 1L)

  private val now = Timestamp.valueOf("2024-06-01 00:00:00")

  /** User universe the synthetic device registry derives from. Callers
    * localCheckpoint the result ONCE per query invocation — stg and tgt
    * both consume it, and without the pin the events scan + distinct
    * would run twice (VERDICT r6 #7). */
  private def users(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id")).distinct()

  private val statusOf =
    when(col("user_id") % 3 === 0, "A").otherwise("B")

  /** Staging slice of the device registry: %10 < 3 (new devices, 'I'),
    * %10 ∈ {4,5} (known; 5 carries a changed payload → 'U', 4 → 'NC'). */
  private def stg(u: DataFrame): DataFrame =
    u
      .filter(col("user_id") % 10 < 3 || (col("user_id") % 10).isin(4, 5))
      .select(
        col("user_id").as("nk"),
        ((col("user_id") % 7).cast("double") +
          when(col("user_id") % 10 === 5, 1.0).otherwise(0.0)).as("totalprice"),
        statusOf.as("status"),
        lit(1L).as("load_key"))

  /** Current registry target: %10 ∈ [4,8], surrogates derived from the
    * device id so high-water marks are deterministic. */
  private def tgt(u: DataFrame): DataFrame =
    u
      .filter(col("user_id") % 10 >= 4 && col("user_id") % 10 <= 8)
      .select(
        (col("user_id") * 10).as("hist_ak"),
        (col("user_id") * 100).as("hist_key"),
        col("user_id").as("nk"),
        (col("user_id") % 7).cast("double").as("totalprice"),
        statusOf.as("status"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("da_updated_datetime"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("da_inserted_datetime"),
        lit(Timestamp.valueOf("3000-01-01 00:00:00")).as("da_valid_to_date"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("da_valid_from_date"),
        lit("N").as("da_deleted_flag"),
        lit("Y").as("da_current_flag"))

  /** Stages 1-3 of the pipeline: SCD2 registry → current-slice gate →
    * hourly resample of the gated readings. Exposed un-checkpointed so
    * PlanSpec can assert the scale shape of the REAL query plan (the
    * broadcast left-semi gate on the events scan, single fact shuffle) —
    * qPipelineAnalytics checkpoints the result before the stats join. */
  private[graft] def gatedResample(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // user universe pinned once — stg and tgt both derive from it
    val u = users(s, dir).localCheckpoint()
    // stage 1: the real SCD2 engine (same code path as q_scd2_apply)
    val applied = Historizer.applyScd2(stg(u), tgt(u), conf, now)
    // stage 2: current-slice gate — the CURRENT payload version decides
    // activity (for 'U' devices that is the updated value, so a
    // historizer that failed to close old rows would change the result)
    val active = applied
      .filter(col("da_current_flag") === "Y" && col("da_deleted_flag") === "N" &&
        col("status") === "B" && col("totalprice") >= 2.0)
      .select(col("nk").as("user_id"))
    // stage 3: hourly resample of the gated readings (one map-side-
    // combined shuffle)
    TimeSeries.resample(
      ev.join(broadcast(active), Seq("user_id"), "left_semi"),
      "user_id", "ts", "value", 3600)
  }

  def qPipelineAnalytics(s: SparkSession, dir: String): DataFrame = {
    // checkpointed — the grid feeds stats AND the z-score join
    val res = gatedResample(s, dir).localCheckpoint()
    // stage 4: per-device z-score gate on hourly totals. Sufficient
    // statistics accumulate as decimal(38,0) — EXACT for any real-world
    // volume (an hourly cents sum past ~3·10⁹ would overflow an int64
    // Σc², and non-ANSI overflow is a silent null). The combination
    // n·Σc² − (Σc)² is then one shared-text IEEE double formula over the
    // exact decimals — bit-identical in both engines; greatest(…, 0)
    // guards the sqrt against a −ulp from the double rounding.
    val sc = col("sum_cents").cast("long")
    val scd = col("sum_cents").cast("decimal(19,0)")
    val st = res.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_b"),
        sum(scd).as("scb"),
        sum(scd * scd).as("sccb"))
    val z = (sc - col("scb").cast("double") / col("n_b")) /
      nullif(sqrt(greatest(
        col("n_b").cast("double") * col("sccb").cast("double") -
          col("scb").cast("double") * col("scb").cast("double"),
        lit(0.0))) / col("n_b"), lit(0.0))
    res.join(st, Seq("user_id"))
      .select(col("user_id"), col("bucket"),
        (sc.cast("double") / 100.0).as("hour_v"), z.as("z"))
      .filter(abs(col("z")) > 3.0)
  }

  /** The whole chain as one DuckDB text: the SCD2 current-slice CTE
    * (classify via full-outer join, close-out 'U' old versions, insert
    * 'I'/'U' staging rows — payload equality replaces the engine's
    * delta hash, same verdict on null-free payloads) + the resample and
    * anomaly texts already proven by q_ts_resample / q_ts_anomaly. */
  private val pipelineAnalyticsOracle =
    """WITH users AS (SELECT DISTINCT user_id FROM events),
      |stg AS (
      |  SELECT user_id AS nk,
      |    CAST(user_id % 7 AS DOUBLE) +
      |      CASE WHEN user_id % 10 = 5 THEN 1.0 ELSE 0.0 END AS totalprice,
      |    CASE WHEN user_id % 3 = 0 THEN 'A' ELSE 'B' END AS status
      |  FROM users WHERE user_id % 10 < 3 OR user_id % 10 IN (4, 5)),
      |tgt AS (
      |  SELECT user_id AS nk, CAST(user_id % 7 AS DOUBLE) AS totalprice,
      |    CASE WHEN user_id % 3 = 0 THEN 'A' ELSE 'B' END AS status
      |  FROM users WHERE user_id % 10 BETWEEN 4 AND 8),
      |tmp AS (
      |  SELECT coalesce(s.nk, t.nk) AS nk,
      |    CASE WHEN t.nk IS NULL THEN 'I'
      |         WHEN s.nk IS NOT NULL AND NOT (s.totalprice = t.totalprice
      |                                        AND s.status = t.status) THEN 'U'
      |         ELSE 'NC' END AS upsert_cd
      |  FROM stg s FULL OUTER JOIN tgt t ON s.nk = t.nk),
      |cur AS (
      |  SELECT t.nk, t.totalprice, t.status FROM tgt t
      |  WHERE t.nk NOT IN (SELECT nk FROM tmp WHERE upsert_cd = 'U')
      |  UNION ALL
      |  SELECT s.nk, s.totalprice, s.status FROM stg s
      |  JOIN tmp ON s.nk = tmp.nk AND tmp.upsert_cd IN ('I', 'U')),
      |active AS (
      |  SELECT nk AS user_id FROM cur
      |  WHERE status = 'B' AND totalprice >= 2.0),
      |res AS (
      |  SELECT e.user_id,
      |    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
      |    sum(CAST(round(value * 100) AS DECIMAL(18,0))) AS sum_cents
      |  FROM events e JOIN active a ON e.user_id = a.user_id
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT user_id, count(*) AS n_b,
      |    sum(CAST(sum_cents AS DECIMAL(19,0))) AS scb,
      |    sum(CAST(sum_cents AS DECIMAL(19,0)) * CAST(sum_cents AS DECIMAL(19,0))) AS sccb
      |  FROM res GROUP BY 1),
      |z AS (
      |  SELECT res.user_id, bucket,
      |    CAST(CAST(sum_cents AS BIGINT) AS DOUBLE) / 100.0 AS hour_v,
      |    (CAST(sum_cents AS BIGINT) - CAST(scb AS DOUBLE) / n_b) /
      |      nullif(sqrt(greatest(
      |        CAST(n_b AS DOUBLE) * CAST(sccb AS DOUBLE) -
      |          CAST(scb AS DOUBLE) * CAST(scb AS DOUBLE), 0.0)) / n_b, 0.0) AS z
      |  FROM res JOIN st USING (user_id))
      |SELECT user_id, bucket, hour_v, z FROM z WHERE abs(z) > 3.0""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_pipeline_analytics", qPipelineAnalytics,
      pipelineAnalyticsOracle))
}
