package graft.queries

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Scd2Config
import graft.scd2.Historizer

/** SCD2 engine exercised over the star-schema testdata so the driver's
  * DuckDB gate can verify it (SURVEY §2.1 S10-S12, §2.3 J1/J3, §2.8 F1-F8).
  *
  * A synthetic "staging batch" and "SCD2 target" are derived from `orders`
  * deterministically:
  *  - orderkey%10==0 → staging only            → classifies 'I'
  *  - orderkey%10==1 → both, totalprice bumped → 'U'
  *  - orderkey%10==2 → both, identical payload → 'NC'
  *  - orderkey%10∈{3,4} → target only          → 'NC' (null-hash fallthrough)
  */
object Scd2Queries {
  private val conf = Scd2Config(
    naturalKeys = Seq("nk"),
    colsToExcludeFromLoad = Seq("load_key"),
    colsToExcludeFromDelta = Seq.empty,
    loadKey = 1L)

  private val now = Timestamp.valueOf("2024-06-01 00:00:00")

  /** Staging slice: keys 0,1,2 mod 10; key%10==1 rows get a changed payload. */
  private def stg(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 10 < 3)
      .select(
        col("o_orderkey").as("nk"),
        when(col("o_orderkey") % 10 === 1, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("totalprice"),
        col("o_orderstatus").as("status"),
        lit(1L).as("load_key"))

  /** Current SCD2 target slice: keys 1..4 mod 10, surrogate ak/key derived
    * from the orderkey so high-water marks are deterministic. */
  private def tgt(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 10 >= 1 && col("o_orderkey") % 10 <= 4)
      .select(
        (col("o_orderkey") * 10).as("hist_ak"),
        (col("o_orderkey") * 100).as("hist_key"),
        col("o_orderkey").as("nk"),
        col("o_totalprice").as("totalprice"),
        col("o_orderstatus").as("status"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("da_updated_datetime"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("da_inserted_datetime"),
        lit(Timestamp.valueOf("3000-01-01 00:00:00")).as("da_valid_to_date"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("da_valid_from_date"),
        lit("N").as("da_deleted_flag"),
        lit("Y").as("da_current_flag"))

  /** Delta detection (J1 full-outer + classify + J3 cross-join max). */
  def qScd2Delta(s: SparkSession, dir: String): DataFrame =
    Historizer.deltaDetect(stg(s, dir), tgt(s, dir), conf)
      .select(col("nk"), col("upsert_cd"), col("hist_ak"), col("hist_key"),
        col("max_ak"), col("max_key"))

  /** Full SCD2 apply: close-out ∪ inserts (S11+S12), fixed clock.
    * da_* timestamps are emitted as formatted strings: the open-validity
    * sentinel (year 3000) overflows nanosecond timestamp readers on the
    * compare path; strings are representation-stable on both sides. */
  def qScd2Apply(s: SparkSession, dir: String): DataFrame = {
    val df = Historizer.applyScd2(stg(s, dir), tgt(s, dir), conf, now)
    val tsCols = Set("da_updated_datetime", "da_inserted_datetime",
      "da_valid_to_date", "da_valid_from_date")
    df.select(df.columns.map { c =>
      if (tsCols(c)) date_format(col(c), "yyyy-MM-dd HH:mm:ss").as(c) else col(c)
    }.toSeq: _*)
  }

  /** Point-in-time read of the historized registry (Historizer
    * .pointInTime): every fixture key probed at two instants straddling
    * the 2024-06-01 close-out boundary, so the result exercises the
    * version switch ('U' keys answer with the OLD version before, the
    * NEW after), not-yet-known keys ('I' keys are null before, present
    * after) and never-known keys (%10==5, null at both instants). */
  def qScd2Asof(s: SparkSession, dir: String): DataFrame = {
    val applied = Historizer.applyScd2(stg(s, dir), tgt(s, dir), conf, now)
    val probes = graft.Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 10 <= 5)
      .select(col("o_orderkey").as("nk"),
        explode(array(
          lit(Timestamp.valueOf("2024-03-01 00:00:00")),
          lit(Timestamp.valueOf("2024-07-01 00:00:00")))).as("as_of"))
    Historizer.pointInTime(applied, probes, conf, "as_of")
      .select(probes("nk"), probes("as_of"),
        applied("hist_key"), applied("totalprice"), applied("status"),
        date_format(applied("da_valid_from_date"), "yyyy-MM-dd HH:mm:ss")
          .as("valid_from"))
  }

  /** Fixture tree lives at a STABLE temp path so the DuckDB oracle can
    * `read_json` the very same bytes the pipeline ingested (the driver
    * runs Verify first, which writes this file, then the oracle SQL). */
  private val fixturePath =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft_e2e_tree.json")

  /** End-to-end DHT pipeline on an embedded fixture tree: exercises
    * ingest→stage→SCD2→control through the real Pipeline, twice (the
    * second run's records sit BEFORE the first run's watermark, so it
    * exercises the empty-delta Success branch, D2/ST6, and must leave
    * the target byte-identical). Oracle-checked since r7: the DuckDB
    * text below recomputes the same chain from the fixture JSON. */
  def qPipelineE2E(s: SparkSession, dir: String): DataFrame = {
    // atomic publish: concurrent Verify/Bench processes share the stable
    // path, and a reader (the DuckDB oracle) must never see a torn write
    val stage = Files.createTempFile(fixturePath.getParent, "graft_e2e_", ".tmp")
    Files.writeString(stage, fixtureTree)
    Files.move(stage, fixturePath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val tmp = Files.createTempDirectory("graft-e2e")
    val treePath = tmp.resolve("tree.json")
    Files.writeString(treePath, fixtureTree)
    val store = new graft.store.TableStore(s, tmp.resolve("store").toString)
    val pipe = new graft.pipeline.Pipeline(s, store)
    pipe.run(treePath.toString, "DEV01OMKARVARMA", now)
    // second run absorbs everything as NC — exercises the re-run path
    pipe.run(treePath.toString, "DEV01OMKARVARMA",
      Timestamp.valueOf("2024-06-02 00:00:00"))
    store.read(pipe.targetName)
      .select("dht11_ak", "dht11_key", "deviceid", "timestamp", "humidity",
        "temperature", "da_current_flag")
  }

  private val fixtureTree: String =
    """{"2024-03-01": {
      |  "09:00:00": {"TimeZone": "IST", "Humidity": "62.0", "Temperature": "29.4", "Timestamp": "2024-03-01 09:00:00"},
      |  "09:05:00": {"TimeZone": "IST", "Humidity": "63.1", "Temperature": "29.6", "Timestamp": "2024-03-01 09:05:00"},
      |  "09:10:00": {"TimeZone": "IST", "Humidity": "61.8", "Temperature": "29.2", "Timestamp": "2024-03-01 09:10:00"}
      |}}""".stripMargin

  /** DuckDB equivalents. The hash is only compared within-engine (hash
    * equality ⇔ payload equality), so double→string rendering differences
    * between engines don't affect the classification output. */
  private val stgSql =
    """SELECT o_orderkey AS nk,
      |  CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 1.0 ELSE o_totalprice END AS totalprice,
      |  o_orderstatus AS status, 1 AS load_key
      |FROM orders WHERE o_orderkey % 10 < 3""".stripMargin
  private val tgtSql =
    """SELECT o_orderkey * 10 AS hist_ak, o_orderkey * 100 AS hist_key,
      |  o_orderkey AS nk, o_totalprice AS totalprice, o_orderstatus AS status,
      |  TIMESTAMP '2024-01-01 00:00:00' AS da_updated_datetime,
      |  TIMESTAMP '2024-01-01 00:00:00' AS da_inserted_datetime,
      |  TIMESTAMP '3000-01-01 00:00:00' AS da_valid_to_date,
      |  TIMESTAMP '2024-01-01 00:00:00' AS da_valid_from_date,
      |  'N' AS da_deleted_flag, 'Y' AS da_current_flag
      |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4""".stripMargin
  private val hash = "sha256(coalesce(CAST(totalprice AS VARCHAR),'') || coalesce(CAST(status AS VARCHAR),''))"

  private val deltaSql =
    s"""WITH stg_h AS (SELECT nk, $hash AS delta_hash FROM ($stgSql)),
       |tgt_h AS (SELECT hist_key, hist_ak, nk, $hash AS delta_hash
       |          FROM ($tgtSql) WHERE da_current_flag = 'Y'),
       |tmp AS (
       |  SELECT tgt_h.hist_ak, tgt_h.hist_key,
       |         coalesce(stg_h.nk, tgt_h.nk) AS nk,
       |         CASE WHEN tgt_h.nk IS NULL THEN 'I'
       |              WHEN tgt_h.nk = stg_h.nk AND stg_h.delta_hash != tgt_h.delta_hash THEN 'U'
       |              ELSE 'NC' END AS upsert_cd
       |  FROM stg_h FULL OUTER JOIN tgt_h ON stg_h.nk = tgt_h.nk)
       |SELECT tmp.nk, tmp.upsert_cd, tmp.hist_ak, tmp.hist_key,
       |       CAST(coalesce(max_val.max_ak, 0) AS BIGINT) AS max_ak,
       |       CAST(coalesce(max_val.max_key, 0) AS BIGINT) AS max_key
       |FROM tmp CROSS JOIN
       |  (SELECT MAX(hist_ak) AS max_ak, MAX(hist_key) AS max_key FROM ($tgtSql)) max_val""".stripMargin

  /** The SCD2-apply CTE chain (through `unioned`, the new target
    * content) — shared by the apply oracle and the point-in-time oracle. */
  private val applyCtes =
    s"""stg_h AS (SELECT nk, $hash AS delta_hash FROM ($stgSql)),
       |tgt_h AS (SELECT hist_key, hist_ak, nk, $hash AS delta_hash
       |          FROM ($tgtSql) WHERE da_current_flag = 'Y'),
       |tmp AS (
       |  SELECT tgt_h.hist_ak, tgt_h.hist_key,
       |         coalesce(stg_h.nk, tgt_h.nk) AS nk,
       |         CASE WHEN tgt_h.nk IS NULL THEN 'I'
       |              WHEN tgt_h.nk = stg_h.nk AND stg_h.delta_hash != tgt_h.delta_hash THEN 'U'
       |              ELSE 'NC' END AS upsert_cd
       |  FROM stg_h FULL OUTER JOIN tgt_h ON stg_h.nk = tgt_h.nk),
       |maxv AS (SELECT coalesce(MAX(hist_ak),0) AS max_ak,
       |                coalesce(MAX(hist_key),0) AS max_key FROM ($tgtSql)),
       |closed AS (
       |  SELECT t.hist_ak, t.hist_key, t.nk, t.totalprice, t.status,
       |    CASE WHEN m.hist_key IS NOT NULL THEN TIMESTAMP '2024-06-01 00:00:00' ELSE t.da_updated_datetime END AS da_updated_datetime,
       |    t.da_inserted_datetime,
       |    CASE WHEN m.hist_key IS NOT NULL THEN TIMESTAMP '2024-06-01 00:00:00' ELSE t.da_valid_to_date END AS da_valid_to_date,
       |    t.da_valid_from_date,
       |    CASE WHEN m.hist_key IS NOT NULL AND m.upsert_cd = 'PD' THEN 'Y'
       |         WHEN m.hist_key IS NOT NULL THEN 'N' ELSE t.da_deleted_flag END AS da_deleted_flag,
       |    CASE WHEN m.hist_key IS NOT NULL THEN 'N' ELSE t.da_current_flag END AS da_current_flag
       |  FROM ($tgtSql) t
       |  LEFT JOIN (SELECT hist_key, upsert_cd FROM tmp WHERE upsert_cd IN ('U','PD')) m
       |    ON t.hist_key = m.hist_key),
       |ins AS (
       |  SELECT coalesce(e.hist_ak, maxv.max_ak + rn.rn) AS hist_ak,
       |         maxv.max_key + rn.rn AS hist_key,
       |         rn.nk, rn.totalprice, rn.status,
       |         TIMESTAMP '2024-06-01 00:00:00' AS da_updated_datetime,
       |         TIMESTAMP '2024-06-01 00:00:00' AS da_inserted_datetime,
       |         TIMESTAMP '3000-01-01 00:00:00' AS da_valid_to_date,
       |         TIMESTAMP '2024-06-01 00:00:00' AS da_valid_from_date,
       |         'N' AS da_deleted_flag, 'Y' AS da_current_flag
       |  FROM (SELECT s.*, ROW_NUMBER() OVER (ORDER BY s.nk) AS rn
       |        FROM ($stgSql) s
       |        JOIN tmp ON s.nk = tmp.nk AND tmp.upsert_cd IN ('I','U')
       |        WHERE s.load_key = 1) rn
       |  JOIN (SELECT nk, hist_ak FROM tmp WHERE upsert_cd IN ('I','U')) e ON rn.nk = e.nk
       |  CROSS JOIN maxv),
       |unioned AS (SELECT * FROM closed UNION ALL SELECT * FROM ins)""".stripMargin

  private val applySql =
    s"""WITH $applyCtes
       |SELECT hist_ak, hist_key, nk, totalprice, status,
       |  strftime(da_updated_datetime, '%Y-%m-%d %H:%M:%S') AS da_updated_datetime,
       |  strftime(da_inserted_datetime, '%Y-%m-%d %H:%M:%S') AS da_inserted_datetime,
       |  strftime(da_valid_to_date, '%Y-%m-%d %H:%M:%S') AS da_valid_to_date,
       |  strftime(da_valid_from_date, '%Y-%m-%d %H:%M:%S') AS da_valid_from_date,
       |  da_deleted_flag, da_current_flag
       |FROM unioned""".stripMargin

  /** Point-in-time oracle: the SAME registry content (applyCtes), range-
    * probed at two instants straddling the close-out boundary. */
  private val asofSql =
    s"""WITH $applyCtes,
       |probes AS (
       |  SELECT o_orderkey AS nk, t.as_of
       |  FROM orders,
       |    (VALUES (TIMESTAMP '2024-03-01 00:00:00'),
       |            (TIMESTAMP '2024-07-01 00:00:00')) t(as_of)
       |  WHERE o_orderkey % 10 <= 5)
       |SELECT p.nk, p.as_of, u.hist_key, u.totalprice, u.status,
       |  strftime(u.da_valid_from_date, '%Y-%m-%d %H:%M:%S') AS valid_from
       |FROM probes p LEFT JOIN unioned u
       |  ON u.nk = p.nk AND p.as_of >= u.da_valid_from_date
       |                 AND p.as_of < u.da_valid_to_date""".stripMargin

  /** The e2e pipeline as one DuckDB text over the SAME fixture file the
    * Spark run ingested (written to [[fixturePath]] by qPipelineE2E,
    * which the driver runs first). Chain replicated stage by stage:
    * tree flatten (two map unnests ≡ TreeIngest.flatten's explodes),
    * landing projection with the reference's N/A defaults + epoch
    * watermark threshold (run 1: prev run absent → threshold epoch, so
    * all rows pass), INT copy (deviceid filter + load_key), then SCD2
    * against an EMPTY target: every row classifies 'I', surrogates mint
    * from max(0) + row_number ordered by the natural keys
    * (deviceid, timestamp) — Historizer's deterministic default path.
    * Run 2's watermark is run 1's start (2024-06-01), which postdates
    * every fixture reading (2024-03-01), so its delta is empty and the
    * run takes the D2 skip branch: the target is untouched. The oracle
    * therefore models run 2 as the identity. */
  private def e2eSql =
    s"""WITH tree AS (
       |  SELECT root FROM read_json('${fixturePath.toString.replace("'", "''")}',
       |    format='unstructured', records='false',
       |    columns={root: 'MAP(VARCHAR, MAP(VARCHAR, STRUCT("TimeZone" VARCHAR, "Humidity" VARCHAR, "Temperature" VARCHAR, "Timestamp" VARCHAR)))'})),
       |flat AS (
       |  SELECT t.value AS rec
       |  FROM tree, unnest(map_entries(root)) AS de(d),
       |       unnest(map_entries(d.value)) AS te(t)),
       |landing AS (
       |  SELECT coalesce(rec."Humidity", 'N/A') AS humidity,
       |         coalesce(rec."Temperature", 'N/A') AS temperature,
       |         strptime(rec."Timestamp", '%Y-%m-%d %H:%M:%S') AS "timestamp",
       |         'DEV01OMKARVARMA' AS deviceid
       |  FROM flat
       |  WHERE coalesce(strptime(rec."Timestamp", '%Y-%m-%d %H:%M:%S'),
       |                 TIMESTAMP '1970-01-01 00:00:00') >= TIMESTAMP '1970-01-01 00:00:00'),
       |int_t AS (SELECT * FROM landing WHERE deviceid = 'DEV01OMKARVARMA'),
       |ins AS (
       |  SELECT CAST(row_number() OVER (ORDER BY deviceid, "timestamp") AS BIGINT) AS rn, *
       |  FROM int_t)
       |SELECT rn AS dht11_ak, rn AS dht11_key, deviceid, "timestamp",
       |       humidity, temperature, 'Y' AS da_current_flag
       |FROM ins""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_scd2_delta", qScd2Delta, deltaSql),
    QuerySpec("q_scd2_apply", qScd2Apply, applySql),
    QuerySpec("q_scd2_asof", qScd2Asof, asofSql),
    QuerySpec("q_pipeline_e2e", qPipelineE2E, e2eSql))
}
