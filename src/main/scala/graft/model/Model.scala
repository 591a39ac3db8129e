package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** Case classes + schemas for the DHT pipeline data model (SURVEY §1.3,
  * FIXTURES.md §A). Column names are lowercase internally; the reference's
  * Oracle catalog upper-cases them (SURVEY §7.5 #4) — Spark's default
  * case-insensitive resolution makes either spelling work at the API edge.
  */

/** One sensor reading as landed (reference DHT11_DATA,
  * STG_Firebase2Oracle.py:77-78). Humidity/temperature stay strings —
  * the reference lands 'N/A' defaults into VARCHAR columns. */
case class SensorReading(
    timezone: String,
    humidity: String,
    temperature: String,
    timestamp: Timestamp,
    deviceid: String)

/** data_control_table row (CheckInterface_Metadata.py:73-79). */
case class ControlEntry(
    interface_name: String,
    interface_cd: String,
    load_status: String,
    load_start_dt_tm: Timestamp,
    load_complete_dt_tm: Timestamp,
    load_key: Long)

/** HIST_LOAD_CONTROL row (STG_to_INT.py:23-29). */
case class HistLoadControlEntry(
    load_key: Long,
    subject_area: String,
    status: String,
    start_date: Timestamp,
    end_date: Timestamp,
    inserted_datetime: Timestamp)

object Schemas {
  /** Nested Firebase tree: date -> time -> record
    * (STG_Firebase2Oracle.py:45-59). Leaf fields all optional strings. */
  val firebaseLeaf: StructType = StructType(Seq(
    StructField("TimeZone", StringType),
    StructField("Humidity", StringType),
    StructField("Temperature", StringType),
    StructField("Timestamp", StringType)))

  val firebaseTree: MapType =
    MapType(StringType, MapType(StringType, firebaseLeaf))

  val landing: StructType = StructType(Seq(
    StructField("timezone", StringType),
    StructField("humidity", StringType),
    StructField("temperature", StringType),
    StructField("timestamp", TimestampType),
    StructField("deviceid", StringType)))

  /** DHT11_DATA_INT = landing + load_key (STG_to_INT.py:17-19). */
  val intermediate: StructType =
    StructType(landing.fields :+ StructField("load_key", LongType))

  /** HIST_DHT11_DATA (FIXTURES.md A4; Delta_detection_query_gen.py:287-296).
    * delta_hash is stored for audit; comparison-time hashes are recomputed
    * from payload on both sides, as the reference does
    * (Delta_detection_query_gen.py:66,77). */
  val scd2Target: StructType = StructType(Seq(
    StructField("dht11_ak", LongType),
    StructField("dht11_key", LongType),
    StructField("deviceid", StringType),
    StructField("timestamp", TimestampType),
    StructField("timezone", StringType),
    StructField("humidity", StringType),
    StructField("temperature", StringType),
    StructField("delta_hash", StringType),
    StructField("da_updated_datetime", TimestampType),
    StructField("da_inserted_datetime", TimestampType),
    StructField("da_valid_to_date", TimestampType),
    StructField("da_valid_from_date", TimestampType),
    StructField("da_deleted_flag", StringType),
    StructField("da_current_flag", StringType)))

  /** On-disk layout of the SCD2 target: [[scd2Target]] plus the
    * natural-key hash bucket the table is hive-partitioned by
    * (`graft.scd2.Historizer.nkBucket`: deviceid and the UTC day of
    * timestamp, so one device-day is one bucket). Writes go through
    * dynamic partition overwrite, so a batch rewrites ONLY the buckets
    * its delta touches — one per device-day of a nightly run, the 100 TB
    * answer to MERGE without a transactional table format. */
  val scd2TargetStored: StructType =
    scd2Target.add(StructField("nk_bucket", IntegerType))

  /** Firestore users doc (get_user_data.py:20-23). */
  val users: StructType = StructType(Seq(
    "account_Type", "addr_line", "d_Period", "dob", "email", "full_name",
    "gender", "password", "phoneNumber", "profile_URL", "uid", "zipcd")
    .map(StructField(_, StringType)))

  /** Open-validity sentinel (Delta_detection_query_gen.py:291). */
  val openEndedValidTo: Timestamp = Timestamp.valueOf("3000-01-01 00:00:00")
  /** Epoch default when Timestamp is missing during threshold filtering
    * (STG_Firebase2Oracle.py:57). */
  val epoch: Timestamp = Timestamp.valueOf("1970-01-01 00:00:00")
}

/** Historization config, mirroring the reference's runtime conf
  * (Airflow-DAG.py:532-548, Delta_detection_query_gen.py:335-345). */
case class Scd2Config(
    naturalKeys: Seq[String] = Seq("deviceid", "timestamp"),
    colsToExcludeFromLoad: Seq[String] = Seq("load_key"),
    colsToExcludeFromDelta: Seq[String] = Seq("timezone"),
    loadKey: Long = 0L,
    /** Natural-key hash buckets the SCD2 target is partitioned into
      * (`Historizer.nkBucket`: timestamp keys hash by UTC day). A batch
      * rewrites only the buckets its delta touches: one per (other keys,
      * day) it changes, never more than this. Sized so one bucket ≈ one
      * executor-friendly rewrite unit; at 100 TB raise it (buckets scale
      * the rewrite granularity, not correctness). */
    targetBuckets: Int = 32)
