package graft.control

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ControlEntry, HistLoadControlEntry}
import graft.store.TableStore

/** Control/audit-table state machine (SURVEY §2.9 ST1/ST4/ST5),
  * re-expressing `CheckInterface_Metadata.py` + the status updates in
  * `main.py` / `Airflow-DAG.py:370-402`.
  *
  * Status flow per run: APP SPECIFIC LOADING → APP SPECIFIC LOADING
  * COMPLETED → INTEGRATION LOAD COMPLETED → Success; the next run's gate
  * requires the previous status to be exactly "Success" (main.py:15-20).
  *
  * These tables are metadata — a handful of rows per interface. They stay
  * driver-friendly (collect-able) by design; the 100 TB data path never
  * flows through them (the reference shipped its data list through Airflow
  * XCom, SURVEY D4 — we deliberately do not reproduce that).
  */
class ControlTable(spark: SparkSession, store: TableStore) {
  import spark.implicits._

  val controlName = "data_control_table"
  val configName = "interface_config"
  val histLoadName = "hist_load_control"

  def control: DataFrame =
    store.readOrEmpty(controlName, implicitly[org.apache.spark.sql.Encoder[ControlEntry]].schema)

  /** Interface must exist in interface_config and have at least one
    * control entry (CheckInterface_Metadata.py:14-40): inner join on
    * (interface_cd, interface_name), latest load_key via IN-(MAX) —
    * Catalyst rewrites the scalar-subquery form to the same plan. */
  def checkInterfaceExistence(interfaceCd: String): Boolean = {
    if (!store.exists(configName) || !store.exists(controlName)) return false
    val cfg = store.read(configName)
    val latest = control
      .filter($"interface_cd" === interfaceCd)
      .join(cfg, Seq("interface_cd", "interface_name"))
      .agg(max($"load_key").as("load_key"))
    !latest.filter($"load_key".isNotNull).isEmpty
  }

  /** Previous run details: the row with MAX(load_key) for the interface
    * (CheckInterface_Metadata.py:43-65). Returns (status, start, key).
    * One job: MAX-as-top-1 (`ORDER BY load_key DESC LIMIT 1` — the plan
    * Catalyst also derives from the reference's IN-(SELECT MAX) form). */
  def prevRunDetails(interfaceCd: String): Option[(String, Timestamp, Long)] = {
    if (!store.exists(controlName)) return None
    control.filter($"interface_cd" === interfaceCd)
      .orderBy($"load_key".desc)
      .limit(1)
      .collect()
      .headOption
      .map(r => (r.getAs[String]("load_status"),
        r.getAs[Timestamp]("load_start_dt_tm"), r.getAs[Long]("load_key")))
  }

  /** Gate: previous run must have finished Successfully (main.py:15-20). */
  def gatePrevRunSuccess(interfaceCd: String): Boolean =
    prevRunDetails(interfaceCd).forall(_._1 == "Success")

  /** New run entry with incremented load key
    * (CheckInterface_Metadata.py:68-100, Airflow-DAG.py:123-160). */
  def addCurrentRunEntry(interfaceName: String, interfaceCd: String,
      loadKey: Long, now: Timestamp,
      status: String = "APP SPECIFIC LOADING"): Unit =
    store.append(controlName, Seq(
      ControlEntry(interfaceName, interfaceCd, status, now, null, loadKey)).toDF())

  /** Status transition for the current (max-load_key) entry
    * (Airflow-DAG.py:370-402). Completing stamps load_complete_dt_tm. */
  def updateStatus(interfaceCd: String, loadKey: Long, status: String,
      now: Timestamp): Unit = {
    val updated = control.select(
      $"interface_name", $"interface_cd",
      when($"interface_cd" === interfaceCd && $"load_key" === loadKey, status)
        .otherwise($"load_status").as("load_status"),
      $"load_start_dt_tm",
      when($"interface_cd" === interfaceCd && $"load_key" === loadKey &&
        lit(status == "Success"), lit(now))
        .otherwise($"load_complete_dt_tm").as("load_complete_dt_tm"),
      $"load_key")
    // one output file: the table is rewritten on every stamp, and one
    // input split per appended file would otherwise grow its file count
    // (and the stamp's task count) by one per run
    store.overwrite(controlName, updated.coalesce(1))
  }

  /** HIST_LOAD_CONTROL entry (STG_to_INT.py:23-34). */
  def addHistLoadEntry(loadKey: Long, subjectArea: String, status: String,
      start: Timestamp, end: Timestamp, now: Timestamp): Unit =
    store.append(histLoadName, Seq(
      HistLoadControlEntry(loadKey, subjectArea, status, start, end, now)).toDF())

  /** Mark hist-load rows processed (Airflow-DAG.py:389-402). */
  def markHistLoadProcessed(loadKey: Long, subjectArea: String): Unit = {
    // schema-pinned: no schema-inference job on every run
    val df = store.readOrEmpty(histLoadName, Encoders.product[HistLoadControlEntry].schema)
    // one output file, as in updateStatus
    store.overwrite(histLoadName, df.coalesce(1).select(
      $"load_key", $"subject_area",
      when($"load_key" === loadKey && $"subject_area" === subjectArea, "processed")
        .otherwise($"status").as("status"),
      $"start_date", $"end_date", $"inserted_datetime"))
  }
}
