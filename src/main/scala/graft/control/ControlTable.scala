package graft.control

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}

import graft.model.{ControlEntry, HistLoadControlEntry}
import graft.store.TableStore

/** Control/audit-table state machine (SURVEY §2.9 ST1/ST4/ST5),
  * re-expressing `CheckInterface_Metadata.py` + the status updates in
  * `main.py` / `Airflow-DAG.py:370-402`.
  *
  * Status flow per run: APP SPECIFIC LOADING → APP SPECIFIC LOADING
  * COMPLETED → INTEGRATION LOAD COMPLETED → Success; the next run's gate
  * requires the previous status to be exactly "Success" (main.py:15-20).
  * Every write is idempotent per run: an entry is keyed by its load key
  * (with the interface, or the subject area), and adding it again replaces
  * it, so a failed attempt is retried by replaying its key.
  *
  * These tables are metadata — a handful of rows per interface — so every
  * write is a read-modify-write on the driver: the rows are read through
  * Spark (one job) and the table is rewritten as one parquet file by the
  * driver (no job). The 100 TB data path never flows through them (the
  * reference shipped its data list through Airflow XCom, SURVEY D4 — we
  * deliberately do not reproduce that).
  */
class ControlTable(spark: SparkSession, store: TableStore) {
  import spark.implicits._

  val controlName = "data_control_table"
  val histLoadName = "hist_load_control"

  def control: DataFrame =
    store.readOrEmpty(controlName, implicitly[Encoder[ControlEntry]].schema)

  /** Previous run details: the row with MAX(load_key) for the interface
    * (CheckInterface_Metadata.py:43-65). Returns (status, start, key). */
  def prevRunDetails(interfaceCd: String): Option[(String, Timestamp, Long)] =
    store.rows[ControlEntry](controlName).filter(_.interface_cd == interfaceCd)
      .maxByOption(_.load_key)
      .map(e => (e.load_status, e.load_start_dt_tm, e.load_key))

  /** New run entry with incremented load key
    * (CheckInterface_Metadata.py:68-100, Airflow-DAG.py:123-160). It
    * replaces an entry of the same (interface, load key): a replayed
    * attempt restarts its own entry. */
  def addCurrentRunEntry(interfaceName: String, interfaceCd: String,
      loadKey: Long, now: Timestamp,
      status: String = "APP SPECIFIC LOADING"): Unit =
    rewrite[ControlEntry](controlName)(
      _.filterNot(e => e.interface_cd == interfaceCd && e.load_key == loadKey) :+
        ControlEntry(interfaceName, interfaceCd, status, now, null, loadKey))

  /** Status transition for the entry keyed by (interface, load key)
    * (Airflow-DAG.py:370-402); with no such entry it writes nothing.
    * Completing stamps load_complete_dt_tm. */
  def updateStatus(interfaceCd: String, loadKey: Long, status: String,
      now: Timestamp): Unit =
    rewrite[ControlEntry](controlName)(_.map(e =>
      if (e.interface_cd != interfaceCd || e.load_key != loadKey) e
      else e.copy(load_status = status, load_complete_dt_tm =
        if (status == "Success") now else e.load_complete_dt_tm)))

  /** HIST_LOAD_CONTROL entry (STG_to_INT.py:23-34), replacing an entry
    * of the same (load key, subject area). */
  def addHistLoadEntry(loadKey: Long, subjectArea: String, status: String,
      start: Timestamp, end: Timestamp, now: Timestamp): Unit =
    rewrite[HistLoadControlEntry](histLoadName)(
      _.filterNot(e => e.load_key == loadKey && e.subject_area == subjectArea) :+
        HistLoadControlEntry(loadKey, subjectArea, status, start, end, now))

  /** Mark hist-load rows processed (Airflow-DAG.py:389-402). */
  def markHistLoadProcessed(loadKey: Long, subjectArea: String): Unit =
    rewrite[HistLoadControlEntry](histLoadName)(_.map(e =>
      if (e.load_key == loadKey && e.subject_area == subjectArea) e.copy(status = "processed")
      else e))

  /** Read a control table's rows (one Spark job, none while it is absent),
    * apply `f`, and if that changed them, publish the result as one parquet
    * file written on the driver. */
  private def rewrite[T <: Product](name: String)(f: Seq[T] => Seq[T])(
      implicit enc: Encoder[T]): Unit = {
    val before = store.rows[T](name)
    val after = f(before)
    if (after != before) store.overwriteRows(name, enc.schema, after.map(Row.fromTuple))
  }
}
