package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.control.ControlTable
import graft.ingest.TreeIngest
import graft.model.{Scd2Config, Schemas}
import graft.scd2.Historizer
import graft.stage.StageToInt
import graft.store.TableStore

/** End-to-end batch pipeline: the semantics of the reference's two
  * Airflow DAGs (`Airflow-DAG.py:476-577` parent,
  * `historization_module.py` child) as one driver program.
  *
  * Where the reference hops processes per task and ships state through
  * XCom (SURVEY D1-D8), here every stage is a DataFrame transform in one
  * lazy plan per materialization; "task boundaries" that matter for
  * recovery are exactly the control-table status transitions (ST5).
  */
class Pipeline(spark: SparkSession, store: TableStore,
    interfaceName: String = "ESP_DHT11_DATA", interfaceCd: String = "001",
    conf: Scd2Config = Scd2Config()) {

  val ctl = new ControlTable(spark, store)
  val landingName = "dht11_data"
  val intName = "dht11_data_int"
  val targetName = "hist_dht11_data"

  /** One run: tree → landing → INT → SCD2 → finalize. Mirrors the parent
    * DAG task chain (Airflow-DAG.py:574-577) incl. the empty-delta branch
    * (D2) and the prev-run Success gate. `now` is injected for
    * deterministic tests (reference uses statement-time SYSDATE, F11). */
  def run(treePath: String, deviceId: String, now: Timestamp): RunResult = {
    val (prevStart, loadKey) = gate()
    runFrom(prevStart, loadKey, treePath, deviceId, now)
  }

  /** CHECK_FOR_INTERFACE_EXISTENCE + GET_ETL_PREV_RUN_DATE_TIME: one
    * metadata lookup serves the Success gate, the watermark and the load
    * key (F14). Refuses unless the previous run finished with Success;
    * otherwise yields (previous run's start, the key this run mints). */
  private def gate(): (Timestamp, Long) = {
    val prev = ctl.prevRunDetails(interfaceCd)
    require(prev.forall(_._1 == "Success"),
      s"previous run for $interfaceCd did not finish with status Success")
    (prev.map(_._2).getOrElse(Schemas.epoch), prev.map(_._3).getOrElse(0L) + 1L)
  }

  /** One attempt of a run past the [[gate]], from watermark `prevStart`.
    * Its batch, the tree's delta staged with the load key, is one
    * `Historizer.Batch`: read once and held once, by its checkpoint, whose
    * observed row count picks the empty branch. Landing, INT and the merge
    * (`Historizer.mergeInto`, as in `StreamingIngest.scd2Sink`) all read
    * that checkpoint; nothing reads landing or INT back.
    *
    * Every write is idempotent per (interface, load key), so a second run
    * under the same key replays over the first: the control and hist-load
    * entries are replaced by key, landing, INT and the target replace the
    * partitions the batch writes (dynamic partition overwrite), and the
    * merge absorbs the replayed rows as 'NC'.
    *
    * Everything runs in sequence on the calling thread. Each control-table
    * stamp is written right after the data write it reports, and the
    * current-run entry before the first data write: should the process die
    * mid-run, that non-Success entry makes the next run's gate refuse. */
  private def runFrom(prevStart: Timestamp, loadKey: Long, treePath: String,
      deviceId: String, now: Timestamp): RunResult = {
    // PRINT_VARIABLES_AND_GENERATE_NEW_LOAD_KEY
    stamp("APP SPECIFIC LOADING")(
      ctl.addCurrentRunEntry(interfaceName, interfaceCd, loadKey, now))

    // GET_FIREBASE_DELTA_DHT_DATA (distributed read + flatten + threshold),
    // staged with the run's load key (S6, STG_to_INT.py:16-20). StageToInt
    // keeps Schemas.intermediate's column order, which sets the delta
    // hash's column order.
    val batch = Historizer.batch(
      StageToInt(ingestDelta(treePath, deviceId, prevStart), loadKey, deviceId),
      conf.copy(loadKey = loadKey))

    // check_data_list_task branch (D2 / ST6)
    if (batch.count == 0) {
      stamp("Success")(ctl.updateStatus(interfaceCd, loadKey, "Success", now))
      return RunResult(loadKey, ingested = 0, inserted = 0, skipped = true)
    }

    // TRUNCATE_EXISTING_LANDING_DATA + LANDING load (S7 + S5): replaces the
    // device's deviceid partition and no other.
    store.overwritePartitionsDynamic(landingName, batch.rows.drop("load_key"), Seq("deviceid"))
    fault("landed")
    stamp("APP SPECIFIC LOADING COMPLETED")(
      ctl.updateStatus(interfaceCd, loadKey, "APP SPECIFIC LOADING COMPLETED", now))

    // LANDING_TO_INTERMEDIATE_TABLE (S6) + HIST_LOAD_CONTROL entry. INT is
    // partitioned by (deviceid, load_key), the last two columns of its
    // order, so a replay of the key replaces its own partition and no other.
    store.overwritePartitionsDynamic(intName, batch.rows, Seq("deviceid", "load_key"))
    fault("int appended")
    stamp("hist-load in progress")(
      ctl.addHistLoadEntry(loadKey, interfaceName, "in progress", now, now, now))
    stamp("INTEGRATION LOAD COMPLETED")(
      ctl.updateStatus(interfaceCd, loadKey, "INTEGRATION LOAD COMPLETED", now))

    // trigger_DAG_WF_EXT_SCD2_HISTORIZATION_LOAD (D3 → direct call), fed
    // the same batch; rewrites only the target buckets it touches
    val inserted = Historizer.mergeInto(store, targetName, batch, now)
    fault("scd2 written")

    // UPDATE_STATUS_AND_FINISH_WORKFLOW: Success is written last
    stamp("hist-load processed")(ctl.markHistLoadProcessed(loadKey, interfaceName))
    stamp("Success")(ctl.updateStatus(interfaceCd, loadKey, "Success", now))
    // reference parity: len(data_list), STG_Firebase2Oracle.py:73
    RunResult(loadKey, batch.count, inserted, skipped = false)
  }

  /** A control-table stamp: its fault point, then its write. */
  private def stamp(point: String)(write: => Unit): Unit = {
    fault(s"stamp $point")
    write
  }

  /** GET_FIREBASE_DELTA task boundary — overridable test seam for fault
    * injection (the reference injects failures the same way: a task that
    * raises, Airflow-DAG.py:467-474). */
  protected def ingestDelta(treePath: String, deviceId: String,
      prevStart: Timestamp): DataFrame =
    TreeIngest.toLanding(
      TreeIngest.flatten(TreeIngest.readTree(spark, treePath)), deviceId, prevStart)

  /** Test seam for crash injection at the run's later task boundaries:
    * after the landing write ("landed"), after the INT write ("int
    * appended"), after the SCD2 write ("scd2 written"), and inside each
    * control-table stamp before its write ("stamp <status or entry>").
    * A no-op here. */
  protected def fault(point: String): Unit = ()

  /** D7 retry policy: the reference retries every Airflow task once after
    * a 30 s delay (`Airflow-DAG.py:467-474`, `historization_module.py:
    * 26-33`). The engine's unit of recovery is the whole run (its "task
    * boundaries" are the control-table status transitions, ST5). The
    * [[gate]] runs once, before the first attempt: a refusal is thrown at
    * once, with no retry and no control-table write, and every attempt
    * mints the same load key, so a retry after `retryDelayMs` is a plain
    * replay of that key over whatever the failed attempt wrote (see
    * `runFrom`), as `StreamingIngest.scd2Sink` replays a batch id. On
    * exhaustion the key's control entry is marked Failed, which blocks the
    * next run at the Success gate exactly as in the reference
    * (main.py:15-20); if that entry never landed, nothing is written. This
    * assumes one writer per interface, as the Success gate does. `sleep`
    * is injectable for tests. */
  def runWithRetry(treePath: String, deviceId: String, now: Timestamp,
      retries: Int = 1, retryDelayMs: Long = 30000L,
      sleep: Long => Unit = Thread.sleep): RunResult = {
    val (prevStart, loadKey) = gate()
    var attempt = 0
    while (true) {
      try return runFrom(prevStart, loadKey, treePath, deviceId, now)
      catch {
        case scala.util.control.NonFatal(e) =>
          if (attempt >= retries) {
            ctl.updateStatus(interfaceCd, loadKey, "Failed", now)
            throw e
          }
          attempt += 1
          sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

case class RunResult(loadKey: Long, ingested: Long, inserted: Long, skipped: Boolean)
