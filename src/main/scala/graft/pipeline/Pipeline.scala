package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

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
  def run(treePath: String, deviceId: String, now: Timestamp): RunResult =
    runFrom(ctl.prevRunDetails(interfaceCd), treePath, deviceId, now)

  /** [[run]] given the previous run's (status, start, load key):
    * CHECK_FOR_INTERFACE_EXISTENCE + GET_ETL_PREV_RUN_DATE_TIME — one
    * metadata lookup serves the Success gate, the watermark and, in
    * [[runWithRetry]], the rollback snapshot.
    *
    * The run reads its batch from the tree once, into a cached delta that
    * feeds landing, INT and the SCD2 merge; it never reads landing or INT
    * back. The empty branch is a one-row probe. The merge checkpoints the
    * batch on entry and observes the batch's buckets and its touched ones
    * on its two checkpoints; nothing is collected.
    *
    * Everything runs in sequence on the calling thread. Each control-table
    * stamp is written right after the data write it reports, and the
    * current-run entry before the first data write: should the process die
    * mid-run, that non-Success entry makes the next run's gate refuse. */
  private def runFrom(prev: Option[(String, Timestamp, Long)], treePath: String,
      deviceId: String, now: Timestamp): RunResult = {
    require(prev.forall(_._1 == "Success"),
      s"previous run for $interfaceCd did not finish with status Success")
    val prevStart = prev.map(_._2).getOrElse(Schemas.epoch)
    val loadKey = prev.map(_._3).getOrElse(0L) + 1L  // F14
    // PRINT_VARIABLES_AND_GENERATE_NEW_LOAD_KEY
    stamp("APP SPECIFIC LOADING")(
      ctl.addCurrentRunEntry(interfaceName, interfaceCd, loadKey, now))

    // GET_FIREBASE_DELTA_DHT_DATA: distributed read + flatten + threshold.
    // The one read of the tree: the cached delta feeds the empty-branch
    // probe, the landing write, the INT append and the SCD2 merge.
    val delta = ingestDelta(treePath, deviceId, prevStart)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // check_data_list_task branch (D2 / ST6): a one-row probe, not a count
      if (delta.isEmpty) {
        stamp("Success")(ctl.updateStatus(interfaceCd, loadKey, "Success", now))
        return RunResult(loadKey, ingested = 0, inserted = 0, skipped = true)
      }

      // TRUNCATE_EXISTING_LANDING_DATA + LANDING load (S7 + S5): landing is
      // partitioned by deviceid, so the device re-land is a partition-level
      // delete + append — no rewrite of other devices' data. `ingested`
      // (reference parity: len(data_list), STG_Firebase2Oracle.py:73) is
      // counted by an Observation on that write.
      val landed = Observation()
      store.deletePartition(landingName, "deviceid", deviceId)
      store.appendPartitioned(landingName,
        delta.observe(landed, count(lit(1)).as("ingested")), Seq("deviceid"))
      val ingested = landed.get("ingested").asInstanceOf[Long]
      fault("landed")
      stamp("APP SPECIFIC LOADING COMPLETED")(
        ctl.updateStatus(interfaceCd, loadKey, "APP SPECIFIC LOADING COMPLETED", now))

      // LANDING_TO_INTERMEDIATE_TABLE (S6) + HIST_LOAD_CONTROL entry. The
      // device's landing partition was just re-landed from `delta`, so INT
      // is staged from the cache, not from a read-back of landing.
      // StageToInt keeps Schemas.intermediate's column order, which sets
      // the delta hash's column order.
      val batch = StageToInt(delta, loadKey, deviceId)
      store.append(intName, batch)
      fault("int appended")
      stamp("hist-load in progress")(
        ctl.addHistLoadEntry(loadKey, interfaceName, "in progress", now, now, now))
      stamp("INTEGRATION LOAD COMPLETED")(
        ctl.updateStatus(interfaceCd, loadKey, "INTEGRATION LOAD COMPLETED", now))

      // trigger_DAG_WF_EXT_SCD2_HISTORIZATION_LOAD (D3 → direct call), fed
      // the same cached batch. Partition-scoped MERGE: only the natural-key
      // buckets this batch touches (observed on the merge's delta
      // checkpoint) are rewritten (dynamic partition overwrite), exactly as
      // in StreamingIngest.scd2Sink. The new bucket content streams straight
      // into the write, which lazily reads the old files of those buckets:
      // safe, because dynamic partition overwrite replaces partitions only
      // at job commit, after every task has finished reading. `inserted` is
      // counted by an Observation on that same write — no extra job, no
      // re-scan of the target.
      val tgtStored = store.readOrEmpty(targetName, Schemas.scd2TargetStored)
      val observed = Observation()
      val touched = Historizer.applyScd2Partitioned(
          batch, tgtStored, conf.copy(loadKey = loadKey), now)
        .observe(observed, count(when(
          col("da_inserted_datetime") === lit(now) && col("da_current_flag") === "Y",
          1)).as("inserted"))
      store.overwritePartitionsDynamic(targetName, touched, Seq("nk_bucket"))
      val inserted = observed.get("inserted").asInstanceOf[Long]
      fault("scd2 written")

      // UPDATE_STATUS_AND_FINISH_WORKFLOW: Success is written last
      stamp("hist-load processed")(ctl.markHistLoadProcessed(loadKey, interfaceName))
      stamp("Success")(ctl.updateStatus(interfaceCd, loadKey, "Success", now))
      RunResult(loadKey, ingested, inserted, skipped = false)
    } finally delta.unpersist()
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
    * after the landing write ("landed"), after the INT append ("int
    * appended"), after the SCD2 write ("scd2 written"), and inside each
    * control-table stamp before its write ("stamp <status or entry>").
    * A no-op here. */
  protected def fault(point: String): Unit = ()

  /** D7 retry policy: the reference retries every Airflow task once after
    * a 30 s delay (`Airflow-DAG.py:467-474`, `historization_module.py:
    * 26-33`). The engine's unit of recovery is the whole run (its "task
    * boundaries" are the control-table status transitions, ST5), so a
    * failed attempt is ROLLED BACK — control rows, hist-load entry and
    * the INT append for the attempt's load key and device are removed;
    * the landing re-land is idempotent (partition delete + append) and the
    * SCD2 target swap is atomic, replaying the same batch as 'NC' — and
    * the run replays after `retryDelayMs`. On exhaustion the attempt's
    * control entry is marked Failed, which blocks the next run at the
    * Success gate exactly as in the reference (main.py:15-20). `sleep`
    * is injectable for tests. Stamps run synchronously (see `runFrom`), so
    * when an attempt throws, every row it wrote is on disk for the
    * rollback. */
  def runWithRetry(treePath: String, deviceId: String, now: Timestamp,
      retries: Int = 1, retryDelayMs: Long = 30000L,
      sleep: Long => Unit = Thread.sleep): RunResult = {
    var attempt = 0
    while (true) {
      // snapshot the latest load key BEFORE the attempt: rollback (and the
      // Failed stamp) may only touch an entry THIS attempt minted — a
      // pre-existing Failed entry from an earlier exhausted run must keep
      // blocking the gate until a human intervenes, and a gate refusal
      // creates nothing to roll back. An attempt whose current-run entry
      // never landed wrote no data either (runFrom writes that entry
      // before its first data write), so it too has nothing to roll back.
      val prev = ctl.prevRunDetails(interfaceCd)
      val before = prev.map(_._3)
      try return runFrom(prev, treePath, deviceId, now)
      catch {
        case scala.util.control.NonFatal(e) =>
          val minted = ctl.prevRunDetails(interfaceCd)
            .filter(d => d._1 != "Success" && !before.contains(d._3))
          if (attempt >= retries) {
            minted.foreach { case (_, _, key) =>
              ctl.updateStatus(interfaceCd, key, "Failed", now)
            }
            throw e
          }
          attempt += 1
          minted.foreach { case (_, _, key) => rollbackAttempt(key, deviceId) }
          sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Remove a failed attempt's side effects so the retry replays from a
    * clean slate: its control and hist-load entries, and its INT rows by
    * the load_key it minted and its device. Load keys are minted per
    * interface, so another interface sharing the store holds INT rows
    * under the same key; the device scopes the delete to this attempt's. */
  private def rollbackAttempt(loadKey: Long, deviceId: String): Unit = {
    ctl.deleteRun(interfaceName, interfaceCd, loadKey)
    store.deleteWhere(intName, Schemas.intermediate,
      col("load_key") === loadKey && col("deviceid") === deviceId)
  }
}

case class RunResult(loadKey: Long, ingested: Long, inserted: Long, skipped: Boolean)
