package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.TreeIngest
import graft.model.{Scd2Config, Schemas}
import graft.scd2.Historizer
import graft.store.TableStore

/** Structured Streaming ingest — the continuous twin of the batch
  * pipeline (BASELINE.json north star: "Structured Streaming for IoT
  * sensor data ingestion").
  *
  * The reference polls the whole Firebase subtree once a day by cron and
  * tracks its own watermark in a control table (SURVEY §2.9 ST1-ST6).
  * Here the same semantics are native streaming machinery:
  *  - offset tracking / delta filter (ST1)  → file-source checkpoint;
  *  - batch id lineage (ST4)                → foreachBatch batchId → load_key;
  *  - run-status state machine (ST5)        → checkpoint + atomic target swap
  *    (a batch either commits its offsets and target rewrite or reruns);
  *  - duplicate absorption (ST3)            → SCD2 classify: same natural key
  *    + same hash ⇒ 'NC' no-op, changed hash ⇒ new version.
  *
  * Scale: the stream shuffles only each micro-batch's delta (keyed by the
  * natural keys); the SCD2 rewrite cost is governed by the target's
  * partitioning exactly as in batch. `maxFilesPerTrigger` bounds per-batch
  * work under backlog.
  */
object StreamingIngest {

  /** Stream of raw `{date: {time: record}}` tree exports dropped into a
    * directory (the continuous analog of the reference's daily subtree
    * fetch). One file = one micro-batch delta (wholetext). */
  def readTreeStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("wholetext", true)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(from_json(col("value"), Schemas.firebaseTree).as("root"))

  /** Flatten + landing projection with the reference's defaulting quirks
    * (same code path as batch: TreeIngest.flatten/toLanding semantics —
    * explode is a stateless Generator, fine in append streams). The
    * threshold filter is omitted: the file-source checkpoint already
    * guarantees each file is processed exactly once, which is the
    * watermark's entire job in the reference (ST1). */
  def landingStream(tree: DataFrame, deviceId: String): DataFrame =
    TreeIngest.toLanding(TreeIngest.flatten(tree), deviceId, Schemas.epoch)

  /** The LIVE tail end-to-end: poll an RTDB-style endpoint through the
    * DSv2 source (already threshold-filtered and boundary-deduplicated
    * at the source — see [[PollSource]]) and land with the same
    * defaulting quirks as the batch path. Plugs straight into
    * [[scd2Sink]], giving the reference's full live pipeline
    * (fetch → delta → landing → SCD2) as ONE streaming query. */
  def pollLandingStream(spark: SparkSession, deviceId: String,
      options: Map[String, String]): DataFrame = {
    val reader = spark.readStream.format("graft-poll")
    val flat = options.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
    // the source emits TreeIngest.flatten's shape; toLanding's threshold
    // re-filter is an epoch no-op (the offset watermark already did ST1)
    TreeIngest.toLanding(flat, deviceId, Schemas.epoch)
  }

  /** Continuous SCD2 historization: every micro-batch becomes a
    * `Historizer.Batch` under load_key = batchId + 1 (monotone,
    * checkpoint-stable — a replayed batch reuses its id and absorbs as
    * 'NC', giving effectively-once semantics on top of the file source's
    * exactly-once offsets) and runs `Historizer.mergeInto`, the same merge
    * and target writer as the batch pipeline. It starts through
    * [[MicroBatch.sink]]; the keyed merge absorbs a replay, so it needs
    * no stamp. Per-trigger write cost is O(buckets the micro-batch
    * touches), not O(target).
    *
    * The micro-batch is read once per trigger: `foreachBatch` hands over a
    * plan that every action re-runs (listing and parsing the batch's
    * files again), and the batch checkpoints it before the merge reads
    * it. */
  def scd2Sink(landing: DataFrame, store: TableStore, targetName: String,
      checkpointDir: String, conf: Scd2Config = Scd2Config(),
      clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.sink(landing, checkpointDir, trigger) { (batch, batchId) =>
      val loadKey = batchId + 1L
      Historizer.mergeInto(store, targetName, Historizer.batch(
        batch.withColumn("load_key", lit(loadKey)), conf.copy(loadKey = loadKey)), clock())
    }
}
