package graft.queries

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{ScriptedSnapshot, TreeFetchers}

/** Oracle-checked exercise of the live polling source (graft-poll,
  * reference S1 live mode). A deterministic Firebase-style tree snapshot
  * is synthesized from the `events` table (same discipline as
  * CoreQueries.qS3Users' JSON spool), served through a registered
  * in-memory transport in TWO cumulative polls split at the slice's
  * median timestamp, and streamed through the DSv2 source with a shared
  * checkpoint:
  *
  *  - poll 1 lands everything below the cutoff;
  *  - poll 2 must land exactly the remainder — the `>=`-threshold delta
  *    minus the already-emitted watermark-boundary records.
  *
  * The union of both batches therefore equals the whole slice EXACTLY
  * ONCE, which is what the DuckDB oracle states: any double-landing of
  * the boundary record (the reference's ST2 re-fetch, deduplicated at
  * the source here) or dropped delta breaks the row/hash match.
  *
  * Scale note: the snapshot is collected to the driver BY DESIGN — the
  * polling source's contract is a driver-memory-bounded per-device
  * subtree (see PollSource doc); the slice is event_id % 97 ≈ 1% of
  * events, ~1k rows at sf0.1. The 100 TB ingest path is TreeIngest.
  */
object PollQueries {
  private def sliceRows(s: SparkSession, dir: String) =
    graft.Tables.load(s, dir, "events")
      .filter(col("event_id") % 97 === 0)
      .select(
        date_format(col("ts"), "yyyy-MM-dd").as("date_key"),
        concat(date_format(col("ts"), "HH:mm:ss"), lit("_"),
          col("event_id").cast("string")).as("time_key"),
        col("event_type").as("tz"),
        col("user_id").cast("string").as("hum"),
        round(col("value") * 100).cast("long").cast("string").as("temp"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      .collect()

  /** Serialize rows into the `{date: {time: record}}` tree JSON. */
  private def treeJson(rows: Seq[org.apache.spark.sql.Row]): String = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach { case (date, rs) =>
      val dateNode = root.putObject(date)
      rs.sortBy(_.getString(1)).foreach { r =>
        val rec = dateNode.putObject(r.getString(1))
        rec.put("TimeZone", r.getString(2))
        rec.put("Humidity", r.getString(3))
        rec.put("Temperature", r.getString(4))
        rec.put("Timestamp", r.getString(5))
      }
    }
    om.writeValueAsString(root)
  }

  def qPollIngest(s: SparkSession, dir: String): DataFrame = {
    val rows = sliceRows(s, dir)
    require(rows.nonEmpty, s"empty poll slice under $dir")
    val cutoff = rows.map(_.getString(5)).sorted.apply(rows.length / 2)
    val snap1 = treeJson(rows.filter(_.getString(5) < cutoff))
    val snap2 = treeJson(rows)

    val tag = java.util.UUID.randomUUID().toString.take(8)
    val transport = s"poll_q_$tag"
    val fetcher = new ScriptedSnapshot(snap1)
    TreeFetchers.register(transport, fetcher)
    try {
      val ckpt = Files.createTempDirectory(s"poll_q_ckpt_$tag").toString
      val out = Files.createTempDirectory(s"poll_q_out_$tag").toString
      // parquet sink: the only built-in sink that resumes a checkpoint;
      // its _spark_metadata log keeps the two runs' landing exactly-once
      def runOnce(): Unit =
        s.readStream.format("graft-poll")
          .option("transport", transport)
          .option("pollIntervalMs", "0")
          .load()
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      runOnce()
      fetcher.snapshot = snap2
      runOnce()
      s.read.parquet(out)
        .select(
          col("date_key"), col("time_key"),
          col("TimeZone").as("timezone"),
          col("Humidity").as("humidity"),
          col("Temperature").as("temperature"),
          col("Timestamp").as("ts_str"))
    } finally TreeFetchers.unregister(transport)
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_poll_ingest", qPollIngest,
      """SELECT strftime(ts, '%Y-%m-%d') AS date_key,
        |       strftime(ts, '%H:%M:%S') || '_' || CAST(event_id AS VARCHAR) AS time_key,
        |       event_type AS timezone,
        |       CAST(user_id AS VARCHAR) AS humidity,
        |       CAST(CAST(round(value*100, 0) AS BIGINT) AS VARCHAR) AS temperature,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM events WHERE event_id % 97 = 0""".stripMargin))
}
