package graft

import org.apache.spark.sql.SparkSession

/** The one session factory the graft mains share. */
object Sessions {

  /** A local[`cpus`] session with `cpus` shuffle partitions, UTC session
    * time, no UI and WARN logging (returns the active session if one
    * exists, as `getOrCreate` does). */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // normally set per-session inside Tables.load, but parquet schema
      // conversion resolves conf via the thread-local active session and
      // Verify's worker threads can race past it (observed: events.ts
      // inferred as TIMESTAMP_NTZ on one of 4 workers) — setting it here
      // makes every newSession() inherit it deterministically
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
