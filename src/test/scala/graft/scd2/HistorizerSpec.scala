package graft.scd2

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.{Scd2Config, Schemas}

/** Unit tests for the SCD2 engine per SURVEY §5: hash semantics,
  * classification truth table, surrogate minting, apply invariants. */
class HistorizerSpec extends SparkSpec {
  import spark.implicits._

  val conf = Scd2Config(loadKey = 1L)
  val t0 = Timestamp.valueOf("2024-03-01 09:00:00")
  val t1 = Timestamp.valueOf("2024-03-01 09:05:00")
  val now = Timestamp.valueOf("2024-03-03 00:00:00")

  def intRows(rows: (String, String, String, Timestamp, String, Long)*): DataFrame =
    rows.toDF("timezone", "humidity", "temperature", "timestamp", "deviceid", "load_key")

  def emptyTarget: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.scd2Target)

  test("discoverAkKeyCols finds AK/KEY by suffix, sorted") {
    val (ak, key) = Historizer.discoverAkKeyCols(Seq("deviceid", "dht11_key", "dht11_ak"))
    assert(ak == "dht11_ak" && key == "dht11_key")
    intercept[IllegalArgumentException] {
      Historizer.discoverAkKeyCols(Seq("deviceid", "only_ak"))
    }
  }

  test("delta hash is separator-less concat of coalesced strings (F1/F2 collision parity)") {
    // ("ab","c") vs ("a","bc") must collide — reference has no separator
    val df = Seq(("ab", "c"), ("a", "bc")).toDF("x", "y")
      .select(Historizer.deltaHash(Seq("x", "y")).as("h"))
    assert(df.distinct().count() == 1)
    // null coalesces to '' — ("ab",null) collides with ("a","b")
    val df2 = Seq((Some("ab"), None: Option[String]), (Some("a"), Some("b")))
      .toDF("x", "y").select(Historizer.deltaHash(Seq("x", "y")).as("h"))
    assert(df2.distinct().count() == 1)
  }

  test("deltaColumns excludes nk, delta-excluded and load-excluded, keeps order") {
    val cols = Seq("timezone", "humidity", "temperature", "timestamp", "deviceid", "load_key")
    assert(Historizer.deltaColumns(cols, conf) == Seq("humidity", "temperature"))
  }

  test("classify: empty target ⇒ all I; same batch re-run ⇒ all NC; change ⇒ U") {
    val batch = intRows(
      ("IST", "62.0", "29.4", t0, "DEV01", 1L),
      ("IST", "63.1", "29.6", t1, "DEV01", 1L))
    val d1 = Historizer.deltaDetect(batch, emptyTarget, conf)
    assert(d1.count() == 2)
    assert(d1.filter($"upsert_cd" === "I").count() == 2)
    assert(d1.select("max_ak", "max_key").distinct().collect().head.toSeq == Seq(0L, 0L))

    val tgt1 = Historizer.applyScd2(batch, emptyTarget, conf, now)
    // re-run identical batch: everything NC
    val d2 = Historizer.deltaDetect(batch, tgt1, conf)
    assert(d2.filter($"upsert_cd" =!= "NC").count() == 0)

    // humidity change on t0 ⇒ U; timezone (delta-excluded) change ⇒ NC
    val batch2 = intRows(
      ("IST", "99.9", "29.4", t0, "DEV01", 2L),
      ("GMT", "63.1", "29.6", t1, "DEV01", 2L))
    val d3 = Historizer.deltaDetect(batch2, tgt1, conf.copy(loadKey = 2L))
    val byTs = d3.select($"timestamp", $"upsert_cd").collect()
      .map(r => r.getTimestamp(0) -> r.getString(1)).toMap
    assert(byTs(t0) == "U" && byTs(t1) == "NC")
  }

  test("applyScd2 invariants: one current row per nk, close-out, durable AK, minted keys") {
    val batch1 = intRows(
      ("IST", "62.0", "29.4", t0, "DEV01", 1L),
      ("IST", "63.1", "29.6", t1, "DEV01", 1L))
    val tgt1 = Historizer.applyScd2(batch1, emptyTarget, conf, now)
    assert(tgt1.count() == 2)
    assert(tgt1.filter($"da_current_flag" === "Y").count() == 2)
    // gapless from max+1: keys {1,2}, aks {1,2}
    assert(tgt1.select("dht11_key").as[Long].collect().sorted.sameElements(Array(1L, 2L)))
    assert(tgt1.select("dht11_ak").as[Long].collect().sorted.sameElements(Array(1L, 2L)))
    assert(tgt1.filter($"da_valid_to_date" === lit(Schemas.openEndedValidTo)).count() == 2)

    // batch 2 changes t0's humidity
    val batch2 = intRows(("IST", "99.9", "29.4", t0, "DEV01", 2L))
    val tgt2 = Historizer.applyScd2(batch2, tgt1, conf.copy(loadKey = 2L), now)
    assert(tgt2.count() == 3)
    // exactly one current version per natural key
    val curCounts = tgt2.filter($"da_current_flag" === "Y")
      .groupBy("deviceid", "timestamp").count()
    assert(curCounts.filter($"count" =!= 1).count() == 0)
    // old t0 version closed: flag N, valid_to = now, deleted_flag N
    val closed = tgt2.filter($"timestamp" === t0 && $"da_current_flag" === "N")
    assert(closed.count() == 1)
    assert(closed.select("da_valid_to_date").first().getTimestamp(0) == now)
    assert(closed.select("da_deleted_flag").first().getString(0) == "N")
    // durable AK: new current t0 row reuses the closed row's AK, new KEY
    val oldAk = closed.select("dht11_ak").first().getLong(0)
    val newCur = tgt2.filter($"timestamp" === t0 && $"da_current_flag" === "Y")
    assert(newCur.select("dht11_ak").first().getLong(0) == oldAk)
    assert(newCur.select("dht11_key").first().getLong(0) == 3L) // max_key 2 + 1
    // untouched t1 row still current and unmodified
    val t1row = tgt2.filter($"timestamp" === t1)
    assert(t1row.count() == 1)
    assert(t1row.select("da_current_flag").first().getString(0) == "Y")
  }

  test("pointInTime resolves exactly the version valid at each probe instant") {
    val now2 = Timestamp.valueOf("2024-03-10 00:00:00")
    // version 1 of (DEV01, t0) at `now`, superseded by version 2 at now2
    val tgt1 = Historizer.applyScd2(
      intRows(("IST", "62.0", "29.4", t0, "DEV01", 1L)), emptyTarget, conf, now)
    val tgt2 = Historizer.applyScd2(
      intRows(("IST", "99.9", "29.4", t0, "DEV01", 2L)),
      tgt1, conf.copy(loadKey = 2L), now2)
    def probe(dev: String, at: String): DataFrame =
      Seq((dev, t0, Timestamp.valueOf(at))).toDF("deviceid", "timestamp", "as_of")
    def lookup(dev: String, at: String): Array[org.apache.spark.sql.Row] =
      Historizer.pointInTime(tgt2, probe(dev, at), conf, "as_of")
        .select("humidity", "dht11_key").collect()
    // before the first version: known key, but not yet in the registry
    val before = lookup("DEV01", "2024-03-01 00:00:00")
    assert(before.length == 1 && before.head.isNullAt(0))
    // between the loads: version 1 answers (not the current version!)
    val mid = lookup("DEV01", "2024-03-05 00:00:00")
    assert(mid.length == 1 && mid.head.getString(0) == "62.0")
    // the boundary instant itself belongs to the NEW version ([from, to))
    val atBoundary = lookup("DEV01", "2024-03-10 00:00:00")
    assert(atBoundary.length == 1 && atBoundary.head.getString(0) == "99.9")
    // after: version 2
    val after = lookup("DEV01", "2024-04-01 00:00:00")
    assert(after.length == 1 && after.head.getString(0) == "99.9")
    // unknown key: row kept, null payload
    val unknown = lookup("DEV99", "2024-04-01 00:00:00")
    assert(unknown.length == 1 && unknown.head.isNullAt(0))
    // at-most-one version matches ANY probe (intervals partition time)
    val all = Historizer.pointInTime(tgt2,
      probe("DEV01", "2024-03-05 00:00:00")
        .unionByName(probe("DEV01", "2024-04-01 00:00:00")), conf, "as_of")
      .groupBy("as_of").count()
    assert(all.filter($"count" =!= 1).count() == 0)
  }

  test("a batch that repeats a natural key inserts one version per batch row") {
    val batch = intRows(
      ("IST", "62.0", "29.4", t0, "DEV01", 1L),
      ("IST", "70.0", "29.4", t0, "DEV01", 1L),
      ("IST", "63.1", "29.6", t1, "DEV01", 1L))
    val tgt1 = Historizer.applyScd2(batch, emptyTarget, conf, now)
    assert(tgt1.count() == 3)
    assert(tgt1.select("dht11_key").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(tgt1.filter($"timestamp" === t0).select("humidity").as[String]
      .collect().sorted.toSeq == Seq("62.0", "70.0"))
    // both stay current: the reference's MERGE refuses such a batch
    // (ORA-30926), this merge does not
    assert(tgt1.filter($"timestamp" === t0 && $"da_current_flag" === "Y").count() == 2)
  }

  test("applyScd2 re-run of identical batch is a no-op (all NC)") {
    val batch = intRows(("IST", "62.0", "29.4", t0, "DEV01", 1L))
    val tgt1 = Historizer.applyScd2(batch, emptyTarget, conf, now)
    val tgt2 = Historizer.applyScd2(batch, tgt1, conf, now)
    assert(tgt2.count() == tgt1.count())
    assert(tgt2.filter($"da_current_flag" === "Y").count() == 1)
  }

  test("column contract check aborts on schema drift (D8)") {
    val batch = intRows(("IST", "62.0", "29.4", t0, "DEV01", 1L))
    val badTarget = emptyTarget.withColumn("extra_col", lit("x"))
    intercept[IllegalArgumentException] {
      Historizer.applyScd2(batch, badTarget, conf, now)
    }
  }
}
