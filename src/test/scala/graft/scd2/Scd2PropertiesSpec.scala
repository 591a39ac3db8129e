package graft.scd2

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.SparkSpec
import graft.model.{Scd2Config, Schemas}

/** ScalaCheck properties for the SCD2 invariants (SURVEY §5.3): for ANY
  * sequence of batches —
  *   1. exactly one DA_CURRENT_FLAG='Y' row per natural key ever present;
  *   2. valid_from ≤ valid_to on every row;
  *   3. minted KEYs are unique and gapless 1..N;
  *   4. re-applying the final batch is a no-op (all 'NC');
  *   5. the current row's payload equals the latest batch's payload.
  */
class Scd2PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val conf = Scd2Config(loadKey = 1L)
  private val t0 = Timestamp.valueOf("2024-03-01 09:00:00")
  /** Natural-key timestamp of key index `k`: the six keys spread over
    * three days, two per day, so the partitioned property's keys fall in
    * several day buckets (see Historizer.nkBucket). */
  private def keyTs(k: Int): Timestamp =
    new Timestamp(t0.getTime + (k % 3) * 86400000L + k * 300000L)

  // a batch = map of natural-key-index → (humidity, temperature)
  private val genBatch: Gen[Map[Int, (Int, Int)]] = for {
    keys <- Gen.someOf(0 until 6)
    vals <- Gen.listOfN(keys.size, Gen.zip(Gen.choose(50, 99), Gen.choose(20, 35)))
  } yield keys.zip(vals).toMap

  private def toDf(batch: Map[Int, (Int, Int)], loadKey: Long): DataFrame =
    batch.toSeq.map { case (k, (h, t)) =>
      ("IST", s"$h.0", s"$t.0",
        keyTs(k), "DEV01", loadKey)
    }.toDF("timezone", "humidity", "temperature", "timestamp", "deviceid", "load_key")

  private def emptyTarget: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.scd2Target)

  test("SCD2 invariants hold for arbitrary batch sequences") {
    val prop = Prop.forAll(Gen.listOfN(3, genBatch)) { batches =>
      val nonEmpty = batches.filter(_.nonEmpty)
      (nonEmpty.nonEmpty: Prop) ==> {
        var tgt = emptyTarget
        var now = Timestamp.valueOf("2024-06-01 00:00:00")
        var snaps = List.empty[(Timestamp, Map[Int, (Int, Int)])]
        var model = Map.empty[Int, (Int, Int)]
        nonEmpty.zipWithIndex.foreach { case (b, i) =>
          tgt = Historizer.applyScd2(toDf(b, i + 1L), tgt,
            conf.copy(loadKey = i + 1L), now).cache()
          tgt.count() // settle the plan before the next round builds on it
          model ++= b
          snaps = snaps :+ (now, model)
          now = new Timestamp(now.getTime + 86400000L)
        }
        val rows = tgt.collect()
        val byKey = rows.groupBy(_.getAs[Timestamp]("timestamp"))

        // 1: exactly one current row per key ever inserted
        val oneCurrent = byKey.values.forall(
          _.count(_.getAs[String]("da_current_flag") == "Y") == 1)
        // 2: validity windows are ordered
        val ordered = rows.forall(r =>
          !r.getAs[Timestamp]("da_valid_from_date")
            .after(r.getAs[Timestamp]("da_valid_to_date")))
        // 3: version keys unique and gapless
        val keys = rows.map(_.getAs[Long]("dht11_key")).sorted
        val gapless = keys.sameElements(1L to keys.length)
        // 4: re-applying the final batch changes nothing
        val replayed = Historizer.applyScd2(
          toDf(nonEmpty.last, nonEmpty.length.toLong), tgt,
          conf.copy(loadKey = nonEmpty.length.toLong), now)
        val stable = replayed.count() == rows.length &&
          replayed.filter($"da_current_flag" === "Y").count() == byKey.size
        // 5: current payload equals the last write for that key
        val lastWrite = nonEmpty.zipWithIndex
          .flatMap { case (b, i) => b.map { case (k, v) => k -> (i, v) } }
          .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
        val payloadRight = lastWrite.forall { case (k, (h, _)) =>
          byKey(keyTs(k)).find(_.getAs[String]("da_current_flag") == "Y")
            .exists(_.getAs[String]("humidity") == s"$h.0")
        }
        // 6: point-in-time resolves the model AS OF any probe instant —
        // before the first load (null), 12h after each load (that load's
        // model), never more than one version per probe
        val probeInstants: List[Timestamp] =
          Timestamp.valueOf("2024-05-01 00:00:00") ::
            snaps.map { case (t, _) => new Timestamp(t.getTime + 43200000L) }
        val probeKeys = for { k <- (0 until 6).toList; at <- probeInstants }
          yield (k, at)
        val probeDf = probeKeys.map { case (k, at) => (keyTs(k), "DEV01", at) }
          .toDF("timestamp", "deviceid", "as_of")
        val pit = Historizer.pointInTime(tgt, probeDf, conf, "as_of")
        val got = pit.select(probeDf("timestamp"), probeDf("as_of"),
            tgt("humidity")).collect()
        val atMostOne = got.length == probeKeys.length
        val byProbe = got
          .map(r => (r.getTimestamp(0), r.getTimestamp(1)) -> Option(r.getString(2)))
          .toMap
        val pitRight = atMostOne && probeKeys.forall { case (k, at) =>
          val expected = snaps.takeWhile(_._1.getTime <= at.getTime)
            .lastOption.flatMap(_._2.get(k)).map { case (h, _) => s"$h.0" }
          byProbe((keyTs(k), at)) == expected
        }
        val ok = oneCurrent && ordered && gapless && stable &&
          payloadRight && pitRight
        tgt.unpersist()
        ok: Prop
      }
    }
    val result = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("partitioned SCD2: exactly-one-current per key and byte-identical untouched buckets, any batch sequence") {
    import graft.store.TableStore
    import java.nio.file.{Files => JFiles, Path}
    import scala.jdk.CollectionConverters._

    def dataFiles(root: Path): Map[String, Array[Byte]] =
      if (!JFiles.exists(root)) Map.empty
      else JFiles.walk(root).iterator().asScala
        .filter(p => JFiles.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> JFiles.readAllBytes(p))
        .toMap

    // key index → nk_bucket, via the engine's own hash
    val bucketOfKey: Map[Int, Int] = (0 until 6).map { k =>
      val b = toDf(Map(k -> (50, 20)), 0L)
        .select(Historizer.nkBucket(conf.naturalKeys, conf.targetBuckets,
          Schemas.scd2Target))
        .first().getInt(0)
      k -> b
    }.toMap
    // the byte-identity check below is vacuous unless the keys span
    // several buckets: one per day, two keys each
    assert(bucketOfKey.values.toSet.size == 3)
    assert((0 until 3).forall(k => bucketOfKey(k) == bucketOfKey(k + 3)))

    val prop = Prop.forAll(Gen.listOfN(3, genBatch)) { batches =>
      val nonEmpty = batches.filter(_.nonEmpty)
      (nonEmpty.nonEmpty: Prop) ==> {
        val dir = JFiles.createTempDirectory("graft-scd2-prop")
        val store = new TableStore(spark, dir.toString)
        val root = java.nio.file.Paths.get(store.path("hist"))
        var now = Timestamp.valueOf("2024-06-01 00:00:00")
        var model = Map.empty[Int, (Int, Int)] // current payload per key
        var ok = true

        nonEmpty.zipWithIndex.foreach { case (b, i) =>
          val before = dataFiles(root)
          Historizer.mergeInto(store, "hist",
            Historizer.batch(toDf(b, i + 1L), conf.copy(loadKey = i + 1L)), now)
          now = new Timestamp(now.getTime + 86400000L)

          // buckets legitimately rewritable this increment: those of the
          // batch keys that are NEW or CHANGED vs the model ('NC' keys
          // must not rewrite their bucket)
          val changedKeys = b.keySet.filter(k => !model.get(k).contains(b(k)))
          val touchable = changedKeys.map(bucketOfKey)
          val after = dataFiles(root)
          before.foreach { case (rel, bytes) =>
            val untouched = !touchable.exists(t => rel.startsWith(s"nk_bucket=$t/"))
            if (untouched) {
              ok &&= after.get(rel).exists(java.util.Arrays.equals(_, bytes))
            }
          }
          model ++= b
        }

        // end state: exactly one current row per key ever written, and
        // its payload is the model's
        val rows = store.read("hist").collect()
        val byKey = rows.groupBy(_.getAs[Timestamp]("timestamp"))
        ok &&= byKey.size == model.size
        ok &&= byKey.values.forall(
          _.count(_.getAs[String]("da_current_flag") == "Y") == 1)
        ok &&= model.forall { case (k, (h, _)) =>
          byKey.get(keyTs(k)).exists(_.find(
            _.getAs[String]("da_current_flag") == "Y")
            .exists(_.getAs[String]("humidity") == s"$h.0"))
        }
        ok: Prop
      }
    }
    val result = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }
}
