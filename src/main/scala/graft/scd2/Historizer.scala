package graft.scd2

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.model.{Scd2Config, Schemas}
import graft.store.TableStore

/** SCD Type-2 delta detection + apply, re-expressing the reference's
  * generated-Oracle-SQL engine (`Delta_detection_query_gen.py`) as lazy
  * Catalyst plans.
  *
  * The reference composes one big SQL string (delta-detection query,
  * :87-102), materializes it as a temp table (:140-155), MERGEs the
  * close-out (:187-213) and INSERTs new versions (:215-330). Here each
  * step is a DataFrame transform; the "temp table" is a local checkpoint
  * of the delta, and the MERGE+INSERT become a rewrite of the natural-key
  * buckets the batch touches (close-out ∪ inserts), since Parquet has no
  * in-place update (SURVEY §7.2). One merge body serves every caller, over
  * a [[Batch]], the one materialization of a batch's rows (a nightly run
  * lands from it too); [[mergeInto]] is the one writer of the target.
  *
  * Faithful quirks preserved (SURVEY §7.2):
  *  - delta hash = sha256 over a SEPARATOR-LESS concat of
  *    COALESCE(CAST(col AS STRING),'') (Delta_detection_query_gen.py:42-44)
  *    — plain `concat`, not `concat_ws`, so ("ab","c") and ("a","bc")
  *    collide identically to the reference.
  *  - hash column list = source columns minus
  *    (naturalKeys ∪ excludeFromDelta ∪ excludeFromLoad), in source
  *    schema order (:161-174); the target side recomputes the hash over
  *    the SAME column names (:66).
  *  - rows present only in the target classify 'NC' (stg.hash is null ⇒
  *    `!=` is null ⇒ CASE falls through, :55-56).
  *  - 'PD' (physical delete) is handled by the close-out (:199,202) but
  *    never produced by the classifier (:53-57) — dead path kept.
  *  - the `SUBSTR(ak,1,4) <> 999999` sentinel branch (:250-285) compares
  *    4 chars to a 6-char number — always true, so only the simple
  *    `max + row_number` path is live; we implement that path.
  *  - insert keeps the durable AK for 'U' rows
  *    (`coalesce(ext.ak, max_ak + row_number)`, :253-270) — AK is the
  *    entity key, KEY is the version key (always newly minted).
  *  - insert carries ALL source columns except load-excluded ones —
  *    the reference's NOT IN tuple concatenates cols_to_exclude_from_load
  *    with itself (:236), so delta-excluded columns ARE inserted.
  */
object Historizer {

  /** Surrogate AK/KEY column discovery by naming convention
    * (Delta_detection_query_gen.py:21-35): columns ending _AK or _KEY,
    * sorted; first is the AK, second the KEY. */
  def discoverAkKeyCols(targetCols: Seq[String]): (String, String) = {
    val found = targetCols
      .filter(c => c.toLowerCase.endsWith("_ak") || c.toLowerCase.endsWith("_key"))
      .sorted
    require(found.size >= 2,
      "Error in getting Key and AK column. Please recheck target table definition and try again.")
    (found(0), found(1))
  }

  /** Separator-less null-safe concat hash
    * (Delta_detection_query_gen.py:42-44 + SHA256_HASH at :66,77). */
  def deltaHash(cols: Seq[String]): Column =
    sha2(concat(cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*), 256)

  /** Columns feeding the delta hash (Delta_detection_query_gen.py:161-174):
    * source schema order, minus naturalKeys/exclDelta/exclLoad. */
  def deltaColumns(sourceCols: Seq[String], conf: Scd2Config): Seq[String] = {
    val excluded = (conf.naturalKeys ++ conf.colsToExcludeFromDelta ++
      conf.colsToExcludeFromLoad).map(_.toLowerCase).toSet
    sourceCols.filterNot(c => excluded.contains(c.toLowerCase))
  }

  /** The delta-detection query (reference :87-102): hashed staging slice
    * FULL OUTER JOIN hashed current target slice on natural keys,
    * classified I/U/NC, with the surrogate high-water marks `marks`
    * (max KEY, max AK) as columns `max_key`, `max_ak` (:37-40, :89-90).
    * Each row also carries the staging row's columns other than the
    * natural keys and its `delta_hash`, all null on target-only rows, so
    * the merge inserts straight from its I/U rows.
    *
    * Scale notes: the marks are two scalars, no join; the full-outer join
    * shuffles both sides by the natural keys (AQE broadcasts a small
    * side). The merge filters the output on the staging `delta_hash`,
    * which lets Catalyst's `EliminateOuterJoin` plan a left outer join,
    * and prunes the target side to the batch's buckets. */
  def deltaDetect(src: DataFrame, tgt: DataFrame, conf: Scd2Config,
      marks: (Column, Column)): DataFrame = {
    val (akCol, keyCol) = discoverAkKeyCols(tgt.columns.toSeq)
    val dCols = deltaColumns(src.columns.toSeq, conf)
    val nk = conf.naturalKeys

    // staging clause (:72-81): the batch slice + recomputed hash
    val stg = src.filter(col("load_key") === lit(conf.loadKey))
      .select(src.columns.map(col).toSeq :+ deltaHash(dCols).as("delta_hash"): _*)
    // target clause (:61-70): current slice, hash recomputed from payload
    val tgtH = tgt.filter(col("da_current_flag") === "Y")
      .select(Seq(col(keyCol), col(akCol)) ++ nk.map(col)
        :+ deltaHash(dCols).as("delta_hash"): _*)

    val joinCond = nk.map(k => stg(k) === tgtH(k)).reduce(_ && _)
    val insertCond = nk.map(k => tgtH(k).isNull).reduce(_ || _)
    val updateCond = nk.map(k => tgtH(k) === stg(k)).reduce(_ && _) &&
      stg("delta_hash") =!= tgtH("delta_hash")
    val payload = src.columns.toSeq.filterNot(c => nk.exists(_.equalsIgnoreCase(c)))

    stg.join(tgtH, joinCond, "full_outer")
      .select(
        Seq(tgtH(akCol).as(akCol), tgtH(keyCol).as(keyCol)) ++
        nk.map(k => coalesce(stg(k), tgtH(k)).as(k)) ++
        Seq(when(insertCond, "I").when(updateCond, "U").otherwise("NC").as("upsert_cd")) ++
        payload.map(c => stg(c).as(c)) ++
        Seq(stg("delta_hash").as("delta_hash"),
          marks._1.cast("long").as("max_key"), marks._2.cast("long").as("max_ak")): _*)
  }

  /** [[deltaDetect]] with `tgt`'s own marks, one scalar subquery. */
  def deltaDetect(src: DataFrame, tgt: DataFrame, conf: Scd2Config): DataFrame =
    deltaDetect(src, tgt, conf, marksOf(tgt))

  /** `tgt`'s surrogate high-water marks (max KEY, max AK; 0 when empty) as
    * the two fields of one scalar subquery over `tgt`: the marks of the
    * DataFrame entry points. [[mergeInto]] reads them from footers. */
  private def marksOf(tgt: DataFrame): (Column, Column) = {
    val (akCol, keyCol) = discoverAkKeyCols(tgt.columns.toSeq)
    val marks = tgt.agg(struct(
      coalesce(max(col(keyCol)), lit(0L)).cast("long").as("key"),
      coalesce(max(col(akCol)), lit(0L)).cast("long").as("ak"))).scalar()
    (marks.getField("key"), marks.getField("ak"))
  }

  /** Close-out (reference MERGE :187-213): target rows whose surrogate KEY
    * matches a 'U'/'PD' delta row get flags flipped and validity closed.
    * Surrogate-key join ⇒ exactly the matched current versions.
    */
  def closeOut(tgt: DataFrame, delta: DataFrame, now: Timestamp): DataFrame = {
    val (akCol, keyCol) = discoverAkKeyCols(tgt.columns.toSeq)
    // Per-batch delta is small next to a 100 TB target; AQE picks a
    // broadcast join at runtime — no forced hint, so a huge backfill
    // batch still degrades gracefully to shuffle join.
    val hits = delta.filter(col("upsert_cd").isin("U", "PD"))
      .select(col(keyCol).as("__k"), col("upsert_cd"))
    val joined = tgt.join(hits, tgt(keyCol) === hits("__k"), "left")
    val matched = hits("__k").isNotNull
    joined.select(
      tgt.columns.map {
        case c if c == "da_current_flag" =>
          when(matched, "N").otherwise(tgt(c)).as(c)
        case c if c == "da_valid_to_date" =>
          when(matched, lit(now)).otherwise(tgt(c)).as(c)
        case c if c == "da_updated_datetime" =>
          when(matched, lit(now)).otherwise(tgt(c)).as(c)
        case c if c == "da_deleted_flag" =>
          when(matched && col("upsert_cd") === "PD", "Y")
            .when(matched, "N").otherwise(tgt(c)).as(c)
        case c => tgt(c).as(c)
      }.toSeq: _*)
  }

  /** New-version insert rows (reference :215-330): a projection of the
    * merge's I/U delta, which carries each batch row's columns (`srcCols`,
    * the batch's) and its number `__rn`, with minted surrogate keys and
    * da_* system columns. One version per I/U batch row: a batch that
    * repeats a natural key inserts one version for each of its rows.
    *
    * Surrogate minting: the reference's `ROW_NUMBER() OVER (ORDER BY 'JP')`
    * (:266-270) funnels to one task; its constant sort key makes the
    * assignment ARBITRARY-but-gapless, so any total order is equally
    * faithful. The merge numbers its delta in natural-key order
    * (deterministic for tests and oracle checks) through the distributed
    * gapless index (SURVEY §7.5 #3) before checkpointing it. */
  def insertRows(delta: DataFrame, srcCols: Seq[String], tgtCols: Seq[String],
      conf: Scd2Config, now: Timestamp): DataFrame = {
    val (akCol, keyCol) = discoverAkKeyCols(tgtCols)
    // :232-243 — NOT IN (exclLoad + exclLoad): only load-excluded dropped
    val insCols = srcCols
      .filterNot(c => conf.colsToExcludeFromLoad.map(_.toLowerCase).contains(c.toLowerCase))
      .sorted
    // delta_hash is stored only when the target schema carries it (the
    // DHT target does, FIXTURES.md A4); always recomputed on read anyway.
    val hashCols =
      if (tgtCols.map(_.toLowerCase).contains("delta_hash")) Seq(col("delta_hash"))
      else Seq.empty
    delta.select(
      Seq(
        // AK: keep durable key for U rows, mint for I (:250-270)
        coalesce(col(akCol), col("max_ak") + col("__rn")).as(akCol),
        // KEY: always a fresh version key (:271-283)
        (col("max_key") + col("__rn")).as(keyCol)) ++
      insCols.map(col) ++ hashCols ++
      Seq(
        lit(now).as("da_updated_datetime"),
        lit(now).as("da_inserted_datetime"),
        lit(Schemas.openEndedValidTo).as("da_valid_to_date"),
        lit(now).as("da_valid_from_date"),
        lit("N").as("da_deleted_flag"),
        lit("Y").as("da_current_flag")): _*)
  }

  /** Gapless 1..N row index without a single-task window: RDD
    * `zipWithIndex` computes per-partition counts, then offsets each
    * partition — two narrow passes, fully parallel; the count pass is a
    * job of its own only when `df` has more than one partition. `df`'s
    * plan runs when this is called, not at the caller's action. This is
    * the one
    * sanctioned RDD drop-down in the engine (genuine per-partition
    * imperative logic; `monotonically_increasing_id` is NOT gapless and
    * the reference's minted keys must be). */
  def withGaplessIndex(df: DataFrame, name: String): DataFrame = {
    val schema = df.schema.add(name,
      org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** In-memory SCD2 apply: the whole new content of `tgt` (payload layout,
    * no `nk_bucket`). It runs the merge `Pipeline` and `scd2Sink` write
    * with over `src`'s [[Batch]] and `tgt`, its [[nkBucket]] attached, and
    * returns the untouched buckets ∪ the merge's touched content, running
    * no job beyond the batch's and the merge's. The marks are `tgt`'s, one
    * scalar subquery. The oracle-checked registry queries run it. */
  def applyScd2(src: DataFrame, tgt: DataFrame, conf: Scd2Config,
      now: Timestamp): DataFrame = {
    val bucketOf = nkBucket(conf.naturalKeys, conf.targetBuckets, tgt.schema)
    val (merged, touched, _) = merge(batch(src, conf), tgt.withColumn("nk_bucket", bucketOf),
      marksOf(tgt), now)
    tgt.filter(!bucketOf.isin(touched: _*)).unionByName(merged.drop("nk_bucket"))
  }

  /** Point-in-time read of a historized target — the query shape the
    * SCD2 table EXISTS for (the reference historizes
    * `HIST_DHT11_DATA` precisely so consumers can ask "what did this
    * row look like at instant T", Delta_detection_query_gen.py:287-296).
    * Each probe row resolves to the version whose validity interval
    * covers its as-of instant; because [[closeOut]] stamps the closed
    * version's `da_valid_to_date` with the same `now` the replacement's
    * `da_valid_from_date` gets, the intervals
    * [da_valid_from_date, da_valid_to_date) PARTITION time per natural
    * key — at most one version matches any probe. Probes before a key's
    * first version, or for keys the registry never saw, keep null
    * target columns (left join).
    *
    * Scale: ONE equi-join shuffle on the natural keys with the validity
    * test as a post-join filter — never a range-join product; with a
    * metadata-sized probe set AQE broadcasts it and the target is not
    * shuffled at all. */
  def pointInTime(tgt: DataFrame, probes: DataFrame, conf: Scd2Config,
      asOfCol: String): DataFrame = {
    val cond = conf.naturalKeys.map(k => probes(k) === tgt(k)).reduce(_ && _) &&
      probes(asOfCol) >= tgt("da_valid_from_date") &&
      probes(asOfCol) < tgt("da_valid_to_date")
    probes.join(tgt, cond, "left")
  }

  /** Natural-key hash bucket — the SCD2 target's partition key. A
    * `TimestampType` key hashes by its UTC day number, every other key
    * column by its value, so all readings of one device-day share a
    * bucket: a nightly batch (one date subtree of the export) rewrites
    * one bucket per device-day instead of every bucket. Equal keys still
    * map to one bucket. The day comes from `unix_micros`, not `to_date`,
    * so the layout does not depend on `spark.sql.session.timeZone`.
    * Engine-internal (never oracle-compared), so the fast builtin
    * xxhash64 is fine; deterministic across runs and executors.
    * `schema` supplies the key columns' types. */
  def nkBucket(naturalKeys: Seq[String], buckets: Int, schema: StructType): Column = {
    val hashed = naturalKeys.map { k =>
      if (schema.fields.exists(f => f.name.equalsIgnoreCase(k) && f.dataType == TimestampType))
        floor(unix_micros(col(k)) / lit(86400L * 1000000L)) // UTC day number
      else col(k)
    }
    pmod(xxhash64(hashed: _*), lit(buckets.toLong)).cast("int")
  }

  /** One SCD2 batch: a `load_key` slice, `localCheckpoint`ed once, with
    * its row count and its natural keys' [[nkBucket]]s observed on that
    * job. Every consumer reads the checkpoint (a nightly run's landing and
    * INT writes, the merge's delta detection), so a lazy
    * source is parsed by one job and held once. Not persist: that entry
    * stays cached until unpersisted, one per micro-batch of `scd2Sink`;
    * checkpointed blocks are GC-reclaimed with the batch's plans
    * (trade-off: SCALE.md "SCD2 batch read"). */
  final class Batch private[scd2] (val rows: DataFrame, val conf: Scd2Config,
      private[scd2] val bucketOf: Column, observed: Observation) {
    lazy val count: Long = observed.get("rows").asInstanceOf[Long]
    lazy val buckets: Seq[Int] =
      observed.get("buckets").asInstanceOf[scala.collection.Seq[Int]].toSeq
  }

  /** `src`'s `conf.loadKey` [[Batch]], its keys bucketed by `src`'s types. */
  def batch(src: DataFrame, conf: Scd2Config): Batch = {
    val bucketOf = nkBucket(conf.naturalKeys, conf.targetBuckets, src.schema)
    val observed = Observation()
    val rows = src.filter(col("load_key") === lit(conf.loadKey))
      .observe(observed, count(lit(1)).as("rows"), collect_set(bucketOf).as("buckets"))
      .localCheckpoint(true)
    new Batch(rows, conf, bucketOf, observed)
  }

  /** The SCD2 MERGE of `batch` into `tgtStored`
    * (Schemas.scd2TargetStored: payload + nk_bucket), returning ONLY the
    * new content of the buckets the batch's delta touches, with
    * `nk_bucket`. Written by dynamic partition overwrite ([[mergeInto]]),
    * per-batch write cost is O(touched buckets), not O(target) (VERDICT r1
    * #6): one bucket per device-day the batch changes; an all-'NC' batch
    * touches none. The marks are the FULL target's, one scalar subquery;
    * the join side and the close-out scan prune to the batch's and the
    * touched buckets (a 'U' row's current version shares its natural
    * key's bucket). */
  def applyScd2Partitioned(batch: Batch, tgtStored: DataFrame,
      now: Timestamp): DataFrame =
    merge(batch, tgtStored, marksOf(tgtStored), now)._1

  /** Merge `batch` into the stored target `targetName` (hive-partitioned
    * by [[nkBucket]] as `nk_bucket`) and return the versions it inserted,
    * the delta's rows as its job observed them. The one writer of that
    * layout, for `Pipeline` and `StreamingIngest.scd2Sink` alike: it
    * rewrites only the touched buckets, reading their old files lazily —
    * safe, because dynamic partition overwrite replaces partitions only at
    * job commit. The marks come from the target files' parquet footers
    * (`TableStore.maxFromFooters`), on the driver: no job scans the whole
    * target. A footer commits with its data, so after a crash the marks
    * are the committed target's. */
  def mergeInto(store: TableStore, targetName: String, batch: Batch,
      now: Timestamp): Long = {
    val (akCol, keyCol) = discoverAkKeyCols(Schemas.scd2Target.fieldNames.toSeq)
    val Seq(maxKey, maxAk) = store.maxFromFooters(targetName, Seq(keyCol, akCol))
    val (touched, _, inserted) = merge(batch,
      store.readOrEmpty(targetName, Schemas.scd2TargetStored), (lit(maxKey), lit(maxAk)), now)
    store.overwritePartitionsDynamic(targetName, touched, Seq("nk_bucket"))
    inserted
  }

  /** The one merge body, with the reference's column-set contract check
    * (Delta_detection_query_gen.py:308-330, SURVEY D8): the touched
    * buckets' new content, those buckets and the count of versions it
    * inserts, as the delta's job observed them. `marks` are the target's
    * (max KEY, max AK). */
  private def merge(batch: Batch, tgtStored: DataFrame, marks: (Column, Column),
      now: Timestamp): (DataFrame, Seq[Int], Long) = {
    val conf = batch.conf
    val nk = conf.naturalKeys
    val tgt = tgtStored.drop("nk_bucket")
    val bucketOf = nkBucket(nk, conf.targetBuckets, tgt.schema)
    require(batch.bucketOf == bucketOf,
      "the batch's natural keys must bucket as the target's: a key is a timestamp in one only")
    // Prune the delta-detect JOIN side to the buckets the batch's natural
    // keys hash into (equal keys hash to equal buckets, so no match is
    // lost; target-only rows classify NC, which nothing downstream
    // consumes). This turns the per-batch outer-join shuffle from
    // O(current target slice) into O(batch-touched bucket slice) — at
    // 100 TB the difference between scanning the table and scanning a
    // few buckets.
    val tgtPruned = tgtStored.filter(col("nk_bucket").isin(batch.buckets: _*))
      .drop("nk_bucket")
    // The delta keeps its I/U rows with a natural key (a null key matches
    // no version, Oracle `=`, and is never inserted); the staging-side
    // hash filter turns the full outer join into a left outer join. It is
    // numbered in natural-key order (the minted keys) and checkpointed:
    // the close-out takes its 'U' keys and the inserts project its rows.
    // Its buckets, observed on its job, prune the close-out's scan; its
    // rows are the versions inserted.
    val observed = Observation()
    val iu = deltaDetect(batch.rows, tgtPruned, conf, marks).filter(
      col("delta_hash").isNotNull && col("upsert_cd").isin("I", "U") &&
        nk.map(col(_).isNotNull).reduce(_ && _))
    val delta = withGaplessIndex(iu.orderBy(nk.map(col): _*), "__rn")
      .observe(observed, collect_set(bucketOf).as("buckets"), count(lit(1)).as("rows"))
      .localCheckpoint(true)
    val touched = observed.get("buckets").asInstanceOf[scala.collection.Seq[Int]].toSeq
    val tgtTouched = tgtStored
      .filter(col("nk_bucket").isin(touched: _*)).drop("nk_bucket")
    val closed = closeOut(tgtTouched, delta, now)
    val ins = insertRows(delta, batch.rows.columns.toSeq, tgt.columns.toSeq, conf, now)
    require(ins.columns.sorted.sameElements(tgt.columns.sorted),
      s"Columns returned by select query and columns in target table are not same: " +
        s"${ins.columns.sorted.mkString(",")} vs ${tgt.columns.sorted.mkString(",")}")
    (closed.unionByName(ins.select(tgt.columns.map(col).toSeq: _*))
      .withColumn("nk_bucket", bucketOf), touched, observed.get("rows").asInstanceOf[Long])
  }
}
