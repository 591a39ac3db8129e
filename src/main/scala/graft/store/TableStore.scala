package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.spark.sql.{DataFrame, Encoder, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Parquet-directory table store with atomic overwrite via
  * write-to-temp-then-swap (SURVEY §7.5 #1: no table format ships in
  * /opt/spark/jars, so SCD2 rewrites need their own atomicity).
  *
  * The swap is a local-filesystem rename; on a real cluster the same
  * pattern runs against a transactional table format or a
  * rename-is-atomic store — the engine code above this layer only sees
  * read/overwrite/append.
  */
class TableStore(spark: SparkSession, baseDir: String) {
  Files.createDirectories(Paths.get(baseDir))

  def path(name: String): String = s"$baseDir/$name"
  def exists(name: String): Boolean = Files.exists(Paths.get(path(name)))

  def read(name: String): DataFrame = spark.read.parquet(path(name))

  def readOrEmpty(name: String, schema: StructType): DataFrame =
    if (exists(name)) spark.read.schema(schema).parquet(path(name))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Atomic overwrite: materialize to `<name>.tmp`, then swap dirs.
    * Readers either see the old or the new table, never a partial one. */
  def overwrite(name: String, df: DataFrame): Unit =
    swapIn(name)(tmp => df.write.mode(SaveMode.Overwrite).parquet(tmp.toString))

  /** A metadata-scale table's rows, read with the encoder's schema (no
    * inference job): one Spark job, none when the table is absent. */
  def rows[T](name: String)(implicit enc: Encoder[T]): Seq[T] =
    if (!exists(name)) Nil
    else spark.read.schema(enc.schema).parquet(path(name)).as[T].collect().toSeq

  /** Atomic overwrite of a metadata-scale table with driver-side rows: one
    * parquet file written on the driver by parquet-hadoop (no Spark job),
    * published by the same temp-then-swap as [[overwrite]]. Columns are
    * strings, longs or timestamps (INT64 microseconds, UTC-adjusted). The
    * writer gets a plain parquet configuration: a Hadoop `Configuration`
    * re-parses its XML defaults on every write, which took a 40-row write
    * from ~2 ms to ~20 ms on a 4-vCPU host. */
  def overwriteRows(name: String, schema: StructType, rows: Seq[Row]): Unit =
    swapIn(name) { tmp =>
      val (types, setters) = schema.fields.toSeq.map(parquetColumn).unzip
      val message = new MessageType("spark_schema", types: _*)
      val groups = new SimpleGroupFactory(message)
      Files.createDirectories(tmp)
      val writer = ExampleParquetWriter.builder(new LocalOutputFile(
        tmp.resolve(s"part-00000-${UUID.randomUUID}.parquet"))).withType(message)
        .withConf(new PlainParquetConfiguration).build()
      try rows.foreach { r =>
        val g = groups.newGroup()
        setters.indices.filterNot(r.isNullAt).foreach(i => setters(i)(g, i, r))
        writer.write(g)
      } finally writer.close()
    }

  /** The largest value of each of the integer columns `cols` over table
    * `name`'s data files, 0 when none holds one (an absent or empty table),
    * read on the driver from the parquet footers' column statistics:
    * O(files), no Spark job and no data page read. Files are listed as
    * Spark's reader lists them: a path component starting with `.` or `_`
    * (a `.spark-staging-*` directory, `_SUCCESS`) is skipped. A footer
    * commits with its file, so the figure is the committed table's. A
    * column chunk that holds non-null values but no statistics fails the
    * read, rather than return a low figure. */
  def maxFromFooters(name: String, cols: Seq[String]): Seq[Long] = {
    val root = Paths.get(path(name))
    if (!Files.exists(root)) return cols.map(_ => 0L)
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        root.relativize(p).iterator().asScala.forall { c =>
          val n = c.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toList
      finally walk.close()
    val maxima = files.flatMap { f =>
      val reader = ParquetFileReader.open(new LocalInputFile(f),
        ParquetReadOptions.builder(new PlainParquetConfiguration).build())
      try reader.getRowGroups.asScala.flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toDotString)).flatMap { chunk =>
          import scala.language.existentials // Statistics[T <: Comparable[T]]
          val stats = chunk.getStatistics
          val column = chunk.getPath.toDotString
          if (stats != null && stats.hasNonNullValue)
            Some(column -> stats.genericGetMax.asInstanceOf[Number].longValue)
          else if (stats != null && stats.isNumNullsSet && stats.getNumNulls == chunk.getValueCount)
            None
          else throw new IllegalStateException(
            s"$f: no footer statistics for column $column, so its maximum is unknown")
        }.toList
      finally reader.close()
    }.groupMapReduce(_._1)(_._2)(math.max)
    cols.map(maxima.getOrElse(_, 0L))
  }

  /** A column's parquet type and how to add a row's non-null value to a
    * record; the types are the ones Spark writes and reads back. */
  private def parquetColumn(f: StructField): (Type, (Group, Int, Row) => Unit) = {
    val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    f.dataType match {
      case StringType => (Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
        .named(f.name), (g, i, r) => g.add(i, r.getString(i)))
      case LongType => (Types.primitive(INT64, rep).named(f.name),
        (g, i, r) => g.add(i, r.getLong(i)))
      case TimestampType => (Types.primitive(INT64, rep).as(LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name),
        (g, i, r) => g.add(i, DateTimeUtils.fromJavaTimestamp(r.getTimestamp(i))))
      case t => throw new IllegalArgumentException(s"overwriteRows: unsupported type $t")
    }
  }

  def append(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path(name))

  /** Staged append: materialize the increment fully in `<name>.stage`,
    * then move the finished part-files into the live directory (parquet
    * part names carry a write-UUID, so moves never collide). A failure
    * while WRITING leaves only stage garbage (cleaned on the next call);
    * a failure mid-MOVE leaves a prefix of complete files — callers that
    * co-locate each logical key's rows in one file (repartition by key
    * before calling) therefore never expose a torn key, which a plain
    * [[append]] cannot promise (ADVICE r4: a mid-append crash persisted
    * some of an id's rows and the retry's anti-join then skipped the id
    * forever). Reads planned against the live dir also keep a stable
    * file listing while the stage materializes. */
  def appendStaged(name: String, df: DataFrame): Unit = {
    val stage = Paths.get(path(s"$name.stage"))
    deleteRecursively(stage)
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val live = Paths.get(path(name))
    Files.createDirectories(live)
    Files.list(stage).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .forEach(p => Files.move(p, live.resolve(p.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE))
    deleteRecursively(stage)
  }

  /** Append into a hive-partitioned layout (`col=value` subdirs). Reads
    * through [[read]] recover the partition column; scans filtered on it
    * prune whole directories. */
  def appendPartitioned(name: String, df: DataFrame, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path(name))

  /** Dynamic partition overwrite: replaces ONLY the partitions present in
    * `df`, leaving every other partition's files untouched on disk — the
    * scale path for partition-scoped rewrites (SCD2 touched-bucket MERGE).
    * Spark stages each partition's output and commits per partition, so
    * readers never see a half-written partition. */
  def overwritePartitionsDynamic(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path(name))

  /** Small-file compaction: rewrite the table into ~`targetBytes` output
    * files (computed from the current on-disk size — a directory listing,
    * not a data scan). Streaming sinks and partition-scoped SCD2 rewrites
    * accrete small files; at 100 TB unmerged small files dominate task
    * scheduling and NameNode/listing cost, so periodic compaction is part
    * of the table lifecycle. Atomic via the same temp-then-swap as
    * [[overwrite]]. Hive-partitioned layouts keep their partition column
    * (repartitioned WITHIN each partition value so pruning survives). */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Seq.empty): Unit = {
    if (!exists(name)) return
    val size = Files.walk(Paths.get(path(name))).mapToLong(p =>
      if (Files.isRegularFile(p)) Files.size(p) else 0L).sum()
    val nFiles = math.max(1, math.ceil(size.toDouble / targetBytes).toInt)
    val df = read(name)
    swapIn(name) { tmp =>
      if (partitionCols.isEmpty)
        df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      else
        df.repartition(nFiles, partitionCols.map(df.col): _*)
          .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
          .parquet(tmp.toString)
    }
  }

  /** Range-clustered rewrite: range-partition on `clusterCols` and sort
    * within partitions before writing, so each parquet file's footer
    * min/max for those columns covers a narrow, mostly-disjoint slice.
    * Point/range scans then skip whole files on footer stats alone — the
    * poor engine's Z-ORDER, and at 100 TB the difference between reading
    * one file and reading the table when the predicate is on the cluster
    * key. `repartitionByRange` samples the key distribution, so skewed
    * keys still yield balanced files. Same atomic tmp-then-swap as
    * [[overwrite]]. */
  def overwriteClustered(name: String, df: DataFrame,
      clusterCols: Seq[String], numFiles: Int = 0): Unit = {
    require(clusterCols.nonEmpty, "need at least one cluster column")
    val cols = clusterCols.map(df.col)
    val ranged =
      (if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
       else df.repartitionByRange(cols: _*))
        .sortWithinPartitions(cols: _*)
    overwrite(name, ranged)
  }

  /** Z-order clustered rewrite: range-partition + sort on the Morton
    * interleave of `zCols` ([[graft.functions.ZOrder]]), so parquet
    * footer min/max stays tight in EVERY z dimension — a box predicate
    * on any subset of `zCols` prunes most files, where
    * [[overwriteClustered]]'s lexicographic layout prunes only on its
    * leading column. The z column is computed, used for layout, and
    * dropped — the stored schema is unchanged, which is also why reads
    * need no decoder: z-order is a LAYOUT, not a format. */
  def overwriteZOrdered(name: String, df: DataFrame,
      zCols: Seq[String], numFiles: Int = 0, bits: Int = 16): Unit = {
    val z = graft.functions.ZOrder.zValue(df, zCols, bits)
    val withZ = df.withColumn("__z", z)
    val ranged =
      (if (numFiles > 0) withZ.repartitionByRange(numFiles, col("__z"))
       else withZ.repartitionByRange(col("__z")))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    overwrite(name, ranged)
  }

  /** Drop one table (and its swap leftovers). No-op if absent. */
  def drop(name: String): Unit =
    Seq(name, s"$name.tmp", s"$name.old")
      .foreach(n => deleteRecursively(Paths.get(path(n))))

  /** Remove the whole store from disk — for temp stores whose results
    * have been materialized (e.g. layout demos). Callers must not read
    * through this store afterwards. */
  def destroy(): Unit = deleteRecursively(Paths.get(baseDir))

  /** Temp-then-swap: `write` fills `<name>.tmp`, which then replaces the
    * live directory by two atomic renames. A failed write leaves the live
    * table untouched and only temp garbage, cleaned on the next call. */
  private def swapIn(name: String)(write: Path => Unit): Unit = {
    val tmp = Paths.get(path(s"$name.tmp"))
    deleteRecursively(tmp)
    write(tmp)
    val live = Paths.get(path(name))
    val old = Paths.get(path(s"$name.old"))
    deleteRecursively(old)
    if (Files.exists(live)) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  private def deleteRecursively(p: Path): Unit =
    FsUtils.deleteRecursively(p)
}
