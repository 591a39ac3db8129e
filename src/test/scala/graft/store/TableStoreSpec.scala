package graft.store

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(_.toString).toSeq

  test("compact merges small files, preserves rows, and stays atomic") {
    val store = new TableStore(spark, Files.createTempDirectory("graft-store").toString)
    // accrete 5 appends x 8 files of tiny data — the streaming-sink shape
    (0 until 5).foreach { i =>
      store.append("t", (0L until 200L).map(j => (i * 200L + j, s"v$j"))
        .toDF("k", "v").repartition(8))
    }
    assert(parquetFiles(store.path("t")).size >= 40)
    store.compact("t", targetBytes = 10L * 1024 * 1024)
    val after = parquetFiles(store.path("t"))
    assert(after.size <= 2, s"expected merged files, got ${after.size}")
    assert(store.read("t").count() === 1000)
    assert(!Files.exists(Paths.get(store.path("t.tmp"))))
    assert(!Files.exists(Paths.get(store.path("t.old"))))
  }

  test("partitioned read pushes the partition predicate to the listing") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark,
      Files.createTempDirectory("graft-part-spec").toString)
    store.appendPartitioned("d",
      Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "zh")).toDF("k", "lang"),
      Seq("lang"))
    val q = store.read("d").filter(col("lang") === "en")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("lang"), s"no partition pruning:\n$plan")
    // data filter must NOT appear as a row-level PushedFilter — the
    // directory listing already eliminated the other partitions
    assert(q.collect().map(_.getLong(0)).sorted === Array(1L, 3L))
    store.destroy()
  }

  test("compact keeps hive partitioning (pruning survives)") {
    val store = new TableStore(spark, Files.createTempDirectory("graft-store").toString)
    (0 until 3).foreach { _ =>
      store.appendPartitioned("p",
        (0L until 90L).map(j => (j, s"d${j % 3}")).toDF("k", "dev").repartition(6),
        Seq("dev"))
    }
    store.compact("p", targetBytes = 10L * 1024 * 1024, partitionCols = Seq("dev"))
    val dirs = Files.list(Paths.get(store.path("p"))).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dirs === Set("dev=d0", "dev=d1", "dev=d2"))
    assert(store.read("p").count() === 270)
    // each partition dir collapsed to a small number of files
    dirs.foreach { d =>
      assert(parquetFiles(s"${store.path("p")}/$d").size <= 3, d)
    }
  }

  test("clustered overwrite yields disjoint per-file key ranges (footer skipping)") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val store = new TableStore(spark, Files.createTempDirectory("graft-store").toString)
    // write shuffled keys — without clustering every file would span the
    // whole key range and no footer could ever exclude a file
    val shuffled = new scala.util.Random(7).shuffle((0L until 10000L).toVector)
    store.overwrite("c", shuffled.map(k => (k, s"v$k")).toDF("k", "v").repartition(8))
    store.overwriteClustered("c", store.read("c"), Seq("k"), numFiles = 8)
    val spans = store.read("c")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(spans.length >= 2, "expected multiple files")
    spans.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"overlapping file ranges: $hi vs $lo2")
    }
    assert(store.read("c").count() === 10000)
    assert(!Files.exists(Paths.get(store.path("c.tmp"))))
  }

  test("footer marks equal max() over the table's rows, skip staging leftovers, and are 0 when empty") {
    import org.apache.spark.sql.functions.{col, lit, max, when}
    val store = new TableStore(spark, Files.createTempDirectory("graft-store").toString)
    val cols = Seq("dht11_key", "dht11_ak")
    assert(store.maxFromFooters("absent", cols) === Seq(0L, 0L))
    // several buckets, several files each; the AK is null on some rows and
    // on every row of one bucket
    val rows = (1L to 300L).map(k => (k * 7 % 1009, k, (k % 5).toInt)).toDF("dht11_key", "ak", "nk_bucket")
      .withColumn("dht11_ak", when(col("nk_bucket") =!= 4 && col("ak") % 3 =!= 0, col("ak")))
      .drop("ak").repartition(3)
    store.overwritePartitionsDynamic("t", rows, Seq("nk_bucket"))
    val root = Paths.get(store.path("t"))
    assert(Files.list(root).iterator().asScala.count(_.getFileName.toString.startsWith("nk_bucket=")) == 5)
    // a dynamic overwrite's leftover staging directory, holding larger
    // keys, and marker files: Spark's reader lists none of them
    val staged = Files.createTempDirectory("graft-staged").resolve("t").toString
    rows.withColumn("dht11_key", col("dht11_key") + 100000L)
      .withColumn("dht11_ak", lit(100000L)).write.partitionBy("nk_bucket").parquet(staged)
    Files.move(Paths.get(staged), root.resolve(".spark-staging-0b1c"))
    Seq(root, root.resolve("nk_bucket=1"))
      .foreach(d => Files.writeString(d.resolve("_SUCCESS"), "not parquet"))
    val expected = store.read("t").agg(max("dht11_key"), max("dht11_ak")).first()
    assert(store.maxFromFooters("t", cols) === Seq(expected.getLong(0), expected.getLong(1)))
    assert(expected.getLong(0) < 100000L && expected.getLong(1) < 100000L)
    // an empty table: one Spark-written file with no row group
    store.overwrite("e", rows.limit(0))
    assert(parquetFiles(store.path("e")).nonEmpty)
    assert(store.maxFromFooters("e", cols) === Seq(0L, 0L))
  }
}
