package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.IncrementalAgg
import graft.store.TableStore

class MicroBatchSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("event_type")
  private val b0 = Seq(("click", 1.25), ("view", 2.50), ("click", 0.25))
  private val b1 = Seq(("click", 10.00), ("buy", 3.00))
  private def frame(rows: Seq[(String, Double)]): DataFrame =
    rows.toDF("event_type", "value")

  private def newStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("microbatch").toString)

  /** The rollup sink's counting fold of `batch`, counting its calls. */
  private var folds = 0
  private def rollup(batch: Seq[(String, Double)])(state: Option[DataFrame]): DataFrame = {
    folds += 1
    val inc = IncrementalAgg.buildState(frame(batch), keys, "value")
    state.fold(inc)(s => IncrementalAgg.mergeStates(Seq(s, inc), keys))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet

  private def expected(batches: Seq[(String, Double)]*)(stamp: Long): Set[Seq[Any]] =
    rows(IncrementalAgg.buildState(frame(batches.flatten), keys, "value")
      .withColumn("__folded_batch", lit(stamp)))

  test("the fold guard skips a replayed batch id: a counting state does not change") {
    val store = newStore()
    folds = 0
    MicroBatch.foldOnce(store, "st", 0L)(rollup(b0))
    val once = rows(store.read("st"))
    assert(once === expected(b0)(0L))
    // the replay of batch 0 (a restart from the same checkpoint) is skipped
    MicroBatch.foldOnce(store, "st", 0L)(rollup(b0))
    assert(rows(store.read("st")) === once)
    assert(folds === 1)
    // the next batch id folds, and its stamp replaces the old one
    MicroBatch.foldOnce(store, "st", 1L)(rollup(b1))
    assert(rows(store.read("st")) === expected(b0, b1)(1L))
    // a replay of an older batch id is skipped too
    MicroBatch.foldOnce(store, "st", 0L)(rollup(b0))
    assert(rows(store.read("st")) === expected(b0, b1)(1L))
    assert(folds === 2)
  }

  test("the fold guard adopts an unstamped non-empty table and merges into it") {
    val store = newStore()
    // a state table written by the batch path: no stamp column
    store.overwrite("st", IncrementalAgg.buildState(frame(b0), keys, "value"))
    assert(!store.read("st").columns.contains("__folded_batch"))
    folds = 0
    MicroBatch.foldOnce(store, "st", 0L)(rollup(b1))
    assert(folds === 1)
    assert(rows(store.read("st")) === expected(b0, b1)(0L))
  }

  test("the fold guard reads an empty stamped table as nothing folded") {
    val store = newStore()
    store.overwrite("st", IncrementalAgg.buildState(frame(Seq.empty), keys, "value")
      .withColumn("__folded_batch", lit(5L)))
    assert(store.read("st").isEmpty)
    MicroBatch.foldOnce(store, "st", 0L)(rollup(b0))
    assert(rows(store.read("st")) === expected(b0)(0L))
  }

  test("the batch-stamped emit appends non-empty output with its batch id, and nothing else") {
    val store = newStore()
    MicroBatch.emit(store, "out", 2L)(frame(Seq.empty))
    assert(!store.exists("out"))
    MicroBatch.emit(store, "out", 3L)(frame(b0))
    MicroBatch.emit(store, "out", 3L)(frame(b0)) // a retry re-emits under one stamp
    val out = store.read("out")
    assert(out.count() === 6)
    assert(out.select(col("__batch")).distinct().as[Long].collect().toSeq === Seq(3L))
    assert(out.dropDuplicates().count() === 3)
  }
}
