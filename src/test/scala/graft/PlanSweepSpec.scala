package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The PlanSweep smell detector itself (ADVICE r15: the old string grep
  * for "PartitionSpec: []" could never fire — Spark never prints that
  * label — so the detector now matches physical-plan nodes; these tests
  * pin that each smell actually fires on a plan that has it and stays
  * quiet on one that doesn't). */
class PlanSweepSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1L to 64L).map(i => (i, i % 4, s"v$i"))
    .toDF("id", "k", "v")

  test("empty-partition Window flags; partitioned Window does not") {
    val funnel = df.withColumn("rn", row_number().over(Window.orderBy($"id")))
    assert(PlanSweep.smellsOf(funnel).globalWindows === 1)
    val fine = df.withColumn("rn",
      row_number().over(Window.partitionBy($"k").orderBy($"id")))
    assert(PlanSweep.smellsOf(fine).globalWindows === 0)
  }

  test("global sort without a limit flags; sort+limit (top-k) does not") {
    val s = PlanSweep.smellsOf(df.orderBy($"id".desc))
    assert(s.unlimitedSorts === 1)
    // orderBy+limit plans TakeOrderedAndProject (or Sort under a
    // GlobalLimit) — either way not an unlimited global sort
    assert(PlanSweep.smellsOf(df.orderBy($"id".desc).limit(5))
      .unlimitedSorts === 0)
    // sortWithinPartitions is local, never flagged
    assert(PlanSweep.smellsOf(df.sortWithinPartitions($"id"))
      .unlimitedSorts === 0)
  }

  test("cartesian product flags; broadcast-nested-loop cross does not") {
    val other = (1L to 8L).toDF("j")
    val bnl = df.crossJoin(broadcast(other))
    assert(PlanSweep.smellsOf(bnl).cartesian === 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cart = df.crossJoin(other)
      assert(PlanSweep.smellsOf(cart).cartesian === 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a registry query with a legit pipeline stays smell-free") {
    val d = SparkEntry.queries("q_j2_inner")(spark, sf())
    val s = PlanSweep.smellsOf(d)
    assert(s.cartesian === 0)
    assert(s.globalWindows === 0)
  }

  test("trigram_positions counter equals the volume trigramTypicality explodes") {
    // the counter prices q_eval_rankcorr/q_text_typicality's gate limit;
    // it must track the actual exploded row count, not an approximation
    val n = SparkEntry.pairCounters("trigram_positions")(spark, sf())
    val exploded = spark.read.parquet(sf() + "/documents.parquet")
      .filter(length(col("text")) >= 3)
      .select(explode(sequence(lit(1), length(col("text")) - 2)))
      .count()
    assert(n === exploded)
  }
}
