package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Counter, QuerySpec}

/** The query registry: one [[QuerySpec]] per query, built once by
  * [[SparkEntry.registry]], with the name-keyed maps derived from it. */
class RegistrySpec extends AnyFunSuite {

  private def spec(name: String, counter: Option[Counter] = None) =
    QuerySpec(name, (s, _) => s.range(1).select(lit(1)), "SELECT 1",
      counter = counter)

  test("a name registered twice fails when the registry is built") {
    val e = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(spec("q_a"), spec("q_b"), spec("q_a")))
    }
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
  }

  test("two different counters under one name fail; one shared counter does not") {
    val c1 = Counter("pairs", (_, _) => 1L)
    val c2 = Counter("pairs", (_, _) => 2L)
    assert(QuerySpec.registry(Seq(spec("q_a", Some(c1)), spec("q_b", Some(c1))))
      .size === 2)
    intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(spec("q_a", Some(c1)), spec("q_b", Some(c2))))
    }
  }

  test("the derived views keep the registry's keys") {
    assert(SparkEntry.registry.size === 319)
    assert(SparkEntry.queries.size === 319)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.benchSetup.size === 5)
    assert(SparkEntry.pairBounded.size === 25)
    assert(SparkEntry.pairCounters.keySet === Set("minhash_pairs_05",
      "distinct_words", "hll_value_cardinality", "trigram_positions"))
    assert(SparkEntry.pairBounded.values.toSet === SparkEntry.pairCounters.keySet)
    assert(SparkEntry.registry.count(_.planOk.nonEmpty) === 8)
  }
}
