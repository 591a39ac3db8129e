package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions evaluate through spark.sql") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(dot === 32.0)
    val sh = spark.sql(
      "SELECT graft_simhash32(array(CAST(5 AS BIGINT), CAST(5 AS BIGINT))) AS f")
      .collect()(0).getLong(0)
    assert(sh === 5L) // unanimous votes reproduce the single hash's bits
    // null propagation matches the higher-order-function forms
    assert(spark.sql("SELECT graft_dot(NULL, array(1.0D)) AS d").collect()(0).isNullAt(0))
    // bloom probe: build a filter over xxhash64 values, probe through SQL
    val bloom = {
      import org.apache.spark.sql.functions._
      spark.range(100)
        .select(xxhash64(col("id").cast("string")).as("h"))
        .agg(BloomOps.bloomAgg(col("h"), 100L, BloomOps.optimalNumBits(100L, 0.01)))
        .head().getAs[Array[Byte]](0)
    }
    spark.createDataFrame(Seq(Tuple1(bloom))).toDF("bf").createOrReplaceTempView("bf_v")
    def probe(hash: String): Boolean = spark.sql(
      s"SELECT graft_might_contain((SELECT bf FROM bf_v), $hash) AS m")
      .collect()(0).getBoolean(0)
    // both hashes fold to a negative long literal in the probe's generated
    // code (xxhash64('7') is negative); with the interpreter fallback off,
    // code that does not compile throws instead of running interpreted
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(probe("xxhash64(CAST(7 AS STRING))"))
      assert(probe("CAST(-5 AS BIGINT)") ==
        org.apache.spark.util.sketch.BloomFilter.readFrom(bloom).mightContainLong(-5L))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("integer kernels null out on mismatched lengths; double dot prefix-truncates") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      // sign-LSH contract: embeddings dot against longer fixed-dim
      // hyperplane literals, so the double kernel truncates to the prefix
      ArrayOps.dotProduct(
        array(lit(2.0)), array(lit(3.0), lit(9.0))).as("dp"),
      // malformed mixed-dimension codes must surface as null, not as a
      // silent partial distance (ADVICE r4)
      ArrayOps.dotProductLong(
        array(lit(1L), lit(2L)), array(lit(3L))).as("dpl"),
      ArrayOps.squaredDistanceLong(
        array(lit(1L), lit(2L)), array(lit(3L))).as("sdl"),
      // the higher-order twin of the truncating form
      aggregate(zip_with(array(lit(2.0)), slice(array(lit(3.0), lit(9.0)), 1, 1),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("ho"))
    val r = df.collect()(0)
    assert(r.getDouble(0) === 6.0)
    assert(r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) === 6.0)
  }

  test("two instances of one kernel codegen in a single projection (freshName regression)") {
    import org.apache.spark.sql.functions._
    // r5 regression: fixed Java local names made janino reject any stage
    // containing the same kernel twice, silently dropping to interpreted
    val df = spark.range(3).select(
      ArrayOps.dotProductLong(array(lit(1L), col("id")), array(lit(2L), lit(3L))).as("a"),
      ArrayOps.dotProductLong(array(col("id"), lit(1L)), array(lit(5L), lit(7L))).as("b"),
      ArrayOps.squaredDistanceLong(array(col("id")), array(lit(1L))).as("c"),
      ArrayOps.squaredDistanceLong(array(col("id")), array(lit(2L))).as("d"),
      ArrayOps.dotProduct(array(lit(1.0)), array(lit(2.0))).as("e"),
      ArrayOps.dotProduct(array(lit(3.0)), array(lit(4.0))).as("f"),
      ArrayOps.simhash32(array(lit(5L))).as("g"),
      ArrayOps.simhash32(array(lit(6L))).as("h"))
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 5L, 8L))
    assert(rows.map(_.getLong(1)).toSeq === Seq(7L, 12L, 17L))
    assert(rows(1).getDouble(4) === 2.0 && rows(1).getDouble(5) === 12.0)
    // and the generated code actually compiles: force codegen-only eval
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      assert(df.collect().length === 3)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("the extensions class injects every function without error") {
    // the spark.sql.extensions entry point (applied at session build)
    new GraftExtensions().apply(new SparkSessionExtensions)
  }
}
