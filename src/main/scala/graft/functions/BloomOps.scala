package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.NullType
import org.apache.spark.util.sketch.BloomFilter

/** Column wrappers over Spark's native Bloom-filter machinery — the same
  * `BloomFilterAggregate`/`BloomFilterMightContain` pair Catalyst injects
  * for runtime row-level join filters, exposed as a first-class sketch.
  * Both sides are codegen'd; the aggregate is a mergeable
  * TypedImperativeAggregate (map-side partials, one small merged buffer).
  */
object BloomOps {

  /** Optimal bit count for `n` expected items at false-positive rate `p`
    * (the standard m = -n·ln p / ln²2). */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"need items > 0 and 0 < fpp < 1, got $expectedItems / $fpp")
    math.ceil(-expectedItems * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
  }

  /** Aggregate a LONG hash column into a serialized Bloom filter
    * (BINARY). Null hashes are skipped by the aggregate; zero input rows
    * yield a null buffer — callers must treat null as "empty filter".
    *
    * BloomFilterAggregate SILENTLY clamps its sizing to the session's
    * runtime-filter confs (maxNumItems = 4·10⁶, maxNumBits = 64 Mbit by
    * default) — at clamped sizing a large filter saturates and
    * mightContain answers true for nearly everything. The confs are
    * raised here to the requested sizing so the caller's fpp contract
    * actually holds. */
  def bloomAgg(hashes: Column, expectedItems: Long, numBits: Long): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    def raise(key: String, v: Long): Unit =
      if (spark.conf.get(key).toLong < v) spark.conf.set(key, v.toString)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expectedItems)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits)
    ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(hashes),
      ColumnBridge.expression(lit(expectedItems)),
      ColumnBridge.expression(lit(numBits))).toAggregateExpression())
  }

  /** Membership probe of a LONG hash against a serialized filter; the
    * filter side must be foldable (a literal), which also means it ships
    * to executors once inside the task binary, not per row. */
  def mightContain(bloom: Column, hash: Column): Column =
    ColumnBridge.column(MightContainLong(
      ColumnBridge.expression(bloom), ColumnBridge.expression(hash)))
}

/** Spark's `might_contain(bloom, hash)` ([[BloomFilterMightContain]]: same
  * input checks — the filter must be foldable or an uncorrelated scalar
  * subquery — and the same answers), with generated code that passes the
  * hash as a primitive long. Spark's own generated code casts it,
  * `mightContainLong((Long)<value>)`; when the hash folds to a negative
  * literal, Janino reads `(Long)-5L` as a subtraction, the class does not
  * compile, and the whole stage falls back to the interpreter. */
case class MightContainLong(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {

  @transient private lazy val builtin = BloomFilterMightContain(left, right)
  @transient private lazy val bloomFilter: BloomFilter = left.eval() match {
    case bytes: Array[Byte] => builtin.deserialize(bytes)
    case _ => null
  }

  override def checkInputDataTypes(): TypeCheckResult = builtin.checkInputDataTypes()
  override def nullable: Boolean = true
  override def prettyName: String = "might_contain"
  override def eval(input: InternalRow): Any = builtin.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (bloomFilter == null || right.dataType == NullType)
      ev.copy(isNull = TrueLiteral, value = FalseLiteral)
    else {
      val bf = ctx.addReferenceObj("bloomFilter", bloomFilter, classOf[BloomFilter].getName)
      val hash = right.genCode(ctx)
      ev.copy(code = code"""
        ${hash.code}
        boolean ${ev.isNull} = ${hash.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = $bf.mightContainLong(${hash.value});
        }""")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MightContainLong =
    copy(left = newLeft, right = newRight)
}
