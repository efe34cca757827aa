package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** One-pass sign-random-projection LSH bucketing (static helper shared by
  * interpreted eval and generated code, same pattern as [[NgramHasher]]).
  *
  * The composable formulation — per plane, `aggregate(zip_with(vec,
  * sequence(...), (v, j) => v * weight))` — pays a higher-order-function
  * lambda dispatch and array allocation per element PER PLANE: nPlanes ×
  * len closures per row. This walks the vector once per plane in a fused
  * loop with zero allocation.
  *
  * Bucket values are IDENTICAL to the composable form
  * (`hyperplaneBucketComposable` in LshBucketSpec, which pins the
  * equality over random vectors): the plane weight re-derives the
  * same xxhash64 chain Spark's `xxhash64(lit(seed), lit(p), j)` computes
  * — fold over children starting from the default seed 42, LongType seed
  * hashed as long, IntegerType plane/component hashed as int — then the
  * same `(pmod(h, 2000001) - 1000000) / 1000000.0` uniform in [-1, 1],
  * double-accumulated in component order.
  */
object LshBucketer {
  /** xxhash64(lit(seed: Long), lit(p: Int), lit(j: Int)) as Spark folds it. */
  private def weightHash(seed: Long, p: Int, j: Int): Long =
    XXH64.hashInt(j, XXH64.hashInt(p, XXH64.hashLong(seed, 42L)))

  def bucket(vec: ArrayData, nPlanes: Int, seed: Long): Long = {
    val n = vec.numElements()
    var result = 0L
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val h = weightHash(seed, p, j)
        val pm = ((h % 2000001L) + 2000001L) % 2000001L
        acc += vec.getFloat(j).toDouble * ((pm - 1000000L) / 1000000.0)
        j += 1
      }
      if (acc > 0) result |= 1L << p
      p += 1
    }
    result
  }
}

/** `lsh_bucket(vec, nPlanes, seed)` → `long`: see [[LshBucketer]]. */
case class LshBucket(child: Expression, nPlanes: Int, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "lsh_bucket"

  override def nullSafeEval(input: Any): Any =
    LshBucketer.bucket(input.asInstanceOf[ArrayData], nPlanes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshBucketer.bucket($c, $nPlanes, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBuckets {
  /** `lsh_bucket(vec, nPlanes, seed)` as a Column. */
  def lshBucket(vec: Column, nPlanes: Int, seed: Long): Column =
    column(LshBucket(expression(vec), nPlanes, seed))
}
