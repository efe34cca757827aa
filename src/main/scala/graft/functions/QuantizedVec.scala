package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Symmetric int8 vector quantization for the ANN tier.
  *
  * At 100 TB the embedding column IS the scan: 64-dim float32 vectors
  * are 256 bytes/row, and a brute-force or IVF-probe pass is bound by
  * the bytes it moves, not the arithmetic. `int8_quantize` maps a
  * vector to `array<byte>` — scale `127 / max|x_i|` per vector (the
  * standard symmetric per-row scheme), elements `floor(x*scale + 0.5)`
  * — for a 4x cut in scan/cache/shuffle bytes, and `int8_cosine` scores
  * two quantized vectors with pure LONG accumulation, which makes the
  * score EXACTLY reproducible (integer products and sums have no
  * rounding at these magnitudes: |q| <= 127 so a 64-dim dot is < 2^21
  * — the oracle hash-compares, where a float dot would be
  * summation-order-dependent). The intended deployment materializes the
  * quantized column once per corpus snapshot (alongside or instead of
  * the float column, the q62 index pattern) and serves every probe from
  * it; cosine is scale-invariant, so per-vector scales need not be
  * stored for ranking.
  *
  * `floor(x + 0.5)`, not `round(x)`: java.lang.Math.round and SQL ROUND
  * disagree on half-cases and types across engines; `floor(+0.5)` is
  * one exactly-rounded add and one exact floor with a single definition
  * everywhere (ties go toward +inf). The max element maps to exactly
  * +127; `-max` maps to -127; a zero vector (scale undefined) maps to
  * all zeros. Quantization error vs float cosine is ~1/127 per element
  * (~0.01 absolute on unit-ish vectors) — the re-rank contract is the
  * usual ANN one: score candidates at int8, re-rank finalists at float
  * ([[CosineSimilarity]]).
  *
  * Both expressions are native codegen (the [[MinHashSig]] pattern:
  * the loop lives in a static helper the generated code calls, keeping
  * the scan stage inside whole-stage codegen with no HOF lambda
  * dispatch or intermediate boxing).
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      QuantizedVec.quantize(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.QuantizedVec.quantize($c));
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine of two `array<byte>` quantized vectors, LONG-accumulated dot
  * and norms, one double division at the end. Zero-norm inputs yield
  * 0.0; mismatched lengths score the common prefix (the
  * [[CosineSimilarity]] contract).
  */
case class Int8Cosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<byte> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "int8_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    QuantizedVec.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.QuantizedVec.cosine($a, $b);\n")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantizedVec {

  /** The quantize loop. Public so generated code can call it. */
  def quantize(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = Math.abs(arr.getFloat(i).toDouble)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (maxAbs > 0.0) {
      val scale = 127.0 / maxAbs
      i = 0
      while (i < n) {
        out(i) = Math.floor(arr.getFloat(i).toDouble * scale + 0.5).toByte
        i += 1
      }
    }
    out
  }

  /** Driver-side twin of [[quantize]] for literal query vectors —
    * identical arithmetic, so a collected query embedding quantizes to
    * the same bytes the scan side produces.
    */
  def quantizeFloats(xs: Array[Float]): Array[Byte] = {
    var maxAbs = 0.0
    xs.foreach(x => maxAbs = Math.max(maxAbs, Math.abs(x.toDouble)))
    val out = new Array[Byte](xs.length)
    if (maxAbs > 0.0) {
      val scale = 127.0 / maxAbs
      var i = 0
      while (i < xs.length) {
        out(i) = Math.floor(xs(i).toDouble * scale + 0.5).toByte
        i += 1
      }
    }
    out
  }

  /** The scoring loop. Public so generated code can call it. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = Math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (Math.sqrt(na.toDouble) * Math.sqrt(nb.toDouble))
  }

  def int8Quantize(v: Column): Column = column(Int8Quantize(expression(v)))

  def int8Cosine(a: Column, b: Column): Column =
    column(Int8Cosine(expression(a), expression(b)))
}
