package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression: fraction of equal positions between two
  * `array<long>` MinHash signatures — the estimated-Jaccard verify step
  * after LSH banding.
  *
  * Matches the composable formulation exactly:
  * `size(filter(zip_with(sig1, sig2, (x,y) => x === y), x => x)) /
  * size(sig1)` — equal positions are counted over the common prefix
  * (zip_with pads the shorter side with null, null === x is null, and
  * filter drops nulls), a null element on either side never counts as
  * equal, and an empty left signature yields NULL (0/0 division).
  * Versus that formulation: no intermediate boolean-array allocation, no
  * two lambda dispatches per pair, and it stays inside whole-stage
  * codegen — the verify tier evaluates this once per candidate pair,
  * which at 100 TB is billions of evaluations.
  */
case class SigOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // empty left signature -> null

  override def prettyName: String = "sig_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n1 = x.numElements()
    if (n1 == 0) null
    else {
      val m = math.min(n1, y.numElements())
      var eq = 0
      var i = 0
      while (i < m) {
        if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
          eq += 1
        i += 1
      }
      eq.toDouble / n1
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n1 = ctx.freshName("n1")
      val m = ctx.freshName("m")
      val eq = ctx.freshName("eq")
      val i = ctx.freshName("i")
      s"""
         |int $n1 = $a.numElements();
         |if ($n1 == 0) { ${ev.isNull} = true; } else {
         |  int $m = java.lang.Math.min($n1, $b.numElements());
         |  int $eq = 0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)
         |        && $a.getLong($i) == $b.getLong($i)) $eq++;
         |  }
         |  ${ev.value} = (double) $eq / $n1;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SigOverlap {
  /** `sig_overlap(a, b)` as a Column, built directly (no session
    * registry involved).
    */
  def sigOverlap(a: Column, b: Column): Column =
    column(SigOverlap(expression(a), expression(b)))
}
