package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.functions.CosineSimilarity

/** Custom Catalyst optimizer surface.
  *
  * Per SURVEY.md §4, reference parity needs zero custom rules — Catalyst
  * subsumes every manual optimization the reference performs. This package
  * holds the extension-tier rewrites. [[FoldSelfCosine]] is the first:
  * `cosine_sim(x, x)` is 1.0 for any non-degenerate vector, but a blind
  * constant fold would be wrong — null stays null and an all-zero vector
  * scores 0.0 — so the rewrite targets [[SelfCosine]], which evaluates a
  * single norm sum instead of three accumulator sums. Injected via
  * `graft.functions.GraftExtensions` (spark.sql.extensions) or
  * `graft.functions.GraftFunctions.register(spark)` on a live session.
  */
case class SelfCosine(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "self_cosine"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var i = 0
    var zero = true
    while (zero && i < x.numElements()) {
      if (x.getFloat(i) != 0.0f) zero = false
      i += 1
    }
    if (zero) 0.0 else 1.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.plans.SelfCosine$$.MODULE$$.evalArray($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SelfCosine {
  /** Codegen entry point (static call from generated Java). */
  def evalArray(x: ArrayData): Double = {
    var i = 0
    while (i < x.numElements()) {
      if (x.getFloat(i) != 0.0f) return 1.0
      i += 1
    }
    0.0
  }
}

/** `cosine_sim(x, x)` → `self_cosine(x)` for deterministic x. */
object FoldSelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.deterministic && a.semanticEquals(b) =>
        SelfCosine(a)
    }
}
