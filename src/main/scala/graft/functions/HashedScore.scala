package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for hashed-feature classifier scoring:
  * the MEAN of the md5-derived token weights of a document's
  * whitespace tokens, in ONE pass over the text bytes.
  *
  * Computes exactly what the declared Column fold
  * `aggregate(wsTokens(text), 0.0, (acc, t) => acc + tokenWeight(t, salt))
  *   / size(wsTokens(text))`
  * computes ([[graft.text.HashedClassifier.tokenWeight]]): per token,
  * weight = u32 / 2^31 - 1 where u32 is the first 8 md5 hex chars of
  * `token || salt` parsed base-16 — i.e. the digest's first 4 bytes as
  * a big-endian unsigned int, which this expression reads DIRECTLY from
  * the digest, skipping the hex render / substring / base-16 re-parse
  * the Column form pays per token. Accumulation is the same sequential
  * left fold in document token order, so the IEEE double sum (and the
  * score downstream) is bit-identical to the HOF form — pinned by
  * HashedClassifierSpec's parity test; the q92 oracle is unchanged.
  *
  * Why an expression and not the HOF: Catalyst does NOT codegen
  * higher-order-function lambdas — the fold ran interpreted, allocating
  * a UTF8String concat + hex md5 + substring + conv() per token, which
  * made q92 ~4.7x DuckDB at sf1 on a zero-shuffle scan (r12 verdict).
  * This expression is a codegen'd call into one tight loop: tokens are
  * byte slices fed straight into a thread-local MessageDigest, no
  * intermediate strings. Tokenization is maximal runs of non-whitespace
  * bytes (Java regex `\s` class, all single-byte in UTF-8 — the same
  * contract as [[RepetitionCounts]], agreeing with
  * `filter(split(text, "\\s+"), length(_) > 0)` by construction).
  *
  * Empty/blank text scores 0.0 (the fold's seed over an empty array);
  * null propagates. State is O(1) per row; zero shuffle at any scale.
  */
case class HashedScoreExpr(child: Expression, salt: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "hashed_score"

  private lazy val saltBytes: Array[Byte] =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def nullSafeEval(input: Any): Any =
    HashedScoreExpr.score(input.asInstanceOf[UTF8String], saltBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("saltBytes", saltBytes, "byte[]")
    val helper = HashedScoreExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.score($c, $saltRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedScoreExpr {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private val mdTl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The one-pass scoring loop. Public so generated code can call it. */
  def score(s: UTF8String, salt: Array[Byte]): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    val md = mdTl.get()
    var i = 0
    var count = 0
    var acc = 0.0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        md.reset()
        md.update(bytes, start, i - start)
        md.update(salt)
        val d = md.digest()
        // first 4 digest bytes, big-endian unsigned == base-16 parse of
        // the first 8 hex chars of the md5 string form
        val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        acc += u / 2147483648.0 - 1.0
        count += 1
      }
    }
    if (count == 0) 0.0 else acc / count
  }
}

object HashedScores {
  /** `hashed_score(text, salt)` as a Column. */
  def hashedScore(text: Column, salt: String): Column =
    column(HashedScoreExpr(expression(text), salt))
}
