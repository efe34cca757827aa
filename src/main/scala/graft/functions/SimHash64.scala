package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(text)` → `bigint`: the 64-bit SimHash of a document's
  * whitespace tokens in ONE narrow map — tokenization, per-token
  * xxhash64, and the 64 per-bit majority votes fused into a single
  * per-row loop.
  *
  * SimHash is a pure function of the document text, so computing it via
  * `explode(wsTokens(...))` + `groupBy(id).agg(64 vote sums)` — the
  * previous formulation — pays a corpus-sized row expansion (one row per
  * token) and a full aggregate exchange for what a scan can produce for
  * free. At 100 TB this form shuffles NOTHING — fingerprints materialize
  * inside whole-stage codegen on top of the parquet scan.
  *
  * Values are bit-identical to the explode+agg form: same whitespace
  * tokenization (`split(trim(text), "\\s+")` — the Java regex `\s`
  * byte set, see [[StopwordCountsExpr]] for why byte-level scanning is
  * exact), same per-token `xxhash64` (seed 42 over the token's UTF-8
  * bytes, hashed in place), same vote rule (`bit j of the fingerprint is
  * set iff sum over tokens of (2*bit_j(hash) - 1) > 0`, repeated tokens
  * voting once per occurrence). A zero-token (empty/blank) document
  * returns NULL — the explode form dropped such docs entirely, so
  * callers filter nulls to keep the exact same row set. Null text
  * propagates null.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullable: Boolean = true // zero-token text -> null

  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.SimHash64.fingerprint($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $boxed).longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The fused loop. Public so generated code can call it; returns a
    * boxed Long (null when the text has no tokens).
    */
  def fingerprint(s: UTF8String): java.lang.Long = {
    val bytes = s.getBytes
    val n = bytes.length
    val votes = new Array[Int](64)
    var tokens = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        tokens += 1
        val h = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
        var j = 0
        while (j < 64) {
          // +1 vote when bit j is set, -1 when clear
          votes(j) += (((h >>> j) & 1L).toInt * 2) - 1
          j += 1
        }
      }
    }
    if (tokens == 0) null
    else {
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (votes(j) > 0) fp |= 1L << j
        j += 1
      }
      java.lang.Long.valueOf(fp)
    }
  }

  /** `simhash64(text)` as a Column. */
  def simhash64(text: Column): Column = column(SimHash64(expression(text)))
}
