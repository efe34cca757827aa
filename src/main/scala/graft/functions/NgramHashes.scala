package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass character n-gram hashing (static helper so both interpreted
  * eval and generated code call the same JIT-compiled loop).
  *
  * The composable formulation — `explode(sequence(...))` +
  * `xxhash64(substring(text, i, n))` — re-seeks the UTF-8 char boundary
  * from the START of the string for every position (substring is
  * O(position) on UTF-8 bytes), making the whole stage O(len²) per
  * document, and allocates one UTF8String per shingle. This walks the
  * char-boundary offsets once and hashes each n-char byte span in place:
  * O(len), zero per-shingle allocation.
  *
  * Hash values are IDENTICAL to `pmod(xxhash64(substring(text, i, n)),
  * mod)`: xxhash64 on a string hashes exactly the substring's UTF-8 byte
  * span with seed 42, which is what [[hashAll]] hashes in place.
  */
object NgramHasher {
  /** All n-gram hashes of `s` (one per char position; a single hash of
    * the whole string when it is shorter than `n`), each reduced into
    * `[0, mod)`. Mirrors `shingleStarts`: `max(numChars - n + 1, 1)`
    * shingles.
    */
  def hashAll(s: UTF8String, n: Int, mod: Long): Array[Long] = {
    val bytes = s.getBytes // one copy per row, not per shingle
    val numBytes = bytes.length
    // char-start byte offsets (+ sentinel end)
    var chars = 0
    var i = 0
    val offs = new Array[Int](numBytes + 1)
    while (i < numBytes) {
      offs(chars) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      chars += 1
    }
    offs(chars) = numBytes
    val count = math.max(chars - n + 1, 1)
    val out = new Array[Long](count)
    var j = 0
    while (j < count) {
      val start = offs(j)
      val end = offs(math.min(j + n, chars))
      val h = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + start, end - start, 42L)
      out(j) = ((h % mod) + mod) % mod
      j += 1
    }
    out
  }
}

object NgramHasher2 { // (kept separate so NgramHasher's doc stays focused)
  /** `true` iff ANY n-gram hash of `s` might be in `filter` — the
    * fused tier-1 decontamination probe: identical decision to
    * `bloom_any(filter, ngram_hashes(text, n, mod))`, but no per-span
    * array is ever materialized. The composed form boxed one
    * java.lang.Long PER CHARACTER of the corpus (GenericArrayData over
    * a primitive array) just to unbox it again in the probe loop — at
    * corpus scale the boxing, not the hashing, dominated the scan.
    */
  def anyInBloom(s: UTF8String, n: Int, mod: Long,
                 filter: org.apache.spark.util.sketch.BloomFilter): Boolean = {
    val bytes = s.getBytes
    val numBytes = bytes.length
    var chars = 0
    var i = 0
    val offs = new Array[Int](numBytes + 1)
    while (i < numBytes) {
      offs(chars) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      chars += 1
    }
    offs(chars) = numBytes
    val count = math.max(chars - n + 1, 1)
    var j = 0
    while (j < count) {
      val start = offs(j)
      val end = offs(math.min(j + n, chars))
      val h = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + start, end - start, 42L)
      if (filter.mightContainLong(((h % mod) + mod) % mod)) return true
      j += 1
    }
    false
  }
}

/** `ngram_bloom_any(filter, text, n, mod)` → boolean: the fused
  * decision `bloom_any(filter, ngram_hashes(text, n, mod))` with zero
  * per-row allocation — see [[NgramHasher2.anyInBloom]]. Same filter
  * contract as [[BloomAny]] (foldable binary, deserialized once per
  * task); null text propagates null.
  */
case class NgramBloomAny(bloom: Expression, text: Expression,
                         n: Int, mod: Long)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = bloom
  override def right: Expression = text

  override def checkInputDataTypes(): TypeCheckResult =
    if (!bloom.foldable)
      TypeCheckResult.TypeCheckFailure(
        "ngram_bloom_any requires a foldable (driver-held) filter argument")
    else (bloom.dataType, text.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (b, t) => TypeCheckResult.TypeCheckFailure(
        s"ngram_bloom_any requires (binary, string), got " +
          s"${b.simpleString}, ${t.simpleString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "ngram_bloom_any"

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = bloom.eval().asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Public so generated code calls the same loop as interpreted eval. */
  def probe(s: UTF8String): Boolean =
    NgramHasher2.anyInBloom(s, n, mod, filter)

  override def nullSafeEval(bf: Any, t: Any): Any =
    if (filter == null) null else probe(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramBloomAnyExpr", this,
      classOf[NgramBloomAny].getName)
    nullSafeCodeGen(ctx, ev, (_, t) => s"${ev.value} = $ref.probe($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(bloom = newLeft, text = newRight)
}

/** `ngram_hashes(text, n, mod)` → `array<long>`: see [[NgramHasher]]. */
case class NgramHashes(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      NgramHasher.hashAll(input.asInstanceOf[UTF8String], n, mod))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.NgramHasher.hashAll($c, $n, ${mod}L));
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Texts {
  /** `ngram_hashes(text, n, mod)` as a Column. */
  def ngramHashes(text: Column, n: Int, mod: Long): Column =
    column(NgramHashes(expression(text), n, mod))

  /** Fused `bloom_any(filter, ngram_hashes(text, n, mod))` — see
    * [[NgramBloomAny]].
    */
  def ngramBloomAny(filter: Column, text: Column, n: Int, mod: Long): Column =
    column(NgramBloomAny(expression(filter), expression(text), n, mod))
}
