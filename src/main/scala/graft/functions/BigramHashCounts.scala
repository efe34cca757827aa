package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `bigram_hash_counts(text)` → `array<struct<bk bigint, w1h bigint,
  * cnt int>>`: every DISTINCT adjacent-token bigram of the whitespace
  * -tokenized text with its occurrence count, keys already hashed —
  * `bk` is the xxhash64 (seed 42) of the two tokens joined by one
  * space (bit-equal to `xxhash64(concat_ws(' ', w1, w2))`, i.e. to
  * `token_window_hashes(text, 2)` entries), `w1h` the xxhash64 of the
  * head token alone (= `token_window_hashes(text, 1)`), all in ONE
  * pass over the text bytes. Empty/sub-2-token text gives an empty
  * array; null propagates. Order unspecified — feed an aggregation.
  *
  * This is the scan-side half of the bigram-LM tier ([[graft.text
  * .BigramLm]], [[graft.text.Dsir]]): the composable formulation
  * regex-splits to a token array, `arrays_zip`+`slice`s it, explodes
  * one STRING-PAIR row per token of corpus, and only then hashes —
  * per-occurrence allocations and a token-scale exchange of string
  * structs. This expression walks token boundaries once (the
  * [[TokenWindowHashes]] byte scan), hashes each window either
  * directly from the original bytes (single-space-separated tokens —
  * the common case — need no normalization copy) or through one
  * scratch buffer, and collapses per-document repeats in an
  * open-addressing primitive table — so what reaches the exchange is
  * one `(long, long, int)` row per DISTINCT bigram per document,
  * typically 2-4x fewer rows than occurrences and ~10x fewer bytes
  * than the string pairs.
  *
  * Collision semantics (the [[graft.text.BigramLm]] class-doc
  * contract): keys are 8-byte hashes END TO END, so two distinct
  * bigrams (or heads) colliding — 2^-64 per pair — merge their counts
  * here rather than duplicating join rows downstream; the text-keyed
  * (`useHashKey = false`) paths remain the oracle anchor and
  * BigramLmSpec pins hash == text on real corpora.
  */
case class BigramHashCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bk", LongType, nullable = false),
      StructField("w1h", LongType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "bigram_hash_counts"

  override def nullSafeEval(input: Any): Any =
    BigramHashCounts.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = BigramHashCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramHashCounts {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The fused scan. Public so generated code can call it. */
  def count(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val cap = nb / 2 + 1
    val starts = new Array[Int](cap)
    val ends = new Array[Int](cap)
    var nTok = 0
    var i = 0
    while (i < nb) {
      if (isWs(bytes(i))) i += 1
      else {
        starts(nTok) = i
        while (i < nb && !isWs(bytes(i))) i += 1
        ends(nTok) = i
        nTok += 1
      }
    }
    if (nTok < 2) return new GenericArrayData(Array.empty[Any])
    val nBi = nTok - 1
    // open-addressing table keyed on bk; cnt == 0 marks an empty slot
    // (live entries always count >= 1). Sized upfront: <= nBi distinct.
    var tcap = 16
    while (tcap < nBi * 2) tcap <<= 1
    val mask = tcap - 1
    val bks = new Array[Long](tcap)
    val w1s = new Array[Long](tcap)
    val cnts = new Array[Int](tcap)
    var distinct = 0
    // scratch for windows whose tokens are NOT single-space-separated
    var maxWin = 0
    var j = 0
    while (j < nBi) {
      val sz = ends(j + 1) - starts(j)
      if (sz > maxWin) maxWin = sz
      j += 1
    }
    var buf: Array[Byte] = null // allocated only if a copy is needed
    j = 0
    while (j < nBi) {
      val w1len = ends(j) - starts(j)
      val w1h = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + starts(j), w1len, 42L)
      // the normalized window is "w1 w2"; when the original separator
      // is exactly one space the original byte span IS normalized
      val bk =
        if (starts(j + 1) == ends(j) + 1 && bytes(ends(j)) == ' ')
          XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + starts(j),
            ends(j + 1) - starts(j), 42L)
        else {
          if (buf == null) buf = new Array[Byte](maxWin)
          System.arraycopy(bytes, starts(j), buf, 0, w1len)
          buf(w1len) = ' '
          val w2len = ends(j + 1) - starts(j + 1)
          System.arraycopy(bytes, starts(j + 1), buf, w1len + 1, w2len)
          XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET,
            w1len + 1 + w2len, 42L)
        }
      var slot = (bk ^ (bk >>> 33)).toInt & mask
      while (cnts(slot) != 0 && bks(slot) != bk)
        slot = (slot + 1) & mask
      if (cnts(slot) == 0) {
        bks(slot) = bk; w1s(slot) = w1h; cnts(slot) = 1; distinct += 1
      } else cnts(slot) += 1
      j += 1
    }
    val rows = new Array[Any](distinct)
    var out = 0
    var t = 0
    while (t < tcap) {
      if (cnts(t) != 0) {
        rows(out) = new GenericInternalRow(
          Array[Any](bks(t), w1s(t), cnts(t)))
        out += 1
      }
      t += 1
    }
    new GenericArrayData(rows)
  }

  /** `bigram_hash_counts(text)` as a Column. */
  def bigramHashCounts(text: Column): Column =
    column(BigramHashCounts(expression(text)))

  /** `bigram_counts(text)` as a Column (see [[BigramCounts]]). */
  def bigramCounts(text: Column): Column =
    column(BigramCounts(expression(text)))
}

/** `bigram_counts(text)` → `array<struct<bigram string, cnt int>>`: the
  * STRING twin of [[BigramHashCounts]], for consumers whose output
  * needs the bigram text itself ([[graft.text.Collocations]]'s PMI
  * table) — each document's DISTINCT adjacent-token bigrams ("w1 w2",
  * single-space-joined, the [[TokenWindowHashes]] normalization) with
  * occurrence counts in one pass over the text bytes. The table keys on
  * the two token byte ranges directly (equality confirmed on the
  * bytes, the [[TermCounts]] design), so one UTF8String allocates per
  * DISTINCT bigram — never per occurrence, and single-space-separated
  * windows (the common case) materialize as a zero-copy slice of the
  * original bytes. Empty/sub-2-token text gives an empty array; null
  * propagates; order unspecified — feed an aggregation.
  */
case class BigramCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bigram", StringType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "bigram_counts"

  override def nullSafeEval(input: Any): Any =
    BigramCounts.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = BigramCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramCounts {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The fused scan. Public so generated code can call it. */
  def count(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val cap0 = nb / 2 + 1
    val starts = new Array[Int](cap0)
    val ends = new Array[Int](cap0)
    var nTok = 0
    var i = 0
    while (i < nb) {
      if (isWs(bytes(i))) i += 1
      else {
        starts(nTok) = i
        while (i < nb && !isWs(bytes(i))) i += 1
        ends(nTok) = i
        nTok += 1
      }
    }
    if (nTok < 2) return new GenericArrayData(Array.empty[Any])
    val nBi = nTok - 1
    // bigram identity = both token byte ranges equal
    def eqBi(a: Int, b: Int): Boolean = {
      var t = 0
      while (t < 2) {
        val la = ends(a + t) - starts(a + t)
        if (la != ends(b + t) - starts(b + t)) return false
        var x = starts(a + t); var y = starts(b + t)
        while (x < ends(a + t)) {
          if (bytes(x) != bytes(y)) return false
          x += 1; y += 1
        }
        t += 1
      }
      true
    }
    var cap = 4
    while (cap < nBi * 2) cap <<= 1
    val mask = cap - 1
    val slotBi = new Array[Int](cap); java.util.Arrays.fill(slotBi, -1)
    val slotCnt = new Array[Int](cap)
    val hs = new Array[Long](nBi)
    var distinct = 0
    var k = 0
    while (k < nBi) {
      var h = 0xcbf29ce484222325L
      var t = 0
      while (t < 2) {
        if (t == 1) h = (h ^ ' ') * 0x100000001b3L
        var j = starts(k + t)
        while (j < ends(k + t)) {
          h = (h ^ (bytes(j) & 0xff)) * 0x100000001b3L; j += 1
        }
        t += 1
      }
      hs(k) = h
      var idx = ((h ^ (h >>> 32)).toInt) & mask
      var done = false
      while (!done) {
        val b = slotBi(idx)
        if (b == -1) {
          slotBi(idx) = k; slotCnt(idx) = 1; distinct += 1; done = true
        } else if (hs(b) == h && eqBi(b, k)) {
          slotCnt(idx) += 1; done = true
        } else idx = (idx + 1) & mask
      }
      k += 1
    }
    val out = new Array[Any](distinct)
    var o = 0
    var sIdx = 0
    while (sIdx < cap) {
      val b = slotBi(sIdx)
      if (b != -1) {
        val str =
          if (starts(b + 1) == ends(b) + 1 && bytes(ends(b)) == ' ')
            UTF8String.fromBytes(bytes, starts(b),
              ends(b + 1) - starts(b)) // zero-copy normalized slice
          else {
            val w1len = ends(b) - starts(b)
            val w2len = ends(b + 1) - starts(b + 1)
            val buf = new Array[Byte](w1len + 1 + w2len)
            System.arraycopy(bytes, starts(b), buf, 0, w1len)
            buf(w1len) = ' '
            System.arraycopy(bytes, starts(b + 1), buf, w1len + 1, w2len)
            UTF8String.fromBytes(buf)
          }
        out(o) = new GenericInternalRow(Array[Any](str, slotCnt(sIdx)))
        o += 1
      }
      sIdx += 1
    }
    new GenericArrayData(out)
  }
}
