package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `minhash_sig(text, k, n, mod)` → `array<long>`: the full k-position
  * MinHash signature of a document in ONE narrow map — shingle hashing
  * ([[NgramHasher.hashAll]], identical values to `ngram_hashes`) and all
  * k affine-permutation minimums fused into a single per-row loop.
  *
  * MinHash is a pure function of the document text, so computing it via
  * `explode(ngram_hashes(...))` + `groupBy(id).agg(min...)` — the
  * previous formulation — pays a corpus-sized row expansion (one row per
  * shingle: ~300x the document count) and a full aggregate exchange for
  * what a scan can produce for free. At 100 TB the explode+agg form
  * shuffles (id, partial-min) rows for every (doc, partition) pair;
  * this form shuffles NOTHING — signatures materialize inside
  * whole-stage codegen on top of the parquet scan, and only the
  * (much smaller) band join downstream exchanges data.
  *
  * Values are bit-identical to the explode+agg form: same shingle byte
  * spans, same xxhash64 seed, same `pmod(h0*(2i+1) + i*40503 +
  * 2654435769, mod)` affine family, same min over the shingle multiset
  * (min over a multiset = min over its distinct set, so repeated
  * shingles cannot change any position). `hashAll` yields at least one
  * shingle for ANY non-null text (the whole text when shorter than n),
  * so exactly the input rows come back — no doc is dropped. Null text
  * propagates null.
  */
case class MinHashSig(child: Expression, numHashes: Int, shingleN: Int,
                      mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinHashSig.sig(
      input.asInstanceOf[UTF8String], numHashes, shingleN, mod))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashSig.sig($c, $numHashes, $shingleN, ${mod}L));
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  /** The Mersenne prime the affine family reduces by everywhere in the
    * library ([[Dedup.minhashSignatures]]'s `p`): reduction by it needs
    * two shift-and-add folds instead of a long division — see [[sig]]'s
    * fast path. */
  private val MersenneP = (1L << 31) - 1

  /** The fused loop. Public so generated code can call it.
    *
    * `floorMod`, not `%`, on the general path: the claimed bit-identity
    * is with SQL `pmod`, whose result is non-negative even when the
    * affine product overflows a long (possible for caller-supplied
    * `mod` near 2^63/k — for the default mod = 2^31-1 and k = 32 the
    * product stays positive and the two operators agree, but the
    * registry accepts arbitrary k/mod).
    *
    * r21 (per-task-work pass, guide §1.2 step 2): the inner loop is the
    * hot path of every minhash consumer (one execution per shingle ×
    * position = ~k × corpus-chars total), and the original form paid
    * one MULTIPLY and one long DIVISION (floorMod) per execution. Two
    * bit-identical reductions:
    *
    *  - strength reduction: h0*(2i+1) + i*40503 + C steps by the
    *    CONSTANT (2*h0 + 40503) as i increments, so the accumulator
    *    replaces the multiply with one add. Long addition is associative
    *    modulo 2^64, so the accumulated value wraps to exactly the
    *    value the product form wraps to — floorMod of it is unchanged
    *    for every mod.
    *  - for the library-wide default mod = 2^31-1 (Mersenne prime) the
    *    division becomes two shift-add folds + conditional subtract:
    *    x ≡ (x >>> 31) + (x & p) (mod p). Safe here because the
    *    accumulator stays far below 2^63 for this mod (h0 < 2^31,
    *    acc ≤ h0*(2k-1) + (k-1)*40503 + C < 2^37 for any k ≤ 32 — and
    *    even k = 10^4 keeps it < 2^46), so no wrap and x ≥ 0, where
    *    Mersenne folding equals floorMod exactly. MinHashSigSpec pins
    *    the explode+agg (pmod) equivalence on both paths.
    */
  /** Also r21, allocation pass: the original body materialized
    * `NgramHasher.hashAll`'s per-row scaffolding — a `getBytes` copy of
    * the text, a `numBytes+1` int offset array and a per-shingle long
    * array (~30 KB of garbage per 2 KB document) — only to fold it
    * straight into k minimums. This body streams instead: the UTF-8
    * char-boundary walk reads the UTF8String's own memory
    * (base/offset, zero copy), keeps only a ring of the last n+1
    * boundary offsets, and folds each shingle hash into the minimums
    * the moment it is computed. The shingle byte spans and the hash
    * chain are EXACTLY hashAll's (same `max(chars-n+1, 1)` count, same
    * whole-text shingle for short texts, same xxhash64 seed and pmod),
    * so the h0 multiset — and therefore every minimum — is unchanged;
    * MinHashSigSpec pins the equivalence against explode(ngram_hashes).
    */
  def sig(s: UTF8String, k: Int, n: Int, mod: Long): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    // k-bound on the fast path keeps the accumulator provably below
    // 2^57 (no wrap, two folds always suffice); any realistic signature
    // width is orders of magnitude under it
    val fast = mod == MersenneP && k <= (1 << 24)

    def fold(start: Int, end: Int): Unit = {
      val h = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
      val h0 = ((h % mod) + mod) % mod
      if (fast) {
        val p = MersenneP
        val step = (h0 << 1) + 40503L
        var acc = h0 + 2654435769L // i = 0: h0*1 + 0*40503 + C
        var i = 0
        while (i < k) {
          var v = (acc >>> 31) + (acc & p)
          v = (v >>> 31) + (v & p)
          if (v >= p) v -= p
          if (v < mins(i)) mins(i) = v
          acc += step
          i += 1
        }
      } else {
        val step = h0 * 2 + 40503L // wraps like the product form
        var acc = h0 + 2654435769L
        var i = 0
        while (i < k) {
          val v = Math.floorMod(acc, mod)
          if (v < mins(i)) mins(i) = v
          acc += step
          i += 1
        }
      }
    }

    // ring of the last n+1 char-start byte offsets: when char index c
    // is reached, the shingle starting at char c-n ends at c's offset
    val ring = new Array[Int](n + 1)
    var chars = 0
    var i = 0
    while (i < nb) {
      ring(chars % (n + 1)) = i
      if (chars >= n) fold(ring((chars - n) % (n + 1)), i)
      i += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + i))
      chars += 1
    }
    // the final shingle ends at the text's end; texts shorter than n
    // chars (empty included) contribute their single whole-text shingle
    // — exactly hashAll's max(chars - n + 1, 1) span set
    if (chars >= n) fold(ring((chars - n) % (n + 1)), nb)
    else fold(0, nb)
    mins
  }

  /** `minhash_sig(text, numHashes, shingleN, mod)` as a Column, built
    * directly (no session registry involved).
    */
  def minhashSig(text: Column, numHashes: Int, shingleN: Int,
                 mod: Long): Column =
    column(MinHashSig(expression(text), numHashes, shingleN, mod))
}
