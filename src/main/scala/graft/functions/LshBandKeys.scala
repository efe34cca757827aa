package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `lsh_band_keys(sig, bands)` → `array<long>`: all `bands` LSH band
  * keys of a MinHash signature in one fused loop (r21, the per-task-work
  * pass over the band stage).
  *
  * The composable formulation — `posexplode(transform(sequence(0,
  * bands-1), b => slice(sig, b*r + 1, r)))` + `xxhash64(band, bslice)`
  * ([[graft.dedup.Dedup.bandRowsOf]]'s original shape) — allocates per
  * ROW a sequence array, `bands` slice copies and a struct per band
  * before the generic hash expression ever runs. This walks the
  * signature once and emits one primitive long array; the caller
  * `posexplode`s that, so the downstream `(id, band, bkey)` row set is
  * unchanged.
  *
  * Key values are IDENTICAL to `xxhash64(band, bslice)` as Spark folds
  * it (equality pinned by LshBandKeysSpec over random signatures): fold
  * from the default seed 42, the IntegerType band position hashed as
  * int, then each slice element hashed as long in order. Identity holds
  * wherever the banding CONTRACT holds — `bands` divides the signature
  * length, which every operator use satisfies (32-position signatures,
  * bands ∈ {4, 8}). Outside the contract the composable form's slice
  * start went through `Column./` DOUBLE division (`b*(n/bands)+1`
  * truncated per band — an arithmetic accident, not a design); this
  * form uses clean integer division `r = n/bands`, band b covering
  * `sig[b*r, b*r+r)` with the non-divisible tail dropped (pinned as the
  * defined behavior by the spec's non-divisible case).
  *
  * Null handling: null signature → null array (the callers band only
  * non-null signatures — [[graft.dedup.Dedup.minhashSignatures]] filters
  * them — so the composable form's null-skipping hash of a null slice
  * is unreachable by contract).
  */
case class LshBandKeys(child: Expression, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bands >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bands >= 1, got $bands")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      LshBandKeys.keys(input.asInstanceOf[ArrayData], bands))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshBandKeys.keys($c, $bands));
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandKeys {

  /** The fused loop. Public so generated code calls the same path. */
  def keys(sig: ArrayData, bands: Int): Array[Long] = {
    val n = sig.numElements()
    val r = n / bands // integer division: non-divisible tail dropped,
                      // exactly like slice(sig, b*r + 1, r) dropped it
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = XXH64.hashInt(b, 42L) // xxhash64's IntegerType fold step
      var i = b * r
      val end = i + r
      while (i < end) {
        acc = XXH64.hashLong(sig.getLong(i), acc)
        i += 1
      }
      out(b) = acc
      b += 1
    }
    out
  }

  /** `lsh_band_keys(sig, bands)` as a Column, built directly (no
    * session registry involved).
    */
  def lshBandKeys(sig: Column, bands: Int): Column =
    column(LshBandKeys(expression(sig), bands))
}
