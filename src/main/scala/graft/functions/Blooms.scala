package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** SQL-callable surface over Spark's OWN Bloom filter Catalyst
  * expressions (`BloomFilterAggregate` / `BloomFilterMightContain` —
  * the machinery behind runtime row-group filtering), which Spark keeps
  * internal rather than registering. Re-exposing them as SQL names
  * ([[GraftFunctions.table]]) is maximally Spark-first: the aggregate is a
  * TypedImperativeAggregate over Spark's `util.sketch.BloomFilter`
  * with map-side partial merge, and the membership probe is a codegen
  * predicate — nothing to reimplement.
  *
  * Convention mirrors `kmv_sample_by`: the caller supplies an
  * ALREADY-hashed 64-bit key (`xxhash64(...)`), keeping the hash choice
  * auditable at the call site.
  *
  * The one operator built on these ([[graft.dedup.Decontaminate]]) uses
  * the property that makes an approximate sketch safe in an EXACT
  * pipeline: no false negatives. "might_contain = false" proves a key
  * is absent; only the "maybe" minority pays the exact verify join.
  * The store gates do not prefilter: they anti-join their store
  * directly (see [[graft.dedup.Dedup.exactGate]]).
  */
object Blooms {

  /** `bloomAgg(hash, items, bits)` → serialized filter (`binary`).
    * `numBits` is bounded by
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 64M
    * bits = 8 MB); size the filter for the store it summarizes.
    */
  def bloomAgg(hash: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(hash),
      Literal(expectedItems), Literal(numBits)))
}

/** Identity over a `bigint` that BLOCKS constant folding and surfaces
  * its value as a generated local VARIABLE. Exists for one reason: a
  * consumer that splices `(Long)$value` into generated Java (Spark's
  * own `BloomFilterMightContain` does) miscompiles under Janino when
  * `$value` is a folded negative literal — `(Long)-123L` parses as a
  * binary minus with the class name as the left operand. Routing the
  * child through this wrapper makes `$value` a name, which casts fine.
  */
case class StableLong(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def foldable: Boolean = false // the point
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"stable_long requires bigint, got ${other.simpleString}")
    }
  override protected def nullSafeEval(v: Any): Any = v
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Codegen predicate: true iff ANY element of the `array<long>` hash
  * column might be in the Bloom filter (false for an empty array). The
  * alternative formulation — `exists(hashes, h ->
  * bloom_might_contain(bf, h))` — puts the probe behind ArrayExists,
  * which is CodegenFallback: one interpreted lambda dispatch per
  * element per row. This stays inside whole-stage codegen and probes a
  * filter deserialized ONCE per expression instance (the same lazy
  * trick Spark's own BloomFilterMightContain uses), so a scan with
  * hundreds of shingle hashes per document costs a tight loop, not an
  * interpreter round trip. No false negatives: a `false` PROVES no
  * element is in the filter — [[graft.dedup.Decontaminate]] hangs its
  * exactness on this, paying the verify join only for `true` rows.
  *
  * `bloom` must be foldable (a driver-held filter as a literal); a null
  * filter or null array yields null, mirroring `bloom_might_contain`.
  */
case class BloomAny(bloom: Expression, hashes: Expression)
    extends BinaryExpression {

  override def left: Expression = bloom
  override def right: Expression = hashes

  override def checkInputDataTypes(): TypeCheckResult =
    if (!bloom.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_any requires a foldable (driver-held) filter argument")
    else (bloom.dataType, hashes.dataType) match {
      case (BinaryType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (b, h) => TypeCheckResult.TypeCheckFailure(
        s"bloom_any requires (binary, array<bigint>), got " +
          s"${b.simpleString}, ${h.simpleString}")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_any"

  @transient private lazy val filter: BloomFilter = {
    val bytes = bloom.eval().asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Public so generated code calls the same loop as interpreted eval. */
  def anyContain(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (filter.mightContainLong(arr.getLong(i))) return true
      i += 1
    }
    false
  }

  override def nullSafeEval(bf: Any, arr: Any): Any =
    if (filter == null) null else anyContain(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomAnyExpr", this,
      classOf[BloomAny].getName)
    nullSafeCodeGen(ctx, ev, (_, arr) => s"${ev.value} = $ref.anyContain($arr);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(bloom = newLeft, hashes = newRight)
}
