package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType, UserDefinedType}

/** `bounded_ids(id[, payload...], max)` → `array<idType>` (single
  * column) or `array<struct<c0,c1,...>>` (with payloads), or NULL: collect
  * a bucket's id tuples with HARD-BOUNDED state — at most `max + 1`
  * tuples per buffer, no matter how degenerate the bucket. A bucket that
  * exceeds `max` tuples evaluates to NULL (the caller filters those
  * out), which reproduces the hot-bucket cap semantics of counting first
  * and anti-joining the hot keys away — but in the SAME aggregation pass
  * that gathers the bucket, instead of a separate count job plus a
  * two-sided join.
  *
  * This is what makes a groupBy-then-expand LSH candidate stage safe at
  * 100 TB: a plain `collect_list` would materialize a
  * boilerplate-saturated bucket's millions of ids in one aggregation
  * buffer before any size check could run; this buffer stops growing at
  * `max + 1` (the +1 distinguishes "exactly max" from "overflowed") and
  * merge preserves saturation. Buffers merge by append+truncate, so
  * Catalyst plans partial+final aggregation with map-side combine.
  *
  * The collected ORDER is partitioning-dependent (like collect_list);
  * callers must not depend on it — the candidate stages of
  * [[graft.dedup.Dedup]] normalize each pair with least/greatest and
  * de-duplicate, making the emitted pair SET deterministic.
  *
  * Input contract: the id (first column) is any orderable atomic type;
  * payloads are any type. Values are held in Spark's internal form,
  * copied out of the input row (a `UTF8String` or an array points into
  * it), and partial buffers travel as one `UnsafeRow` per tuple — the
  * idiom of [[SemDedupDroppedIds]]. A tuple with ANY null component is
  * SKIPPED — it neither occupies buffer space nor counts toward the cap
  * (same row-drop semantics as `collect_list` on a null input); callers
  * who must keep null-keyed rows need to coalesce to a sentinel before
  * aggregating.
  */
case class BoundedIds(
    values: Seq[Expression],
    max: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedIds.Buffer] {

  private def stride: Int = values.size

  override def children: Seq[Expression] = values

  override def checkInputDataTypes(): TypeCheckResult =
    if (values.headOption.exists(v => BoundedIds.isIdType(v.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an orderable atomic id column first, got " +
        values.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def dataType: DataType =
    if (stride == 1) ArrayType(values.head.dataType, containsNull = false)
    else ArrayType(StructType(values.zipWithIndex.map { case (v, i) =>
      StructField(s"c$i", v.dataType, nullable = false) }),
      containsNull = false)

  override def nullable: Boolean = true // overflowed bucket -> null
  override def prettyName: String = "bounded_ids"

  @transient private lazy val projection: UnsafeProjection =
    UnsafeProjection.create(values.map(_.dataType).toArray)

  // max + 1 in long space: callers may pass max = Int.MaxValue (an
  // effectively-uncapped bucket), where int arithmetic would overflow
  private def satN: Int = math.min(max.toLong + 1, Int.MaxValue.toLong).toInt

  override def createAggregationBuffer(): BoundedIds.Buffer =
    new BoundedIds.Buffer(new Array[InternalRow](math.min(satN, 16)), 0)

  private def append(buf: BoundedIds.Buffer, tup: InternalRow): Unit = {
    if (buf.n <= max) { // stop growing once saturated (n == max + 1)
      if (buf.n == buf.tuples.length)
        buf.tuples = java.util.Arrays.copyOf(buf.tuples,
          math.min(math.min(buf.tuples.length * 2L, satN.toLong),
            Int.MaxValue.toLong).toInt)
      buf.tuples(buf.n) = tup
      buf.n += 1
    }
  }

  override def update(buf: BoundedIds.Buffer, input: InternalRow): BoundedIds.Buffer = {
    if (buf.n <= max) {
      val tup = new Array[Any](stride)
      var j = 0
      var anyNull = false
      while (j < stride && !anyNull) {
        val v = values(j).eval(input)
        if (v == null) anyNull = true else tup(j) = InternalRow.copyValue(v)
        j += 1
      }
      if (!anyNull) append(buf, new GenericInternalRow(tup))
    }
    buf
  }

  override def merge(buf: BoundedIds.Buffer, other: BoundedIds.Buffer): BoundedIds.Buffer = {
    if (other.n > max) buf.n = satN // saturated buffers carry no tuples
    else {
      var i = 0
      while (i < other.n && buf.n <= max) { append(buf, other.tuples(i)); i += 1 }
    }
    buf
  }

  override def eval(buf: BoundedIds.Buffer): Any =
    if (buf.n > max) null
    else if (stride == 1) {
      val t = values.head.dataType
      new GenericArrayData(Array.tabulate[Any](buf.n)(buf.tuples(_).get(0, t)))
    } else new GenericArrayData(Array.tabulate[Any](buf.n)(buf.tuples(_)))

  // A saturated buffer (n > max) serializes as its count alone — its
  // tuples are never read again (merge propagates the saturation, eval
  // is null). Otherwise each tuple travels as one UnsafeRow of the input
  // types, written before the projection reuses its row.
  override def serialize(buf: BoundedIds.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.n)
    if (buf.n <= max) {
      var i = 0
      while (i < buf.n) {
        val row = projection(buf.tuples(i))
        out.writeInt(row.getSizeInBytes)
        row.writeToStream(out, null)
        i += 1
      }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedIds.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    if (n > max) new BoundedIds.Buffer(new Array[InternalRow](0), n)
    else {
      val tuples = new Array[InternalRow](math.max(n, 1))
      var i = 0
      while (i < n) {
        // a fresh array per tuple, so the values may point into it
        val rowBytes = new Array[Byte](in.readInt())
        in.readFully(rowBytes)
        val row = new UnsafeRow(stride)
        row.pointTo(rowBytes, rowBytes.length)
        tuples(i) = row
        i += 1
      }
      new BoundedIds.Buffer(tuples, n)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(values = newChildren)
}

object BoundedIds {
  /** Growable tuple buffer; `n` counts tuples and saturates at
    * `max + 1` to mark overflow. A tuple is a row of Spark internal
    * values: a `GenericInternalRow` gathered by update, or an
    * `UnsafeRow` read back from a partial buffer.
    */
  final class Buffer(var tuples: Array[InternalRow], var n: Int)

  /** Whether `t` can be the gathered id: an orderable atomic type. */
  def isIdType(t: DataType): Boolean = t match {
    case _: ArrayType | _: StructType | _: UserDefinedType[_] => false
    case _ => RowOrdering.isOrderable(t)
  }

  /** `bounded_ids(cols..., max)` as a Column, built directly (no
    * session registry involved): `boundedIds(max, id)` gives
    * `array<idType>`, `boundedIds(max, id, payload, ...)` gives
    * `array<struct<c0,c1,...>>`.
    */
  def boundedIds(max: Int, cols: Column*): Column =
    column(BoundedIds(cols.map(expression), max))
}
