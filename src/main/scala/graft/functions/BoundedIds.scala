package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** `bounded_ids(id[, payload...], max)` → `array<bigint>` (single
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
  * merge preserves saturation. Buffers are longs-only and merge by
  * append+truncate, so Catalyst plans partial+final aggregation with
  * map-side combine.
  *
  * The collected ORDER is partitioning-dependent (like collect_list);
  * callers must not depend on it — the LSH pair expansions normalize
  * with least/greatest + distinct, making the emitted pair SET
  * deterministic.
  *
  * Input contract: every collected column must be `bigint` (the buffer
  * is a flat long array — this is what keeps serialization and merge
  * allocation-free). Direct callers with non-long columns fail analysis
  * loudly; the dedup operators built on it
  * ([[graft.dedup.Dedup.lshCandidates]], `simhashCandidates`,
  * `embeddingNearDups`) accept any orderable atomic id column and adapt
  * it EXACTLY to this contract (lossless widening for narrower
  * integrals, a checkpointed dense long surrogate with pair-output
  * join-back for strings/dates/decimals — `Dedup.adaptIdType`), so the
  * flat-long buffer stays the only aggregation state. A tuple with ANY
  * null component is SKIPPED — it neither occupies buffer space nor
  * counts toward the cap (same row-drop semantics as `collect_list`
  * on a null input); callers who must keep null-keyed rows need to
  * coalesce to a sentinel before aggregating.
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
    if (values.nonEmpty && values.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bounded_ids requires bigint columns, got " +
        values.map(_.dataType.simpleString).mkString(", "))

  override def dataType: DataType =
    if (stride == 1) ArrayType(LongType, containsNull = false)
    else ArrayType(StructType(
      (0 until stride).map(i => StructField(s"c$i", LongType, nullable = false))),
      containsNull = false)

  override def nullable: Boolean = true // overflowed bucket -> null
  override def prettyName: String = "bounded_ids"

  // max + 1 in long space: callers may pass max = Int.MaxValue (an
  // effectively-uncapped bucket), where int arithmetic would overflow
  private def satN: Int = math.min(max.toLong + 1, Int.MaxValue.toLong).toInt

  override def createAggregationBuffer(): BoundedIds.Buffer =
    new BoundedIds.Buffer(new Array[Long](math.min(satN, 16) * stride), 0)

  /** Appends one tuple already staged in `tup`. */
  private def append(buf: BoundedIds.Buffer, tup: Array[Long]): Unit = {
    if (buf.n <= max) { // stop growing once saturated (n == max + 1)
      if (buf.n * stride == buf.longs.length) {
        val grown = new Array[Long](
          math.min(math.min(buf.longs.length * 2L, satN.toLong * stride),
            Int.MaxValue.toLong).toInt)
        System.arraycopy(buf.longs, 0, grown, 0, buf.n * stride)
        buf.longs = grown
      }
      var j = 0
      while (j < stride) { buf.longs(buf.n * stride + j) = tup(j); j += 1 }
      buf.n += 1
    }
  }

  override def update(buf: BoundedIds.Buffer, input: InternalRow): BoundedIds.Buffer = {
    val tup = new Array[Long](stride)
    var j = 0
    var anyNull = false
    while (j < stride && !anyNull) {
      val v = values(j).eval(input)
      if (v == null) anyNull = true else tup(j) = v.asInstanceOf[Long]
      j += 1
    }
    if (!anyNull) append(buf, tup)
    buf
  }

  override def merge(buf: BoundedIds.Buffer, other: BoundedIds.Buffer): BoundedIds.Buffer = {
    if (other.n > max) buf.n = satN // saturated buffers carry no tuples
    else {
      val tup = new Array[Long](stride)
      var i = 0
      while (i < other.n && buf.n <= max) {
        var j = 0
        while (j < stride) { tup(j) = other.longs(i * stride + j); j += 1 }
        append(buf, tup)
        i += 1
      }
    }
    buf
  }

  override def eval(buf: BoundedIds.Buffer): Any =
    if (buf.n > max) null
    else if (stride == 1)
      new GenericArrayData(java.util.Arrays.copyOf(buf.longs, buf.n))
    else {
      val rows = new Array[Any](buf.n)
      var i = 0
      while (i < buf.n) {
        val fields = new Array[Any](stride)
        var j = 0
        while (j < stride) {
          fields(j) = buf.longs(i * stride + j); j += 1
        }
        rows(i) = new GenericInternalRow(fields)
        i += 1
      }
      new GenericArrayData(rows)
    }

  // A saturated buffer (n > max) serializes as its count alone — its
  // tuples are never read again (merge propagates the saturation, eval
  // is null).
  override def serialize(buf: BoundedIds.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.n)
    if (buf.n <= max) {
      var i = 0
      while (i < buf.n * stride) { out.writeLong(buf.longs(i)); i += 1 }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedIds.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    if (n > max) new BoundedIds.Buffer(new Array[Long](0), n)
    else {
      val longs = new Array[Long](math.max(n * stride, stride))
      var i = 0
      while (i < n * stride) { longs(i) = in.readLong(); i += 1 }
      new BoundedIds.Buffer(longs, n)
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
  /** Growable flat long buffer (`stride` longs per tuple); `n` counts
    * TUPLES and saturates at `max + 1` to mark overflow.
    */
  final class Buffer(var longs: Array[Long], var n: Int)

  /** `bounded_ids(cols..., max)` as a Column, built directly (no
    * session registry involved): `boundedIds(max, id)` gives
    * `array<bigint>`, `boundedIds(max, id, payload, ...)` gives
    * `array<struct<c0,c1,...>>`.
    */
  def boundedIds(max: Int, cols: Column*): Column =
    column(BoundedIds(cols.map(expression), max))
}
