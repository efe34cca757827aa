package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values) sketch as a `TypedImperativeAggregate` — the
  * buffer-based custom-aggregation tier (SURVEY §2.9's third surface,
  * next to the codegen Expression and the typed Aggregator/udaf).
  *
  * Keeps the k inputs with the smallest hash values. Because "k smallest
  * hashes" is a pure set property, the result is DETERMINISTIC under any
  * partitioning, ordering, or cluster size — which is what makes it the
  * right distributed uniform-sampling primitive (unlike reservoir
  * sampling, whose output depends on encounter order). The same sketch
  * yields a distinct-count estimate: (k-1) / max_normalized_hash.
  *
  * Buffers are tiny (k pairs of longs) and merge by union+truncate, so
  * Catalyst plans partial+final aggregation with map-side combine.
  *
  * The ranking hash is an explicit child expression: the default
  * form (`kmv_sample`) passes `xxhash64(value)` (seed 42, the
  * exact hash the sketch applied internally before this was
  * parameterized), while `kmv_sample_by(hash, value, k)` lets a caller —
  * or a correctness fixture (q60) — supply a closed-form permutation so
  * the bottom-k/merge/eval semantics are checkable in plain SQL.
  */
case class KmvSketch(
    hash: Expression,
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeMap[Long, Long]] {

  override def children: Seq[Expression] = Seq(hash, value)

  override def checkInputDataTypes(): TypeCheckResult =
    if (hash.dataType == LongType && value.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_sample requires bigint hash/value columns, got " +
        s"${hash.dataType.simpleString}/${value.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sample"

  override def createAggregationBuffer(): mutable.TreeMap[Long, Long] =
    mutable.TreeMap.empty[Long, Long]

  private def insert(buf: mutable.TreeMap[Long, Long], h: Long, v: Long): Unit = {
    buf.update(h, v)
    if (buf.size > k) buf.remove(buf.lastKey)
  }

  override def update(buf: mutable.TreeMap[Long, Long],
                      input: InternalRow): mutable.TreeMap[Long, Long] = {
    val v = value.eval(input)
    if (v != null) {
      val h = hash.eval(input)
      if (h != null)
        insert(buf, h.asInstanceOf[Long], v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: mutable.TreeMap[Long, Long],
                     other: mutable.TreeMap[Long, Long]): mutable.TreeMap[Long, Long] = {
    other.foreach { case (h, v) => insert(buf, h, v) }
    buf
  }

  /** Sampled values, ordered by their hash (a uniform shuffle order). */
  override def eval(buf: mutable.TreeMap[Long, Long]): Any =
    new GenericArrayData(buf.values.toArray)

  override def serialize(buf: mutable.TreeMap[Long, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (h, v) => out.writeLong(h); out.writeLong(v) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeMap[Long, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeMap.empty[Long, Long]
    (0 until n).foreach(_ => buf.update(in.readLong(), in.readLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hash = newChildren(0), value = newChildren(1))
}

/** Distinct-count estimate from the same KMV buffer: with k minimum
  * normalized hashes, E[distinct] ≈ (k-1) / max_kth_normalized_hash.
  * Exact when fewer than k distinct values were seen. Deterministic
  * (unlike HLL implementations it can be cross-checked bit-for-bit).
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeMap[Long, Long]] {

  private val impl = KmvSketch(Sketches.defaultHash(child), child, k)

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = impl.checkInputDataTypes()
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"

  override def createAggregationBuffer(): mutable.TreeMap[Long, Long] =
    impl.createAggregationBuffer()
  override def update(buf: mutable.TreeMap[Long, Long], input: InternalRow): mutable.TreeMap[Long, Long] =
    impl.update(buf, input)
  override def merge(buf: mutable.TreeMap[Long, Long], other: mutable.TreeMap[Long, Long]): mutable.TreeMap[Long, Long] =
    impl.merge(buf, other)
  override def serialize(buf: mutable.TreeMap[Long, Long]): Array[Byte] =
    impl.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeMap[Long, Long] =
    impl.deserialize(bytes)

  override def eval(buf: mutable.TreeMap[Long, Long]): Any =
    if (buf.size < k) buf.size.toDouble
    else {
      // normalize the kth-smallest hash into (0,1): shift signed min-value
      // origin so the full unsigned hash range maps to [0,1)
      val kth = (buf.lastKey.toDouble - Long.MinValue.toDouble) /
        (Long.MaxValue.toDouble - Long.MinValue.toDouble)
      (k - 1) / kth
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object Sketches {
  /** The sketch's default ranking hash: `xxhash64(value)` with Spark's
    * default seed 42 — for a bigint input this is exactly
    * `XXH64.hashLong(v, 42)`, the hash the sketch used before the hash
    * became a parameter.
    */
  private[functions] def defaultHash(value: Expression): Expression =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(value))

  /** `kmvSample(col, k)`: deterministic k-element uniform sample. */
  def kmvSample(c: Column, k: Int): Column = {
    val e = expression(c)
    column(KmvSketch(defaultHash(e), e, k))
  }

  /** `kmvSampleBy(hash, value, k)`: bottom-k values ranked by a
    * caller-supplied hash column (fixture/oracle hook; see q60).
    */
  def kmvSampleBy(h: Column, v: Column, k: Int): Column =
    column(KmvSketch(expression(h), expression(v), k))

  /** `kmvDistinct(col, k)`: deterministic distinct-count estimate. */
  def kmvDistinct(c: Column, k: Int): Column =
    column(KmvDistinct(expression(c), k))
}
