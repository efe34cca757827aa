package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Grouped embedding centroid as a dense-buffer `TypedImperativeAggregate`
  * — the mean-vector aggregation every embedding pipeline needs (IVF
  * coarse-quantizer retraining, SemDeDup cell refresh, per-source topic
  * profiles), with cross-engine-exact arithmetic.
  *
  * Physical contract: the buffer is ONE `long[dim]` + a count per
  * (group, task); map-side combine ships `8 * dim + 8` bytes per group
  * per task regardless of row count. The alternative — `posexplode` to
  * (group, pos, value) then groupBy — inflates the scan by `dim`× rows
  * before the partial aggregate gets to collapse them; at 100 TB of
  * 1k-dim embeddings that is a thousandfold row blow-up feeding the agg,
  * vs. this aggregate's single array accumulate per row.
  *
  * Exactness: float sums are order-nondeterministic, so cross-engine
  * hash-compares (and Spark's own retries under AQE) would flip
  * last-ulp bits. Elements are quantized to `round(v * scale)` LONGS
  * on update — integer sums are exact and order-independent, so the
  * centroid is bit-identical for ANY partitioning, retry, or engine
  * computing the same declared semantics (DuckDB mirrors it as
  * `SUM(CAST(ROUND(e * scale) AS BIGINT))`). `scale = 1e6` holds
  * float32's ~7 significant digits for unit-normalized embeddings;
  * overflow headroom is 2^63 / (1e6 * |v|max) ≈ 9e12 rows per group at
  * |v| <= 1.
  *
  * All vectors in a group must share the dimension — a ragged input
  * fails loudly (silent truncation would corrupt the centroid).
  */
case class VecCentroidQ(
    vec: Expression,
    scale: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecCentroidQ.Buf] {

  require(scale > 0, "vec_centroid requires scale > 0")

  override def children: Seq[Expression] = Seq(vec)

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_centroid requires array<float>/array<double>, got ${other.simpleString}")
  }

  // lazy: children are unresolved (no dataType) at construction time
  private lazy val elemIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Round half AWAY FROM ZERO — the SQL `ROUND` rule both engines
    * apply, which `Math.round` (half toward +inf) would break for
    * negative exact halves (float32 grid points like -2^-7 * 1e6 =
    * -7812.5 are real inputs).
    */
  private def roundHalfAway(x: Double): Long =
    (if (x >= 0) Math.floor(x + 0.5) else Math.ceil(x - 0.5)).toLong

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_centroid"

  override def createAggregationBuffer(): VecCentroidQ.Buf =
    new VecCentroidQ.Buf(null, 0L)

  override def update(buf: VecCentroidQ.Buf, input: InternalRow): VecCentroidQ.Buf = {
    val v = vec.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (buf.sums == null) buf.sums = new Array[Long](n)
      else require(buf.sums.length == n,
        s"vec_centroid: ragged input — saw dim ${buf.sums.length}, then $n")
      var i = 0
      while (i < n) {
        val e = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        buf.sums(i) += roundHalfAway(e * scale)
        i += 1
      }
      buf.count += 1L
    }
    buf
  }

  override def merge(buf: VecCentroidQ.Buf, other: VecCentroidQ.Buf): VecCentroidQ.Buf = {
    if (other.sums != null) {
      if (buf.sums == null) { buf.sums = other.sums.clone(); buf.count = other.count }
      else {
        require(buf.sums.length == other.sums.length,
          s"vec_centroid: ragged input — merging dims ${buf.sums.length} and ${other.sums.length}")
        var i = 0
        while (i < buf.sums.length) { buf.sums(i) += other.sums(i); i += 1 }
        buf.count += other.count
      }
    }
    buf
  }

  override def eval(buf: VecCentroidQ.Buf): Any =
    if (buf.sums == null) null
    else {
      val denom = scale.toDouble * buf.count
      new GenericArrayData(buf.sums.map(_ / denom))
    }

  override def serialize(buf: VecCentroidQ.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val dim = if (buf.sums == null) -1 else buf.sums.length
    out.writeInt(dim)
    out.writeLong(buf.count)
    if (dim > 0) buf.sums.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecCentroidQ.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val dim = in.readInt()
    val count = in.readLong()
    val sums = if (dim < 0) null else Array.fill(dim)(in.readLong())
    new VecCentroidQ.Buf(sums, count)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecCentroidQ =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecCentroidQ =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0))
}

object VecCentroidQ {
  /** Mutable accumulation state: quantized element sums + row count. */
  final class Buf(var sums: Array[Long], var count: Long)
}

object VecCentroid {
  /** `vecCentroid(vec, scale)`: exact quantized mean vector as
    * `array<double>` (see [[VecCentroidQ]] for the arithmetic contract).
    */
  def vecCentroid(vec: Column, scale: Long = 1000000L): Column =
    column(VecCentroidQ(expression(vec), scale))
}
