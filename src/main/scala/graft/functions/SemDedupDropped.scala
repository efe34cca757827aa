package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StructType, UserDefinedType}

/** `semdedup_dropped_ids(id, vec, maxCluster, minCosine)` →
  * `array<idType>` of the cell's DROPPED vector ids (an id is dropped
  * iff some LOWER id in the same cell has cosine ≥ `minCosine` with
  * it), or NULL for a cell past `maxCluster` rows (the silent-drop
  * saturation contract of [[BoundedIds]], which callers filter and
  * audit identically).
  *
  * This is SemDeDup's whole within-cell search
  * ([[graft.dedup.SemDedup]]): one aggregation per cell whose eval
  * computes the drop decision directly from the gathered (id, vector)
  * list, so the N²/k candidate pairs never exist as rows, and the
  * per-element loop EARLY-EXITS on the first lower near-dup (the drop
  * rule is an EXISTS, not a full pair enumeration). At scale the only
  * data-sized exchange is the cell key over the vectors themselves.
  *
  * Contract:
  *
  *  - ids: any orderable atomic type, held in Spark's internal form
  *    (copied out of the input row — a `UTF8String` points into it) and
  *    ordered by the type's interpreted Spark ordering — the ordering
  *    `least`/`greatest` use, so "lowest id survives" means the same
  *    thing for strings, decimals, dates and integers;
  *  - gather: caps and saturates exactly like [[BoundedIds]] (over-cap
  *    ⇒ null ⇒ caller filters; a null id is skipped without occupying
  *    space);
  *  - drop rule: entries sorted ascending by id; element j is dropped on
  *    the first entry with cosine ≥ minCosine whose id compares
  *    STRICTLY lower — tied (duplicated) ids never compare;
  *  - cosine: the double-accumulation loop of [[CosineSimilarity]]
  *    (index order, zero-norm ⇒ 0.0, null ELEMENTS read as 0). Each
  *    vector's squared norm is summed once per cell over its full
  *    length; an equal-length pair reuses both norms, which is
  *    bit-identical to the fused loop (each sum runs in the same
  *    order), and a ragged pair runs the fused loop over the min length.
  *    An equal-length pair whose Cauchy-Schwarz bound after a quarter
  *    of its dot product is already below `minCosine` stops there; the
  *    bound keeps a slack above the rounding error, so every decision
  *    matches the full loop's;
  *  - a row whose VECTOR is null is gathered (it occupies cap space) but
  *    never compares.
  */
case class SemDedupDroppedIds(
    id: Expression,
    vec: Expression,
    maxCluster: Int,
    minCosine: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SemDedupDroppedIds.Buffer] {

  require(maxCluster > 0, s"maxCluster must be positive: $maxCluster")

  override def children: Seq[Expression] = Seq(id, vec)

  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, vec.dataType) match {
      case (_: ArrayType | _: StructType | _: UserDefinedType[_], _) => fail
      case (t, ArrayType(FloatType, _)) if RowOrdering.isOrderable(t) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => fail
    }

  private def fail: TypeCheckResult = TypeCheckResult.TypeCheckFailure(
    s"$prettyName requires (orderable atomic id, array<float>), got " +
      s"(${id.dataType.simpleString}, ${vec.dataType.simpleString})")

  override def dataType: DataType = ArrayType(id.dataType, containsNull = false)
  override def nullable: Boolean = true // over-cap cell -> null
  override def prettyName: String = "semdedup_dropped_ids"

  @transient private lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(id.dataType)
  @transient private lazy val idProjection: UnsafeProjection =
    UnsafeProjection.create(Array(id.dataType))

  private def satN: Int =
    math.min(maxCluster.toLong + 1, Int.MaxValue.toLong).toInt

  override def createAggregationBuffer(): SemDedupDroppedIds.Buffer =
    new SemDedupDroppedIds.Buffer(
      new Array[Any](math.min(satN, 16)),
      new Array[Array[Float]](math.min(satN, 16)), 0)

  private def append(buf: SemDedupDroppedIds.Buffer, idv: Any,
                     v: Array[Float]): Unit = {
    if (buf.n <= maxCluster) { // stop growing once saturated
      if (buf.n == buf.ids.length) {
        val cap = math.min(math.min(buf.ids.length * 2L, satN.toLong),
          Int.MaxValue.toLong).toInt
        buf.ids = java.util.Arrays.copyOf(buf.ids.asInstanceOf[Array[AnyRef]], cap)
          .asInstanceOf[Array[Any]]
        buf.vecs = java.util.Arrays.copyOf(buf.vecs, cap)
      }
      buf.ids(buf.n) = idv
      buf.vecs(buf.n) = v
      buf.n += 1
    }
  }

  override def update(buf: SemDedupDroppedIds.Buffer,
                      input: InternalRow): SemDedupDroppedIds.Buffer = {
    val idv = id.eval(input)
    if (idv != null && buf.n <= maxCluster) {
      val v = vec.eval(input) match {
        case null => null
        case ad: ArrayData =>
          val n = ad.numElements()
          val arr = new Array[Float](n)
          var i = 0
          // element nulls read as 0 — the UnsafeArrayData behavior the
          // codegen cosine path exhibits (CosineSimilarity scaladoc)
          while (i < n) {
            if (!ad.isNullAt(i)) arr(i) = ad.getFloat(i)
            i += 1
          }
          arr
      }
      append(buf, InternalRow.copyValue(idv), v)
    }
    buf
  }

  override def merge(buf: SemDedupDroppedIds.Buffer,
                     other: SemDedupDroppedIds.Buffer): SemDedupDroppedIds.Buffer = {
    if (other.n > maxCluster) buf.n = satN // saturation propagates
    else {
      var i = 0
      while (i < other.n && buf.n <= maxCluster) {
        append(buf, other.ids(i), other.vecs(i))
        i += 1
      }
    }
    buf
  }

  override def eval(buf: SemDedupDroppedIds.Buffer): Any = {
    if (buf.n > maxCluster) return null
    val n = buf.n
    // sort entries by id ASC so "some lower id" is a prefix scan with
    // early exit; tied ids sit adjacent and never compare below
    val order = Array.range(0, n)
      .sortWith((a, b) => idOrdering.compare(buf.ids(a), buf.ids(b)) < 0)
    val ids = order.map(buf.ids(_))
    val vecs = new Array[Array[Double]](n)
    val sq = new Array[Double](n)   // full-length squared norm
    val rt = new Array[Double](n)   // its square root
    val tail = new Array[Double](n) // norm of the elements from len/4 on
    var k = 0
    while (k < n) {
      val f = buf.vecs(order(k))
      if (f != null) {
        val d = new Array[Double](f.length)
        var s = 0.0
        var i = 0
        while (i < f.length) { val x = f(i).toDouble; d(i) = x; s += x * x; i += 1 }
        var t = 0.0
        i = f.length >> 2
        while (i < f.length) { t += d(i) * d(i); i += 1 }
        vecs(k) = d; sq(k) = s; rt(k) = math.sqrt(s); tail(k) = math.sqrt(t)
      }
      k += 1
    }
    // cosine(a, b) >= minCosine for equal-length a, b: the fused loop's
    // result, computed with both precomputed norms. After the first
    // quarter of the dot product, Cauchy-Schwarz bounds the rest by
    // tail(a) * tail(b); a pair whose bound is below minCosine by more
    // than BoundSlack cannot reach it and is skipped, so the decision is
    // exactly the full loop's. (A non-finite norm makes the bound NaN,
    // which never skips, or 0 with a cosine of 0 or NaN.)
    def equalLengthHit(a: Int, b: Int): Boolean =
      if (sq(a) == 0.0 || sq(b) == 0.0) 0.0 >= minCosine
      else {
        val x = vecs(a); val y = vecs(b)
        val norms = rt(a) * rt(b)
        var dot = 0.0
        var e = 0
        val cut = x.length >> 2
        while (e < cut) { dot += x(e) * y(e); e += 1 }
        if ((dot + tail(a) * tail(b)) / norms <
            minCosine - SemDedupDroppedIds.BoundSlack) false
        else {
          while (e < x.length) { dot += x(e) * y(e); e += 1 }
          dot / norms >= minCosine
        }
      }
    val dropped = new Array[Any](n)
    var d = 0
    var lower = 0 // entries [0, lower) hold ids strictly below ids(j)
    var j = 1
    while (j < n) {
      if (idOrdering.compare(ids(j - 1), ids(j)) != 0) lower = j
      val vJ = vecs(j)
      if (vJ != null) {
        var i = 0
        var hit = false
        while (i < lower && !hit) {
          val vI = vecs(i)
          if (vI != null) hit =
            if (vI.length == vJ.length) equalLengthHit(i, j)
            else SemDedupDroppedIds.raggedCosine(vI, vJ) >= minCosine
          i += 1
        }
        if (hit) { dropped(d) = ids(j); d += 1 }
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      dropped.asInstanceOf[Array[AnyRef]], d).asInstanceOf[Array[Any]])
  }

  // ids travel as one-column UnsafeRows (the id type's own binary form),
  // vectors as bulk little-endian floats
  override def serialize(buf: SemDedupDroppedIds.Buffer): Array[Byte] = {
    if (buf.n > maxCluster)
      return ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(buf.n).array()
    val one = new GenericInternalRow(1)
    val idBytes = Array.tabulate(buf.n) { i =>
      one.update(0, buf.ids(i))
      idProjection(one).copy().getBytes // copy: the projection reuses its row
    }
    var size = 4L
    var i = 0
    while (i < buf.n) {
      val v = buf.vecs(i)
      size += 8L + idBytes(i).length + (if (v == null) 0 else 4L * v.length)
      i += 1
    }
    val bb = ByteBuffer.allocate(Math.toIntExact(size))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putInt(idBytes(i).length).put(idBytes(i))
      val v = buf.vecs(i)
      if (v == null) bb.putInt(-1)
      else {
        bb.putInt(v.length)
        bb.asFloatBuffer().put(v)
        bb.position(bb.position() + 4 * v.length)
      }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SemDedupDroppedIds.Buffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt()
    if (n > maxCluster)
      new SemDedupDroppedIds.Buffer(new Array[Any](0),
        new Array[Array[Float]](0), n)
    else {
      val ids = new Array[Any](math.max(n, 1))
      val vecs = new Array[Array[Float]](math.max(n, 1))
      var i = 0
      while (i < n) {
        // a fresh array per id, so the value may point into it
        val rowBytes = new Array[Byte](bb.getInt())
        bb.get(rowBytes)
        val row = new UnsafeRow(1)
        row.pointTo(rowBytes, rowBytes.length)
        ids(i) = row.get(0, id.dataType)
        val len = bb.getInt()
        if (len >= 0) {
          val v = new Array[Float](len)
          bb.asFloatBuffer().get(v)
          bb.position(bb.position() + 4 * len)
          vecs(i) = v
        }
        i += 1
      }
      new SemDedupDroppedIds.Buffer(ids, vecs, n)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SemDedupDroppedIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SemDedupDroppedIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), vec = newChildren(1))
}

object SemDedupDroppedIds {
  /** Growable parallel (id, vec) arrays; `n` counts entries and
    * saturates at `maxCluster + 1` to mark overflow. Ids are Spark
    * internal values; a null vec entry is a gathered row whose vector
    * column was null.
    */
  final class Buffer(var ids: Array[Any], var vecs: Array[Array[Float]],
                     var n: Int)

  /** Above twice the worst rounding error of the early cosine bound and
    * the full cosine, about (len + 8) · 2.3e-16, for any array length.
    */
  private val BoundSlack = 1e-6

  /** The fused loop of [[CosineSimilarity]] over the shorter length. */
  private def raggedCosine(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i)
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** `semdedup_dropped_ids(id, vec, maxCluster, minCosine)` as a Column. */
  def droppedIds(maxCluster: Int, minCosine: Double,
                 id: Column, vec: Column): Column =
    column(SemDedupDroppedIds(expression(id), expression(vec),
      maxCluster, minCosine))
}
