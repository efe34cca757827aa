package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Open-addressing value→count map over double keys (stored as raw
  * bits), the aggregation state of [[ExactPercentilesAgg]]: O(distinct
  * values) longs, grown by doubling.
  */
final class ValueCountMap(initialCap: Int = 64) {
  var keys = new Array[Long](initialCap) // double bits
  var cnts = new Array[Long](initialCap) // 0 = empty slot
  var size = 0

  private def mask: Int = keys.length - 1

  def add(bits: Long, count: Long): Unit = {
    if (size * 2 >= keys.length) grow()
    var idx = (scala.util.hashing.byteswap64(bits).toInt) & mask
    while (true) {
      if (cnts(idx) == 0L) {
        keys(idx) = bits; cnts(idx) = count; size += 1; return
      } else if (keys(idx) == bits) {
        cnts(idx) += count; return
      } else idx = (idx + 1) & mask
    }
  }

  private def grow(): Unit = {
    val ok = keys; val oc = cnts
    keys = new Array[Long](ok.length * 2)
    cnts = new Array[Long](ok.length * 2)
    size = 0
    var i = 0
    while (i < ok.length) {
      if (oc(i) != 0L) add(ok(i), oc(i))
      i += 1
    }
  }
}

/** Exact multi-percentile aggregate with DISTINCT-VALUE-bounded state:
  * `exact_percentiles(value, array(p1, p2, ...))` → `array<double>`,
  * linear interpolation between bracketing order statistics — the same
  * declared semantics as Spark's `percentile()` / `QUANTILE_CONT`, and
  * the same numeric formula as [[graft.ops.Percentiles]] (Spark's
  * `lower*(ceil(t)-t) + upper*(t-floor(t))` at `t = p*(n-1)`), so all
  * three agree bit-for-bit.
  *
  * Why another exact-percentile surface: Spark's `percentile()`
  * buffers EVERY group row (O(rows) on one task — the 100 TB
  * state-explosion), and the rank-selection operator bounds state by
  * distinct values but pays two row-scale hash aggregates plus a
  * window per value column. This aggregate holds a value→count map in
  * the aggregation buffer instead: per-row cost is one open-addressing
  * probe, map-side combine ships one (value, count) pair per distinct
  * value per task, and ALL requested percentiles evaluate from one
  * buffer (sort the ~distinct keys, walk cumulative counts once). One
  * scan, one aggregated exchange, no window.
  *
  * The state bound is O(distinct values) IN ONE BUFFER — the right
  * trade for bounded-domain columns (quantities, 2-dp money: <= ~10^7
  * distinct cents at any corpus size). For genuinely continuous values
  * whose distinct count approaches the row count, the buffer cannot
  * spill — use [[graft.ops.Percentiles]] there, whose per-task sort
  * degrades to disk instead of OOM. Both are exact; the catalog pins
  * them equal.
  *
  * Nulls are excluded ([[update]] skips them); an all-null group
  * evaluates to null, as `percentile()` does.
  *
  * The boundedness contract is ENFORCED, not trusted (r14, the
  * SemDeDup over-cap convention): a buffer that exceeds `maxDistinct`
  * distinct values aborts the query with an actionable message naming
  * the rank-selection operator, instead of silently marching an
  * executor toward OOM when a caller points this aggregate at a
  * continuous column. The default cap (2^24 ≈ 1.6·10^7 entries, ≤
  * ~768 MB of map arrays at the 2× load factor) clears every bounded
  * domain the scaladoc promises (~10^7 distinct cents) with room.
  *
  * CHOOSING between this and the two-phase histogram shape (a codegen
  * `groupBy(value).count()` folded through the WEIGHTED form — q97's
  * shape): there is no auto-rewrite, by measurement (r16, sf1 60M
  * rows, same JVM, medians-of-5, per-column single-shape cells):
  * two-phase 1.06 s vs count-map 1.34 s at 11 distinct values
  * (l_discount), but count-map 1.03 vs two-phase 1.22 at 47 distinct
  * (l_quantity) and 1.59 vs 2.19 at ~600k distinct (l_extendedprice).
  * The crossover sits between 11 and 47 distinct, the best-case win is
  * ~20% — about twice the same-JVM variance bar — and the mis-routing
  * penalty GROWS with distinct count, so a threshold rule would be
  * overfit noise.
  * DEFAULT TO THIS AGGREGATE (never catastrophically wrong, bounded
  * state everywhere); reach for the two-phase shape by hand only for
  * very-low-distinct columns (≲ ~20 values — flags, discounts,
  * ratings) where the count phase's exchange collapses to
  * groups×distinct rows, and confirm on your own cluster.
  */
case class ExactPercentilesAgg(
    child: Expression,
    ps: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    maxDistinct: Int = ExactPercentilesAgg.DefaultMaxDistinct,
    weight: Option[Expression] = None)
  extends TypedImperativeAggregate[ValueCountMap] {

  require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
    s"percentiles must be in [0,1]: $ps")
  require(maxDistinct > 0, s"maxDistinct must be positive: $maxDistinct")

  private def checkCap(buf: ValueCountMap): ValueCountMap = {
    if (buf.size > maxDistinct) throw new IllegalStateException(
      s"exact_percentiles: aggregation buffer exceeded $maxDistinct " +
        "distinct values — this column's domain is not bounded, and the " +
        "count-map state would approach O(rows). Use the rank-selection " +
        "operator graft.ops.Percentiles (spills instead of buffering) " +
        "for continuous columns, or raise the cap explicitly if the " +
        "domain really is this large.")
    buf
  }

  override def children: Seq[Expression] = Seq(child) ++ weight

  // Any integral weight type is accepted (update() reads it through
  // java.lang.Number): an INT count column or literal weight should not
  // force callers to cast to BIGINT by hand (r15 ADVICE).
  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, weight.map(_.dataType)) match {
      case (DoubleType,
            None | Some(ByteType | ShortType | IntegerType | LongType)) =>
        TypeCheckResult.TypeCheckSuccess
      case (other, w) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double[, integral weight]), got " +
          s"${other.simpleString}${w.map(", " + _.simpleString).getOrElse("")}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_percentiles"

  override def createAggregationBuffer(): ValueCountMap = new ValueCountMap()

  // The hot-path child after binding is a BoundReference over a double
  // column; its interpreted eval() boxes every row's value (the accessor
  // returns Any). Read the primitive directly in that case — update()
  // runs once per input row per aggregate inside ObjectHashAggregate's
  // interpreted loop, so one allocation per row is the dominant
  // avoidable cost of this surface (r15, q50 attribution).
  private lazy val directOrdinal: Int = child match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buf: ValueCountMap, input: InternalRow): ValueCountMap = {
    // weight (pre-counted rows: the expanded two-phase shape) — null or
    // non-positive weights contribute nothing, mirroring null values
    val w = weight match {
      case None => 1L
      case Some(we) => we.eval(input) match {
        case null => 0L
        case n: java.lang.Long => n.longValue()
        case n: java.lang.Number => n.longValue()
      }
    }
    if (w > 0) {
      val ord = directOrdinal
      if (ord >= 0) {
        if (!input.isNullAt(ord))
          buf.add(java.lang.Double.doubleToLongBits(input.getDouble(ord)), w)
      } else {
        val v = child.eval(input)
        if (v != null)
          buf.add(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), w)
      }
    }
    checkCap(buf)
  }

  override def merge(buf: ValueCountMap, other: ValueCountMap): ValueCountMap = {
    var i = 0
    while (i < other.keys.length) {
      if (other.cnts(i) != 0L) buf.add(other.keys(i), other.cnts(i))
      i += 1
    }
    checkCap(buf)
  }

  // compact, sort by VALUE (doubles; money/quantity data — no NaN),
  // walk cumulative counts to the bracketing order statistics — shared
  // with the fused two-column aggregate
  override def eval(buf: ValueCountMap): Any =
    ExactPercentiles2Agg.evalOne(buf, ps)

  override def serialize(buf: ValueCountMap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val outS = new DataOutputStream(bos)
    outS.writeInt(buf.size)
    var i = 0
    while (i < buf.keys.length) {
      if (buf.cnts(i) != 0L) {
        outS.writeLong(buf.keys(i)); outS.writeLong(buf.cnts(i))
      }
      i += 1
    }
    outS.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ValueCountMap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ValueCountMap(math.max(64,
      java.lang.Integer.highestOneBit(math.max(1, n * 2 - 1)) * 2))
    var i = 0
    while (i < n) { buf.add(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentilesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentilesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0),
      weight = if (newChildren.length > 1) Some(newChildren(1)) else None)
}

object ExactPercentilesAgg {
  /** 2^24 distinct values — clears any 2-dp money / quantity domain;
    * an abort above this means the column is effectively continuous. */
  val DefaultMaxDistinct: Int = 1 << 24
}

/** TWO-column fused variant: `exact_percentiles2(v1, ps1, v2, ps2)` →
  * `struct(p1: array<double>, p2: array<double>)`.
  *
  * Same count-map state per column as [[ExactPercentilesAgg]]; built to
  * test whether ObjectHashAggregate's per-AGGREGATE row machinery
  * (update dispatch, buffer-field read/write, cap check) dominates the
  * interpreted path once the probe itself is primitive. r15 measured NO
  * on the single-file sf1 layout (fused 1.41 s vs two separate
  * aggregates 1.23); the r22 re-measurement on the multi-file layout
  * (BENCH_SOLO `r22_percentile_ab`, two windows, medians-of-5) REVERSED it
  * — fused 0.85/0.77 s vs 1.03/0.86 — because with parallel scans the
  * per-row dispatch is the dominant term, so the catalog q50 now runs this
  * aggregate (both results kept on record: the choice is
  * layout-sensitive, re-measure before porting it). Null handling,
  * linear interpolation, and the distinct-cap abort are per-column
  * identical to the single-column aggregate (PercentilesSpec pins
  * equality).
  */
case class ExactPercentiles2Agg(
    c1: Expression, ps1: Seq[Double],
    c2: Expression, ps2: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    maxDistinct: Int = ExactPercentilesAgg.DefaultMaxDistinct)
  extends TypedImperativeAggregate[Array[ValueCountMap]] {

  require(ps1.nonEmpty && ps2.nonEmpty &&
    (ps1 ++ ps2).forall(p => p >= 0 && p <= 1),
    s"percentiles must be in [0,1]: $ps1 / $ps2")

  override def children: Seq[Expression] = Seq(c1, c2)

  override def checkInputDataTypes(): TypeCheckResult =
    (c1.dataType, c2.dataType) match {
      case (DoubleType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two double arguments, got " +
          s"${a.simpleString}, ${b.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("p1", ArrayType(DoubleType, containsNull = false)),
    StructField("p2", ArrayType(DoubleType, containsNull = false))))
  override def nullable: Boolean = false
  override def prettyName: String = "exact_percentiles2"

  override def createAggregationBuffer(): Array[ValueCountMap] =
    Array(new ValueCountMap(), new ValueCountMap())

  private def one(p: ValueCountMap, ps: Seq[Double]) =
    ExactPercentiles2Agg.evalOne(p, ps)

  // same BoundReference fast path as the single-column aggregate
  private lazy val ord1: Int = c1 match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }
  private lazy val ord2: Int = c2 match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  private def checkCap(buf: Array[ValueCountMap]): Array[ValueCountMap] = {
    if (buf(0).size > maxDistinct || buf(1).size > maxDistinct)
      throw new IllegalStateException(
        s"exact_percentiles2: aggregation buffer exceeded $maxDistinct " +
          "distinct values — use graft.ops.Percentiles for continuous " +
          "columns, or raise the cap explicitly.")
    buf
  }

  override def update(buf: Array[ValueCountMap],
                      input: InternalRow): Array[ValueCountMap] = {
    val o1 = ord1
    if (o1 >= 0) {
      if (!input.isNullAt(o1))
        buf(0).add(java.lang.Double.doubleToLongBits(input.getDouble(o1)), 1L)
    } else {
      val v = c1.eval(input)
      if (v != null)
        buf(0).add(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 1L)
    }
    val o2 = ord2
    if (o2 >= 0) {
      if (!input.isNullAt(o2))
        buf(1).add(java.lang.Double.doubleToLongBits(input.getDouble(o2)), 1L)
    } else {
      val v = c2.eval(input)
      if (v != null)
        buf(1).add(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 1L)
    }
    checkCap(buf)
  }

  override def merge(buf: Array[ValueCountMap],
                     other: Array[ValueCountMap]): Array[ValueCountMap] = {
    var m = 0
    while (m < 2) {
      val o = other(m); val b = buf(m)
      var i = 0
      while (i < o.keys.length) {
        if (o.cnts(i) != 0L) b.add(o.keys(i), o.cnts(i))
        i += 1
      }
      m += 1
    }
    checkCap(buf)
  }

  override def eval(buf: Array[ValueCountMap]): Any =
    InternalRow(one(buf(0), ps1), one(buf(1), ps2))

  override def serialize(buf: Array[ValueCountMap]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val outS = new DataOutputStream(bos)
    buf.foreach { m =>
      outS.writeInt(m.size)
      var i = 0
      while (i < m.keys.length) {
        if (m.cnts(i) != 0L) {
          outS.writeLong(m.keys(i)); outS.writeLong(m.cnts(i))
        }
        i += 1
      }
    }
    outS.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[ValueCountMap] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill(2) {
      val n = in.readInt()
      val m = new ValueCountMap(math.max(64,
        java.lang.Integer.highestOneBit(math.max(1, n * 2 - 1)) * 2))
      var i = 0
      while (i < n) { m.add(in.readLong(), in.readLong()); i += 1 }
      m
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentiles2Agg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentiles2Agg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(c1 = newChildren(0), c2 = newChildren(1))
}

object ExactPercentiles2Agg {
  /** One column's percentile evaluation — compact, value-sort, cumulative
    * walk; identical arithmetic to [[ExactPercentilesAgg.eval]]. Null
    * when the map is empty (all-null column). */
  private[functions] def evalOne(buf: ValueCountMap,
                                 ps: Seq[Double]): GenericArrayData = {
    if (buf.size == 0) return null
    val vs = new Array[Double](buf.size)
    val cs = new Array[Long](buf.size)
    var i = 0; var o = 0
    while (i < buf.keys.length) {
      if (buf.cnts(i) != 0L) {
        vs(o) = java.lang.Double.longBitsToDouble(buf.keys(i))
        cs(o) = buf.cnts(i)
        o += 1
      }
      i += 1
    }
    val order = Array.range(0, buf.size).sortBy(vs(_))
    var n = 0L
    i = 0
    while (i < cs.length) { n += cs(i); i += 1 }
    val out = new Array[Double](ps.length)
    var pi = 0
    while (pi < ps.length) {
      val t = ps(pi) * (n - 1)
      val lo = math.floor(t).toLong
      val hi = math.ceil(t).toLong
      var cum = 0L
      var j = 0
      var lv = 0.0
      var hv = 0.0
      var needLo = true
      var needHi = true
      while (j < order.length && (needLo || needHi)) {
        val prev = cum
        cum += cs(order(j))
        if (needLo && lo >= prev && lo < cum) { lv = vs(order(j)); needLo = false }
        if (needHi && hi >= prev && hi < cum) { hv = vs(order(j)); needHi = false }
        j += 1
      }
      out(pi) = lv * (lo + 1 - t) + hv * (t - lo)
      pi += 1
    }
    new GenericArrayData(out)
  }
}

object ExactPercentilesF {
  /** `exactPercentiles(value, ps)`: array of exact linear-interpolation
    * percentiles, in `ps` order.
    */
  def exactPercentiles(value: Column, ps: Seq[Double]): Column =
    column(ExactPercentilesAgg(expression(value), ps))

  /** Weighted form over PRE-COUNTED (value, count) rows — the final
    * stage of the expanded two-phase percentile shape: a codegen
    * HashAggregate counts distinct values first (row-scale work in
    * whole-stage codegen), then this aggregate folds the ~distinct-many
    * count rows. Identical result to [[exactPercentiles]] over the raw
    * rows, pinned by PercentilesSpec.
    *
    * SQL: `exact_percentiles_weighted(value, weight, ps[, maxDistinct])`
    * — the weight may be any integral type, and the optional fourth
    * argument overrides the distinct-value abort cap.
    */
  def exactPercentilesWeighted(value: Column, count: Column,
                               ps: Seq[Double]): Column =
    column(ExactPercentilesAgg(expression(value), ps,
      weight = Some(expression(count))))

  /** Fused two-column percentiles: one aggregate, one per-row update.
    * SQL: `exact_percentiles2(v1, ps1, v2, ps2)` → struct(p1, p2).
    */
  def exactPercentiles2(v1: Column, ps1: Seq[Double],
                        v2: Column, ps2: Seq[Double]): Column =
    column(ExactPercentiles2Agg(expression(v1), ps1, expression(v2), ps2))
}
