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

/** Primitive k-slot insertion buffer for [[TopKPairs]]: two parallel
  * primitive arrays kept in rank order (score DESC, id ASC), inserted
  * into by linear scan + shift. For the k this aggregate exists for
  * (single-digit to low-tens), that is strictly cheaper than the r12
  * TreeSet buffer, which allocated a boxed `(Double, Long)` node per
  * insert — on a billion-row scan the allocations, not the
  * comparisons, were the cost (measured A/B in the scaladoc of
  * [[TopKPairs]]). Duplicate (score, id) pairs are ignored, preserving
  * the TreeSet's set semantics bit-for-bit.
  */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** True iff (s1, i1) ranks strictly before (s2, i2). */
  @inline private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, i: Long): Unit = {
    // fast reject: full and not before the current last slot
    if (size == k && !before(s, i, scores(k - 1), ids(k - 1))) return
    var j = 0
    while (j < size && before(scores(j), ids(j), s, i)) j += 1
    if (j < size && scores(j) == s && ids(j) == i) return // duplicate pair
    val last = math.min(size, k - 1) // bottom slot falls off when full
    var m = last
    while (m > j) { scores(m) = scores(m - 1); ids(m) = ids(m - 1); m -= 1 }
    scores(j) = s
    ids(j) = i
    if (size < k) size += 1
  }
}

/** Grouped top-k as a bounded-buffer `TypedImperativeAggregate`: the
  * per-group ranking `row_number().over(partitionBy(g).orderBy(...)) <= k`
  * re-expressed as an aggregation, for the case where only the top k
  * rows are wanted (k small, groups few-to-many).
  *
  * Why not the window (q51's form, which stays in the catalog as the
  * ranking-semantics surface): even with Spark's partial
  * `WindowGroupLimit` pushdown — which already bounds what crosses the
  * exchange — the window form must SORT each map partition's full frame
  * to find its local top k (O(n log n) in partition size). The
  * aggregate form keeps a k-element ordered buffer per (group, task)
  * and streams the input through it: O(n·k) shift work with k tiny, no
  * sort operator anywhere, and map-side combine ships at most k pairs
  * per (group, task) — the same exchange bound, minus the sort.
  * Buffers are two primitive k-arrays ([[TopKBuffer]], r13 — the r12
  * TreeSet allocated a boxed tuple node per insert). The measured A/B
  * at sf1 (q89/q94 solo, median-of-5, alternated checkouts in one
  * window) is a WASH: q89 0.77 s → 0.72 s, q94 flat ~0.29-0.32 s —
  * at this scale the scan and probe-side work dominate and most rows
  * take the full-buffer fast-reject path in either implementation, so
  * the hypothesized allocation win is not measurable. The primitive
  * form is kept for its strictly better memory behavior (zero
  * per-insert allocation on the paths that DO insert — early rows of
  * every task, merge of every partial) at identical code size. Either
  * way a skewed group costs memory k, not its row count.
  *
  * Ordering is (score DESC, id ASC) — ties broken by the id, matching
  * `ORDER BY score DESC, id` row_number semantics. Result is an
  * `array<struct<score double, id bigint>>` in rank order, so
  * `posexplode` reconstructs (rank, id, score) rows exactly.
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, "top_k_pairs requires k > 0")

  override def children: Seq[Expression] = Seq(score, id)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_pairs requires (double score, bigint id), got " +
        s"${score.dataType.simpleString}/${id.dataType.simpleString}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_pairs"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var j = 0
    while (j < other.size) { buf.insert(other.scores(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData((0 until buf.size).map { j =>
      InternalRow(buf.scores(j), buf.ids(j))
    })

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var j = 0
    while (j < buf.size) {
      out.writeDouble(buf.scores(j)); out.writeLong(buf.ids(j)); j += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    // serialized buffers are already rank-ordered, so inserts append
    (0 until n).foreach(_ => buf.insert(in.readDouble(), in.readLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopK {
  /** `topKPairs(score, id, k)`: rank-ordered top-k (score desc, id asc)
    * as `array<struct<score, id>>`; pair with `posexplode` for rows.
    */
  def topKPairs(score: Column, id: Column, k: Int): Column =
    column(TopKPairs(expression(score), expression(id), k))
}
