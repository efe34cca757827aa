package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `mg_topk(text, cap)` → `struct<total bigint, items array<struct<term
  * string, lb bigint>>>`: a Misra-Gries heavy-hitter summary over the
  * whitespace tokens of every document in the group, with HARD-BOUNDED
  * state — at most `2 * cap` live counters per buffer, at most `cap`
  * emitted — no matter the corpus vocabulary.
  *
  * This is the candidate-generation half of exact heavy hitters at
  * 100 TB (see [[graft.text.HeavyHitters]]): a web-scale corpus has a
  * vocabulary in the billions (URLs, hashes, typos), so the obvious
  * `explode → groupBy(term)` ships a vocabulary-scale exchange just to
  * find the few globally frequent terms. The sketch instead ships one
  * summary of ≤ `cap` counters per partial buffer, and carries the
  * classic Misra-Gries GUARANTEE through merges: **every term whose true
  * corpus frequency exceeds `total / (cap + 1)` appears in the output**
  * (`total` = all tokens consumed, emitted alongside the items so
  * callers can certify against it).
  *
  * Why the guarantee holds through this implementation's batching: the
  * buffer grows to `2 * cap` entries, then PRUNES — subtract the
  * `(cap+1)`-th largest count `d` from every counter and drop the
  * non-positive. At prune time at least `cap + 1` counters hold ≥ `d`,
  * so each prune discards ≥ `(cap+1) * d` of counted mass; with `N`
  * total tokens the sum of all prune deltas is ≤ `N / (cap+1)`. A
  * counter is therefore an UNDER-estimate by at most `N / (cap+1)`
  * (the classic MG error), and any term with true count above that
  * stays positive — present in every buffer it was seen by and
  * preserved by merge (counts add; the merged buffer prunes by the same
  * rule, and the mass argument covers those prunes too — the mergeable-
  * summaries result of Agarwal et al. 2013). Batching prunes at
  * `2 * cap` instead of decrementing on every overflow (the textbook
  * formulation) makes the amortized per-token cost O(1): each O(cap)
  * prune reclaims `cap` insertion slots.
  *
  * `lb` is the surviving counter value — a LOWER bound on the term's
  * true count. Items are emitted `lb` descending, term ascending, so
  * the output is deterministic given the same input SET (counter values
  * may differ across partitionings; membership of anything above the
  * threshold may not).
  *
  * Tokenization is the package contract ([[TermCounts]]: maximal runs
  * of non-whitespace bytes); update consumes the per-document DISTINCT
  * (term, cnt) pairs from the same one-pass byte scan as `term_counts`,
  * so a document costs one scan plus one map op per DISTINCT term —
  * never per occurrence. Null/blank documents contribute nothing.
  */
case class MisraGriesAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGriesAgg.Buffer] {

  require(cap >= 1 && cap <= (1 << 20),
    s"mg_topk cap must be in [1, ${1 << 20}], got $cap")

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("lb", LongType, nullable = false))),
      containsNull = false), nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "mg_topk"

  override def createAggregationBuffer(): MisraGriesAgg.Buffer =
    new MisraGriesAgg.Buffer(new java.util.HashMap[String, java.lang.Long](), 0L)

  override def update(buf: MisraGriesAgg.Buffer,
                      input: InternalRow): MisraGriesAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = TermCounts.count(v.asInstanceOf[UTF8String])
        .asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val row = arr.getStruct(i, 2)
        val cnt = row.getInt(1).toLong
        buf.total += cnt
        buf.map.merge(row.getUTF8String(0).toString, cnt, MisraGriesAgg.Add)
        // prune INSIDE the per-term loop: a single pathological document
        // (a concatenated URL/hash dump) can carry millions of distinct
        // tokens, and a post-document check would let the buffer grow
        // unbounded within it — the hard 2*cap state bound must hold
        // per insertion (the MG mass argument is insertion-order
        // independent, so mid-document prunes are valid)
        if (buf.map.size() > 2 * cap) MisraGriesAgg.prune(buf.map, cap)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: MisraGriesAgg.Buffer,
                     other: MisraGriesAgg.Buffer): MisraGriesAgg.Buffer = {
    buf.total += other.total
    val it = other.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.map.merge(e.getKey, e.getValue, MisraGriesAgg.Add)
      // prune INSIDE the merge loop, as update does per insertion: the
      // incoming buffer holds up to 2*cap entries of its own, so a
      // single post-loop check would let the merged buffer transiently
      // reach ~4*cap — the hard 2*cap bound must hold per insertion
      // here too (prune validity is insertion-order independent; a
      // counter already merged from `other` is just counted mass)
      if (buf.map.size() > 2 * cap) MisraGriesAgg.prune(buf.map, cap)
    }
    buf
  }

  override def eval(buf: MisraGriesAgg.Buffer): Any = {
    if (buf.map.size() > cap) MisraGriesAgg.prune(buf.map, cap)
    val items = new Array[(String, Long)](buf.map.size())
    val it = buf.map.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next(); items(i) = (e.getKey, e.getValue.longValue); i += 1
    }
    java.util.Arrays.sort(items, MisraGriesAgg.ByLbDescTermAsc)
    val rows = new Array[Any](items.length)
    i = 0
    while (i < items.length) {
      rows(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(items(i)._1), items(i)._2))
      i += 1
    }
    new GenericInternalRow(Array[Any](buf.total, new GenericArrayData(rows)))
  }

  override def serialize(buf: MisraGriesAgg.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.total)
    out.writeInt(buf.map.size())
    val it = buf.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes("UTF-8")
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue.longValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MisraGriesAgg.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val total = in.readLong()
    val n = in.readInt()
    val map = new java.util.HashMap[String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      map.put(new String(b, "UTF-8"), java.lang.Long.valueOf(in.readLong()))
      i += 1
    }
    new MisraGriesAgg.Buffer(map, total)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MisraGriesAgg {

  final class Buffer(val map: java.util.HashMap[String, java.lang.Long], var total: Long)

  private val Add =
    new java.util.function.BiFunction[java.lang.Long, java.lang.Long, java.lang.Long] {
      override def apply(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
        a + b
    }

  private val ByLbDescTermAsc = new java.util.Comparator[(String, Long)] {
    override def compare(a: (String, Long), b: (String, Long)): Int = {
      val c = java.lang.Long.compare(b._2, a._2)
      if (c != 0) c else a._1.compareTo(b._1)
    }
  }

  /** Subtract the `(cap+1)`-th largest counter from every counter and
    * drop the non-positive — the batched Misra-Gries decrement (class
    * doc). Post-condition: `map.size <= cap`.
    */
  private[functions] def prune(map: java.util.HashMap[String, java.lang.Long],
                               cap: Int): Unit = {
    if (map.size() <= cap) return
    val vals = new Array[Long](map.size())
    var i = 0
    val vit = map.values().iterator()
    while (vit.hasNext) { vals(i) = vit.next().longValue; i += 1 }
    java.util.Arrays.sort(vals) // ascending: (cap+1)-th largest from the top
    val d = vals(vals.length - (cap + 1))
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue.longValue - d
      if (nv <= 0) it.remove() else e.setValue(java.lang.Long.valueOf(nv))
    }
  }

  /** `mg_topk(text, cap)` as a Column. */
  def mgTopK(text: Column, cap: Int): Column =
    column(MisraGriesAgg(expression(text), cap))
}
