package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k smallest (ord, id) pairs per
  * group (lexicographic — id is the deterministic tie-break) in a bounded
  * max-heap and returns them as a sorted array of structs.
  *
  * This is the scale-correct form of "top-k per group": a window
  * row_number sorts EVERY candidate row inside each partition before
  * discarding all but k, so its shuffle carries the full candidate set —
  * at an ANN signature scan that is corpus_size rows per probe. A
  * TypedImperativeAggregate partial-aggregates map-side: every map
  * partition reduces its slice to at most k pairs per group, the shuffle
  * moves only those, and merge keeps the best k of k·partitions. State is
  * O(k) per group, serialized as 16 bytes per pair.
  */
case class TopKPairAgg(
    ord: Expression,
    id: Expression,
    k: Int,
    dedup: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairAgg.Heap] {

  require(k > 0, s"topk_pairs needs k > 0, got $k")

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", LongType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKPairAgg.Heap =
    new TopKPairAgg.Heap(k, dedup)

  override def update(buf: TopKPairAgg.Heap, input: InternalRow): TopKPairAgg.Heap = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null) {
      buf.offer(o.asInstanceOf[Long], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKPairAgg.Heap, other: TopKPairAgg.Heap): TopKPairAgg.Heap = {
    other.foreach((o, i) => buf.offer(o, i))
    buf
  }

  override def eval(buf: TopKPairAgg.Heap): Any = {
    val sorted = buf.sortedPairs
    new GenericArrayData(sorted.map { case (o, i) =>
      InternalRow(o, i)
    })
  }

  override def serialize(buf: TopKPairAgg.Heap): Array[Byte] = {
    val pairs = buf.sortedPairs
    val bb = java.nio.ByteBuffer.allocate(4 + pairs.length * 16)
    bb.putInt(pairs.length)
    pairs.foreach { case (o, i) => bb.putLong(o); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairAgg.Heap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKPairAgg.Heap(k, dedup)
    var j = 0
    while (j < n) { h.offer(bb.getLong, bb.getLong); j += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairAgg =
    copy(ord = newChildren(0), id = newChildren(1))
  override def prettyName: String = "topk_pairs"
}

object TopKPairAgg {

  /** Bounded max-heap over (ord, id) with lexicographic order: holds the
    * k smallest pairs seen; the root is the current worst, evicted when a
    * better pair arrives.
    *
    * `dedup = true` additionally rejects EXACT duplicates of a currently
    * held pair, making `heap(dedup).topK ≡ input.distinct.topK` when every
    * duplicate of a pair is bit-identical (the ANN multi-assignment case:
    * a (probe, vector) pair reached through two shared inverted lists
    * scores the same ADC/cosine both times). Proof sketch that checking
    * only CURRENT members suffices: the root (current worst kept) is
    * non-increasing over a heap's life — a pair is only evicted when a
    * strictly smaller one replaces it, and insertions never raise the
    * root — so a duplicate of an EVICTED pair compares ≥ root and is
    * rejected by the ordinary bar; merge() routes through offer(), which
    * covers the one-copy-per-partial-buffer case the same way. Membership
    * is an O(k) scan: during the fill phase (n < k) every offered pair
    * pays it; once full, only pairs that already cleared the root bar do
    * (k ≤ 100 at every call site today — a convention, not an enforced
    * bound — so both phases are cheap next to the score computation
    * feeding the heap).
    */
  final class Heap(k: Int, dedup: Boolean = false) {
    private val ords = new Array[Long](k)
    private val ids = new Array[Long](k)
    private var n = 0

    @inline private def gt(o1: Long, i1: Long, o2: Long, i2: Long): Boolean =
      o1 > o2 || (o1 == o2 && i1 > i2)

    private def contains(o: Long, i: Long): Boolean = {
      var j = 0
      while (j < n) {
        if (ords(j) == o && ids(j) == i) return true
        j += 1
      }
      false
    }

    def offer(o: Long, i: Long): Unit = {
      if (dedup && (n == k && !gt(ords(0), ids(0), o, i))) return
      if (dedup && contains(o, i)) return
      if (n < k) {
        var c = n; ords(c) = o; ids(c) = i; n += 1
        while (c > 0 && gt(ords(c), ids(c), ords((c - 1) / 2), ids((c - 1) / 2))) {
          swap(c, (c - 1) / 2); c = (c - 1) / 2
        }
      } else if (gt(ords(0), ids(0), o, i)) {
        ords(0) = o; ids(0) = i
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1; val r = 2 * c + 2
          var m = c
          if (l < n && gt(ords(l), ids(l), ords(m), ids(m))) m = l
          if (r < n && gt(ords(r), ids(r), ords(m), ids(m))) m = r
          if (m == c) done = true else { swap(c, m); c = m }
        }
      }
    }

    @inline private def swap(a: Int, b: Int): Unit = {
      val to = ords(a); ords(a) = ords(b); ords(b) = to
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }

    def foreach(f: (Long, Long) => Unit): Unit = {
      var j = 0
      while (j < n) { f(ords(j), ids(j)); j += 1 }
    }

    /** Ascending (ord, id) — the deterministic output order. */
    def sortedPairs: Array[(Long, Long)] = {
      val out = new Array[(Long, Long)](n)
      var j = 0
      while (j < n) { out(j) = (ords(j), ids(j)); j += 1 }
      scala.util.Sorting.stableSort(out,
        (x: (Long, Long), y: (Long, Long)) =>
          x._1 < y._1 || (x._1 == y._1 && x._2 < y._2))
      out
    }
  }

  /** Column builder: array of the k smallest (ord, id) structs per group,
    * ascending. Both inputs must be Long; rows with a null in either are
    * ignored. `dedup = true` treats bit-identical (ord, id) pairs as one
    * candidate (equivalent to `.distinct()` upstream — without the
    * distinct's full-stream exchange). That costs an O(k) membership scan
    * per offer that reaches it (every offer while the heap fills, then
    * those that beat the root), so a dedup aggregate is O(n·k) per group
    * in the worst case. The call sites use k ≤ 100, but nothing enforces
    * that bound: a large k with `dedup = true` pays the scan in full.
    */
  def topkPairs(ord: Column, id: Column, k: Int, dedup: Boolean = false): Column =
    ColumnBridge.toColumn(
      TopKPairAgg(ColumnBridge.toExpr(ord), ColumnBridge.toExpr(id), k, dedup)
        .toAggregateExpression())
}
