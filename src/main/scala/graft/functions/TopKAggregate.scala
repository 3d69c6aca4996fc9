package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded max-heap of the k smallest `(key, id)` pairs under the
  * total lexicographic order (key asc, id asc) — the top-k state of
  * [[TopKPairsAgg]]. Offering is O(1) for rejected candidates (one
  * root comparison — the overwhelmingly common case once the heap
  * fills) and O(log k) otherwise; k is small (10–100) by contract.
  */
final class TopKHeap(val k: Int) {
  val keys = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  // max-heap order: root = worst kept pair
  @inline private def gt(k1: Double, i1: Long, k2: Double, i2: Long): Boolean =
    k1 > k2 || (k1 == k2 && i1 > i2)

  @inline private def swap(a: Int, b: Int): Unit = {
    val tk = keys(a); keys(a) = keys(b); keys(b) = tk
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  def offer(key: Double, id: Long): Unit = {
    if (size < k) {
      var i = size; keys(i) = key; ids(i) = id; size += 1
      while (i > 0 && gt(keys(i), ids(i), keys((i - 1) / 2), ids((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (gt(keys(0), ids(0), key, id)) {
      keys(0) = key; ids(0) = id
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < size && gt(keys(l), ids(l), keys(m), ids(m))) m = l
        if (r < size && gt(keys(r), ids(r), keys(m), ids(m))) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }
  }

  /** Key of the worst kept pair (meaningful once `size > 0`). */
  def rootKey: Double = keys(0)

  /** Kept pairs ascending by (key, id) — the emission order. */
  def sorted: Array[(Double, Long)] =
    (0 until size).map(i => (keys(i), ids(i))).toArray.sortBy(identity)
}

/** Native bounded-heap top-k aggregation: `topk_pairs(key, id, k)` →
  * `array<struct<id, key>>` of the k smallest pairs by (key asc,
  * id asc). The serving-path replacement for
  * `row_number().over(partitionBy(query).orderBy(key, id)) <= k`:
  * the window form LOCAL-SORTS every candidate row (the measured 85%
  * of flat-IVF batch wall time at 1M — 125M pairs sorted to keep 10
  * per query), while this aggregate keeps ≤k rows per (query, task)
  * with an O(1) root comparison per rejected candidate, partial
  * map-side aggregation shrinking the shuffle to k rows per query per
  * task, and NO sort anywhere. Deterministic: the (key, id) order is
  * total, so the kept set never depends on partitioning or arrival
  * order. Null keys/ids are skipped (a serving path never ranks a
  * null distance; the window form would have ranked them FIRST via
  * NULLS FIRST, which is never the wanted semantics for top-k serving).
  *
  * For "largest first" rankings (cosine/MIPS), negate the key on the
  * way in and back out — IEEE negation is exact, so rounded scores
  * round-trip bit-identically.
  */
case class TopKPairsAgg(
    key: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0, s"topk_pairs needs k > 0 (got $k)")

  override def children: Seq[Expression] = Seq(key, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("key", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(b: TopKHeap, input: InternalRow): TopKHeap = {
    val kv = key.eval(input)
    val iv = id.eval(input)
    if (kv != null && iv != null)
      b.offer(kv.asInstanceOf[Double], iv.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { b.offer(other.keys(i), other.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKHeap): Any =
    new GenericArrayData(b.sorted.map { case (kk, ii) => InternalRow(ii, kk) })

  override def serialize(b: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + b.size * 16)
    bb.putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putDouble(b.keys(i)); bb.putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKHeap(k)
    var i = 0
    while (i < n) { h.offer(bb.getDouble, bb.getLong); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairsAgg =
    copy(key = newChildren(0), id = newChildren(1))
  override def prettyName: String = "topk_pairs"
}
