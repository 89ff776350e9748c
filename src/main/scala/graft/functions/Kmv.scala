package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-value sketch (Bar-Yossef et al.
  * '02; Beyer et al. SIGMOD '07 — public literature, independent
  * implementation): keep the k smallest DISTINCT 64-bit hashes of the
  * keys. The kth minimum estimates density, so
  * `D ≈ (k−1) / U(k)` with U the kth minimum normalized to (0, 1];
  * fewer than k values seen means the sketch is exhaustive and the
  * count exact.
  *
  * Why this next to HLL (`q_hll_distinct`): KMV sketches COMPOSE into
  * set operations — the union of two sketches is the merged k-min set,
  * and a θ-sketch-style intersection estimate falls out of the shared
  * values below the union's kth minimum. Two corpus releases compare
  * by Jaccard/overlap through two ~8 KB artifacts, no join, no
  * re-scan. The sketch is a deterministic FUNCTION of the key set
  * (k smallest hashes — no insertion-order or partition dependence),
  * so merge-then-eval is bit-identical to one global build, the
  * strongest mergeability claim in the sketch family alongside CMS.
  */
final class KmvBuffer(val k: Int) {
  // sorted distinct hashes, ascending; at most k of them
  val set: java.util.TreeSet[java.lang.Long] = new java.util.TreeSet()

  def add(h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    else if (h < set.last()) {
      if (set.add(h)) { set.remove(set.last()); () }
    }
  }

  def mergeIn(o: KmvBuffer): Unit = {
    require(o.k == k, "k mismatch")
    val it = o.set.iterator()
    while (it.hasNext) add(it.next())
  }
}

object KmvBuffer {
  def toBytes(b: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * (2 + b.set.size))
    bb.putLong(b.k.toLong).putLong(b.set.size.toLong)
    val it = b.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new KmvBuffer(bb.getLong.toInt)
    val n = bb.getLong.toInt
    var i = 0
    while (i < n) { b.set.add(bb.getLong); i += 1 }
    b
  }

  /** Hash to (0, 1]: shift the signed 64-bit hash to unsigned, +1 so
    * the minimum possible value stays positive. */
  private def unit(h: Long): Double =
    (h.toDouble - Long.MinValue.toDouble + 1.0) / 1.8446744073709552e19

  /** Distinct-count estimate; exact when the sketch is exhaustive. */
  def estimate(bytes: Array[Byte]): Double = {
    val b = fromBytes(bytes)
    if (b.set.size < b.k) b.set.size.toDouble
    else (b.k - 1).toDouble / unit(b.set.last())
  }

  /** Merged (union) sketch bytes — the k-min set of the combined key
    * set; bit-identical to sketching the union directly. */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = fromBytes(a)
    x.mergeIn(fromBytes(b))
    toBytes(x)
  }

  /** θ-style Jaccard estimate: fraction of the union's k-min set
    * present in BOTH input sketches (each value below both sketches'
    * retention thresholds, so membership is decidable). */
  def jaccard(a: Array[Byte], b: Array[Byte]): Double = {
    val ab = fromBytes(a); val bb2 = fromBytes(b)
    val u = fromBytes(union(a, b))
    if (u.set.isEmpty) return 0.0
    var common = 0
    val it = u.set.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (ab.set.contains(h) && bb2.set.contains(h)) common += 1
    }
    common.toDouble / u.set.size
  }

  /** Intersection-size estimate: Jaccard × union estimate. */
  def intersection(a: Array[Byte], b: Array[Byte]): Double =
    jaccard(a, b) * estimate(union(a, b))
}

case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer]
  with ImplicitCastInputTypes
  with UnaryLike[Expression] {

  require(k >= 16, "k must be >= 16 for a meaningful estimate")

  // reject (or coerce) mistyped children at ANALYSIS time — update()
  // casts to UTF8String, which without this declaration surfaced as an
  // execution-time ClassCastException instead of an analysis error
  // (covariant override: AbstractDataType is private[sql])
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def prettyName: String = "kmv_sketch"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) {
      buf.add(Hash64.hashBytes(
        v.asInstanceOf[UTF8String].getBytes, 0x9e3779b97f4a7c15L))
    }
    buf
  }

  override def merge(b1: KmvBuffer, b2: KmvBuffer): KmvBuffer = {
    b1.mergeIn(b2); b1
  }

  override def eval(buf: KmvBuffer): Any = KmvBuffer.toBytes(buf)

  override def serialize(buf: KmvBuffer): Array[Byte] =
    KmvBuffer.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): KmvBuffer =
    KmvBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvSketchAgg =
    copy(child = c)
}

object Kmv {
  /** Column API: serialized KMV bytes over a string column. */
  def kmvSketch(c: Column, k: Int = 1024): Column =
    column(KmvSketchAgg(expression(c), k).toAggregateExpression())
}
