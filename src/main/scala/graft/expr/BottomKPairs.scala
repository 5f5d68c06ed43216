package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded bottom-k reducer state: the k smallest (dist, id) pairs under
  * (dist ASC, id ASC) lexicographic order, exact duplicates admitted once.
  * Primitive long arrays, insertion kept sorted — O(1) reject fast path
  * (the common case once the buffer fills), O(k) shift on accept, zero
  * allocation per row.
  */
final class BottomKPairsBuffer(val k: Int) {
  val ds = new Array[Long](k)
  val ids = new Array[Long](k)
  var n = 0

  def insert(d: Long, id: Long): Unit = {
    if (n == k) {
      val ld = ds(k - 1); val li = ids(k - 1)
      // below the bar, or an exact duplicate of the bar itself
      if (d > ld || (d == ld && id >= li)) return
    }
    var i = n
    while (i > 0 && (ds(i - 1) > d || (ds(i - 1) == d && ids(i - 1) > id))) i -= 1
    if (i > 0 && ds(i - 1) == d && ids(i - 1) == id) return // exact duplicate
    val last = math.min(n, k - 1)
    var j = last
    while (j > i) { ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1 }
    ds(i) = d; ids(i) = id
    if (n < k) n += 1
  }
}

/** Native bottom-k-pairs aggregate — the kNN-graph reducer
  * (Similarity.knnGraphQuantized): per group, the k smallest (dist, id)
  * pairs under (dist ASC, id ASC), each pair admitted once.
  *
  * Why a Catalyst TypedImperativeAggregate and not a `udaf`-wrapped
  * Aggregator: the collision stream this folds is the engine's largest
  * intermediate (~1 B rows at the 2 M-vector scale point), and the udaf
  * wrapper deserializes every input row into a boxed Scala tuple before
  * the fold (measured ~27% on the kNN family at the 200 k-vector point).
  * This implementation reads the two long children straight off the
  * InternalRow and mutates a primitive buffer — no encoder, no boxing,
  * no per-row allocation. It still runs under hash aggregation with
  * map-side partial combine (ObjectHashAggregate), so the one exchange
  * carries ≤ k pairs per (group, map partition).
  *
  * Duplicate-pair dedup inside the fold is sound for the kNN use because
  * dist is a FUNCTION of (group, id) — a pair colliding in several LSH
  * tables carries the same distance every time, so duplicates are exact
  * and dropping them never changes the k-minimum (SimilaritySpec pins
  * result equality against the dedup-first strategy end to end).
  */
case class BottomKPairs(dist: Expression, key: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomKPairsBuffer] {

  require(k > 0 && k <= 4096, s"need 0 < k <= 4096, got $k")

  override def children: Seq[Expression] = Seq(dist, key)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), key = newChildren(1))

  override def checkInputDataTypes(): TypeCheckResult =
    if (dist.dataType == LongType && key.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bottomk_pairs requires (bigint, bigint) inputs, got " +
        s"(${dist.dataType}, ${key.dataType})")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("qd", LongType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): BottomKPairsBuffer =
    new BottomKPairsBuffer(k)

  override def update(b: BottomKPairsBuffer, input: InternalRow): BottomKPairsBuffer = {
    val d = dist.eval(input)
    val id = key.eval(input)
    if (d != null && id != null)
      b.insert(d.asInstanceOf[Long], id.asInstanceOf[Long])
    b
  }

  override def merge(b: BottomKPairsBuffer, o: BottomKPairsBuffer): BottomKPairsBuffer = {
    var i = 0
    while (i < o.n) { b.insert(o.ds(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: BottomKPairsBuffer): Any = {
    val out = new Array[Any](b.n)
    var i = 0
    while (i < b.n) { out(i) = InternalRow(b.ds(i), b.ids(i)); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(b: BottomKPairsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putLong(b.ds(i)); bb.putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BottomKPairsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new BottomKPairsBuffer(k)
    val n = bb.getInt
    // A truncated/corrupt buffer or a k mismatch between serialize and
    // deserialize sites would otherwise surface as an uncontexted
    // ArrayIndexOutOfBounds deep inside the aggregate (r18 ADVICE).
    require(n >= 0 && n <= k && bytes.length >= 4 + 16 * n,
      s"$prettyName: corrupt serialized buffer (n=$n, k=$k, " +
        s"bytes=${bytes.length}, need ${4 + 16 * math.max(n, 0)})")
    var i = 0
    while (i < n) { b.ds(i) = bb.getLong; b.ids(i) = bb.getLong; i += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKPairs =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "bottomk_pairs"
}

object BottomKPairs {
  /** Column form: the group's k smallest (dist, id) pairs as
    * `array<struct<qd: bigint, id: bigint>>`, dist ASC / id ASC, exact
    * duplicates admitted once. Null inputs are skipped.
    */
  def apply(dist: Column, key: Column, k: Int): Column =
    GraftBridge.column(
      new BottomKPairs(GraftBridge.expression(dist),
        GraftBridge.expression(key), k).toAggregateExpression())

  /** The column form over only the rows where `where` is true (the
    * aggregate's FILTER clause).
    */
  def apply(dist: Column, key: Column, k: Int, where: Column): Column =
    GraftBridge.column(
      new BottomKPairs(GraftBridge.expression(dist),
        GraftBridge.expression(key), k)
        .toAggregateExpression(isDistinct = false,
          filter = Some(GraftBridge.expression(where))))
}
