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

/** Bounded bottom-k reducer state: the k smallest (value, key) pairs under
  * (value ASC, key ASC) lexicographic order, exact duplicates admitted once.
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

/** Native bottom-k-pairs aggregate, the engine's one bounded k-best
  * aggregate: per group, the k smallest (value, key) pairs under (value
  * ASC, key ASC), each pair admitted once. The value is a BIGINT or a
  * DOUBLE and the output's `qd` field has the value's type; the key is a
  * BIGINT. A k-largest is the k-smallest of the negated value.
  *
  * A DOUBLE value lives in the long buffer under an order-preserving
  * encoding (`BottomKPairs.encode`), so the fold compares longs only and
  * orders doubles as Spark's own ORDER BY does: -Infinity first, NaN
  * last, -0.0 equal to 0.0 (it is folded to 0.0 and comes back as 0.0).
  *
  * Why a Catalyst TypedImperativeAggregate and not a `udaf`-wrapped
  * Aggregator: the wrapper deserializes every input row into a boxed
  * Scala tuple before the fold (measured ~27% on the kNN family at the
  * 200 k-vector point). This implementation reads the two children
  * straight off the InternalRow and mutates a primitive buffer: no
  * encoder, no boxing, no per-row allocation. It runs under hash
  * aggregation with map-side partial combine (ObjectHashAggregate), so
  * the one exchange carries ≤ k pairs per (group, map partition) where a
  * window top-k shuffles and sorts every row of the group.
  *
  * Exact-duplicate pairs collapse to one. That equals a window's
  * `row_number() <= k` whenever the key is unique within the group (the
  * q_topk_agg and q_bottomk_sample callers key on a primary key), and in
  * the kNN fold whenever the value is a function of (group, key): a pair
  * colliding in several LSH tables carries the same distance every time,
  * so dropping its duplicates never changes the k minimum.
  */
case class BottomKPairs(value: Expression, key: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomKPairsBuffer] {

  require(k > 0 && k <= 4096, s"need 0 < k <= 4096, got $k")

  override def children: Seq[Expression] = Seq(value, key)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), key = newChildren(1))

  override def checkInputDataTypes(): TypeCheckResult =
    if ((value.dataType == LongType || value.dataType == DoubleType) &&
        key.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bottomk_pairs requires (bigint or double, bigint) inputs, got " +
        s"(${value.dataType}, ${key.dataType})")

  @transient private lazy val isDouble = value.dataType == DoubleType

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("qd", value.dataType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): BottomKPairsBuffer =
    new BottomKPairsBuffer(k)

  override def update(b: BottomKPairsBuffer, input: InternalRow): BottomKPairsBuffer = {
    val d = value.eval(input)
    val id = key.eval(input)
    if (d != null && id != null)
      b.insert(
        if (isDouble) BottomKPairs.encode(d.asInstanceOf[Double]) else d.asInstanceOf[Long],
        id.asInstanceOf[Long])
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
    while (i < b.n) {
      // Any, not a numeric lub: a BIGINT value must stay a Long
      val v: Any = if (isDouble) BottomKPairs.decode(b.ds(i)) else b.ds(i)
      out(i) = InternalRow(v, b.ids(i))
      i += 1
    }
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
    // ArrayIndexOutOfBounds deep inside the aggregate.
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
  /** Order-preserving DOUBLE → BIGINT: `encode(a) < encode(b)` exactly when
    * `a` sorts before `b` in Spark's ORDER BY. Non-negative doubles keep
    * their IEEE bits; a negative one flips all bits but the sign, so a
    * larger magnitude gives a smaller long. `doubleToLongBits` maps every
    * NaN to one NaN above +Infinity, and -0.0 is folded to 0.0 first.
    */
  private def encode(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    if (b < 0) b ^ Long.MaxValue else b
  }

  /** The inverse of [[encode]] (-0.0 comes back as 0.0). */
  private def decode(e: Long): Double =
    java.lang.Double.longBitsToDouble(if (e < 0) e ^ Long.MaxValue else e)

  /** Column form: the group's k smallest (value, key) pairs as
    * `array<struct<qd, id: bigint>>` (`qd` of the value's type, BIGINT or
    * DOUBLE), value ASC / key ASC, exact duplicates admitted once. Null
    * inputs are skipped.
    */
  def apply(value: Column, key: Column, k: Int): Column =
    GraftBridge.column(
      new BottomKPairs(GraftBridge.expression(value),
        GraftBridge.expression(key), k).toAggregateExpression())

  /** The column form over only the rows where `where` is true (the
    * aggregate's FILTER clause).
    */
  def apply(value: Column, key: Column, k: Int, where: Column): Column =
    GraftBridge.column(
      new BottomKPairs(GraftBridge.expression(value),
        GraftBridge.expression(key), k)
        .toAggregateExpression(isDistinct = false,
          filter = Some(GraftBridge.expression(where))))
}
