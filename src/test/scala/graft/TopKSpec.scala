package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.expr.{BottomKPairs, BottomKPairsBuffer}

/** Bounded top-k aggregate (graft.expr.BottomKPairs over the negated
  * value, as q_topk_agg runs it) — the map-side-combine rewrite of window
  * top-k. Three angles: algebra of the buffer (bounded, sorted,
  * associative merge), equivalence with the window form on the real
  * fixture, and the plan shape the rewrite exists to buy (partial
  * ObjectHashAggregate, zero Window operators).
  */
class TopKSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    spark.conf.set("graft.sortOnce.nocheckpoint", "true")
    super.beforeAll()
  }
  override def afterAll(): Unit = {
    spark.conf.unset("graft.sortOnce.nocheckpoint")
    super.afterAll()
  }

  // the k = 3 fold over (-value, key): value DESC, key ASC
  private val agg = BottomKPairs(
    BoundReference(0, DoubleType, nullable = true),
    BoundReference(1, LongType, nullable = true), 3)
  private def buf(pairs: (Double, Long)*): BottomKPairsBuffer =
    pairs.foldLeft(agg.createAggregationBuffer()) { case (b, (v, key)) =>
      agg.update(b, InternalRow(-v, key)) }
  private def top(b: BottomKPairsBuffer): Seq[(Double, Long)] = {
    val a = agg.eval(b).asInstanceOf[ArrayData]
    (0 until a.numElements()).map { i =>
      val e = a.getStruct(i, 2)
      (-e.getDouble(0), e.getLong(1))
    }
  }

  test("reduce keeps the buffer sorted, bounded at k, with the desc/asc tiebreak") {
    val b = buf((5.0, 10L), (1.0, 1L), (9.0, 7L), (5.0, 2L), (9.0, 9L))
    // top-3 of {9@7, 9@9, 5@2, 5@10, 1@1} under value desc, key asc
    val full = top(b)
    assert(full == Seq((9.0, 7L), (9.0, 9L), (5.0, 2L)))
    // below-the-bar insert is a no-op on a full buffer (update mutates it)
    assert(top(agg.update(b, InternalRow(-0.5, 0L))) == full)
  }

  test("merge of two full buffers is the global top-k; associative and commutative") {
    // merge folds its second buffer into its first, so each side is fresh
    val b1 = Seq((9.0, 1L), (7.0, 2L), (5.0, 3L))
    val b2 = Seq((8.0, 4L), (7.0, 1L), (6.0, 5L))
    val b3 = Seq((10.0, 6L))
    val m = top(agg.merge(buf(b1: _*), buf(b2: _*)))
    assert(m == Seq((9.0, 1L), (8.0, 4L), (7.0, 1L)))
    assert(top(agg.merge(buf(b2: _*), buf(b1: _*))) == m)
    assert(top(agg.merge(agg.merge(buf(b1: _*), buf(b2: _*)), buf(b3: _*))) ==
      top(agg.merge(buf(b1: _*), agg.merge(buf(b2: _*), buf(b3: _*)))))
    assert(top(agg.merge(buf(), buf(b1: _*))) == b1)
    assert(top(agg.merge(buf(b1: _*), buf())) == b1)
  }

  test("q_topk_agg returns exactly the window form's rows (same oracle)") {
    val viaAgg = query("q_topk_agg").collect().map(_.toString).toSeq
    val viaWindow = query("q_topk_per_group").collect().map(_.toString).toSeq
    assert(viaAgg.nonEmpty && viaAgg == viaWindow)
  }

  test("q_topk_agg plans partial aggregation and no Window operator") {
    val plan = query("q_topk_agg").queryExecution.executedPlan.toString
    // two ObjectHashAggregate phases = map-side partial + final merge;
    // that partial phase is the whole point of the rewrite
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Window"), plan)
  }
}
