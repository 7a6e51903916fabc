package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k as a *mergeable* aggregate (TypedImperativeAggregate):
  * each partition keeps a k-element heap, partial heaps merge map-side,
  * and only k (score, id) pairs per group ever cross the shuffle.
  *
  * The window formulation (`row_number().over(partitionBy(g).orderBy(score
  * desc)) <= k`) must shuffle and sort EVERY candidate row per group — at
  * 100 TB that is the difference between exchanging k rows and exchanging
  * the corpus. This is the SURVEY §7.2 "custom TypedImperativeAggregate"
  * case: a mergeable sketch whose partials combine associatively.
  *
  * Ties break toward smaller id, matching the `ORDER BY score DESC, id ASC`
  * convention of the oracle queries, so results are deterministic.
  */
case class TopKAggregate(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "top_k"

  /** true if (s1,i1) ranks better (earlier) than (s2,i2). */
  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  override def createAggregationBuffer(): mutable.ArrayBuffer[(Double, Long)] =
    mutable.ArrayBuffer.empty

  private def insert(buf: mutable.ArrayBuffer[(Double, Long)],
                     s: Double, id: Long): Unit = {
    if (buf.size < k) {
      buf += ((s, id))
    } else {
      // find current worst; replace if the newcomer ranks better
      var worst = 0
      var i = 1
      while (i < buf.size) {
        if (better(buf(worst)._1, buf(worst)._2, buf(i)._1, buf(i)._2)) worst = i
        i += 1
      }
      if (better(s, id, buf(worst)._1, buf(worst)._2)) buf(worst) = ((s, id))
    }
  }

  override def update(buf: mutable.ArrayBuffer[(Double, Long)],
                      input: InternalRow): mutable.ArrayBuffer[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      insert(buf, s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: mutable.ArrayBuffer[(Double, Long)],
                     b: mutable.ArrayBuffer[(Double, Long)]): mutable.ArrayBuffer[(Double, Long)] = {
    b.foreach { case (s, id) => insert(a, s, id) }
    a
  }

  override def eval(buf: mutable.ArrayBuffer[(Double, Long)]): Any = {
    val sorted = buf.sortWith { case ((s1, i1), (s2, i2)) => better(s1, i1, s2, i2) }
    new GenericArrayData(sorted.map { case (s, id) =>
      InternalRow(s, id)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, id) => bb.putDouble(s); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < n) { buf += ((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAggregate =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKAggregate {
  /** top_k(score, id, k) → array<struct<score,id>> sorted best-first. */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAggregate(ColumnBridge.expression(score),
        ColumnBridge.expression(id), k).toAggregateExpression())
}
