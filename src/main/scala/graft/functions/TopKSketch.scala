package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Exact mergeable top-k as a `TypedImperativeAggregate` —
  * `graft_topk(item, score, k)` returns the k highest-scoring rows per
  * group as `array<struct<item string, score long>>`, ordered
  * (score DESC, item ASC).
  *
  * The aggregation-based formulation of "top-k per group": a window
  * `row_number() ≤ k` materializes and SORTS every group's full row set
  * before discarding all but k; this buffer holds at most 2k entries
  * per partial, combines map-side, and is EXACT — top-k distributes
  * over union (topk(A ∪ B) = topk(topk(A) ∪ topk(B))), and the
  * deterministic (score DESC, item ASC) total order makes the merge
  * order invisible. At 100 TB the difference is a per-group O(k) state
  * hash aggregation versus a full shuffle-and-sort of every row.
  */
case class TopKSketch(
    itemExpr: Expression,
    scoreExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[(String, Long)]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(itemExpr, scoreExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("score", LongType))))

  // score DESC, item ASC — the deterministic total order (ties on both
  // fields are identical rows, so any of them is "the" answer)
  private val ord: Ordering[(String, Long)] =
    Ordering.by[(String, Long), (Long, String)] { case (it, sc) => (-sc, it) }

  private def trim(buf: mutable.ArrayBuffer[(String, Long)]): Unit =
    if (buf.length > k) {
      val top = buf.sorted(ord).take(k)
      buf.clear()
      buf ++= top
    }

  override def createAggregationBuffer(): mutable.ArrayBuffer[(String, Long)] =
    mutable.ArrayBuffer.empty

  override def update(
      buf: mutable.ArrayBuffer[(String, Long)], row: InternalRow): mutable.ArrayBuffer[(String, Long)] = {
    val item = itemExpr.eval(row)
    val score = scoreExpr.eval(row)
    if (item != null && score != null) {
      buf += ((item.toString, score.asInstanceOf[Number].longValue()))
      if (buf.length >= 2 * k) trim(buf) // amortized: sort every k inserts
    }
    buf
  }

  override def merge(
      a: mutable.ArrayBuffer[(String, Long)],
      b: mutable.ArrayBuffer[(String, Long)]): mutable.ArrayBuffer[(String, Long)] = {
    a ++= b
    trim(a)
    a
  }

  override def eval(buf: mutable.ArrayBuffer[(String, Long)]): Any =
    new GenericArrayData(buf.sorted(ord).take(k).map { case (it, sc) =>
      InternalRow(UTF8String.fromString(it), sc)
    }.toArray[Any])

  override def serialize(buf: mutable.ArrayBuffer[(String, Long)]): Array[Byte] = {
    trim(buf) // ship at most k entries per partial
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (it, sc) =>
      val b = it.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(sc)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[(String, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.ArrayBuffer.empty[(String, Long)]
    (1 to n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf += ((new String(b, "UTF-8"), in.readLong()))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(itemExpr = c(0), scoreExpr = c(1))
  override def prettyName: String = "graft_topk"
}
