package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Misra–Gries heavy-hitters sketch as a `TypedImperativeAggregate` —
  * the Catalyst extension point for aggregation with an opaque mutable
  * buffer (the same mechanism behind `approx_count_distinct`'s HLL and
  * the datasketches integrations; driver mandate lists "a novel sketch"
  * as a custom-operator target).
  *
  * `graft_freq_items(col, k)` returns up to k candidate heavy items as
  * `array<struct<item string, cnt long>>`, count-descending. Guarantee:
  * any value with frequency > n/(k+1) is present; counts are
  * lower-bound estimates. The buffer is O(k) regardless of input size
  * and merges map-side like any partial aggregate — the reason a sketch
  * beats an exact groupBy at 100 TB.
  */
case class FreqItemsSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LinkedHashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("cnt", LongType))))

  override def createAggregationBuffer(): mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap.empty

  override def update(
      buf: mutable.LinkedHashMap[String, Long], row: InternalRow): mutable.LinkedHashMap[String, Long] = {
    val v = child.eval(row)
    if (v != null) {
      val s = v.toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < k => buf.update(s, 1L)
        case None => // decrement-all step of Misra–Gries
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1
            if (c == 0) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      a: mutable.LinkedHashMap[String, Long],
      b: mutable.LinkedHashMap[String, Long]): mutable.LinkedHashMap[String, Long] = {
    b.foreach { case (s, c) => a.update(s, a.getOrElse(s, 0L) + c) }
    // trim back to k survivors by subtracting the (k+1)-largest count
    if (a.size > k) {
      val threshold = a.values.toSeq.sorted(Ordering[Long].reverse)(k)
      val dead = a.collect { case (s, c) if c - threshold <= 0 => s }
      a.mapValuesInPlace((_, c) => c - threshold)
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.LinkedHashMap[String, Long]): Any = {
    val sorted = buf.toSeq.sortBy { case (s, c) => (-c, s) }
    new GenericArrayData(sorted.map { case (s, c) =>
      InternalRow(UTF8String.fromString(s), c)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.LinkedHashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val b = s.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.LinkedHashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = mutable.LinkedHashMap.empty[String, Long]
    (1 to n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      m.update(new String(b, "UTF-8"), in.readLong())
    }
    m
  }

  override def withNewMutableAggBufferOffset(o: Int): FreqItemsSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItemsSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def prettyName: String = "graft_freq_items"
}
