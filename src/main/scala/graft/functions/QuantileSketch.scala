package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Mergeable quantile sketch as a `TypedImperativeAggregate` — the
  * per-partition→merge shape percentile monitoring needs at 100 TB,
  * completing the sketch family (HLL union, exact bitmap, Misra–Gries).
  *
  * Log-bucketed relative-error design (the DDSketch construction,
  * Masson et al., VLDB 2019): a value x > 0 lands in bucket
  * ⌈log_γ(x)⌉ with γ = (1+α)/(1−α), so every bucket's midpoint
  * representative 2γ^i/(γ+1) is within relative error α of anything in
  * the bucket. The buffer is three structures — a zero counter and two
  * sparse bucket→count maps (positive / negative mirror) — and merging
  * is plain counter addition: **commutative and associative, so any
  * partial-aggregation tree yields the bit-identical sketch a single
  * sequential pass yields** (asserted in QuantileSketchSpec), unlike
  * sampling sketches (KLL/t-digest) whose merge order leaks into the
  * result. The price is a bucket count bounded by the DATA RANGE,
  * O(log(max/min)/α) — ~1 000 buckets for doubles spanning 9 decades at
  * α = 1% — rather than a hard constant; no collapse step means no
  * accuracy cliff and no merge-order dependence.
  *
  * `graft_qsketch(col, alpha_bp, array(q1_bp, ...))` returns
  * `array<double>` — for each requested basis-point quantile q, the
  * representative of the bucket holding the element of 0-indexed rank
  * ⌊q·(n−1)/10⁴⌋ in ascending order (negatives, zeros, positives).
  * Guarantee: |est − exact_rank_element| ≤ α·|exact_rank_element|.
  */
case class QuantileSketch(
    child: Expression,
    alphaBp: Int,
    qsBp: Seq[Int],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.Buf] {
  import QuantileSketch.Buf

  require(alphaBp > 0 && alphaBp < 10000, "alpha_bp must be in (0, 10000)")
  require(qsBp.forall(q => q >= 0 && q <= 10000), "quantiles are basis points in [0, 10000]")

  private val gamma: Double = (10000.0 + alphaBp) / (10000.0 - alphaBp)
  private val logGamma: Double = math.log(gamma)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Buf = new Buf()

  private def bucketOf(abs: Double): Int =
    math.ceil(math.log(abs) / logGamma).toInt

  override def update(buf: Buf, row: InternalRow): Buf = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Number].doubleValue()
      if (x == 0.0) buf.zeros += 1
      else if (x > 0.0) buf.pos.updateWith(bucketOf(x)) { c => Some(c.getOrElse(0L) + 1) }
      else buf.neg.updateWith(bucketOf(-x)) { c => Some(c.getOrElse(0L) + 1) }
    }
    buf
  }

  override def merge(a: Buf, b: Buf): Buf = {
    a.zeros += b.zeros
    b.pos.foreach { case (k, c) => a.pos.updateWith(k)(p => Some(p.getOrElse(0L) + c)) }
    b.neg.foreach { case (k, c) => a.neg.updateWith(k)(p => Some(p.getOrElse(0L) + c)) }
    a
  }

  private def repr(bucket: Int): Double =
    2.0 * math.pow(gamma, bucket) / (gamma + 1.0)

  override def eval(buf: Buf): Any = {
    val n = buf.zeros + buf.pos.valuesIterator.sum + buf.neg.valuesIterator.sum
    if (n == 0) return new GenericArrayData(qsBp.map(_ => Double.NaN).toArray[Any])
    // ascending value order: negatives by DESCENDING bucket (larger
    // bucket = larger |x| = smaller value), zeros, positives ascending
    val negAsc = buf.neg.toSeq.sortBy(-_._1).map { case (k, c) => (-repr(k), c) }
    val posAsc = buf.pos.toSeq.sortBy(_._1).map { case (k, c) => (repr(k), c) }
    val walk: Seq[(Double, Long)] =
      negAsc ++ (if (buf.zeros > 0) Seq((0.0, buf.zeros)) else Nil) ++ posAsc
    val out = qsBp.map { q =>
      val rank = q.toLong * (n - 1) / 10000L // 0-indexed, floor
      var cum = 0L
      var res = walk.last._1
      val it = walk.iterator
      var found = false
      while (it.hasNext && !found) {
        val (v, c) = it.next()
        cum += c
        if (cum > rank) { res = v; found = true }
      }
      res
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.zeros)
    def writeMap(m: mutable.HashMap[Int, Long]): Unit = {
      out.writeInt(m.size)
      m.foreach { case (k, c) => out.writeInt(k); out.writeLong(c) }
    }
    writeMap(buf.pos); writeMap(buf.neg)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buf()
    buf.zeros = in.readLong()
    def readMap(m: mutable.HashMap[Int, Long]): Unit = {
      val n = in.readInt()
      (1 to n).foreach(_ => m.update(in.readInt(), in.readLong()))
    }
    readMap(buf.pos); readMap(buf.neg)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): QuantileSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantileSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def prettyName: String = "graft_qsketch"
}

object QuantileSketch {
  /** Sketch buffer: zero counter + sparse log-bucket histograms for the
    * positive and negative ranges. */
  final class Buf {
    var zeros: Long = 0L
    val pos: mutable.HashMap[Int, Long] = mutable.HashMap.empty
    val neg: mutable.HashMap[Int, Long] = mutable.HashMap.empty
  }

  /** The `graft_qsketch(col, alpha_bp, array(q_bp...))` builder, for
    * this registry and [[GraftExtensions]]: a NULL or non-literal
    * `alpha_bp` or quantile array is an `IllegalArgumentException`. */
  def build(exprs: Seq[Expression]): QuantileSketch = QuantileSketch(
    exprs.head,
    VectorExprs.literalLong(exprs(1), "graft_qsketch", "alpha_bp").toInt,
    VectorExprs.literalInts(exprs(2), "graft_qsketch", "quantiles"))

  /** Idempotently register `graft_qsketch(col, alpha_bp, array(q_bp...))`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_qsketch"),
      new ExpressionInfo(classOf[QuantileSketch].getName, "graft_qsketch"),
      build _)
}
