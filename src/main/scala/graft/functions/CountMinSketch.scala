package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Count-Min sketch as a `TypedImperativeAggregate` — the
  * frequency-estimation member of the sketch family (HLL distinct, exact
  * bitmap, Misra–Gries heavy hitters, DDSketch quantiles, exact top-k).
  *
  * Classic CM construction (Cormode & Muthukrishnan, J. Algorithms
  * 2005): a `depth × width` counter matrix; each (key, count) update adds
  * `count` to one cell per row, at column `h_s(key) % width`. A point
  * estimate reads the MINIMUM of the key's `depth` cells — it can only
  * OVER-estimate (every true occurrence is counted; collisions add), and
  * `est − exact ≤ ⌈e·N/width⌉` with probability `1 − e^−depth` over the
  * hash family. The buffer is a dense `Array[Long]` and merging is
  * element-wise addition — **commutative and associative, so any
  * partial-aggregation tree yields the bit-identical matrix a single
  * sequential pass yields** (asserted in CmsSpec), the property that
  * makes per-shard sketches on a 1000-executor cluster safe to combine
  * in any order, incrementally, across days of ingest batches.
  *
  * Hash family: row `s` hashes key `w` to the integer value of the first
  * THREE hex digits of `md5("s|w")`, taken modulo `width` — a pure
  * function of (s, w) expressible in both engines with the repo's
  * portable `instr('0123456789abcdef', …)` digit arithmetic, which is
  * what lets `q_agg_cms` hash-oracle the whole matrix against DuckDB
  * (width must divide 4096 so the 3-digit value folds uniformly).
  *
  * `graft_cms(key, cnt, depth, width)` returns the flattened counter
  * matrix as `array<long>` (row-major, `depth·width` elements); point
  * estimates are then ordinary `element_at` reads on the one-row result.
  */
case class CountMinSketch(
    keyExpr: Expression,
    cntExpr: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth <= 16, "depth must be in [1, 16]")
  require(width >= 1 && 4096 % width == 0,
    "width must divide 4096 (3 md5 hex digits) so cells stay uniform")

  // Declared input contract (ADVICE r15): a wrongly-typed key/count
  // becomes an ANALYSIS error instead of the blind UTF8String cast in
  // update() dying mid-task with an opaque ClassCastException.
  // A NULL key or count (NullType) is accepted: update() skips its rows.
  override def checkInputDataTypes(): TypeCheckResult = keyExpr.dataType match {
    case StringType | NullType => cntExpr.dataType match {
      case LongType | IntegerType | ShortType | ByteType | NullType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cms: cnt must be an integral type, got ${other.simpleString}")
    }
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_cms: key must be STRING, got ${other.simpleString}")
  }

  override def children: Seq[Expression] = Seq(keyExpr, cntExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val k = keyExpr.eval(row)
    val c = cntExpr.eval(row)
    if (k != null && c != null) {
      val key = k.asInstanceOf[UTF8String].toString
      val cnt = c.asInstanceOf[Number].longValue()
      var s = 0
      while (s < depth) {
        buf(s * width + CountMinSketch.position(s, key, width)) += cnt
        s += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    buf.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill(depth * width)(in.readLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(keyExpr = c.head, cntExpr = c(1))
  override def prettyName: String = "graft_cms"
}

object CountMinSketch {
  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Row-`s` column for `key`: integer value of md5("s|key")'s first 3
    * hex digits, mod `width`. Must stay byte-identical to the SQL twin
    * `(d1·256 + d2·16 + d3) % width` with `dk = instr(hex, substr(md5, k, 1)) − 1`. */
  def position(s: Int, key: String, width: Int): Int = {
    val md = Md5.get()
    md.reset()
    val dig = md.digest(s"$s|$key".getBytes("UTF-8"))
    // first 3 hex digits = high nibble, low nibble, high nibble of bytes 0..1
    val v = (((dig(0) >> 4) & 0xf) << 8) | ((dig(0) & 0xf) << 4) | ((dig(1) >> 4) & 0xf)
    v % width
  }
}
