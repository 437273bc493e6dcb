package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch over a string column: `d × w` counters, point
  * queries answered by min over the d rows (Cormode & Muthukrishnan
  * 2005). Overestimates only: est(x) ≥ true(x), and with prob 1−(1/2)^d
  * the excess is ≤ 2N/w — the frequency-probe companion to the
  * Misra–Gries TOP-k sketch (hh1), answering "how often did THIS item
  * occur" without a corpus-keyed shuffle.
  *
  * Mergeable: partial sketches combine by elementwise counter addition
  * (exactly associative/commutative), so map-side partial aggregation
  * applies like any built-in agg and a 100 TB scan reduces to one
  * d·w-long array per group.
  *
  * Determinism contract: the row-i bucket of item x is
  * `parseHex(md5(x)[8i..8i+8)) mod w` — the same digest-slice idiom as
  * the bottom-k sketch (bk1), chosen because a SQL oracle can reproduce
  * it exactly (`CAST('0x' || substr(md5(x), 1+8*i, 8) AS BIGINT) % w`),
  * making the whole sketch bit-reproducible cross-engine rather than
  * banded. d ≤ 4 (md5 yields four disjoint 8-hex slices).
  *
  * Output: array<long> of length d·w, row-major.
  */
case class CountMinLongs(
    child: Expression,
    d: Int,
    w: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)

  require(d > 0 && d <= 4, "depth must be in [1, 4] (md5 slice budget)")
  require(w > 0, "width must be positive")
  // d·w longs must fit one JVM array AND its 8-byte-per-cell serialized
  // image: without this, a large-but-accepted width overflows the Int
  // product and createAggregationBuffer dies with
  // NegativeArraySizeException mid-job instead of a clear error here
  require(d.toLong * w <= Int.MaxValue / 8,
    s"d*w = ${d.toLong * w} cells exceeds the serializable budget")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = GraftFunctions.CountMinName

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // raw digest bytes: row i's bucket is the big-endian unsigned int
      // of bytes [4i, 4i+4) — bit-identical to parseLong(hex slice)
      // without the per-row hex string (ThreadLocal digest like the
      // gram hashers; update() runs once per input row)
      val dg = CountMinLongs.digest(v.asInstanceOf[UTF8String].getBytes)
      var i = 0
      while (i < d) {
        val bkt = (CountMinLongs.slice32(dg, i) % w).toInt
        buffer(i * w + bkt) += 1L
        i += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buffer.length)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object CountMinLongs {

  private[functions] def digest(bytes: Array[Byte]): Array[Byte] = {
    // shared per-thread engine; digest() leaves it reset for the next call
    Md5Local.get().digest(bytes)
  }

  /** Big-endian unsigned int of digest bytes [4i, 4i+4) — exactly
    * parseLong(hexDigest.substring(8i, 8i+8), 16), byte-for-byte.
    */
  private[functions] def slice32(dg: Array[Byte], i: Int): Long =
    (((dg(4 * i) & 0xffL) << 24) | ((dg(4 * i + 1) & 0xffL) << 16) |
      ((dg(4 * i + 2) & 0xffL) << 8) | (dg(4 * i + 3) & 0xffL))

  /** The row-i bucket of a string item — the single definition the
    * aggregate, the Spark-side probe expression, and the SQL oracle all
    * encode (kept here so a drift is a compile-site, not a data bug).
    */
  def bucket(item: String, i: Int, w: Int): Int =
    (slice32(digest(item.getBytes(StandardCharsets.UTF_8)), i) % w).toInt
}
