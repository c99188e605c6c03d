package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** COUNT-MIN SKETCH as a `TypedImperativeAggregate` — the mergeable
  * frequency sketch (Cormode–Muthukrishnan): d hash rows × w counters,
  * `update` increments one counter per row, `merge` is element-wise
  * addition (commutative + associative, so 1000 executors' partials fold
  * to the SAME sketch in any order), and a point estimate is the MIN over
  * the d counters a key hashes to — an upper bound on the true count,
  * never an undercount.
  *
  * This is the frequency sibling of the engine's other mergeable
  * sketches (a20's HLL for distinct, a21's KMV for quantiles): at 100 TB
  * the exact per-key count (a15) costs a full |keys| shuffle; the sketch
  * is d·w longs of state per group regardless of cardinality and rides
  * map-side combine.
  *
  * Hashing: the d row-hashes are consecutive 2-byte windows of the md5
  * digest of the value (seeded) mod w — deterministic across JVMs and
  * partitionings (no JVM hashCode), and the same digest discipline as
  * [[BottomKSample]]. d ≤ 8 (16 digest bytes / 2).
  */
case class CountMinSketchAgg(
    child: Expression,
    d: Int,
    w: Int,
    seed: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(d >= 1 && d <= 8, "depth d must be in [1, 8]")
  require(w >= 2, "width w must be >= 2")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType)

  @transient private lazy val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = digests.get().digest(
        s"$seed:${v.asInstanceOf[UTF8String].toString}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      while (i < d) {
        val slot = (((h(2 * i) & 0xff) << 8) | (h(2 * i + 1) & 0xff)) % w
        buf(i * w + slot) += 1
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(Long.box).toArray[Any])

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinSketchAgg =
    copy(child = newChildren.head)
}

object CountMinSketch {

  /** Point estimate from an evaluated sketch: min over the d counters the
    * value hashes to. Same digest windows as the aggregate's update.
    */
  def estimate(sketch: IndexedSeq[Long], value: String, d: Int, w: Int,
      seed: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(
      s"$seed:$value".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (0 until d).map { i =>
      val slot = (((h(2 * i) & 0xff) << 8) | (h(2 * i + 1) & 0xff)) % w
      sketch(i * w + slot)
    }.min
  }
}
