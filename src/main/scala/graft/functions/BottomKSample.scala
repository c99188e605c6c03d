package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic fixed-size group sampling: keep the k values whose
  * seeded selection key is smallest ("bottom-k sketch").
  *
  * Why a custom `TypedImperativeAggregate` (the aggregate-expression
  * layer of SURVEY §2.9): Spark has no per-group fixed-k sample —
  * `TABLESAMPLE` is per-fraction and not per-group, and a reservoir
  * sample is merge-order-dependent (partial aggregation order would
  * change the result between runs). Bottom-k is the mergeable,
  * deterministic alternative: min-k by key is commutative and
  * associative, so ANY partial/merge order yields the same sample — the
  * property a training-data pipeline needs for reproducible subset
  * selection at 100 TB (and it doubles as a KMV distinct-count sketch).
  *
  * The selection key is the md5 of `"<seed>:<value>"` — not a JVM
  * hash — so the sample is reproducible OUTSIDE the JVM too: any engine
  * with md5 derives the identical sample (the DuckDB oracle for
  * `t6_group_sample` does exactly that with `row_number() OVER (ORDER BY
  * md5(seed || ':' || v))`). Keys are kept as the RAW 16 digest bytes,
  * compared unsigned-lexicographically — the identical total order as the
  * hex string the oracle sorts on, without a hex char array + String per
  * input row on the aggregate hot path.
  *
  * Buffer: a bounded max-heap of (key, value); serialized compactly for
  * shuffle (16 raw key bytes, not 32 hex chars). Output: the sampled
  * values ordered by key (stable).
  */
case class BottomKSample(
    child: Expression,
    k: Int,
    seed: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Array[Byte], String)]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType)

  // per-thread digest: keyOf runs once per input row, so the hot path
  // must not pay a provider lookup (and no hex encoding at all — the raw
  // digest IS the key)
  @transient private lazy val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private def keyOf(s: String): Array[Byte] =
    digests.get()
      .digest(s"$seed:$s".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // max-heap on (key, value): head is the current worst member, evicted
  // first. Unsigned byte-lexicographic digest order == the hex-string
  // order the DuckDB oracle sorts on.
  private val ord: Ordering[(Array[Byte], String)] =
    new Ordering[(Array[Byte], String)] {
      def compare(a: (Array[Byte], String), b: (Array[Byte], String)): Int = {
        val c = java.util.Arrays.compareUnsigned(a._1, b._1)
        if (c != 0) c else a._2.compareTo(b._2)
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Array[Byte], String)] =
    mutable.PriorityQueue.empty[(Array[Byte], String)](ord)

  override def update(
      buf: mutable.PriorityQueue[(Array[Byte], String)],
      input: InternalRow): mutable.PriorityQueue[(Array[Byte], String)] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      val e = (keyOf(s), s)
      if (buf.size < k) buf.enqueue(e)
      else if (ord.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Array[Byte], String)],
      other: mutable.PriorityQueue[(Array[Byte], String)]): mutable.PriorityQueue[(Array[Byte], String)] = {
    other.foreach { e =>
      if (buf.size < k) buf.enqueue(e)
      else if (ord.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Array[Byte], String)]): Any =
    new GenericArrayData(
      buf.toSeq.sorted(ord).map(p => UTF8String.fromString(p._2)).toArray[Any])

  private val digestLen = 16 // md5

  override def serialize(buf: mutable.PriorityQueue[(Array[Byte], String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (h, s) =>
      out.write(h) // fixed digestLen bytes
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Array[Byte], String)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val h = new Array[Byte](digestLen)
      in.readFully(h)
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.enqueue((h, new String(b, java.nio.charset.StandardCharsets.UTF_8)))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKSample =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKSample =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKSample =
    copy(child = newChildren.head)
}
