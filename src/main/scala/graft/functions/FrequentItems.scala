package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items ("heavy hitters") sketch — the frequency
  * member of the sketch family (`a7` carries HLL distinct + approximate
  * percentiles, `BloomFilters` membership): which values occur more than
  * n/k times, in ONE pass, with a k-counter summary per group.
  *
  * Guarantees (classical MG, k counters): for every value v,
  * `true(v) − n/k ≤ estimate(v) ≤ true(v)`, and every v with
  * `true(v) > n/k` is PRESENT in the summary. Merging summaries keeps the
  * additive error bound (Agarwal et al. 2012, "Mergeable Summaries",
  * PODS): combine counters, then subtract the (k+1)-th largest count and
  * drop the non-positive — so partial aggregation across any number of
  * partitions degrades the bound by nothing beyond n/k of the TOTAL
  * stream. When the group's distinct-value count never exceeds k, no
  * counter is ever decremented anywhere, and the sketch IS the exact
  * count table — the regime the DuckDB oracle checks
  * (`a15_heavy_hitters` over the ≤6-combination returnflag×linestatus
  * domain); the approximate regime's bounds are gated in
  * FrequentItemsSpec.
  *
  * Scale: the summary is O(k) per group regardless of input size — the
  * 100 TB answer to "top shipmodes / hot keys / dominant languages"
  * without a full GROUP BY of the key space; the per-partition pass is
  * map-side, the shuffle carries only k counters per group.
  */
case class FrequentItems(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 2, "k must be at least 2")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est_count", LongType, nullable = false))))

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < k => buf.update(s, 1L)
        case None =>
          // classic MG miss on a full summary: decrement every counter,
          // dropping the zeroed — amortized O(1) per stream element
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (key, c) => if (c <= 0) dead += key }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (s, c) => buf.update(s, buf.getOrElse(s, 0L) + c) }
    if (buf.size > k) {
      // mergeable-summaries trim: subtract the (k+1)-th largest counter
      // from all, drop the non-positive — ≤ k survive, error stays additive
      val pivot = buf.values.toArray.sortWith(_ > _).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, c) => c - pivot)
      buf.foreach { case (key, c) => if (c <= 0) dead += key }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.toSeq.sortBy { case (s, c) => (-c, s) }.map { case (s, c) =>
        InternalRow(UTF8String.fromString(s), c)
      }.toArray[Any])

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FrequentItems =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FrequentItems =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FrequentItems =
    copy(child = newChildren.head)
}
