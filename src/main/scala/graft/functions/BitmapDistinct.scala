package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** EXACT mergeable distinct-count over a bounded non-negative integer
  * key domain, as a BITMAP `TypedImperativeAggregate` — the exact
  * counterpart of a20's HLL sketch (approximate, unbounded domain) and
  * the shape Databricks/ClickHouse expose as bitmap aggregates.
  *
  * Why it scales where `count(DISTINCT k)` doesn't: COUNT DISTINCT
  * expands to a two-phase aggregate whose first phase materializes every
  * distinct key per group through the shuffle; the bitmap is a FIXED
  * `domain/8`-byte buffer per group whose merge is word-wise OR —
  * commutative, associative, and map-side combinable, so 1000 executors
  * ship one bitmap per (partition, group), never the keys. The price is
  * the contract: keys must be surrogate ints in `[0, domain)` (the usual
  * warehouse key shape); at 100 TB a wider domain shards into
  * `(key div domain)` range bands whose cardinalities ADD exactly —
  * bitmap counts are decomposable, HLL's are not.
  *
  * Out-of-range or null keys fail loudly (an exact structure must not
  * silently drop data). Narrower integer keys are implicitly cast to
  * BIGINT at analysis (a BIGINT key's plan carries no cast).
  */
case class BitmapDistinctAgg(
    child: Expression,
    domain: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet] with ImplicitCastInputTypes {

  require(domain >= 1, "domain must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buf: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      if (k < 0 || k >= domain)
        throw new IllegalArgumentException(
          s"bitmap_distinct key $k outside [0, $domain) — widen the domain or shard by key band")
      buf.set(k.toInt)
    }
    buf
  }

  override def merge(buf: java.util.BitSet, other: java.util.BitSet): java.util.BitSet = {
    buf.or(other)
    buf
  }

  override def eval(buf: java.util.BitSet): Any = buf.cardinality().toLong

  override def serialize(buf: java.util.BitSet): Array[Byte] = buf.toByteArray

  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinctAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapDistinctAgg =
    copy(child = newChildren.head)
}

/** [[BitmapDistinctAgg]]'s bytes-emitting sibling: same buffer, same
  * update/merge, but `eval` returns the SERIALIZED bitmap instead of its
  * cardinality — the persistable partial a streaming profile stores per
  * batch so later batches merge by word-OR instead of reprocessing
  * history ([[BitmapOrAgg]] folds the stored partials back to a count).
  */
case class BitmapBytesAgg(
    child: Expression,
    domain: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet] with ImplicitCastInputTypes {

  require(domain >= 1, "domain must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buf: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      if (k < 0 || k >= domain)
        throw new IllegalArgumentException(
          s"bitmap_bytes key $k outside [0, $domain) — widen the domain or shard by key band")
      buf.set(k.toInt)
    }
    buf
  }

  override def merge(buf: java.util.BitSet, other: java.util.BitSet): java.util.BitSet = {
    buf.or(other); buf
  }

  override def eval(buf: java.util.BitSet): Any = buf.toByteArray

  override def serialize(buf: java.util.BitSet): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapBytesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapBytesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapBytesAgg =
    copy(child = newChildren.head)
}

/** OR-fold of serialized bitmaps ([[BitmapBytesAgg]] outputs) back to an
  * exact distinct count — word-wise OR is commutative/associative, so any
  * partial order (and any partition of history into batches) evaluates to
  * the same cardinality.
  */
case class BitmapOrAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buf: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null)
      buf.or(java.util.BitSet.valueOf(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: java.util.BitSet, other: java.util.BitSet): java.util.BitSet = {
    buf.or(other); buf
  }

  override def eval(buf: java.util.BitSet): Any = buf.cardinality().toLong

  override def serialize(buf: java.util.BitSet): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapOrAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapOrAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapOrAgg =
    copy(child = newChildren.head)
}
