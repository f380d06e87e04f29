package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Mutable aggregation state of [[CappedItemSet]]: the distinct non-null
  * items seen so far (internal Catalyst values), whether a NULL item was
  * seen (it counts toward the cap but is never emitted — a NULL can pair
  * with nothing), and the overflow tombstone. Once `overflow` flips the
  * set is CLEARED — past the cap the group is discarded by the caller,
  * so carrying its items would be pure waste (the CappedIdSetAgg
  * posture, generalized to any orderable atomic type).
  */
final class CappedItemSetBuffer {
  val items: mutable.HashSet[Any] = mutable.HashSet.empty
  var sawNull: Boolean = false
  var overflow: Boolean = false
}

/** Size-capped `collect_set` over any orderable ATOMIC item type — the
  * single-exchange fused form of `distinct → window-count → filter →
  * collect_list` (r21, guide §2.3 aggregate-before-shuffle / §2.4 remove
  * shuffles): per group it returns the SORTED array of distinct items
  * when the group has at most `cap` distinct items (NULL counted), and
  * NULL — the overflow tombstone — otherwise. Partial (map-side)
  * aggregation dedups and caps before anything crosses the wire, so a
  * degenerate group (the crawler-bot basket) costs O(cap) memory in
  * every partial buffer and ships one tombstone, never its item list.
  *
  * Distinctness is Catalyst value equality (the same equality
  * `distinct()` uses on atomic types); the returned array is sorted by
  * the type's natural ordering, so consumers get a deterministic layout
  * without an extra `sort_array`. Float and Double items are normalized
  * on insert the way Catalyst normalizes grouping keys: -0.0 becomes
  * 0.0 and every NaN one shared NaN value, so they dedup as `distinct()`
  * would (the set's `==` on boxed doubles is IEEE: -0.0 == 0.0 would
  * keep whichever came first, and NaN != NaN every NaN). Binary items are
  * rejected: `Array[Byte]` compares by reference, so they would never
  * dedup. Registered as `capped_item_set(item, cap)`; `cap` must be a
  * positive literal.
  */
case class CappedItemSet(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedItemSetBuffer]
  with UnaryLike[Expression] {

  require(cap >= 1, s"capped_item_set: cap must be >= 1, got $cap")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // atomic only: HashSet distinctness relies on value equality, which
    // nested internal types (ArrayData/InternalRow/MapData) do not define
    case dt @ (_: ArrayType | _: StructType | _: MapType | BinaryType) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an orderable atomic item type, got " +
          dt.simpleString)
    case dt => TypeUtils.checkForOrderingExpr(dt, prettyName)
  }

  override def dataType: DataType =
    ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "capped_item_set"

  override def createAggregationBuffer(): CappedItemSetBuffer =
    new CappedItemSetBuffer

  private def capCheck(b: CappedItemSetBuffer): Unit = {
    val size = b.items.size + (if (b.sawNull) 1 else 0)
    if (size > cap) { b.overflow = true; b.items.clear() }
  }

  /** The set's representative of a non-null item: Float/Double
    * normalized (-0.0 → 0.0, any NaN → the one shared boxed NaN, which
    * `==` finds by reference), anything else copied out of its
    * possibly reused row buffer (UTF8String, Decimal — the Spark
    * Collect discipline). */
  private def canonical(v: Any): Any = v match {
    case d: Double =>
      if (d.isNaN) CappedItemSet.NaNDouble else if (d == 0.0d) 0.0d else v
    case f: Float =>
      if (f.isNaN) CappedItemSet.NaNFloat else if (f == 0.0f) 0.0f else v
    case other => InternalRow.copyValue(other)
  }

  override def update(b: CappedItemSetBuffer,
                      input: InternalRow): CappedItemSetBuffer = {
    if (!b.overflow) {
      val v = child.eval(input)
      if (v == null) b.sawNull = true
      else b.items += canonical(v)
      capCheck(b)
    }
    b
  }

  override def merge(a: CappedItemSetBuffer,
                     b: CappedItemSetBuffer): CappedItemSetBuffer = {
    if (b.overflow) { a.overflow = true; a.items.clear() }
    else if (!a.overflow) {
      a.sawNull ||= b.sawNull
      a.items ++= b.items
      capCheck(a)
    }
    a
  }

  @transient private lazy val ordering =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def eval(b: CappedItemSetBuffer): Any =
    if (b.overflow) null
    else new GenericArrayData(b.items.toArray.sorted(ordering))

  // buffer wire format: one UnsafeRow (sawNull, overflow, items)
  @transient private lazy val bufferProjection = UnsafeProjection.create(
    Array[DataType](BooleanType, BooleanType,
      ArrayType(child.dataType, containsNull = false)))

  override def serialize(b: CappedItemSetBuffer): Array[Byte] = {
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(3)
    row.setBoolean(0, b.sawNull)
    row.setBoolean(1, b.overflow)
    row.update(2, new GenericArrayData(b.items.toArray))
    bufferProjection.apply(row).getBytes
  }

  override def deserialize(bytes: Array[Byte]): CappedItemSetBuffer = {
    val row = new UnsafeRow(3)
    row.pointTo(bytes, bytes.length)
    val b = new CappedItemSetBuffer
    b.sawNull = row.getBoolean(0)
    b.overflow = row.getBoolean(1)
    row.getArray(2).toObjectArray(child.dataType).foreach { v =>
      b.items += canonical(v)
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedItemSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedItemSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): CappedItemSet = copy(child = newChild)
}

object CappedItemSet {
  private val NaNDouble: java.lang.Double = java.lang.Double.valueOf(Double.NaN)
  private val NaNFloat: java.lang.Float = java.lang.Float.valueOf(Float.NaN)
}
