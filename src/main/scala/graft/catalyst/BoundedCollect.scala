package graft.catalyst

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType}

/** `bounded_collect(member, cap)` / `bounded_collect_distinct(member, cap)`:
  * `collect_list` / `collect_set` returning NULL once the group holds more
  * than `cap` non-null (or distinct) members. A buffer stops taking members
  * at cap + 1, the first proof the group is dropped, so per (task, group)
  * state is O(cap) however hot the key. Serialization and partial/final
  * merging are `Collect`'s; a merge re-offers the partner's members through
  * the same bound, so overflow is sticky. */
case class BoundedCollect(
    child: Expression,
    cap: Int,
    distinct: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends Collect[BoundedCollect.Buffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (distinct) "bounded_collect_distinct" else "bounded_collect"

  // a distinct buffer hashes its members: binary values get value equality
  // as byte arrays wrapped in ArrayData (collect_set's convention)
  private lazy val binarySet = distinct && child.dataType == BinaryType
  override lazy val bufferElementType: DataType =
    if (binarySet) ArrayType(ByteType) else child.dataType
  override def convertToBufferElement(value: Any): Any =
    if (binarySet) UnsafeArrayData.fromPrimitiveArray(value.asInstanceOf[Array[Byte]])
    else InternalRow.copyValue(value)

  override def createAggregationBuffer(): BoundedCollect.Buffer =
    new BoundedCollect.Buffer(cap, distinct)

  override def eval(buf: BoundedCollect.Buffer): Any =
    if (buf.overflowed) null
    else if (binarySet)
      new GenericArrayData(buf.iterator.map(_.asInstanceOf[ArrayData].toByteArray()).toArray)
    else new GenericArrayData(buf.toArray)

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedCollect =
    copy(child = newChildren.head)
}

object BoundedCollect {
  /** The first cap + 1 members (distinct: first sightings) in arrival order. */
  final class Buffer(cap: Int, distinct: Boolean)
      extends mutable.Growable[Any] with Iterable[Any] {
    private val seen = if (distinct) new java.util.HashSet[Any] else null
    private var items = new Array[AnyRef](4)
    private var n = 0

    override def knownSize: Int = n
    def overflowed: Boolean = n > cap
    override def addOne(x: Any): this.type = {
      if (n <= cap && (seen == null || seen.add(x))) {
        if (n == items.length) items = java.util.Arrays.copyOf(items, 2 * n)
        items(n) = x.asInstanceOf[AnyRef]
        n += 1
      }
      this
    }
    override def clear(): Unit = { n = 0; if (seen != null) seen.clear() }
    override def iterator: Iterator[Any] = items.iterator.take(n)
  }
}
