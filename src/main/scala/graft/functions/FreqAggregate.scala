package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Heavy hitters via a DataSketches frequent-items sketch, with the
  * sketch's error bounds exposed — the driver-checkable form that Spark's
  * `approx_top_k` family does not give. Each partition keeps a
  * `maxMapSize`-entry sketch, sketches merge associatively, and every item
  * whose true count exceeds n/maxMapSize is guaranteed present.
  *
  * Returns one struct carrying every frequent item (NO_FALSE_NEGATIVES cut,
  * no top-k truncation) with the sketch's own per-item lower/upper bounds,
  * plus `max_error` (the data-dependent maximum over-count) and
  * `stream_len` (total items seen). The library guarantees
  * `lb <= true count <= ub` per item and that every item with true count >
  * `max_error` is present in the cut — `sketch_freq_check` turns both into
  * oracle-checked booleans (the ann_recall pattern).
  */
case class FreqItemsCheck(
    child: Expression,
    maxMapSize: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("items", ArrayType(
      StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("estimate", LongType, nullable = false),
        StructField("lb", LongType, nullable = false),
        StructField("ub", LongType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("max_error", LongType, nullable = false),
    StructField("stream_len", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_check requires a string column, got ${other.sql}")
  }

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: ItemsSketch[String], input: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(input)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any = {
    val rows = buffer.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .map(r => InternalRow(
        UTF8String.fromString(r.getItem), r.getEstimate, r.getLowerBound, r.getUpperBound))
    InternalRow(
      new GenericArrayData(rows.asInstanceOf[Array[Any]]),
      buffer.getMaximumError,
      buffer.getStreamLength)
  }

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    buffer.toByteArray(new ArrayOfStringsSerDe())

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsCheck =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsCheck =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FreqItemsCheck =
    copy(child = newChildren.head)
}

object FreqItemsCheck {

  /** `maxItemsTracked` for Spark's `approx_top_k*` functions. Spark sizes
    * the sketch's map to the power of 2 at or above maxItemsTracked / 0.75,
    * so 192 gives the 256-entry map that [[FreqItemsCheck]] defaults to.
    */
  val ItemsTracked = 192
}
