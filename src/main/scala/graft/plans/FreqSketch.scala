package graft.plans

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-items (heavy hitters) sketches — Misra-Gries/Space-Saving
  * family (DataSketches `ItemsSketch`) as native Catalyst aggregates,
  * completing the mergeable-sketch trio beside HLL (how many distinct)
  * and KLL (how distributed): WHICH items dominate, per group, over a
  * growing corpus. Guarantees: estimate error <= maxError <= n/maxMapSize
  * (0 while the map never purges — small vocabularies are EXACT), no
  * false negatives above 2·maxError, and sketches merge losslessly
  * w.r.t. those bounds. Same TypedImperativeAggregate shape as
  * [[KllSketchAgg]]: heap sketch buffer, bytes only at shuffle
  * boundaries. */
case class FreqSketchAgg(child: Expression, maxMapSize: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]]
    with UnaryLike[Expression] {

  require(maxMapSize >= 2 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 2, got $maxMapSize")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string input, got ${child.dataType.catalogString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buf.merge(other); buf
  }

  override def eval(buf: ItemsSketch[String]): Any =
    buf.toByteArray(new ArrayOfStringsSerDe)
  override def serialize(buf: ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(new ArrayOfStringsSerDe)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)

  override def withNewMutableAggBufferOffset(n: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): FreqSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "freq_sketch_agg"
}

/** Union of serialized frequent-items images (the store's read side). */
case class FreqMergeAgg(child: Expression, maxMapSize: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]]
    with UnaryLike[Expression] {

  require(maxMapSize >= 2 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 2, got $maxMapSize")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a serialized frequent-items binary input, got " +
        child.dataType.catalogString)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null)
      buf.merge(ItemsSketch.getInstance(
        Memory.wrap(v.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe))
    buf
  }

  override def merge(buf: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buf.merge(other); buf
  }

  override def eval(buf: ItemsSketch[String]): Any =
    buf.toByteArray(new ArrayOfStringsSerDe)
  override def serialize(buf: ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(new ArrayOfStringsSerDe)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)

  override def withNewMutableAggBufferOffset(n: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): FreqMergeAgg =
    copy(child = newChild)
  override def prettyName: String = "freq_merge_agg"
}

object FreqSketch {
  val DefaultMaxMapSize = 1024

  val TopKType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("lower_bound", LongType, nullable = false),
    StructField("upper_bound", LongType, nullable = false))),
    containsNull = false)

  /** Per-group sketch aggregate over a string column. */
  def sketch(item: Column, maxMapSize: Int = DefaultMaxMapSize): Column =
    GraftBridge.column(
      FreqSketchAgg(GraftBridge.expression(item), maxMapSize)
        .toAggregateExpression())

  /** Union aggregate over serialized images. */
  def merge(image: Column, maxMapSize: Int = DefaultMaxMapSize): Column =
    GraftBridge.column(
      FreqMergeAgg(GraftBridge.expression(image), maxMapSize)
        .toAggregateExpression())

  /** Top-k heavy hitters from an image column:
    * array<struct<item, estimate, lower_bound, upper_bound>>, ordered by
    * (estimate DESC, item ASC) — the rounded-grid/tie-break discipline,
    * so exact-mode output is engine-reproducible. NO_FALSE_NEGATIVES:
    * every true heavy hitter appears (some false positives may, bounds
    * tell them apart). Cold path: one row per group. */
  def topK(image: Column, k: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    NativeFunctions("freq_top_k")(image, lit(k))
  }

  /** Kernel of [[topK]]; null for an empty sketch. */
  def topKItems(bytes: Array[Byte], k: Int): ArrayData = {
    val sk = ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)
    if (sk.isEmpty) return null
    val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .take(k)
      .map { r =>
        InternalRow(UTF8String.fromString(r.getItem), r.getEstimate,
          r.getLowerBound, r.getUpperBound)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }
}
