package graft.plans

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** KLL quantile sketches (Apache DataSketches) as native Catalyst
  * aggregates — the quantile sibling of the built-in HLL family
  * (`hll_sketch_agg`/`hll_union_agg`) that Spark does not ship.
  *
  * Why an aggregate and not `approx_percentile`: the KLL binary image is
  * a PERSISTABLE, MERGEABLE value — per-batch per-group sketches land in
  * a store once ([[graft.operators.Quantiles]]) and answer
  * "p50/p95/p99 over everything so far" forever at O(groups × batches)
  * cost, the [[graft.operators.Sketches]] discipline for order
  * statistics. `approx_percentile`'s intermediate state never leaves the
  * query. KLL guarantees ~1.65/k·√N normalized rank error (k = 200 →
  * ~0.8%), and min/max/n ride EXACTLY in the image.
  *
  * The aggregates are `TypedImperativeAggregate`s (the buffer is the
  * library's heap sketch; serialization happens only at shuffle
  * boundaries — the ApproximatePercentile pattern, not a per-row UDF
  * deserialize). The scalar readers ([[KllSketch.quantiles]],
  * [[KllSketch.stats]]) are cold-path by design: they run over one row
  * per GROUP, never per input row.
  */
case class KllSketchAgg(child: Expression, k: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllDoublesSketch]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double input, got ${child.dataType.catalogString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other); buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(n: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "kll_sketch_agg"
}

/** Union of serialized KLL images (binary column → merged binary) — the
  * read side of the quantile store: per-batch sketches merge per group
  * without touching raw data. Mixed-k images merge safely (the library
  * adopts the smaller k's guarantees); the store layer still pins one k
  * so error bars stay uniform. */
case class KllMergeAgg(child: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllDoublesSketch]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a serialized KLL binary input, got ${child.dataType.catalogString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null)
      buf.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other); buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(n: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KllMergeAgg =
    copy(child = newChild)
  override def prettyName: String = "kll_merge_agg"
}

object KllSketch {
  val DefaultK = 200

  /** Per-group sketch aggregate: `df.groupBy(...).agg(sketch(col))`. */
  def sketch(value: Column, k: Int = DefaultK): Column =
    GraftBridge.column(
      KllSketchAgg(GraftBridge.expression(value), k).toAggregateExpression())

  /** Union aggregate over serialized images. */
  def merge(image: Column, k: Int = DefaultK): Column =
    GraftBridge.column(
      KllMergeAgg(GraftBridge.expression(image), k).toAggregateExpression())

  /** Quantile values at `ranks` from an image column (INCLUSIVE search
    * criteria — the library default: the value whose rank is >= the
    * requested rank). Null for an empty sketch. */
  def quantiles(image: Column, ranks: Seq[Double]): Column = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      s"ranks must be non-empty, each in [0, 1]: $ranks")
    NativeFunctions("kll_quantiles")(image, lit(ranks.toArray))
  }

  /** Exact stream facts carried by a KLL image: (n, min_v, max_v) — the
    * sketch tracks them exactly regardless of compaction, so they
    * hash-oracle against `count/min/max` in any engine. Null for an
    * empty sketch. */
  def stats(image: Column): Column =
    NativeFunctions("kll_stats")(image)

  val StatsType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("min_v", DoubleType, nullable = false),
    StructField("max_v", DoubleType, nullable = false)))

  /** Kernel of [[quantiles]]. */
  def quantileValues(bytes: Array[Byte], ranks: ArrayData): ArrayData = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
    if (sk.isEmpty) null
    else new GenericArrayData(
      sk.getQuantiles(ranks.toDoubleArray(), QuantileSearchCriteria.INCLUSIVE))
  }

  /** Kernel of [[stats]]. */
  def streamStats(bytes: Array[Byte]): InternalRow = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
    if (sk.isEmpty) null
    else InternalRow(sk.getN, sk.getMinItem, sk.getMaxItem)
  }
}
