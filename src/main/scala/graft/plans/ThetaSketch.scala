package graft.plans

import org.apache.datasketches.common.Family
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{AnotB, CompactSketch, Intersection, SetOperation, Sketch, Union}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Theta sketches (DataSketches) as native Catalyst aggregates — the
  * distinct-count family member with SET ALGEBRA: unlike HLL (union
  * only), theta images intersect and difference, so "distinct tokens in
  * BOTH en and de", "users in A but not B" cost sketch bytes instead of
  * a corpus-wide distinct join. Exact while live entries stay under the
  * nominal k = 2^lgK (no sampling has kicked in), ~1/√k relative error
  * beyond — the exact regime is what the q142 oracle pins.
  *
  * Same [[KllSketchAgg]] shape: `TypedImperativeAggregate` with the
  * library's Union as the buffer (it accepts raw item updates AND
  * serialized images), bytes only at shuffle boundaries; the set-op
  * scalars are cold-path per-group expressions. */
case class ThetaSketchAgg(child: Expression, lgK: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  require(lgK >= 4 && lgK <= 26, s"lgK must be in [4, 26], got $lgK")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string or long input, got ${t.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK)
      .build(Family.UNION).asInstanceOf[Union]

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) v match {
      case s: UTF8String => buf.update(s.toString)
      case l: java.lang.Long => buf.update(l.longValue())
      case other => buf.update(other.toString)
    }
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult); buf
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArray
  override def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(n: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "theta_sketch_agg"
}

/** Union of serialized theta images (binary → merged binary). */
case class ThetaUnionAgg(child: Expression, lgK: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  require(lgK >= 4 && lgK <= 26, s"lgK must be in [4, 26], got $lgK")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a serialized theta binary input, got ${child.dataType.catalogString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK)
      .build(Family.UNION).asInstanceOf[Union]

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buf.union(Memory.wrap(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult); buf
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArray
  override def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(n: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg =
    copy(child = newChild)
  override def prettyName: String = "theta_union_agg"
}

object ThetaSketch {
  val DefaultLgK = 12

  /** Per-group sketch aggregate over a string/long column. */
  def sketch(item: Column, lgK: Int = DefaultLgK): Column =
    GraftBridge.column(
      ThetaSketchAgg(GraftBridge.expression(item), lgK).toAggregateExpression())

  /** Union aggregate over serialized images. */
  def merge(image: Column, lgK: Int = DefaultLgK): Column =
    GraftBridge.column(
      ThetaUnionAgg(GraftBridge.expression(image), lgK).toAggregateExpression())

  /** Distinct-count estimate of a theta image (exact below the sketch's
    * nominal k). */
  def estimate(image: Column): Column =
    NativeFunctions("theta_estimate")(image)

  /** Intersection of two theta images → image (A ∩ B). */
  def intersect(a: Column, b: Column): Column =
    NativeFunctions("theta_intersect")(a, b)

  /** Difference of two theta images → image (A \ B). */
  def difference(a: Column, b: Column): Column =
    NativeFunctions("theta_difference")(a, b)

  private def read(bytes: Array[Byte]): Sketch =
    CompactSketch.heapify(Memory.wrap(bytes))

  /** Kernel of [[estimate]]. */
  def estimateOf(bytes: Array[Byte]): Double = read(bytes).getEstimate

  /** Kernel of [[intersect]]. */
  def intersectOf(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val i = SetOperation.builder().build(Family.INTERSECTION)
      .asInstanceOf[Intersection]
    i.intersect(read(a))
    i.intersect(read(b))
    i.getResult.toByteArray
  }

  /** Kernel of [[difference]]. */
  def differenceOf(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    SetOperation.builder().build(Family.A_NOT_B).asInstanceOf[AnotB]
      .aNotB(read(a), read(b)).toByteArray
}
