package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** The engine's native scalar functions, one row each: the SQL name, the
  * accepted type of every argument, and the kernel — a static method on a
  * Scala object, called through Catalyst's `StaticInvoke`, so codegen and
  * interpreted evaluation run the same compiled Scala body. A row with
  * `sqlArities` is also a SQL function ([[GraftExtensions]]); `sqlArgs`
  * maps its SQL arguments onto the row's argument list.
  *
  * Kernels are null-intolerant: a null argument gives a null result
  * without calling the kernel. `nullable` marks a kernel that may also
  * return null itself (e.g. cosine of a zero vector).
  *
  * Why StaticInvoke over interpreted higher-order functions: Spark's HOFs
  * evaluate every element through the interpreter, while a static call
  * fuses into the enclosing whole-stage codegen as one JIT-compiled loop.
  */
final case class NativeFunction(
    name: String,
    args: Seq[NativeFunctions.Arg],
    kernel: Seq[Expression] => Expression,
    sqlArities: Seq[Int] = Nil,
    sqlArgs: Seq[Expression] => Seq[Expression] = identity) {

  /** Column entry point: one column per entry of `args`. */
  def apply(cols: Column*): Column = {
    require(cols.size == args.size,
      s"$name takes ${args.size} arguments, got ${cols.size}")
    GraftBridge.column(NativeCall(name, cols.map(GraftBridge.expression)))
  }

  def check(children: Seq[Expression]): TypeCheckResult =
    if (children.size == args.size &&
        args.zip(children).forall { case (a, c) => a.accepts(c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${args.map(_.sql).mkString(", ")}), got (" +
        children.map(_.dataType.catalogString).mkString(", ") + ")")

  /** SQL builder: Spark's WRONG_NUM_ARGS for an arity the row lacks. */
  def fromSql(sqlChildren: Seq[Expression]): Expression =
    if (sqlArities.contains(sqlChildren.size)) NativeCall(name, sqlArgs(sqlChildren))
    else throw GraftBridge.wrongNumArgs(name, sqlArities, sqlChildren.size)
}

/** The one Catalyst node every native function builds. Analysis checks the
  * children against the table row `name`; the optimizer replaces the node
  * with the row's kernel call. */
case class NativeCall(name: String, children: Seq[Expression])
    extends Expression with RuntimeReplaceable {

  override lazy val replacement: Expression =
    NativeFunctions(name).kernel(children)

  override def checkInputDataTypes(): TypeCheckResult =
    NativeFunctions(name).check(children)

  // the replacement needs resolved children; compare by name and children
  override lazy val canonicalized: Expression =
    copy(children = children.map(_.canonicalized))

  override def prettyName: String = name
  override def flatArguments: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}

/** A constant table a kernel reads on every row (a BPE merge list, PQ
  * codebooks, a PQ lookup table), passed as one object literal. Equality
  * is by content, so equal plans stay equal, and explain prints `label`
  * instead of an array's identity hash. Tasks deserialize it once each. */
final class ConstTable[T <: AnyRef](val label: String, val value: T)
    extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case t: ConstTable[_] => java.util.Objects.deepEquals(value, t.value)
    case _                => false
  }
  @transient override lazy val hashCode: Int =
    java.util.Arrays.deepHashCode(Array[AnyRef](value))
  override def toString: String = label
}

object ConstTable {
  val Type: DataType = ObjectType(classOf[ConstTable[_]])

  def lit[T <: AnyRef](label: String, value: T): Column =
    GraftBridge.column(Literal(new ConstTable(label, value), Type))
}

object NativeFunctions {

  /** Accepted type of one argument; `sql` names it in type errors. */
  final case class Arg(sql: String, accepts: DataType => Boolean)

  private def arrayOf(sql: String, elems: DataType*) = Arg(sql, {
    case ArrayType(e, _) => elems.contains(e)
    case _               => false
  })
  private val Str = Arg("string", _ == StringType)
  private val Bin = Arg("binary", _ == BinaryType)
  private val Num = Arg("int", _ == IntegerType)
  private val Flag = Arg("boolean", _ == BooleanType)
  private val Vec = arrayOf("array<float|double>", FloatType, DoubleType)
  private val Floats = arrayOf("array<float>", FloatType)
  private val Doubles = arrayOf("array<double>", DoubleType)
  private val Longs = arrayOf("array<bigint>", LongType)
  private val Strs = arrayOf("array<string>", StringType)
  private val Table = Arg("table", _ == ConstTable.Type)

  /** `kernelObject.method(args…)` returning `dataType`. */
  private def invoke(kernelObject: AnyRef, method: String, dataType: DataType,
                     nullable: Boolean)(args: Seq[Expression]): Expression =
    StaticInvoke(kernelObject.getClass, dataType, method, args,
      returnNullable = nullable)

  /** Element-type flag the vector kernels read (float vs double). */
  private def isFloat(v: Expression): Expression =
    Literal(v.dataType.asInstanceOf[ArrayType].elementType == FloatType)

  /** Int parameter of a SQL builder: must be a foldable non-null literal.
    * A column-valued argument would otherwise fail per row — raise the
    * standard analysis errors naming the parameter instead. */
  private def literalInt(e: Expression, fn: String, param: String): Expression = {
    if (!e.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
    val v = e.eval()
    if (v == null)
      throw new AnalysisException("INVALID_PARAMETER_VALUE.NULL",
        Map("parameter" -> s"`$param`", "functionName" -> s"`$fn`"))
    Literal(v.asInstanceOf[Number].intValue())
  }

  private val LongArray = ArrayType(LongType, containsNull = false)

  val table: Seq[NativeFunction] = Seq(
    // vectors
    NativeFunction("cosine_similarity", Seq(Vec, Vec),
      vs => invoke(CosineSimilarity, "cosine", DoubleType, nullable = true)(
        vs ++ vs.map(isFloat)),
      sqlArities = Seq(2)),
    NativeFunction("squared_l2", Seq(Vec, Vec),
      vs => invoke(SquaredL2, "distance", DoubleType, nullable = true)(
        vs ++ vs.map(isFloat)),
      sqlArities = Seq(2)),
    NativeFunction("l2_normalize", Seq(Floats),
      vs => invoke(L2Normalize, "normalize", vs.head.dataType, nullable = false)(vs)),
    NativeFunction("hyperplane_lsh", Seq(Vec, Num, Num),
      { case Seq(v, planes, offset) =>
        invoke(HyperplaneLsh, "compute", LongType, nullable = false)(
          Seq(v, isFloat(v), planes, offset)) }),
    NativeFunction("pq_encode", Seq(Vec, Table),
      { case Seq(v, codebooks) =>
        invoke(PqCodes, "nearestCodes", BinaryType, nullable = true)(
          Seq(v, isFloat(v), codebooks)) }),
    NativeFunction("pq_adc", Seq(Bin, Table),
      invoke(PqCodes, "adcDistance", DoubleType, nullable = true)),
    // text
    NativeFunction("nfc_normalize", Seq(Str),
      invoke(NfcNormalize, "compute", StringType, nullable = false),
      sqlArities = Seq(1)),
    NativeFunction("minhash", Seq(Str, Num, Num, Flag),
      invoke(MinHashSignature, "compute", LongArray, nullable = false),
      sqlArities = Seq(1, 3),
      sqlArgs = {
        case Seq(t)       => Seq(t, Literal(3), Literal(32), Literal(false))
        case Seq(t, k, n) => Seq(t, literalInt(k, "minhash", "shingleSize"),
          literalInt(n, "minhash", "numHashes"), Literal(false))
      }),
    NativeFunction("simhash64", Seq(Str, Flag),
      invoke(SimHash64, "compute", LongType, nullable = false),
      sqlArities = Seq(1), sqlArgs = _ :+ Literal(false)),
    NativeFunction("shingle_hash_set", Seq(Str, Num, Flag),
      invoke(ShingleHashSet, "compute", LongArray, nullable = false),
      sqlArities = Seq(1, 2),
      sqlArgs = {
        case Seq(t)    => Seq(t, Literal(3), Literal(false))
        case Seq(t, k) => Seq(t, literalInt(k, "shingle_hash_set", "shingleSize"),
          Literal(false))
      }),
    NativeFunction("jaro_winkler", Seq(Str, Str),
      ab => invoke(JaroWinkler, "sim", DoubleType, nullable = true)(ab :+ Literal(true)),
      sqlArities = Seq(2)),
    NativeFunction("jaro_similarity", Seq(Str, Str),
      ab => invoke(JaroWinkler, "sim", DoubleType, nullable = true)(ab :+ Literal(false)),
      sqlArities = Seq(2)),
    NativeFunction("token_lcs", Seq(Str, Str),
      invoke(TokenLcs, "lcs", LongType, nullable = true),
      sqlArities = Seq(2)),
    NativeFunction("band_hashes", Seq(Longs, Num, Num),
      invoke(BandHashes, "compute", LongArray, nullable = false)),
    NativeFunction("bpe_merge_fold", Seq(Strs, Table),
      invoke(BpeMergeFold, "fold", ArrayType(StringType, containsNull = true),
        nullable = false)),
    NativeFunction("clipped_ngram_overlap", Seq(Strs, Strs, Num),
      invoke(ClippedNgramOverlap, "overlap", LongType, nullable = true)),
    NativeFunction("distinct_ngram_count", Seq(Strs, Num),
      invoke(DistinctNgramCount, "count", LongType, nullable = true)),
    NativeFunction("md5_uniform_seq", Seq(Str, Num),
      invoke(Md5UniformSeq, "uniforms", ArrayType(DoubleType, containsNull = false),
        nullable = true)),
    NativeFunction("multiset_variant_keys", Seq(Str, Num),
      invoke(MultisetVariantKeys, "variants",
        ArrayType(StringType, containsNull = false), nullable = false)),
    NativeFunction("ordered_deletion_variants", Seq(Str, Num),
      invoke(OrderedDeletionVariants, "variants",
        ArrayType(StringType, containsNull = false), nullable = false)),
    // sketch finishers: one row per group, over serialized images
    NativeFunction("freq_top_k", Seq(Bin, Num),
      invoke(FreqSketch, "topKItems", FreqSketch.TopKType, nullable = true)),
    NativeFunction("kll_quantiles", Seq(Bin, Doubles),
      invoke(KllSketch, "quantileValues", ArrayType(DoubleType, containsNull = false),
        nullable = true)),
    NativeFunction("kll_stats", Seq(Bin),
      invoke(KllSketch, "streamStats", KllSketch.StatsType, nullable = true)),
    NativeFunction("theta_estimate", Seq(Bin),
      invoke(ThetaSketch, "estimateOf", DoubleType, nullable = true)),
    NativeFunction("theta_intersect", Seq(Bin, Bin),
      invoke(ThetaSketch, "intersectOf", BinaryType, nullable = true)),
    NativeFunction("theta_difference", Seq(Bin, Bin),
      invoke(ThetaSketch, "differenceOf", BinaryType, nullable = true)))

  private val byName: Map[String, NativeFunction] = table.map(f => f.name -> f).toMap

  def apply(name: String): NativeFunction = byName(name)
}
