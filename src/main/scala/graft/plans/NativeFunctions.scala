package graft.plans

import java.lang.reflect.{InvocationTargetException, Method}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** What a native function accepts at one argument position. */
sealed abstract class NativeArg extends Serializable {
  def accepts(e: Expression): Boolean
  /** The kind as type-check failures print it. */
  def sql: String
}

object NativeArg {
  /** Exactly type `t`. */
  final case class Of(t: DataType) extends NativeArg {
    def accepts(e: Expression): Boolean = e.dataType == t
    def sql: String = t.catalogString
  }

  /** An array of one of `elems`, null elements allowed. */
  final case class ArrayOf(elems: DataType*) extends NativeArg {
    def accepts(e: Expression): Boolean = e.dataType match {
      case ArrayType(el, _) => elems.contains(el)
      case _ => false
    }
    def sql: String = elems.map(_.catalogString).mkString("array<", "|", ">")
  }

  /** A foldable non-null int — the contract for compile-time-constant
    * parameters (k, num, bands, rows, planes, days). The null check
    * matters: the value is unboxed once at plan time, so a
    * `cast(null as int)` literal must fail analysis, not NPE there. */
  case object IntLit extends NativeArg {
    def accepts(e: Expression): Boolean =
      e.foldable && e.dataType == IntegerType && e.eval() != null
    def sql: String = "non-null int literal"
  }
}

/** How a native function treats null input. */
sealed trait NullRule extends Serializable

object NullRule {
  /** Null inputs go to the kernel (a null int as 0), which maps them to
    * an empty or default result: the result is never null. */
  case object ToKernel extends NullRule
  /** Any null input gives null; the kernel never sees one. */
  case object Propagate extends NullRule
  /** As [[Propagate]], and the kernel may also return null for non-null
    * input, so the result is nullable whatever the inputs are (a
    * child-derived nullability would let constant folding NPE). */
  case object PropagateOrKernel extends NullRule
}

/** One native SQL function: its name, the static kernel method it calls,
  * its argument kinds, result type and null rule. `extra` appends kernel
  * arguments derived from the resolved argument types. */
final case class NativeFunction(name: String, kernel: String, method: String,
    args: Seq[NativeArg], result: DataType, nulls: NullRule,
    extra: Seq[DataType] => Seq[Any]) {
  /** The kernel method, looked up once per JVM, for interpreted eval. */
  @transient lazy val kernelMethod: Method =
    Class.forName(kernel).getMethods.find(_.getName == method)
      .getOrElse(throw new NoSuchMethodException(s"$kernel.$method"))
}

/** The engine's native SQL functions, each declared once. The SQL
  * registry ([[GraftSparkExtensions.functions]]) and the `Column` helpers
  * ([[graft.GraftFunctions]]) are derived from this table, and every
  * entry runs through the one expression [[NativeCall]]: no UDF boxing,
  * and generated Java calls the kernel directly inside whole-stage
  * codegen.
  *
  * Kernels stay native where built-ins cannot express them under ANSI
  * mode: multiplicative hash folds must overflow `Long` deliberately,
  * which ANSI built-in arithmetic refuses to do.
  */
object NativeFunctions {
  import NativeArg._
  import NullRule._

  private val Str = Of(StringType)
  private val Bin = Of(BinaryType)
  private val Int32 = Of(IntegerType)
  private val Tokens = ArrayOf(StringType)
  private val Longs = ArrayOf(LongType)
  private val Doubles = ArrayOf(DoubleType)
  private val LongArray = ArrayType(LongType, containsNull = false)

  private def structs(fields: (String, DataType)*): ArrayType = ArrayType(
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }),
    containsNull = false)

  private def fn(name: String, kernel: AnyRef, method: String, args: NativeArg*)(
      result: DataType, nulls: NullRule,
      extra: Seq[DataType] => Seq[Any] = _ => Nil): NativeFunction =
    NativeFunction(name, kernel.getClass.getName.stripSuffix("$"), method,
      args, result, nulls, extra)

  val all: Seq[NativeFunction] = Seq(
    // ---- text extractors (SURVEY §2.7 F1-F4, F11, F16); null → empty
    fn("extract_links", TextKernels, "extractLinksData", Str)(
      TextKernels.linkArrayType, ToKernel),
    fn("extract_links_ctx", TextKernels, "extractLinksCtxData", Str)(
      TextKernels.linkCtxArrayType, ToKernel),
    fn("extract_refs", TextKernels, "extractRefsData", Str)(
      ArrayType(StringType), ToKernel),
    fn("extract_templates", TextKernels, "extractTemplatesData", Str)(
      ArrayType(StringType), ToKernel),
    fn("plain_text", TextKernels, "plainTextData", Str)(StringType, ToKernel),
    // typed INSERT/DELETE/CHANGE deltas of two token arrays
    fn("rev_diff", TextKernels, "revDiffData", Tokens, Tokens)(
      TextKernels.deltaArrayType, ToKernel),
    // multiset difference rev∖orig (S13/S14 patch words)
    fn("added_words", TextKernels, "addedWordsData", Tokens, Tokens)(
      ArrayType(StringType), ToKernel),

    // ---- scalar text functions
    fn("lang_id", HashKernels, "langIdData", Str)(StringType, ToKernel), // null → "und"
    fn("cut_last", HashKernels, "cutLastData", Str, Int32)(StringType, ToKernel), // null → ""
    // pagecounts-ez day vector (F18); null decodes to zeros
    fn("decode_ez", HashKernels, "decodeEzData", Str, IntLit)(
      ArrayType(IntegerType, containsNull = false), ToKernel),
    fn("normalize_title", HashKernels, "normalizeTitleData", Str)(StringType, Propagate),
    fn("freebase_encode", HashKernels, "freebaseEncodeData", Str)(StringType, Propagate),
    // PSL-subset domain; null for malformed input too
    fn("extract_domain", HashKernels, "extractDomainData", Str)(
      StringType, PropagateOrKernel),

    // ---- hashes and signatures of the dedup/LSH family
    fn("fnv64", HashKernels, "fnv1aUtf8", Str)(LongType, Propagate),
    fn("seeded_hash", HashKernels, "seededData", Str, Int32)(LongType, Propagate),
    fn("rolling_fingerprint", HashKernels, "rollingData", Str)(LongType, Propagate),
    fn("minhash_sig", HashKernels, "minHashData", Tokens, IntLit, IntLit)(
      LongArray, ToKernel),
    // FNV-1a of every k-token shingle: the map kernel of the whole
    // shingle→hash dedup family
    fn("shingle_hashes", HashKernels, "shingleHashesData", Tokens, IntLit)(
      LongArray, ToKernel),
    // the LSH banding step: one bucket key per band (band id in the top
    // byte). A null signature folds like an empty one, so externally built
    // nullable signatures group all null rows into the same buckets.
    fn("band_buckets", HashKernels, "bandBucketsData", Longs, IntLit, IntLit)(
      LongArray, ToKernel),
    fn("simhash64", HashKernels, "simHashData", Tokens)(LongType, ToKernel),
    // hyperplane LSH signature; the kernel reads float or double elements
    fn("sign_bits", HashKernels, "signBitsData", ArrayOf(FloatType, DoubleType), IntLit)(
      LongType, ToKernel,
      ts => Seq(ts.head match { case ArrayType(FloatType, _) => true; case _ => false })),
    // verification kernel of the prefix-filtered jaccard join: inputs
    // sorted ascending, no null elements
    fn("sorted_intersect_count", HashKernels, "sortedIntersectCount", Longs, Longs)(
      IntegerType, Propagate),

    // ---- embedding similarity: the HOF folds as primitive loops
    fn("cosine_sim", VectorKernels, "cosineBoxed", Doubles, Doubles)(
      DoubleType, PropagateOrKernel),
    fn("l2sq_dist", VectorKernels, "l2sqBoxed", Doubles, Doubles)(
      DoubleType, PropagateOrKernel),

    // ---- VByte doc-vector codec
    // a null element encodes to null: VByte has no null
    fn("vbyte_encode", CodecKernels, "encodeData", Longs)(BinaryType, PropagateOrKernel),
    fn("vbyte_decode", CodecKernels, "decodeData", Bin)(LongArray, Propagate),

    // ---- media folds: per-byte work over media-scale payloads must stay
    // inside whole-stage codegen; all arithmetic is exact integer or a
    // deliberately overflowing fold. null/empty payload → empty array.
    fn("frame_sigs", HashKernels, "frameSigsData", Bin, IntLit, IntLit)(
      structs("idx" -> IntegerType, "sig" -> LongType), ToKernel),
    fn("frame_energy", HashKernels, "frameEnergyData", Bin, IntLit, IntLit)(
      structs("idx" -> IntegerType, "energy" -> LongType, "peak" -> IntegerType),
      ToKernel),
    fn("frame_energy_stereo", HashKernels, "frameEnergyStereoData", Bin, IntLit, IntLit)(
      structs("idx" -> IntegerType, "energy_l" -> LongType, "energy_r" -> LongType,
        "peak_l" -> IntegerType, "peak_r" -> IntegerType, "xsum" -> LongType),
      ToKernel),
    fn("patch_sigs", HashKernels, "patchSigsData", Bin, IntLit, IntLit)(
      structs("pr" -> IntegerType, "pc" -> IntegerType, "sig" -> LongType), ToKernel),
    fn("block_means", HashKernels, "blockMeansData", Str, IntLit, IntLit)(
      structs("pr" -> LongType, "pc" -> LongType, "n_pix" -> LongType,
        "mean_gray" -> LongType), ToKernel),
    // (n_pix, phash); null/empty → (0, 0)
    fn("ahash64", HashKernels, "aHash64Data", Str)(
      StructType(Seq(StructField("n_pix", LongType, nullable = false),
        StructField("phash", LongType, nullable = false))), ToKernel))

  val byName: Map[String, NativeFunction] = all.map(f => f.name -> f).toMap

  /** `name(args)` as an expression. */
  def apply(name: String, args: Seq[Expression]): Expression =
    NativeCall(byName(name), args)
}

/** The one Catalyst expression behind every [[NativeFunctions]] entry:
  * its type check, interpreted eval (a cached reflective call) and
  * generated code (a direct static call of the kernel) follow the entry's
  * argument kinds and null rule. */
case class NativeCall(fn: NativeFunction, children: Seq[Expression]) extends Expression {
  import NullRule._

  override def prettyName: String = fn.name
  override def toString: String = s"$prettyName(${children.mkString(", ")})"
  override def dataType: DataType = fn.result
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean = fn.nulls match {
    case ToKernel => false
    case Propagate => children.exists(_.nullable)
    case PropagateOrKernel => true
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == fn.args.length &&
        fn.args.zip(children).forall { case (a, c) => a.accepts(c) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${fn.name} requires ${fn.args.map(_.sql).mkString("(", ", ", ")")}, got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))

  // the value of each int-literal argument, evaluated once; None for a
  // data argument
  @transient private lazy val literals: Seq[Option[Any]] =
    fn.args.zip(children).map {
      case (NativeArg.IntLit, c) => Some(c.eval())
      case _ => None
    }
  @transient private lazy val extra: Seq[Any] = fn.extra(children.map(_.dataType))

  // under ToKernel a null int reaches the kernel as 0, any other null as null
  private def nullArg(t: DataType): (String, Any) =
    if (t == IntegerType) ("0", 0) else ("null", null)

  // interpreted eval runs per element inside higher-order lambdas (which
  // never enter codegen), so everything but the data arguments is built
  // once: the kernel argument array with literal and extra values filled
  // in, the data positions, and the value each passes for a null
  @transient private lazy val argTemplate: Array[AnyRef] =
    (literals.map(_.orNull) ++ extra).map(_.asInstanceOf[AnyRef]).toArray
  @transient private lazy val dataSlots: Array[Int] =
    literals.indices.filter(literals(_).isEmpty).toArray
  @transient private lazy val dataChildren: Array[Expression] = dataSlots.map(children)
  @transient private lazy val nullArgs: Array[AnyRef] =
    dataChildren.map(c => nullArg(c.dataType)._2.asInstanceOf[AnyRef])

  override def eval(input: InternalRow): Any = {
    val args = argTemplate.clone()
    val slots = dataSlots
    val cs = dataChildren
    var i = 0
    while (i < slots.length) {
      val v = cs(i).eval(input)
      if (v != null) args(slots(i)) = v.asInstanceOf[AnyRef]
      else if (fn.nulls == ToKernel) args(slots(i)) = nullArgs(i)
      else return null
      i += 1
    }
    try fn.kernelMethod.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    // data arguments are generated; literal and extra arguments inlined
    val gens: Seq[Option[ExprCode]] = literals.zip(children).map {
      case (None, c) => Some(c.genCode(ctx))
      case _ => None
    }
    val data = children.zip(gens).collect { case (c, Some(g)) => (c, g) }
    def call(arg: (Expression, ExprCode) => String): String = {
      val args = children.indices.map(i =>
        gens(i).fold(literals(i).get.toString)(arg(children(i), _)))
      (args ++ extra.map(_.toString)).mkString(s"${fn.kernel}.${fn.method}(", ", ", ")")
    }
    val inputs = data.map(_._2.code).mkString("\n")
    fn.nulls match {
      case ToKernel =>
        val c = call((c, g) => s"${g.isNull} ? ${nullArg(c.dataType)._1} : ${g.value}")
        ev.copy(code = code"$inputs\n$jt ${ev.value} = $c;", isNull = FalseLiteral)
      case Propagate if !nullable =>
        val c = call((_, g) => g.value.toString)
        ev.copy(code = code"$inputs\n$jt ${ev.value} = $c;", isNull = FalseLiteral)
      case rule =>
        val c = call((_, g) => g.value.toString)
        val set =
          if (rule == Propagate) s"${ev.isNull} = false;\n${ev.value} = $c;"
          else {
            val r = ctx.freshName("result")
            val unbox = if (CodeGenerator.isPrimitiveType(jt)) s".${jt}Value()" else ""
            s"${CodeGenerator.boxedType(jt)} $r = $c;\n" +
              s"if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r$unbox; }"
          }
        // each data argument is evaluated only if the ones before it are
        // non-null, as Spark's null-safe templates do
        val body = data.foldRight(set) { case ((c, g), inner) =>
          s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
        }
        ev.copy(code = code"boolean ${ev.isNull} = true;\n" +
          code"$jt ${ev.value} = ${CodeGenerator.defaultValue(dataType)};\n$body")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall = copy(children = newChildren)
}
