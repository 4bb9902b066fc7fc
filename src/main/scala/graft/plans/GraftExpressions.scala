package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}

/** Custom Catalyst expressions for the vector/similarity operators the
  * builtin function library can't express efficiently. Both implement
  * `doGenCode` as a single static call into [[VectorOps]], so they
  * participate in WholeStageCodegen (no interpreted fallback in the
  * hot path) — the preferred extension tier after builtins.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorOps.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** [[CosineSimilarity]] for double arrays (k-means centroids are
  * means). Same oracle-exact accumulation order as the HOF
  * `aggregate(zip_with(...))` formulation it replaces, one codegen'd
  * call instead of three interpreted lambdas per pair. */
case class CosineSimilarityD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_d"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineD(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorOps.cosineD($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityD =
    copy(left = newLeft, right = newRight)
}

/** Double-array dot product (see [[VectorOps.dotD]]) — general
  * vector-surface function (the LSH plane projections that first
  * motivated it now run inside the one-pass [[SrpBandSigs]] kernel).
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_d"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotD(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorOps.dotD($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** One-pass sign-random-projection band signatures (see
  * [[VectorOps.srpBandSigs]]): float vector → array of `bands` bucket
  * bit-strings (`planes` planes per band, global plane index
  * band*planes+j). Like [[LshBandSigs]], emitting the whole band
  * array behind a Generate boundary means the vector is walked once
  * per row, not once per plane. */
case class SrpBandSigs(child: Expression, bands: Int, planes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "srp_band_sigs"

  override protected def nullSafeEval(emb: Any): Any =
    VectorOps.srpBandSigs(
      emb.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e => s"graft.plans.VectorOps.srpBandSigs($e, $bands, $planes)")

  override protected def withNewChildInternal(newChild: Expression): SrpBandSigs =
    copy(child = newChild)
}

case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(tokens: Any): Any =
    VectorOps.simhash60(
      tokens.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.VectorOps.simhash60($t)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** One-pass MinHash-LSH band signatures of a document (see
  * [[VectorOps.lshBandSigs]]): text → array of 4 band-signature md5
  * hex strings, evaluated once per row inside WholeStageCodegen.
  * Emitting the *band signatures* (not the 16-element signature
  * array) matters: a signature-array column consumed by 4 band
  * projections gets re-inlined by CollapseProject and recomputed per
  * band; a single array feeding posexplode sits behind a Generate
  * boundary and is evaluated exactly once. */
case class LshBandSigs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lsh_band_sigs"

  override protected def nullSafeEval(text: Any): Any =
    VectorOps.lshBandSigs(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.VectorOps.lshBandSigs($t)")

  override protected def withNewChildInternal(newChild: Expression): LshBandSigs =
    copy(child = newChild)
}

/** One-pass trigram repetition stats (see [[VectorOps.repetitionStats]]):
  * lowercased text → struct(n_trigrams, max_tri_count). */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_trigrams", LongType, nullable = false),
    StructField("max_tri_count", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(text: Any): Any =
    VectorOps.repetitionStats(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.VectorOps.repetitionStats($t)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** One-pass rolling-shingle fingerprint (see [[VectorOps.fpMinMax]]):
  * lowercased text → struct(fp_min, fp_max). */
case class FpMinMax(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("fp_min", StringType, nullable = false),
    StructField("fp_max", StringType, nullable = false)))
  override def prettyName: String = "fp_minmax"

  override protected def nullSafeEval(text: Any): Any =
    VectorOps.fpMinMax(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.VectorOps.fpMinMax($t)")

  override protected def withNewChildInternal(newChild: Expression): FpMinMax =
    copy(child = newChild)
}

/** BPE segmentation of one token under a rank-ordered merge table
  * (see [[VectorOps.bpeSegment]]): token → array of subword symbols,
  * evaluated inside WholeStageCodegen. The merge table is a plan-time
  * constant (the trainer's output), shipped to tasks as a codegen
  * reference object — the tokenizer-vocabulary analogue of the
  * broadcast side of a map-side join. */
case class BpeSegment(child: Expression, merges: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_segment"

  private lazy val mergeArr: Array[String] = merges.toArray

  override protected def nullSafeEval(token: Any): Any =
    VectorOps.bpeSegment(
      token.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mergeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", mergeArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, t => s"graft.plans.VectorOps.bpeSegment($t, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegment =
    copy(child = newChild)
}

/** Registration + Column-API entry points.
  *
  * [[GraftFunctions.register]] adds the expressions to the session's
  * FunctionRegistry (idempotent); [[GraftSessionExtensions]] is the
  * `spark.sql.extensions`-config path for cluster deployments.
  */
object GraftFunctions {

  /** bands/planes shape the kernel, so they must be integer LITERALS
    * at plan time. Raw `eval().asInstanceOf[Int]` broke on BIGINT
    * literals (`1::BIGINT` → ClassCastException) and threw an
    * inscrutable NPE for non-foldable inputs — match any integral
    * literal, reject everything else with a real message. */
  private[plans] def intLitArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number,
        org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType) =>
      // An out-of-Int-range BIGINT literal would silently truncate to
      // a nonsense kernel shape (e.g. bands=0 → empty output) — same
      // real-message rule as the non-literal case.
      if (v.longValue() != v.intValue()) throw new IllegalArgumentException(
        s"srp_band_sigs: $what literal ${v.longValue()} is outside Int range")
      else v.intValue()
    case other => throw new IllegalArgumentException(
      s"srp_band_sigs: $what must be an integer literal, got ${other.sql}")
  }

  /** The merge table shapes the [[BpeSegment]] kernel, so it must be a
    * string-array LITERAL at plan time (the trainer's collected
    * output) — same real-message contract as [[intLitArg]]. */
  private[plans] def strArrayLitArg(e: Expression): Seq[String] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        arr: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _)) =>
      (0 until arr.numElements()).map { i =>
        val v = arr.getUTF8String(i)
        if (v == null) throw new IllegalArgumentException(
          s"bpe_segment: merges element $i is NULL — the merge table must be null-free")
        v.toString
      }
    case other => throw new IllegalArgumentException(
      s"bpe_segment: merges must be a string-array literal, got ${other.sql}")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "cosine_sim_d" -> (es => CosineSimilarityD(es(0), es(1))),
    "dot_d" -> (es => DotProductD(es(0), es(1))),
    "simhash60" -> (es => SimHash60(es.head)),
    "srp_band_sigs" -> (es => SrpBandSigs(es.head,
      intLitArg(es(1), "bands"), intLitArg(es(2), "planes"))),
    "lsh_band_sigs" -> (es => LshBandSigs(es.head)),
    "bpe_segment" -> (es => BpeSegment(es.head, strArrayLitArg(es(1)))),
    "repetition_stats" -> (es => RepetitionStats(es.head)),
    "fp_minmax" -> (es => FpMinMax(es.head)),
    // Spark's own runtime-filter bloom expressions (used internally
    // by InjectRuntimeFilter but not registered as SQL functions) —
    // surfaced for the explicit semi-join prune tier
    // (Curation.decontaminateBloom). Input must be xxhash64(col).
    "bloom_filter_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1), es(2))),
    "bloom_might_contain" -> (es =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))

  /** Idempotent per session: a builder the registry already holds
    * (the same function object) is skipped, so repeat calls neither
    * rewrite the registry nor log "replaced a previously registered
    * function". */
  def register(s: SparkSession): Unit = {
    val registry = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(s).sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).contains(b))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  def cosine_sim_d(a: Column, b: Column): Column = call_function("cosine_sim_d", a, b)

  def dot_d(a: Column, b: Column): Column = call_function("dot_d", a, b)

  def simhash60(tokens: Column): Column = call_function("simhash60", tokens)

  def srp_band_sigs(emb: Column, bands: Int, planes: Int): Column =
    call_function("srp_band_sigs", emb,
      org.apache.spark.sql.functions.lit(bands), org.apache.spark.sql.functions.lit(planes))

  def lsh_band_sigs(text: Column): Column = call_function("lsh_band_sigs", text)

  /** Segment one token under a rank-ordered merge table (flattened
    * [l0, r0, l1, r1, …] — the [[graft.operators.Bpe]] trainer's
    * output). */
  def bpe_segment(token: Column, merges: Seq[String]): Column =
    call_function("bpe_segment", token,
      org.apache.spark.sql.functions.lit(merges.toArray))

  def repetition_stats(text: Column): Column = call_function("repetition_stats", text)

  def fp_minmax(text: Column): Column = call_function("fp_minmax", text)

  /** Bloom filter over xxhash64 of `c` (binary, broadcastable). */
  def bloom_filter_agg(c: Column, estItems: Long, numBits: Long): Column =
    call_function("bloom_filter_agg", org.apache.spark.sql.functions.xxhash64(c),
      org.apache.spark.sql.functions.lit(estItems), org.apache.spark.sql.functions.lit(numBits))

  /** Membership probe against a [[bloom_filter_agg]] result. */
  def bloom_might_contain(bloom: Column, c: Column): Column =
    call_function("bloom_might_contain", bloom,
      org.apache.spark.sql.functions.xxhash64(c))
}

/** `spark.sql.extensions=graft.plans.GraftSessionExtensions` registers
  * the functions at session build time on every node of a cluster. */
class GraftSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim_d"),
      new ExpressionInfo(classOf[CosineSimilarityD].getName, "cosine_sim_d"),
      (es: Seq[Expression]) => CosineSimilarityD(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DotProductD].getName, "dot_d"),
      (es: Seq[Expression]) => DotProductD(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (es: Seq[Expression]) => SimHash60(es.head)))
    ext.injectFunction((
      FunctionIdentifier("srp_band_sigs"),
      new ExpressionInfo(classOf[SrpBandSigs].getName, "srp_band_sigs"),
      (es: Seq[Expression]) => SrpBandSigs(es.head,
        GraftFunctions.intLitArg(es(1), "bands"),
        GraftFunctions.intLitArg(es(2), "planes"))))
    ext.injectFunction((
      FunctionIdentifier("lsh_band_sigs"),
      new ExpressionInfo(classOf[LshBandSigs].getName, "lsh_band_sigs"),
      (es: Seq[Expression]) => LshBandSigs(es.head)))
    ext.injectFunction((
      FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (es: Seq[Expression]) => RepetitionStats(es.head)))
    ext.injectFunction((
      FunctionIdentifier("fp_minmax"),
      new ExpressionInfo(classOf[FpMinMax].getName, "fp_minmax"),
      (es: Seq[Expression]) => FpMinMax(es.head)))
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (es: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          es(0), es(1), es(2))))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))
  }
}
