package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BinaryExpression, CaseWhen, Cast, CheckOverflowInSum, EvalMode, Expression, If, IsNull, Literal, NumericEvalContext, SupportQueryContext, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, UnaryLike}
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE_EXPRESSION
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, Decimal, DecimalType, DoubleType, LongType, StringType, StructField, StructType}

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

/** Per-row half of [[DecimalSum]]: the unscaled long of
  * `CAST(child AS DECIMAL(precision, scale))` for a DOUBLE `child`,
  * precision ≤ 18. `cast` is that very Spark `Cast`, evaluated only when
  * the fast path declines, so every answer is either provably equal to
  * Spark's or Spark's own (null or error included).
  *
  * Why the fast path is exact. Spark casts a double through its
  * `Double.toString` form D and rounds D HALF_UP to `scale` digits.
  * D parses back to x, so |D − x| ≤ ulp(x)/2. The kernel computes
  * y = fl(|x|·10^s) (10^s is an exact double), which is within
  * ulp(y)/2 of |x|·10^s; and ulp(x)·10^s < 2·ulp(y) because y is at
  * least 2^e·10^s for x's binade exponent e. So |D·10^s| and y differ by
  * less than 1.5·ulp(y). If frac(y) is more than 2·ulp(y) away from
  * 0.5, no rounding midpoint k + 0.5 lies between them, and rounding y
  * to the nearest integer gives the same integer as rounding D·10^s
  * HALF_UP; the sign is applied after (HALF_UP is symmetric). The fast
  * path further needs y < 2^52 (so frac(y) is exact and the ulp margin
  * means something) and a result below 10^precision. Everything else —
  * values near a midpoint, NaN, ±Inf, overflow — goes to `cast`. */
case class UnscaledDecimal(child: Expression, cast: Expression, precision: Int, scale: Int)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = cast
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "unscaled_decimal"

  override def eval(input: InternalRow): Any = {
    val x = child.eval(input)
    if (x == null) null
    else {
      val u = VectorOps.unscaledDecimal(x.asInstanceOf[Double], precision, scale)
      if (u != VectorOps.NoFastPath) u
      else {
        val d = cast.eval(input)
        if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = child.genCode(ctx)
    val c = cast.genCode(ctx)
    ev.copy(code = code"""
      ${x.code}
      boolean ${ev.isNull} = ${x.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.plans.VectorOps.unscaledDecimal(${x.value}, $precision, $scale);
        if (${ev.value} == ${VectorOps.NoFastPath}L) {
          ${c.code}
          ${ev.isNull} = ${c.isNull};
          ${ev.value} = ${c.isNull} ? 0L : ${c.value}.toUnscaledLong();
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnscaledDecimal =
    copy(child = newLeft, cast = newRight)
}

/** One step of [[DecimalSum]]'s buffer: (hi, lo) plus `x` with the
  * carry normalized so |lo| < 10^18 ([[VectorOps.hiLoHi]]); `high`
  * selects which half this expression returns. A null `x` (a null
  * input row, or one the cast turned into null) leaves the buffer as
  * it is. */
case class HiLoAdd(hi: Expression, lo: Expression, x: Expression, high: Boolean)
    extends TernaryExpression {

  override def first: Expression = hi
  override def second: Expression = lo
  override def third: Expression = x
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input).asInstanceOf[Long]
    val l = lo.eval(input).asInstanceOf[Long]
    val v = x.eval(input)
    if (v == null) { if (high) h else l }
    else if (high) VectorOps.hiLoHi(h, l, v.asInstanceOf[Long])
    else VectorOps.hiLoLo(l, v.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx)
    val l = lo.genCode(ctx)
    val v = x.genCode(ctx)
    val step =
      if (high) s"graft.plans.VectorOps.hiLoHi(${h.value}, ${l.value}, ${v.value})"
      else s"graft.plans.VectorOps.hiLoLo(${l.value}, ${v.value})"
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${v.code}
      long ${ev.value} = ${v.isNull} ? ${if (high) h.value else l.value} : $step;""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): HiLoAdd =
    copy(hi = newFirst, lo = newSecond, x = newThird)
}

/** [[DecimalSum]]'s result: hi·10^18 + lo as a decimal of `dataType`,
  * or null when it has more digits than `dataType` holds. */
case class HiLoDecimal(hi: Expression, lo: Expression, dataType: DecimalType)
    extends BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any =
    VectorOps.hiLoDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long],
      dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx)
    val l = lo.genCode(ctx)
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.plans.VectorOps.hiLoDecimal(
        ${h.value}, ${l.value}, ${dataType.precision}, ${dataType.scale});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HiLoDecimal =
    copy(hi = newLeft, lo = newRight)
}

/** `DecimalSum(x, p, s, ansi)`: exactly `sum(CAST(x AS DECIMAL(p, s)))`
  * for a DOUBLE `x` and p ≤ 18 — the same DECIMAL(p+10, s) type and
  * value, null for empty or all-null input, the same null-or-error for a
  * row the cast rejects (NaN, ±Inf, out of range) — computed on unscaled
  * longs inside whole-stage codegen instead of a `BigDecimal` per row.
  * [[DecimalSums]] puts it in place of that `sum`.
  *
  * Per row, [[UnscaledDecimal]] gives the cast's unscaled long (Spark's
  * `Cast` is its fallback). The buffer holds the running sum as
  * hi·10^18 + lo with |lo| < 10^18, carrying into hi, so it can't
  * overflow before DECIMAL(p+10, s) would (that takes over 10^10 rows
  * per group). `evaluate` builds the Decimal once per group and hands
  * it to Spark's `CheckOverflowInSum`; a sum past p+10 digits reaches it
  * as null, as Spark's overflowed buffer does in a grouped aggregation,
  * so non-ANSI gives null and ANSI throws Spark's sum-overflow error.
  * `ansi` is the eval mode of the `Sum` it replaces. */
case class DecimalSum(child: Expression, precision: Int, scale: Int, ansi: Boolean)
    extends DeclarativeAggregate with UnaryLike[Expression] with SupportQueryContext {

  require(precision >= 1 && precision <= 18 && scale >= 0 && scale <= precision,
    s"decimal_sum: needs 1 <= precision <= 18 and 0 <= scale <= precision, " +
      s"got ($precision, $scale)")

  override def dataType: DecimalType = DecimalType(precision + 10, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "decimal_sum"
  override def defaultResult: Option[Literal] = Some(Literal.create(null, dataType))

  override def initQueryContext(): Option[QueryContext] =
    if (ansi) Some(origin.context) else None

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private lazy val unscaled = UnscaledDecimal(child,
    Cast(child, DecimalType(precision, scale), None, EvalMode.fromBoolean(ansi)),
    precision, scale)

  // `unscaled` is a direct, always-evaluated child of all three update
  // expressions, so subexpression elimination computes it once per row.
  override lazy val updateExpressions: Seq[Expression] = Seq(
    HiLoAdd(hi, lo, unscaled, high = true),
    HiLoAdd(hi, lo, unscaled, high = false),
    And(IsNull(unscaled), isEmpty))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    HiLoAdd(Add(hi.left, hi.right, NumericEvalContext(EvalMode.LEGACY)),
      lo.left, lo.right, high = true),
    HiLoAdd(hi.left, lo.left, lo.right, high = false),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(HiLoDecimal(hi, lo, dataType), dataType, !ansi, getContextOrNull()))

  override protected def withNewChildInternal(newChild: Expression): DecimalSum =
    copy(child = newChild)
}

/** Sums an exact narrow decimal of a DOUBLE on unscaled longs: rewrites
  * a non-distinct LEGACY or ANSI `sum(CAST(x AS DECIMAL(p ≤ 18, s)))`
  * whose cast has the sum's mode into [[DecimalSum]] (same type, value,
  * nulls and errors), keeping the `Sum`'s origin for the ANSI query
  * context. The cast must sit inside the sum: one projected in an earlier
  * step reaches the `Sum` as a column. A p ≤ 8 sum never gets here, as
  * Spark's `DecimalAggregates` has made it a long sum already.
  *
  * The rule runs after operator optimization, where
  * `PushFoldableIntoBranches` has moved a cast of a conditional into its
  * branches: `CAST(CASE WHEN c THEN x ELSE 0.0 END AS DECIMAL(18,4))`
  * arrives as `CASE WHEN c THEN CAST(x …) ELSE 0.0000BD END`. So an `If`
  * or `CaseWhen` is rewritten when each value is that cast of a DOUBLE or
  * a decimal literal a DOUBLE casts back to exactly (0 and null at
  * today's sites), and [[DecimalSum]] sums the conditional uncast. */
object DecimalSums extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
      case ae @ AggregateExpression(
          sum @ Sum(child @ (_: Cast | _: If | _: CaseWhen), ctx), _, false, _, _) =>
        (child.dataType, ctx.evalMode) match {
          case (dt: DecimalType, mode @ (EvalMode.LEGACY | EvalMode.ANSI)) if dt.precision <= 18 =>
            uncast(child, dt, mode).fold(ae)(x => ae.copy(aggregateFunction =
              CurrentOrigin.withOrigin(sum.origin)(
                DecimalSum(x, dt.precision, dt.scale, mode == EvalMode.ANSI))))
          case _ => ae
        }
    }

  /** The DOUBLE expression whose cast to `dt` under `mode` is `e`. */
  private def uncast(e: Expression, dt: DecimalType, mode: EvalMode.Value): Option[Expression] =
    e match {
      case Cast(x, `dt`, _, `mode`) if x.dataType == DoubleType => Some(x)
      case Literal(null, `dt`) => Some(Literal(null, DoubleType))
      case Literal(d: Decimal, `dt`)
          if Cast(Literal(d.toDouble), dt, None, EvalMode.LEGACY).eval() == d =>
        Some(Literal(d.toDouble))
      case If(c, t, f) =>
        for (a <- uncast(t, dt, mode); b <- uncast(f, dt, mode)) yield If(c, a, b)
      case CaseWhen(branches, elseValue) =>
        val values = branches.map(b => uncast(b._2, dt, mode))
        val otherwise = elseValue.map(uncast(_, dt, mode))
        if (values.forall(_.isDefined) && otherwise.forall(_.isDefined))
          Some(CaseWhen(branches.map(_._1).zip(values.flatten), otherwise.flatten))
        else None
      case _ => None
    }
}

/** Session install + Column-API entry points.
  *
  * [[GraftFunctions.install]] registers the kernels and adds
  * [[DecimalSums]] to the session's optimizer; `graft.Session.local`
  * and `SparkEntry.queries` call it, so Column wrappers and SQL text
  * resolve on any session a query is built on. An exact narrow decimal
  * sum is written as Spark's `sum(x.cast("decimal(p,s)"))`; the rule
  * sums it on longs.
  */
object GraftFunctions {

  /** bands/planes shape the kernel, so they must be integer LITERALS
    * at plan time. Raw `eval().asInstanceOf[Int]` broke on BIGINT
    * literals (`1::BIGINT` → ClassCastException) and threw an
    * inscrutable NPE for non-foldable inputs — match any integral
    * literal, reject everything else with a real message. */
  private[plans] def intLitArg(e: Expression, fn: String, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number,
        org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType) =>
      // An out-of-Int-range BIGINT literal would silently truncate to
      // a nonsense kernel shape (e.g. bands=0 → empty output) — same
      // real-message rule as the non-literal case.
      if (v.longValue() != v.intValue()) throw new IllegalArgumentException(
        s"$fn: $what literal ${v.longValue()} is outside Int range")
      else v.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got ${other.sql}")
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

  /** Every SQL-visible kernel: name and builder. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", es => CosineSimilarity(es(0), es(1))),
    ("cosine_sim_d", es => CosineSimilarityD(es(0), es(1))),
    ("dot_d", es => DotProductD(es(0), es(1))),
    ("simhash60", es => SimHash60(es.head)),
    ("srp_band_sigs", es => SrpBandSigs(es.head,
      intLitArg(es(1), "srp_band_sigs", "bands"), intLitArg(es(2), "srp_band_sigs", "planes"))),
    ("lsh_band_sigs", es => LshBandSigs(es.head)),
    ("bpe_segment", es => BpeSegment(es.head, strArrayLitArg(es(1)))),
    ("repetition_stats", es => RepetitionStats(es.head)),
    ("fp_minmax", es => FpMinMax(es.head)),
    // Spark's own runtime-filter bloom expressions (used internally
    // by InjectRuntimeFilter but not registered as SQL functions) —
    // surfaced for the explicit semi-join prune tier
    // (Curation.decontaminateBloom). Input must be xxhash64(col).
    ("bloom_filter_agg", es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1), es(2))),
    ("bloom_might_contain", es =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))

  /** Registers the kernels and adds [[DecimalSums]] to the session's
    * extra optimizations. Idempotent per session: a builder the registry
    * already holds (the same function object) is skipped, so repeat calls
    * neither rewrite the registry nor log "replaced a previously
    * registered function", and the rule is added once. */
  def install(s: SparkSession): Unit = {
    val session = org.apache.spark.sql.classic.ClassicConversions.castToImpl(s)
    val registry = session.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).contains(b))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
    val experimental = session.experimental
    experimental.synchronized {
      if (!experimental.extraOptimizations.contains(DecimalSums))
        experimental.extraOptimizations = experimental.extraOptimizations :+ DecimalSums
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
