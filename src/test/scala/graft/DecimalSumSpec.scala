package graft

import graft.operators.Dedup
import graft.plans.{DecimalSum, GraftFunctions, GraftSessionExtensions, VectorOps}
import graft.plans.GraftFunctions.decimal_sum
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Cast, EvalMode, Expression, ExpressionInfo, Literal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{Decimal, DecimalType}

/** `decimal_sum(x, p, s)` against the expression it replaces,
  * `sum(CAST(x AS DECIMAL(p, s)))`: same type, value, nulls and errors,
  * on random magnitudes, rounding midpoints, special values, ANSI on
  * and off, and site by site over the converted queries. */
class DecimalSumSpec extends SparkSpecBase {

  private val AnsiKey = "spark.sql.ansi.enabled"

  private def withAnsi[A](on: Boolean)(f: => A): A = {
    val saved = spark.conf.get(AnsiKey)
    spark.conf.set(AnsiKey, on.toString)
    try f finally spark.conf.set(AnsiKey, saved)
  }

  private def frame(rows: Seq[(Int, Option[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "x").repartition(3)
  }

  private def sparkSum(p: Int, s: Int) = sum(col("x").cast(s"decimal($p,$s)")).as("v")
  private def kernelSum(p: Int, s: Int) = decimal_sum(col("x"), p, s).as("v")

  /** Grouped and global results of both expressions, plus their types. */
  private def assertSame(df: DataFrame, p: Int, s: Int): Unit = {
    val a = df.groupBy("k").agg(sparkSum(p, s))
    val b = df.groupBy("k").agg(kernelSum(p, s))
    assert(a.schema == b.schema)
    assert(b.schema("v").dataType == DecimalType(p + 10, s))
    assert(a.orderBy("k").collect().toSeq == b.orderBy("k").collect().toSeq, s"($p,$s)")
    val ga = df.agg(sparkSum(p, s)).collect().toSeq
    val gb = df.agg(kernelSum(p, s)).collect().toSeq
    assert(ga == gb, s"global ($p,$s)")
  }

  /** The error condition a query raises, or its sorted rows. */
  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    try Right(df.orderBy("k").collect().toSeq)
    catch { case e: SparkThrowable => Left(e.getCondition) }

  private val rnd = new scala.util.Random(20261019L)

  /** Signed doubles spread log-uniformly over 1e-6 .. 1e14. */
  private val randomDoubles: Seq[Double] = Seq.fill(40000) {
    val x = math.pow(10, -6 + rnd.nextDouble() * 20)
    if (rnd.nextBoolean()) -x else x
  }

  /** (k + 0.5)/10^s and its two neighbouring doubles, both signs. */
  private def midpoints(s: Int): Seq[Double] =
    Seq.fill(3000)(rnd.nextInt(100000000).toLong).flatMap { k =>
      val m = (k + 0.5) / math.pow(10, s)
      Seq(m, math.nextUp(m), math.nextDown(m), -m, -math.nextUp(m))
    }

  test("random magnitudes 1e-6..1e14: same value and type as sum(cast), s in {0,2,4,6}, ANSI on and off") {
    for (ansi <- Seq(false, true); s <- Seq(0, 2, 4, 6)) withAnsi(ansi) {
      // DECIMAL(18, s) holds |x| < 10^(18-s): keep the rows it can cast.
      val rows = randomDoubles.filter(x => math.abs(x) < 1e11 || s == 0)
        .map(x => (rnd.nextInt(25), Some(x)))
      assertSame(frame(rows), 18, s)
    }
  }

  test("rounding midpoints and their neighbours round HALF_UP exactly as the cast does") {
    for (ansi <- Seq(false, true); s <- Seq(0, 2, 4, 6)) withAnsi(ansi) {
      val rows = midpoints(s).map(x => (rnd.nextInt(25), Some(x)))
      assertSame(frame(rows), 18, s)
    }
  }

  test("per row, the fast path equals Spark's cast whenever it answers, and answers most rows") {
    import spark.implicits._
    for (s <- Seq(0, 2, 4, 6)) {
      val xs = randomDoubles.filter(x => math.abs(x) < 1e11) ++ midpoints(s)
      val casts = xs.toDF("x").select(col("x"), col("x").cast(s"decimal(18,$s)").as("c"))
        .collect()
      var fast = 0
      casts.foreach { r =>
        val u = VectorOps.unscaledDecimal(r.getDouble(0), 18, s)
        if (u != VectorOps.NoFastPath) {
          fast += 1
          assert(!r.isNullAt(1) && r.getDecimal(1).unscaledValue.longValueExact == u,
            s"x=${r.getDouble(0)} s=$s fast=$u cast=${r.get(1)}")
        }
      }
      assert(fast > xs.size / 2, s"fast path answered only $fast of ${xs.size} rows at s=$s")
    }
  }

  test("±0.0, subnormals, NaN/±Inf and values at and past 10^(p-s), ANSI on and off") {
    val special = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue, 1e-310,
      java.lang.Double.MIN_NORMAL, 9999.99, 9999.994, 9999.995, -9999.995, 9999.9951, 10000.0,
      -10000.0, 12345.678, 1e5, 4.5e15, 1e300, Double.MaxValue)
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    // p = 6, s = 2: DECIMAL(6,2) ends just below 10^4.
    val rows = (special ++ nonFinite).zipWithIndex.map { case (x, i) => (i % 4, Some(x)) }
    withAnsi(false) {
      assertSame(frame(rows), 6, 2)
      assertSame(frame(rows), 18, 4)
    }
    withAnsi(true) {
      val inRange = special.filter(x => math.abs(x) < 9999.99)
        .zipWithIndex.map { case (x, i) => (i % 4, Some(x)) }
      assertSame(frame(inRange), 6, 2)
      // Out of range is an error under ANSI; NaN and ±Inf go as the cast says.
      // Those errors fail their tasks by design, so their logs are muted.
      spark.sparkContext.setLogLevel("OFF")
      try for (bad <- Seq(9999.995, -10000.0, 1e300) ++ nonFinite) {
        val df = frame(inRange :+ ((1, Some(bad))))
        val want = outcome(df.groupBy("k").agg(sparkSum(6, 2)))
        if (!bad.isNaN && !bad.isInfinite) assert(want.isLeft, s"x=$bad: $want")
        assert(outcome(df.groupBy("k").agg(kernelSum(6, 2))) == want, s"x=$bad")
      } finally spark.sparkContext.setLogLevel("WARN")
    }
  }

  test("all-null groups and empty input give null, as sum(cast) does") {
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      val rows = Seq((1, None), (1, None), (2, Some(1.25)), (2, None), (3, Some(-2.5)))
      assertSame(frame(rows), 18, 2)
      val empty = frame(rows).filter(col("k") > 99)
      assertSame(empty, 18, 2)
      assert(empty.agg(kernelSum(18, 2)).head().isNullAt(0))
      assert(frame(rows).groupBy("k").agg(kernelSum(18, 2))
        .filter(col("k") === 1).head().isNullAt(1))
    }
  }

  test("sums past a long's range stay exact (the buffer carries into its high half)") {
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      // 10^4-scaled values near 10^18: a one-long buffer wraps after ~9 rows.
      val big = Seq.fill(400)(9.9e13 + rnd.nextInt(1000000) / 100.0)
      val rows = (big ++ big.map(-_ * 0.75)).map(x => (rnd.nextInt(3), Some(x)))
      assertSame(frame(rows), 18, 4)
    }
  }

  test("a sum past DECIMAL(p+10, s) is null without ANSI and Spark's sum-overflow error with it") {
    val dt = DecimalType(28, 4)
    for (ansi <- Seq(false, true)) {
      val kernel = DecimalSum(Literal(1.0), 18, 4, ansi)
      val kEval = BindReferences.bindReference(kernel.evaluateExpression, kernel.aggBufferAttributes)
      val builtin = Sum(Literal.create(null, DecimalType(18, 4)),
        NumericEvalContext(EvalMode.fromBoolean(ansi)))
      val sEval = BindReferences.bindReference(
        builtin.evaluateExpression, builtin.aggBufferAttributes)
      def cond(e: Expression, row: InternalRow): Either[String, Any] =
        try Right(e.eval(row)) catch { case t: SparkThrowable => Left(t.getCondition) }
      // 10^28 - 10^-4 (hi = 10^10 - 1, lo = 10^18 - 1) is the largest DECIMAL(28,4).
      val max = cond(kEval, InternalRow(9999999999L, 999999999999999999L, false))
      assert(max == Right(Decimal(BigDecimal("999999999999999999999999.9999"), 28, 4)))
      assert(cond(kEval, InternalRow(-9999999999L, -999999999999999999L, false)) ==
        Right(Decimal(BigDecimal("-999999999999999999999999.9999"), 28, 4)))
      // One unit past it: Spark's overflowed buffer is a null sum.
      val over = cond(kEval, InternalRow(10000000000L, 0L, false))
      assert(over == cond(sEval, InternalRow(null, false)), s"ansi=$ansi")
      assert(if (ansi) over.isLeft else over == Right(null), s"ansi=$ansi: $over")
      assert(dt == kernel.dataType)
    }
  }

  test("SQL face: decimal_sum resolves, checks its literals and needs a DOUBLE") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT decimal_sum(x, 18, 4) AS v FROM VALUES (0.145D), (2.675D), (NULL) AS t(x)")
    assert(r.schema("v").dataType == DecimalType(28, 4))
    assert(r.head().getDecimal(0).compareTo(new java.math.BigDecimal("2.8200")) == 0)
    val bad = intercept[Exception](spark.sql("SELECT decimal_sum(x, 19, 4) FROM VALUES (1.0D) AS t(x)"))
    assert(bad.getMessage.contains("precision <= 18"), bad.getMessage)
    val notDouble = intercept[Exception](
      spark.sql("SELECT decimal_sum(x, 18, 4) FROM VALUES (1L) AS t(x)").collect())
    assert(notDouble.getMessage.contains("DOUBLE"), notDouble.getMessage)
  }

  test("GraftSessionExtensions injects exactly GraftFunctions.builders") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
        injected += (f._1.funcName -> f._2.getClassName)
    }
    new GraftSessionExtensions().apply(ext)
    val want = GraftFunctions.builders.map { case (n, c, _) => n -> c.getName }
    assert(injected.toSeq == want)
    assert(injected.map(_._1).toSet.contains("bpe_segment"))
    assert(injected.map(_._1).toSet.contains("decimal_sum"))
  }

  /** Puts Spark's `sum(CAST(x AS DECIMAL(p, s)))` back in place of every
    * [[DecimalSum]], so one query runs both ways. */
  private final class ToSparkSum extends Rule[LogicalPlan] {
    var rewrites = 0
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
      case ae @ AggregateExpression(d: DecimalSum, _, _, _, _) =>
        rewrites += 1
        val mode = EvalMode.fromBoolean(d.ansi)
        ae.copy(aggregateFunction = Sum(
          Cast(d.child, DecimalType(d.precision, d.scale), None, mode), NumericEvalContext(mode)))
    }
  }

  /** Every query with a converted sum site (als_rank1's site builds a
    * memoized ratings file once per JVM, so it is left to the oracle). */
  private val converted = Seq("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7",
    "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q14", "tpch_q15", "tpch_q17",
    "tpch_q19", "tpch_q22", "events_rfm", "grouped_regression", "winsorize_values",
    "ab_test", "join_bloom", "chain_pipeline", "bucketed_join")

  test("site by site at sf0.01: each converted query equals its sum(cast) form") {
    val dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    def rows(name: String): Seq[String] = {
      Dedup.clearCaches()
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toIndexedSeq
    }
    converted.foreach { name =>
      val kernel = rows(name)
      val rule = new ToSparkSum
      val experimental = ClassicConversions.castToImpl(spark).experimental
      experimental.extraOptimizations = Seq(rule)
      val old = try rows(name) finally experimental.extraOptimizations = Nil
      assert(rule.rewrites > 0, s"$name has no decimal_sum left to compare")
      assert(kernel.nonEmpty, name)
      assert(kernel == old, s"$name: ${kernel.zip(old).find(p => p._1 != p._2)}")
    }
    Dedup.clearCaches()
  }
}
