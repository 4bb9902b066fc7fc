package graft

import graft.operators.{Dedup, Learn}
import graft.plans.{DecimalSum, DecimalSums, VectorOps}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences, CaseWhen, Cast, EvalMode, Expression, Literal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Sum}
import org.apache.spark.sql.functions.{col, expr, lit, sum, try_sum, when}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

/** [[DecimalSums]] against Spark's own `sum(CAST(x AS DECIMAL(p, s)))`:
  * the shapes it rewrites and the ones it leaves, then each query with
  * the rule and without it — same type, value, nulls and errors — on
  * random magnitudes, rounding midpoints, special values, ANSI on and
  * off, and site by site over the queries that sum exactly. */
class DecimalSumSpec extends SparkSpecBase {

  private val DecimalAggregates = "org.apache.spark.sql.catalyst.optimizer.DecimalAggregates"

  private def withAnsi[A](on: Boolean)(f: => A): A =
    withConf("spark.sql.ansi.enabled" -> on.toString)(f)

  /** Runs `f` with the optimizer rules `rules` left out. */
  private def excluding[A](rules: String*)(f: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rules.mkString(","))
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** `f` with [[DecimalSums]] in the optimizer, then without it. */
  private def bothWays[A](excluded: String*)(f: => A): (A, A) =
    (excluding(excluded: _*)(f), excluding(excluded :+ DecimalSums.ruleName: _*)(f))

  /** The aggregate functions of `df`'s optimized plan. */
  private def aggFunctions(df: DataFrame): Seq[AggregateFunction] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case ae: AggregateExpression => ae.aggregateFunction
    }))

  private def frame(rows: Seq[(Int, Option[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "x").repartition(3)
  }

  private def exactSum(p: Int, s: Int) = sum(col("x").cast(s"decimal($p,$s)")).as("v")

  /** Grouped and global `exactSum` with the rule and without it: the
    * rule's plans alone carry a [[DecimalSum]], and types and rows are
    * equal. (A grouped sum over an empty relation plans no aggregate.) */
  private def assertSame(df: DataFrame, p: Int, s: Int, excluded: String*): Unit = {
    def run = {
      val grouped = df.groupBy("k").agg(exactSum(p, s))
      val global = df.agg(exactSum(p, s))
      ((aggFunctions(grouped) ++ aggFunctions(global)).exists(_.isInstanceOf[DecimalSum]),
        (grouped.schema, grouped.orderBy("k").collect().toSeq, global.collect().toSeq))
    }
    val ((kernel, result), (plain, expected)) = bothWays(excluded: _*)(run)
    assert(kernel && !plain, s"($p,$s): the rule did not decide the plan")
    assert(result._1("v").dataType == DecimalType(p + 10, s))
    assert(result == expected, s"($p,$s)")
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
    // Spark's DecimalAggregates turns a p <= 8 sum into a long sum before
    // the rule runs, so it is left out here for the rule to see p = 6.
    withAnsi(false) {
      assertSame(frame(rows), 6, 2, DecimalAggregates)
      assertSame(frame(rows), 18, 4)
    }
    withAnsi(true) {
      val inRange = special.filter(x => math.abs(x) < 9999.99)
        .zipWithIndex.map { case (x, i) => (i % 4, Some(x)) }
      assertSame(frame(inRange), 6, 2, DecimalAggregates)
      // Out of range is an error under ANSI; NaN and ±Inf go as the cast says.
      // Those errors fail their tasks by design, so their logs are muted.
      spark.sparkContext.setLogLevel("OFF")
      try for (bad <- Seq(9999.995, -10000.0, 1e300) ++ nonFinite) {
        val df = frame(inRange :+ ((1, Some(bad))))
        val (got, want) = bothWays(DecimalAggregates)(outcome(df.groupBy("k").agg(exactSum(6, 2))))
        if (!bad.isNaN && !bad.isInfinite) assert(want.isLeft, s"x=$bad: $want")
        assert(got == want, s"x=$bad")
      } finally spark.sparkContext.setLogLevel("WARN")
    }
  }

  test("all-null groups and empty input give null, as sum(cast) does") {
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      val rows = Seq((1, None), (1, None), (2, Some(1.25)), (2, None), (3, Some(-2.5)))
      assertSame(frame(rows), 18, 2)
      val empty = frame(rows).filter(col("k") > 99)
      assertSame(empty, 18, 2)
      assert(empty.agg(exactSum(18, 2)).head().isNullAt(0))
      assert(frame(rows).groupBy("k").agg(exactSum(18, 2))
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

  test("DecimalSums rewrites plain, folded-conditional and SQL-text narrow sums") {
    import spark.implicits._
    val df = Seq((1, true, Some(1.25)), (1, false, Some(-2.5)), (2, true, None),
      (2, true, Some(0.145)), (3, false, Some(2.675))).toDF("k", "c", "x").repartition(2)
    val dec = "decimal(18,4)"
    val shapes = Seq(
      "plain" -> sum(col("x").cast(dec)),
      "else 0.0" -> sum(when(col("c"), col("x")).otherwise(lit(0.0)).cast(dec)),
      "null else" -> sum(when(col("c"), col("x")).cast(dec)),
      "SQL text" -> expr("SUM(CAST(x AS DECIMAL(18,4)))"))
    for (ansi <- Seq(false, true); (what, shape) <- shapes) withAnsi(ansi) {
      def q = df.groupBy("k").agg(shape.as("v"))
      val (kernel, plain) = bothWays()(aggFunctions(q))
      assert(kernel.collect { case DecimalSum(_, 18, 4, `ansi`) => 1 }.sum == 1, s"$what: $kernel")
      // Without the rule the conditional arrives folded into its branches.
      val folded = if (what.contains("else")) classOf[CaseWhen] else classOf[Cast]
      assert(plain.collect { case s: Sum => s.child.getClass } == Seq(folded), s"$what: $plain")
      val (got, want) = bothWays()(q.orderBy("k").collect().toSeq)
      assert(got == want, what)
    }
    val v = df.agg(expr("SUM(CAST(x AS DECIMAL(18,4)))").as("v")).head().getDecimal(0)
    assert(v.compareTo(new java.math.BigDecimal("1.5700")) == 0)
  }

  test("DecimalSums leaves try_sum, mixed modes, non-DOUBLE input and p > 18 alone") {
    val df = spark.range(4).select((col("id") * 1.25).as("x"), col("id").as("n"))
    val shapes = Seq(
      "try_sum" -> df.agg(try_sum(col("x").cast("decimal(18,4)"))),
      "TRY cast" -> df.agg(sum(col("x").try_cast("decimal(18,4)"))),
      "BIGINT input" -> df.agg(sum(col("n").cast("decimal(18,4)"))),
      "p = 19" -> df.agg(sum(col("x").cast("decimal(19,4)"))),
      "a literal no DOUBLE casts to" -> df.agg(sum(when(col("n") > 1, col("x").cast("decimal(18,4)"))
        .otherwise(lit(BigDecimal("12345678901234.5678"))))))
    for ((what, q) <- shapes) {
      val fns = aggFunctions(q)
      assert(fns.nonEmpty && !fns.exists(_.isInstanceOf[DecimalSum]), s"$what: $fns")
    }
    // An ANSI cast under a LEGACY sum and the reverse, given to the rule
    // directly: a Column or SQL sum takes both modes from one setting.
    val x = AttributeReference("x", DoubleType)()
    val modes = Seq(EvalMode.LEGACY, EvalMode.ANSI)
    for (castMode <- modes; sumMode <- modes) {
      val sumOfCast = Sum(Cast(x, DecimalType(18, 4), None, castMode),
        NumericEvalContext(sumMode))
      val plan = Aggregate(Nil,
        Seq(Alias(sumOfCast.toAggregateExpression(), "v")()), LocalRelation(x))
      val rewritten = DecimalSums(plan).expressions.exists(_.exists(_.isInstanceOf[DecimalSum]))
      assert(rewritten == (castMode == sumMode), s"cast $castMode, sum $sumMode")
    }
  }

  test("site by site at sf0.01: each converted query equals its sum(cast) form") {
    val dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    // als_rank1 reads its ratings back from a file written once per JVM,
    // so its site is compared as the relation that file holds.
    val sites = DecimalSumSpec.exactSumQueries.map(n => n -> SparkEntry.queries(n)) :+
      ("als_rank1" -> (Learn.alsRatingPairs _))
    sites.foreach { case (name, build) =>
      def run = withConf(ShuffleCensus.aqeOff) {
        Dedup.clearCaches()
        val df = build(spark, dir)
        (sumsOnLongs(df.queryExecution.executedPlan),
          df.collect().map(_.toString).sorted.toIndexedSeq)
      }
      val ((kernel, rows), (plain, old)) = bothWays()(run)
      assert(kernel && !plain, s"$name: the rule did not decide the plan")
      assert(rows.nonEmpty, name)
      assert(rows == old, s"$name: ${rows.zip(old).find(p => p._1 != p._2)}")
    }
    Dedup.clearCaches()
  }
}

object DecimalSumSpec {
  /** Every registered query whose plan sums an exact narrow decimal of
    * a DOUBLE. (als_rank1 sums one too, in the rating relation it writes
    * once per JVM and then reads back.) */
  val exactSumQueries: Seq[String] = Seq("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6",
    "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q14", "tpch_q15",
    "tpch_q17", "tpch_q19", "tpch_q22", "events_rfm", "grouped_regression",
    "winsorize_values", "ab_test", "join_bloom", "chain_pipeline", "bucketed_join",
    "sql_frontend")
}
