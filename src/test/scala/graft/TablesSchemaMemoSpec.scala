package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** `Tables.load` plans against a memoized footer schema: the first
  * load of a file version infers it, every later load reads with it.
  * These checks pin that the memo changes no schema, saves the
  * inference job, notices a replaced file, and (with it) that
  * `GraftFunctions.install` is idempotent per session. */
class TablesSchemaMemoSpec extends SparkSpecBase {

  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The file schema the load's parquet scan was planned with. */
  private def scanSchema(df: DataFrame): StructType = {
    val scans = df.queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRelation => r.relation.schema
    }
    assert(scans.size == 1)
    scans.head
  }

  /** The reference a memoized load must match: a freshly inferred
    * read, with a long-typed `events.ts` taken as nanos. */
  private def inferredLoad(dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events" || raw.schema("ts").dataType != LongType) raw
    else raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  private def copyTable(from: String, to: String): Unit = {
    Files.copy(Paths.get(from), Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  test("memoized schema equals a fresh inferred schema for every table") {
    for (dir <- Seq("/root/testdata/sf0.01", "perfbench/data"); name <- Tables.names) {
      val loaded = Tables.load(spark, dir, name)
      // Inferred after the load, under the settings the load applies.
      val fresh = inferredLoad(dir, name)
      assert(scanSchema(loaded) == spark.read.parquet(s"$dir/$name.parquet").schema,
        s"$dir/$name")
      assert(loaded.schema == fresh.schema, s"$dir/$name")
    }
  }

  test("a warm load launches no Spark job; the cold load inferred") {
    // events is stored with a nanos-long ts, so the cold load also
    // runs the magnitude probe and the warm one must reuse its verdict.
    withTempDir("graft_warmload_") { root =>
      Tables.names.filter(_ != "events")
        .foreach(n => copyTable(s"$sfDir/$n.parquet", s"$root/$n.parquet"))
      val native = Tables.events(spark, sfDir)
      native.withColumn("ts", unix_micros(col("ts")) * 1000L)
        .write.parquet(s"$root/events.parquet")
      val cold = jobsDuring(Tables.names.foreach(n => Tables.load(spark, root, n)))
      assert(cold > Tables.names.size, s"cold loads ran only $cold job(s)")
      val warm = jobsDuring(Tables.names.foreach(n => Tables.load(spark, root, n)))
      assert(warm == 0, s"warm loads ran $warm job(s)")
      val events = Tables.events(spark, root)
      assert(scanSchema(events)("ts").dataType == LongType)
      assert(events.schema == inferredLoad(root, "events").schema)
      assert(events.exceptAll(native).isEmpty && native.exceptAll(events).isEmpty)
    }
  }

  test("a table file replaced under the same path is re-inferred") {
    withTempDir("graft_replaced_") { root =>
      copyTable(s"$sfDir/nation.parquet", s"$root/t.parquet")
      val before = Tables.load(spark, root, "t")
      assert(before.schema == spark.read.parquet(s"$sfDir/nation.parquet").schema)
      copyTable(s"$sfDir/region.parquet", s"$root/t.parquet")
      val after = Tables.load(spark, root, "t")
      val region = Tables.region(spark, sfDir)
      assert(after.schema == region.schema)
      assert(after.count() == region.count())
    }
  }

  test("GraftFunctions.install is idempotent and reaches new sessions") {
    import graft.plans.{DecimalSums, GraftFunctions}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val registry = castToImpl(spark).sessionState.functionRegistry
    val names = Seq("cosine_sim", "cosine_sim_d", "dot_d", "simhash60",
      "srp_band_sigs", "lsh_band_sigs", "bpe_segment", "repetition_stats",
      "fp_minmax", "bloom_filter_agg", "bloom_might_contain")
    // ExpressionInfo has identity equality: a re-registration would
    // install a new instance even for the same builder.
    def snapshot() = names.map { n =>
      val id = FunctionIdentifier(n)
      (registry.lookupFunction(id).orNull, registry.lookupFunctionBuilder(id).orNull)
    }
    GraftFunctions.install(spark)
    val first = snapshot()
    assert(first.forall { case (info, b) => info != null && b != null })
    val listed = registry.listFunction().toSet
    GraftFunctions.install(spark)
    val second = snapshot()
    first.zip(second).zip(names).foreach { case (((i1, b1), (i2, b2)), n) =>
      assert((i1 eq i2) && (b1 eq b2), s"$n was re-registered")
    }
    assert(registry.listFunction().toSet == listed)
    // An install per query build must not grow the optimizer's rule list.
    assert(castToImpl(spark).experimental.extraOptimizations.count(_ == DecimalSums) == 1)

    // A new session has its own registry and optimizer rules, as a
    // session a harness builds by hand does: each query build installs.
    val fresh = spark.newSession()
    assert(castToImpl(fresh).experimental.extraOptimizations.isEmpty)
    Seq("tpch_q1", "tpch_q5").foreach { name =>
      val plan = SparkEntry.queries(name)(fresh, sfDir).queryExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.plans.DecimalSum]))),
        s"$name on a new session sums with Spark's sum")
    }
    assert(castToImpl(fresh).experimental.extraOptimizations == Seq(DecimalSums))
  }
}
