package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

/** Central table loaders for the driver-generated parquet test data
  * (see TESTDATA.md). Every operator reads through here so column
  * pruning / filter pushdown reach the parquet scan (verified in
  * specs via `PushedFilters` in the formatted plan).
  *
  * At 100 TB these would be partitioned/bucketed table reads; here
  * they are plain parquet files. The loaders deliberately avoid any
  * `.cache()` so each query's plan shows its true scan shape.
  *
  * What a table's footer says is memoized per file VERSION (see
  * [[footers]]): the inferred schema, and for `events` whether a
  * long-typed `ts` holds nanos. Inferring a schema reopens the footer
  * and runs a one-task schema-merge job, which a planner that already
  * knows the schema should not pay on every load. Data is never
  * cached: every load still lists the file and every query still
  * scans it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table file's footer facts: the schema Spark infers for it,
    * and — for `events` only — whether a long-typed `ts` holds NANOS.
    * `nanosAsLong=true` makes TIMESTAMP(NANOS) arrive as LongType,
    * but a generator round shipping plain INT64 micros (a third
    * plausible encoding) would arrive as LongType too — and an
    * unconditional div-1000 would silently shrink every timestamp
    * 1000×. One sampled value settles it: epoch-nanos for any
    * plausible event date is ~1.7e18, epoch-micros ~1.7e15 — the
    * 1e17 threshold (year ~5138 in micros) cannot misfire. */
  private final case class Footer(schema: StructType, tsNanos: Boolean)

  /** Footer memo, keyed by [[footerKey]]: path, file version and the
    * session's parquet inference settings, so a rewritten file or a
    * changed setting re-infers. It holds metadata, never results, and
    * like the other artifact memos it survives `Dedup.clearCaches()`. */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  /** The session settings that change what parquet schema inference
    * returns for a given file. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** Memo key for one table path: the path, its file version (file
    * count, total length and newest modification time over the files
    * it lists — a plain file lists as itself) and the values of
    * [[inferenceConfs]] in this session. */
  private def footerKey(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    val version = Seq(files.size, files.map(_.getLen).sum,
      files.map(_.getModificationTime).maxOption.getOrElse(0L))
    ((path +: version) ++ inferenceConfs.map(spark.conf.get)).mkString("|")
  }

  /** Read one table. Two session-level settings make the driver's
    * parquet readable and oracle-comparable:
    *  - `inferTimestampNTZ.enabled=false`: ms timestamps load as
    *    TIMESTAMP (session TZ is pinned to UTC) so epoch arithmetic
    *    (`unix_millis`) matches DuckDB's `epoch_ms` exactly;
    *  - `nanosAsLong=true`: Spark has no nanosecond timestamp type,
    *    so a TIMESTAMP(NANOS) `events.ts` loads as a nanos long and
    *    is floored to micros here — the same truncation DuckDB
    *    applies when it reads nanos parquet into its micro
    *    timestamps. `div` keeps the arithmetic in exact int64.
    *
    * The conversion is CONDITIONAL on the column actually arriving as
    * a long: the generator's `ts` encoding has changed across driver
    * rounds (TIMESTAMP(NANOS) → timestamp[us]), and an unconditional
    * `ts div 1000` raises DATATYPE_MISMATCH against native-micros
    * files (the round-9 bench crash). Either encoding now lands on
    * the same TIMESTAMP-micros column, so every downstream operator
    * and oracle sees identical values regardless of generator round.
    *
    * The schema comes from the [[footers]] memo, so only the first
    * load of a file version infers it (plus, for a long-typed
    * `events.ts`, one 1-row nanos probe); every later load plans
    * without launching a job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val footer = graft.operators.Dedup.dirMemo(footers, footerKey(spark, path)) {
      val schema = spark.read.parquet(path).schema
      val tsNanos = name == "events" && schema("ts").dataType == LongType && {
        val sample = spark.read.schema(schema).parquet(path)
          .select(col("ts")).filter(col("ts").isNotNull).head(1)
        // Empty table: either scale maps to the same zero rows —
        // keep the nanos interpretation (the encoding that has
        // actually shipped long-typed so far).
        sample.isEmpty || math.abs(sample(0).getLong(0)) >= 100000000000000000L
      }
      Footer(schema, tsNanos)
    }
    val raw = spark.read.schema(footer.schema).parquet(path)
    if (name != "events" || footer.schema("ts").dataType != LongType) raw
    else if (footer.tsNanos) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", timestamp_micros(col("ts")))
  }

  /** Spread a small relation across the cluster before a CPU-bound
    * stage. Uses an explicit partition count: AQE preserves
    * user-numbered repartitions but coalesces keyed ones right back
    * to a single partition when the input is tiny — which serializes
    * hash-heavy pipelines onto one core.
    *
    * The repartition fires ONLY when the scan arrives with fewer
    * splits than cores (the single-parquet-file test corpus): an
    * input that is already multi-split — any real 100 TB table —
    * passes through untouched, so the wide exchange this would cost
    * at scale (it carries the text/vector column) never happens
    * there; downstream joins/aggs add their own keyed exchanges on
    * projected rows where required.
    *
    * The split-count probe (`df.rdd`) runs only for scan pipelines
    * (project/filter over leaves), where it plans file splits without
    * executing anything. A plan that already contains an exchange-
    * bearing operator (repartition, join, aggregate, ...) passes
    * through unprobed: under AQE, `df.rdd` on such a plan would
    * materialize its upstream query stages eagerly — the probe itself
    * would run the shuffle — and a caller who shaped the stream has
    * already chosen its parallelism. */
  def spread(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
    val cores = s.sparkContext.defaultParallelism
    def scanOnly(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case p: Project => scanOnly(p.child)
      case f: Filter => scanOnly(f.child)
      case _ => false
    }
    if (!scanOnly(df.queryExecution.optimizedPlan)) df
    else if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores, org.apache.spark.sql.functions.col(key))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
