package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Hadoop `lib/aggregate` ValueAggregator family (SURVEY §2.1 #27)
  * and the Hadoop Streaming pipe seam (#19).
  *
  * Reference: `mapreduce/lib/aggregate/{LongValueSum,DoubleValueSum,
  * UniqValueCount,ValueHistogram,ValueMin,ValueMax}.java` and
  * `hadoop-tools/hadoop-streaming/.../PipeMapper.java`.
  *
  * All are single-shuffle keyed aggregations with map-side partial
  * aggregation — the exact shape ValueAggregatorJob's combiner
  * produced, but codegen'd.
  */
object Aggregators {

  /** #27 LongValueSum + DoubleValueSum + ValueMin/Max per key. */
  def valueSum(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_linenumber")).cast("bigint").as("long_sum"),
        round(sum(col("l_quantity")), 2).as("double_sum"),
        round(min(col("l_extendedprice")), 2).as("value_min"),
        round(max(col("l_extendedprice")), 2).as("value_max"))

  /** #27 UniqValueCount: distinct-value count per key (exact — the
    * reference's aggregator holds the uniq set; Spark's two-phase
    * distinct aggregation shuffles (key, value) once instead). */
  def uniqCount(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count_distinct(col("l_partkey")).as("uniq_parts"),
        count_distinct(col("l_suppkey")).as("uniq_supps"),
        count(lit(1)).as("n_rows"))

  /** Scale twin of [[uniqCount]]: HyperLogLog++ `approx_count_distinct`
    * — the builtin production default for UNBOUNDED cardinalities,
    * next to the custom KMV sketch ([[sketchKmv]]). The sketch is a
    * fixed-size register array per group however large the input, and
    * merges combiner-style, so the same query survives a 100 TB fact
    * table where exact `count_distinct`'s (key, value) exchange
    * carries the full distinct set. No DuckDB oracle by design (its
    * `approx_count_distinct` is a different HLL implementation —
    * different hash, different estimates), the same 🔶 treatment as
    * [[quantileReportApprox]]: the driver records a rows-only check
    * and AggregatorsSpec asserts every estimate is within 5% of the
    * exact tier (rsd 0.02 ⇒ 5% is 2.5σ). */
  def uniqCountApprox(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("uniq_parts_est"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("uniq_supps_est"),
        count(lit(1)).as("n_rows"))

  /** DRIVER-VISIBLE tolerance check for [[uniqCountApprox]] — the
    * registered `agg_uniq_approx` face. The raw HLL estimate can
    * never hash-match a different engine's HLL, so the estimate is
    * compared IN-PLAN against the exact tier and what leaves the
    * query is hashable: the exact counts plus one boolean per
    * estimate asserting |est − exact| ≤ 5%·exact (rsd 0.02 ⇒ 5% is
    * 2.5σ; the same bound AggregatorsSpec pins). The oracle states
    * the booleans as TRUE — an estimator drift past tolerance now
    * fails the driver's hash check instead of hiding behind a
    * rows-only record. The pure-approx plan above stays the
    * deployment tier (this face pays the exact tier's distinct
    * exchange BY DESIGN — it is the verification harness).
    *
    * The exact and approx aggregations run SEPARATELY and join on the
    * 3-row flag key (round 15): fusing them put the two HLL
    * aggregates inside the multi-distinct Expand rewrite, where the
    * partial aggregate keys on (flag, gid, value) — an HLL register
    * array allocated PER DISTINCT KEY VALUE instead of per group,
    * millions of 2704-register buffers doing the work of six
    * (measured 2.6 s vs 1.0 s split at sf0.1). Split, the approx agg
    * is the deployment plan verbatim (plain partial+final, six
    * buffers) and the exact tier keeps its declared Expand exchange;
    * the flag-keyed join is label-bounded and broadcast. */
  def uniqCountApproxChecked(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"))
    val exact = li
      .groupBy(col("l_returnflag"))
      .agg(
        count_distinct(col("l_partkey")).as("uniq_parts"),
        count_distinct(col("l_suppkey")).as("uniq_supps"),
        count(lit(1)).as("n_rows"))
    val est = li
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("pe"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("se"))
    exact.join(broadcast(est), "l_returnflag")
      .select(col("l_returnflag"), col("uniq_parts"), col("uniq_supps"),
        col("n_rows"),
        (abs(col("pe") - col("uniq_parts")) <= col("uniq_parts") * 0.05)
          .as("parts_within_tol"),
        (abs(col("se") - col("uniq_supps")) <= col("uniq_supps") * 0.05)
          .as("supps_within_tol"))
  }

  /** #27 ValueHistogram: bucketed value distribution per key. */
  def histogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        col("event_type"),
        floor(col("value") / 10.0).cast("bigint").as("bucket"))
      .agg(
        count(lit(1)).as("n_in_bucket"),
        round(sum(col("value")), 2).as("bucket_sum"))

  /** #27b ValueAggregatorDescriptor plugin surface
    * (`lib/aggregate/ValueAggregatorBaseDescriptor.java`): what made
    * the Hadoop aggregate library reusable is that it is CONFIG-driven
    * — a job names its aggregators as "type:field" descriptor specs
    * and the framework composes the job without code changes. Same
    * contract here: a spec string parses to a `groupBy().agg()` plan
    * at runtime — still ONE partial+final HashAggregate however many
    * aggregators the spec lists, so the composed job keeps the
    * map-side-combine shape of the hand-written ones.
    *
    * Grammar (comma-separated, mirroring the reference descriptor
    * set): `key:col` (≥1, the grouping key), `count` (ValueCount),
    * `sum:col` (Long/DoubleValueSum by column type), `min:col` /
    * `max:col` (ValueMin/ValueMax), `uniq:col` (UniqValueCount).
    * Output columns are named `n`, `sum_col`, `min_col`, `max_col`,
    * `uniq_col`. Unknown types fail with a real message — a plugin
    * surface that silently drops a mistyped aggregator would report
    * wrong numbers, not an error. */
  def fromSpec(df: DataFrame, spec: String): DataFrame = {
    val parts = spec.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val (keys, aggs) = parts.partition(_.startsWith("key:"))
    require(keys.nonEmpty, s"aggregator spec '$spec' names no key: field")
    require(aggs.nonEmpty, s"aggregator spec '$spec' names no aggregators")
    val aggCols = aggs.map { a =>
      a.split(":").toSeq match {
        case Seq("count")     => count(lit(1)).as("n")
        case Seq("sum", c)    => sum(col(c)).as(s"sum_$c")
        case Seq("min", c)    => min(col(c)).as(s"min_$c")
        case Seq("max", c)    => max(col(c)).as(s"max_$c")
        case Seq("uniq", c)   => count_distinct(col(c)).as(s"uniq_$c")
        case other => throw new IllegalArgumentException(
          s"unknown aggregator descriptor '${other.mkString(":")}' in spec '$spec'")
      }
    }
    df.groupBy(keys.map(k => col(k.stripPrefix("key:"))): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** #27b driver surface for [[fromSpec]]: the composed-from-config
    * job (two keys, five descriptor types) with the double aggregates
    * rounded for the cross-engine compare — rounding is oracle
    * cosmetics, not part of the plugin surface. */
  def aggFromSpec(s: SparkSession, dir: String): DataFrame =
    fromSpec(Tables.lineitem(s, dir),
      "key:l_returnflag,key:l_linestatus,count,sum:l_quantity," +
        "min:l_extendedprice,max:l_extendedprice,uniq:l_partkey")
      .withColumn("sum_l_quantity", round(col("sum_l_quantity"), 2))
      .withColumn("min_l_extendedprice", round(col("min_l_extendedprice"), 2))
      .withColumn("max_l_extendedprice", round(col("max_l_extendedprice"), 2))

  /** Sketch tier: KMV bottom-k distinct-count estimate as a typed
    * Aggregator (bounded memory, combiner-friendly merge — the
    * UniqValueCount successor for 100 TB cardinalities). */
  def sketchKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = Tables.spread(s, Tables.lineitem(s, dir), "l_partkey")
      .select(md5(col("l_partkey").cast("string")).as("h")).as[String]
    val agg = new graft.functions.KmvSketch(64).toColumn
    hashes.groupByKey(_ => 0).agg(agg).map(_._2).toDF()
      .select(col("n_kept"), col("kth_hash"),
        round(col("distinct_estimate"), 4).as("distinct_estimate"))
  }

  /** KMV sketch size for the merge face. */
  val KmvMergeK = 64

  /** #39h MERGEABLE-summary law for KMV — the property that makes
    * sketches work in a combiner tree at all (Agarwal et al.'s
    * "Mergeable Summaries"): the GLOBAL k-min sketch is computable
    * from the per-group sketches ALONE (any of the global k smallest
    * hashes is among its own group's k smallest), so a 1000-executor
    * rollup ships 64 hashes per group, never the data. The query
    * emits each source's sketch row plus the merged 'ALL' row built
    * ONLY from the per-source kept sets; the oracle recomputes both
    * from scratch, so a merge that lost or fabricated a k-min fails
    * the hash. Estimates are the standard (k−1)/kth-value form on
    * the 60-bit hash prefix (exact below k — the sf0.001 sources
    * exercise that branch; the merged row exercises the sketch
    * branch at every SF). Reference analogue: the Combiner contract
    * itself — per-split partials merged associatively at the
    * reducer. */
  def sketchKmvMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = KmvMergeK
    val h = Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("h")).distinct()
    val bySrc = Window.partitionBy(col("source")).orderBy(col("h"))
    val kept = h.withColumn("rn", row_number().over(bySrc)).filter(col("rn") <= k)
    val perSrc = kept.groupBy(col("source").as("scope"))
      .agg(count(lit(1)).cast("int").as("n_kept"), max(col("h")).as("kth_hash"))
    // merged sketch from the per-source kept sets ONLY
    val globalW = Window.orderBy(col("h"))
    val merged = kept.select(col("h")).distinct()
      .withColumn("rn", row_number().over(globalW)).filter(col("rn") <= k)
      .agg(count(lit(1)).cast("int").as("n_kept"), max(col("h")).as("kth_hash"))
      .select(lit("ALL").as("scope"), col("n_kept"), col("kth_hash"))
    perSrc.unionAll(merged)
      .withColumn("distinct_estimate",
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (conv(substring(col("kth_hash"), 1, 15), 16, 10).cast("double") /
              lit(1152921504606846976.0))), 4))
  }

  /** #39j KMV SET ALGEBRA — audience-overlap estimation between
    * per-event-type sketches (Beyer et al. 2007; the theta-sketch
    * set-operation story, whose canonical application is exactly
    * this: "how many users who viewed also purchased?"):
    * [[sketchKmvMerge]] proved sketches UNION; this face estimates
    * |A∩B| and Jaccard from the SAME k-min sketches alone. For each
    * event-type pair, the union sketch U = k smallest of kept_A ∪
    * kept_B with threshold θ = its kth hash; every kept hash below θ
    * is a uniform sample of A∪B, so J ≈ |kept_A ∩ kept_B ∩ U| / |U|
    * and |A∩B| ≈ J · (k−1)/θ. All inputs are md5-deterministic, so —
    * like every sketch in this tier except the declared-🔶 HLL/GK —
    * the estimates are exactly reproducible cross-engine and fully
    * hash-checked; the EXACT audience intersection rides along as
    * the per-pair verification column (event audiences overlap
    * heavily, so the accuracy claim has real teeth — spec-pinned).
    *
    * Scale: one corpus pass reduces to (type, 40-byte hash) rows;
    * everything after the per-type k-min windows is (k ·
    * |types|)-bounded — the whole pair algebra runs on sketches,
    * never data, which is the mergeable-summaries point. */
  def sketchKmvIntersect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = KmvMergeK
    val h = Dedup.memo(s, "kmvhash", dir)(Tables.events(s, dir)
        .select(col("event_type").as("source"),
          md5(col("user_id").cast("string")).as("h")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("h"))
    val kept = h.withColumn("rn", row_number().over(bySrc)).filter(col("rn") <= k)
      .select(col("source"), col("h"))
    val pairs = kept.select(col("source").as("source_a")).distinct()
      .join(kept.select(col("source").as("source_b")).distinct(),
        col("source_a") < col("source_b"))
    // union sketch per pair: k smallest of the two kept sets
    val both = pairs
      .join(kept.select(col("source").as("source_a"), col("h")), Seq("source_a"))
      .unionByName(pairs
        .join(kept.select(col("source").as("source_b"), col("h")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("h")))
      .distinct()
    val byPair = Window.partitionBy(col("source_a"), col("source_b")).orderBy(col("h"))
    val u = both.withColumn("rn", row_number().over(byPair)).filter(col("rn") <= k)
    val theta = u.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("int").as("n_u"), max(col("h")).as("theta"))
    // kept-hash membership of BOTH sides inside the union sketch
    val interKept = u
      .join(kept.select(col("source").as("source_a"), col("h")), Seq("source_a", "h"), "left_semi")
      .join(kept.select(col("source").as("source_b"), col("h")), Seq("source_b", "h"), "left_semi")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("int").as("n_inter_kept"))
    // exact per-pair intersection — the verification column
    val exact = h.select(col("source").as("source_a"), col("h"))
      .join(h.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    val unionEst = when(col("n_u") < k, col("n_u").cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (conv(substring(col("theta"), 1, 15), 16, 10).cast("double") /
          lit(1152921504606846976.0)))
    theta
      .join(interKept, Seq("source_a", "source_b"), "left")
      .join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_u"),
        coalesce(col("n_inter_kept"), lit(0)).as("n_inter_kept"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        round(coalesce(col("n_inter_kept"), lit(0)).cast("double") / col("n_u"), 4)
          .as("jaccard_est"),
        round(coalesce(col("n_inter_kept"), lit(0)).cast("double") / col("n_u")
          * unionEst, 4).as("inter_est"))
  }

  /** Count-min depth (independent hash rows) and width (buckets per
    * row — 2 hex digits of md5, so 256). Literal in the oracle. */
  val CmsDepth = 4
  val CmsWidth = 256

  /** #39i COUNT-MIN SKETCH frequency estimation (Cormode &
    * Muthukrishnan 2005) — the point-query sketch completing the
    * tier next to KMV (cardinality), MG (heavy hitters) and GK
    * (quantiles): per-user event counts estimated from a fixed
    * [[CmsDepth]]×[[CmsWidth]] counter grid instead of a
    * cardinality-sized exchange. The sketch is pure integer
    * aggregation over deterministic md5 bucket hashes, so — unlike
    * the 🔶 estimate-valued HLL/GK tiers — every estimate is exactly
    * reproducible cross-engine and the whole query hash-checks,
    * INCLUDING the one-sided error law est ≥ exact that the output's
    * `overshoot` column witnesses per key (CMS never undercounts;
    * collisions only inflate).
    *
    * Scale shape: the update pass explodes each event into
    * [[CmsDepth]] (row, bucket) cells — the textbook d-hashes-per-
    * item update cost — and map-side partials collapse every task's
    * cells to ≤ d·w rows before the ONE exchange, so the sketch
    * build ships ≤ 1024 rows per task at any corpus size; the
    * estimate pass joins the key set against the BROADCAST 1024-row
    * sketch and takes min over rows. The exact tier rides along
    * here as the per-key verification column; a 100 TB deployment
    * keeps only the sketch side (the exact tier is the same
    * cardinality-sized aggregation `agg_uniq`'s scaladoc already
    * declares a baseline). */
  /** Bucket of the md5("cms<r>|<key>") prefix — shared by the batch
    * build, the streaming fold, and the estimate pass. Expects an `r`
    * column in scope. */
  private[graft] def cmsBucket(key: Column): Column =
    conv(substring(md5(concat(lit("cms"), col("r").cast("string"),
      lit("|"), key.cast("string"))), 1, 2), 16, 10).cast("int")

  private[graft] val cmsRows: Column =
    explode(array((0 until CmsDepth).map(lit(_)): _*))

  /** The d×w counter grid of a (user_id) relation — the UPDATE pass. */
  private[graft] def cmsGridOf(keys: DataFrame): DataFrame =
    keys.select(col("user_id"), cmsRows.as("r"))
      .select(col("r"), cmsBucket(col("user_id")).as("bucket"))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Estimate every key of `keys` against a (r, bucket, cnt) grid —
    * the POINT-QUERY pass, shared by the batch and streaming faces. */
  private[graft] def cmsEstimates(keys: DataFrame, sketch: DataFrame): DataFrame = {
    val exact = keys.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    exact.select(col("user_id"), col("n_exact"), cmsRows.as("r"))
      .select(col("user_id"), col("n_exact"), col("r"),
        cmsBucket(col("user_id")).as("bucket"))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .select(col("user_id"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overshoot"))
  }

  def sketchCms(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"))
    cmsEstimates(ev, cmsGridOf(ev))
  }

  /** #11b Table profiling (the `ANALYZE TABLE ... COMPUTE STATISTICS
    * FOR COLUMNS` job): per-column null counts, exact distinct
    * cardinalities, and numeric min/max — the statistics a cost-based
    * optimizer plans from, and the data-quality report every ingest
    * pipeline runs. Reference analogue: the counter-driven audit
    * jobs MapReduce pipelines ran over each new partition
    * (`Counters`/`lib/aggregate` chained per column).
    *
    * ONE aggregation pass produces every stat (a naive per-column
    * loop scans the table N times); the single wide row then unpivots
    * driver-side into (column, stats) rows — the unpivot touches a
    * 1×6-column relation, never data. Exact distinct counts are the
    * oracle tier; a 100 TB profile swaps `approx_count_distinct` into
    * the same plan ([[uniqCountApprox]]'s contract) — the wide-row
    * shape is unchanged. */
  def profileTable(s: SparkSession, dir: String): DataFrame =
    profileOf(Tables.orders(s, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      Set("o_orderkey", "o_custkey", "o_totalprice"))

  /** Operator core over any relation — what the planted-null spec
    * exercises directly. */
  private[graft] def profileOf(df: DataFrame, cols: Seq[String],
      numeric: Set[String]): DataFrame = {
    def nNulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    def nDist(c: String) = count_distinct(col(c)).as(s"${c}_dist")
    val wide = df.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(nNulls(c), nDist(c))) ++
        numeric.toSeq.sorted.flatMap(c => Seq(
          round(min(col(c)).cast("double"), 2).as(s"${c}_min"),
          round(max(col(c)).cast("double"), 2).as(s"${c}_max"))): _*)
    val stacked = cols.map { c =>
      val minEx = if (numeric(c)) s"${c}_min" else "CAST(NULL AS DOUBLE)"
      val maxEx = if (numeric(c)) s"${c}_max" else "CAST(NULL AS DOUBLE)"
      s"'$c', ${c}_nulls, ${c}_dist, $minEx, $maxEx"
    }.mkString(", ")
    wide.selectExpr("n_rows",
      s"stack(${cols.size}, $stacked) AS (column_name, n_nulls, n_distinct, min_num, max_num)")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_num"), col("max_num"))
  }

  /** Which l_orderkey slice plays "tonight's batch" for the
    * incremental-aggregation face. */
  val AggIncrMod = 10

  /** #27d INCREMENTAL aggregation — materialized-rollup maintenance:
    * merge a persisted partial-aggregate state with a new batch's
    * partials instead of recomputing the corpus. Reference analogue:
    * the standard MapReduce nightly pattern of re-running the reducer
    * over the PREVIOUS job's part files plus the new delta — valid
    * precisely because the combiner state is mergeable. Same contract
    * here, made explicit: the stored state per group is the
    * partial-aggregate tuple (count, sum, max) — every piece
    * re-mergeable by sum/sum/max — and the serve-time projection
    * derives the non-mergeable answer (avg) FROM the state, the
    * algebraic-aggregate decomposition Spark itself uses between
    * partial and final HashAggregates.
    *
    * Scale shape: the stored rollup is group-cardinality-sized (not
    * corpus-sized) and persisted once (house cache rule; at 100 TB a
    * parquet handoff the nightly job REWRITES with the merged state —
    * corpus history is never re-read). Each night touches batch rows
    * + |groups| state rows: the merge exchange carries group keys
    * only. */
  def aggIncremental(s: SparkSession, dir: String): DataFrame = {
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"),
          max(col("l_quantity")).as("max_qty"))
    val stored = Dedup.memo(s, "aggidx", dir)(partials(Tables.lineitem(s, dir)
            .filter(col("l_orderkey") % AggIncrMod =!= 0))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val batch = partials(Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % AggIncrMod === 0))
    stored.unionByName(batch)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n_items")).as("n_items"),
        sum(col("sum_qty")).as("sum_qty"),
        max(col("max_qty")).as("max_qty"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("n_items"),
        round(col("sum_qty"), 2).as("sum_qty"),
        round(col("sum_qty") / col("n_items"), 4).as("avg_qty"),
        round(col("max_qty"), 2).as("max_qty"))
  }

  /** Heavy-hitter threshold denominator: φ = 1/[[HhPhiDenom]] of all
    * tokens. 30 splits the synthetic corpus vocabulary (≈half the 31
    * words qualify at every SF), so the query is non-trivial in both
    * directions. */
  val HhPhiDenom = 30

  /** Misra–Gries capacity for the candidate pass. Must be ≥
    * [[HhPhiDenom]] so every φ-heavy hitter survives the sketch
    * (guarantee threshold N/(cap+1) < N/[[HhPhiDenom]]). 2× gives the
    * confirm pass a margin of near-misses to reject — exercising the
    * trim instead of vacuously confirming everything. */
  val HhCap = 2 * HhPhiDenom

  /** #39d φ-frequent items (heavy hitters) over corpus words — the
    * classic two-pass algorithm (Misra–Gries candidates, exact
    * confirm), completing the sketch tier next to KMV
    * ([[sketchKmv]]), HLL ([[uniqCountApprox]]) and GK
    * ([[quantileReportApprox]]).
    *
    * Reference analogue: `lib/aggregate/ValueHistogram.java` answers
    * "top items" by holding EVERY distinct value's count — exact but
    * cardinality-bounded. The two-pass shape is how MapReduce
    * pipelines actually found frequent items at scale: pass 1 a
    * combiner-friendly bounded sketch, pass 2 an exact count
    * restricted to the sketch's candidates.
    *
    * Pass 1 runs the [[graft.functions.MisraGries]] aggregator and
    * the exact total count in ONE whole-input aggregation (partial
    * per partition, one-row final — a combiner tree, never a
    * cardinality-sized exchange). Pass 2 semi-joins the corpus
    * against the ≤[[HhCap]]-row broadcast candidate relation, counts
    * exactly, and keeps `n · φdenom > n_total` (integer arithmetic,
    * no division). Because MG guarantees the candidate set is a
    * SUPERSET of the true φ-heavy hitters, the confirmed result is
    * exactly the true set — deterministic under any partitioning, so
    * fully oracle-checkable (unlike the 🔶 estimate-valued sketches).
    *
    * At 100 TB: pass 1 state is ≤ cap counters per task; pass 2
    * shuffles only candidate-matching (word, 1) pairs with map-side
    * partial agg. The tiny 1-row/≤cap-row relations are broadcast —
    * the corpus itself never crosses the wire un-aggregated. */
  def heavyHitterWords(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
    val mg = udaf(new graft.functions.MisraGries(HhCap))
    // One pass: bounded candidate sketch + exact token total. Persist:
    // the one-row result feeds both the candidate and total branches
    // (house rule — derived relations consumed twice). Registered in
    // liveCaches (round 16): a bare .persist() here survived
    // clearCaches — Bench reps 2+ silently reused the materialized
    // MG pass (cold-cache rule violated for this one query), and the
    // leaked CacheManager entry was the trigger that exposed the
    // census suite-order dependence.
    val pass1 = Dedup.memo(s, "hhpass1", dir)(
        words.groupBy()
          .agg(mg(col("word")).as("cands"), count(lit(1)).as("n_total"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cands = pass1.select(explode(col("cands")).as("word"))
    val total = pass1.select(col("n_total"))
    words
      .join(broadcast(cands), Seq("word"), "left_semi")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .where(col("n") * lit(HhPhiDenom) > col("n_total"))
      .select(col("word"), col("n"))
  }

  /** Exact interpolated quantiles (percentile chains in MR needed a
    * full sort; one pass here). Scale hazard: Spark's exact
    * `percentile` buffers every value in the aggregation buffer —
    * fine for the oracle-checked tier at test SFs, OOM against a
    * 100 TB fact column. [[quantileReportApprox]] is the scale twin. */
  def quantileReport(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n_orders"))

  /** #39c' GROUPED percentile report — per-event-type value
    * quantiles, the "p99 latency per endpoint" readout (reference
    * analogue: Hive's `percentile` UDAF inside a grouped reducer, a
    * MapReduce reporting staple). Same determinism contract as
    * [[quantileReport]]: values are 2-decimal doubles, so the
    * linear-interpolation percentiles are exact rationals
    * (quantile_cont parity), rounded 4. Scale posture: exact
    * `percentile` buffers each GROUP's values — the declared exact
    * tier, valid while single groups fit an executor (event types
    * do); for high-cardinality group keys swap `approx_percentile`
    * (GK, bounded state, combiner-mergeable) into the same plan
    * unchanged — the [[quantileReportApprox]] trade per group. */
  def quantileByGroup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))

  /** Greenwald–Khanna `approx_percentile` accuracy for every approx
    * quantile tier — shared by the sketch expressions AND the grouped
    * twin's rank-slack formula (n/accuracy + 1), which must use the
    * same value or the tolerance booleans test a different guarantee
    * than the sketch provides. */
  val GkAccuracy = 10000

  /** Scale twin of [[quantileReport]]: Greenwald–Khanna
    * `approx_percentile` with accuracy [[GkAccuracy]] — the sketch holds
    * O(accuracy·log n) entries regardless of input size and merges
    * combiner-style, so the same query survives a 100 TB column with
    * ≤1/accuracy rank error. No DuckDB oracle (its approx_quantile is
    * a t-digest — different algorithm); the driver records a
    * rows-only check and AggregatorsSpec asserts each percentile is
    * within 1% of the exact tier. */
  def quantileReportApprox(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .agg(
        expr(s"approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), $GkAccuracy)").as("pcts"),
        count(lit(1)).as("n_orders"))
      .select(
        round(element_at(col("pcts"), 1), 4).as("p50"),
        round(element_at(col("pcts"), 2), 4).as("p90"),
        round(element_at(col("pcts"), 3), 4).as("p99"),
        col("n_orders"))

  /** DRIVER-VISIBLE tolerance check for [[quantileReportApprox]] —
    * the registered `quantile_report_approx` face (same upgrade as
    * [[uniqCountApproxChecked]]): the GK estimate can't hash-match a
    * t-digest engine, so the plan compares it against the exact
    * percentile IN-PLAN and emits the exact values (the proven
    * quantile_cont parity) plus one boolean per percentile asserting
    * |est − exact| ≤ 1%·exact — the AggregatorsSpec bound, now
    * adjudicated by the driver's hash check. */
  def quantileReportApproxChecked(s: SparkSession, dir: String): DataFrame = {
    def within(est: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
      abs(est - ex) <= ex * 0.01
    Tables.orders(s, dir)
      .agg(
        expr(s"approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), $GkAccuracy)").as("pcts"),
        expr("percentile(o_totalprice, 0.5)").as("e50"),
        expr("percentile(o_totalprice, 0.9)").as("e90"),
        expr("percentile(o_totalprice, 0.99)").as("e99"),
        count(lit(1)).as("n_orders"))
      .select(
        round(col("e50"), 4).as("p50"),
        round(col("e90"), 4).as("p90"),
        round(col("e99"), 4).as("p99"),
        col("n_orders"),
        within(element_at(col("pcts"), 1), col("e50")).as("p50_within_tol"),
        within(element_at(col("pcts"), 2), col("e90")).as("p90_within_tol"),
        within(element_at(col("pcts"), 3), col("e99")).as("p99_within_tol"))
  }

  /** Scale twin of [[quantileByGroup]] — the grouped
    * `approx_percentile` face the exact tier's docstring promises:
    * Greenwald–Khanna sketches per GROUP (bounded state per key,
    * combiner-mergeable partials), so the same report survives
    * high-cardinality group keys where exact `percentile` would
    * buffer each group's values whole. Hash-checked the
    * [[quantileReportApproxChecked]] way: the plan emits the EXACT
    * per-group percentiles (quantile_cont parity with the DuckDB
    * oracle) plus one boolean per percentile adjudicating the sketch.
    *
    * The boolean is a RANK check, not the global report's 1%-of-value
    * check, because that contract is wrong per group: GK returns an
    * ORDER STATISTIC while the exact tier interpolates, and in a
    * small group adjacent order statistics can sit far apart in
    * VALUE while being 0 ranks apart — the only distance GK bounds.
    * So the plan joins each estimate back to its group and asserts
    * the estimate's rank span [#{x<est}+1, #{x≤est}] intersects the
    * target rank p·n within ±(n/accuracy + 1) — GK's published
    * guarantee plus one rank of interpolation slack, valid at every
    * group size. The join-back is one extra corpus pass; this face is
    * the VERIFICATION tier (it also buffers exact percentiles) —
    * the production path is the bare grouped approx_percentile agg.
    *
    * `est` persists via the house memo (round 15): the broadcast into
    * the rank join and the final `est.join(ranks)` are separate
    * consumer branches, and per the CLAUDE.md persist-or-derive rule
    * exchange reuse would NOT deduplicate them — without the persist
    * the exact per-group percentile aggregation (which buffers each
    * group's values) ran twice and events was scanned three times. */
  def quantileByGroupApprox(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val est = graft.operators.Dedup.memo(s, "qgrpest", dir)(
          ev.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              expr(s"approx_percentile(value, array(0.5, 0.9, 0.99), $GkAccuracy)").as("pcts"),
              expr("percentile(value, 0.5)").as("e50"),
              expr("percentile(value, 0.9)").as("e90"),
              expr("percentile(value, 0.99)").as("e99"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ranks = ev
      .join(broadcast(est.select(col("event_type"), col("pcts"))), "event_type")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value") < element_at(col("pcts"), 1), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= element_at(col("pcts"), 1), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < element_at(col("pcts"), 2), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("value") <= element_at(col("pcts"), 2), 1L).otherwise(0L)).as("le90"),
        sum(when(col("value") < element_at(col("pcts"), 3), 1L).otherwise(0L)).as("lt99"),
        sum(when(col("value") <= element_at(col("pcts"), 3), 1L).otherwise(0L)).as("le99"))
    def rankOk(lt: String, le: String, p: Double) = {
      val target = col("n_events").cast("double") * p
      val slack = col("n_events").cast("double") / GkAccuracy + 1.0
      (col(lt).cast("double") + 1.0 <= target + slack) &&
        (col(le).cast("double") >= target - slack)
    }
    est.join(ranks, "event_type")
      .select(
        col("event_type"),
        col("n_events"),
        round(col("e50"), 4).as("p50"),
        round(col("e90"), 4).as("p90"),
        round(col("e99"), 4).as("p99"),
        rankOk("lt50", "le50", 0.5).as("p50_within_tol"),
        rankOk("lt90", "le90", 0.9).as("p90_within_tol"),
        rankOk("lt99", "le99", 0.99).as("p99_within_tol"))
  }

  val HistBuckets = 8192

  /** Third quantile tier: equi-width histogram sketch — bounded
    * memory like [[quantileReportApprox]] but fully deterministic and
    * SQL-mirrorable, so unlike GK it is oracle-checked. Two passes:
    * (1) min/max/count (partial+final agg, one broadcast row);
    * (2) [[HistBuckets]] bucket counts (fixed-size state per task,
    * map-side combine). The percentile is linearly interpolated
    * inside the bucket holding the target rank — error ≤ one bucket
    * width of the value range regardless of input size, and the
    * histogram relation is ≤ [[HistBuckets]] rows, so the final
    * window/agg is O(1) however large the fact column. Assumes
    * hi > lo (a constant column needs no quantile sketch). */
  def quantileReportHist(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(s, dir).select(col("o_totalprice").as("x"))
    val mm = x.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
      count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / HistBuckets
    val hist = x.crossJoin(broadcast(mm))
      .groupBy(least(floor((col("x") - col("lo")) / width), lit(HistBuckets - 1))
          .cast("int").as("bucket"),
        col("lo"), col("hi"), col("n"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    def est(p: Double) = {
      val t = col("n") * p
      val qualifies = col("cum") >= t && (col("cum") - col("c")) < t
      min(when(qualifies,
        col("lo") + width * (col("bucket") + (t - (col("cum") - col("c"))) / col("c"))))
    }
    cum.agg(
      round(est(0.5), 4).as("p50"),
      round(est(0.9), 4).as("p90"),
      round(est(0.99), 4).as("p99"),
      max(col("n")).as("n_orders"))
  }

  /** #19 Hadoop Streaming analogue: records piped line-by-line
    * through an external-process seam. The process is stubbed with a
    * deterministic in-JVM line processor (no external binaries in
    * this container), but the plumbing is the real thing: a
    * per-partition iterator pipe that a ProcessBuilder drop-in would
    * slot into. Stays map-only — no shuffle, decode parallelism =
    * input partitions, the same contract PipeMapper had. */
  def streamingPipe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines: Dataset[(Long, String)] = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val piped = lines.mapPartitions { it =>
      // Seam for: proc = new ProcessBuilder(cmd).start(); write lines
      // to proc.stdin, read k\tv from proc.stdout. Stub processor:
      pipeLineProcessor(it.map { case (id, text) => s"$id\t$text" })
    }
    piped.map { line =>
      val Array(k, v) = line.split("\t", 2)
      (k.toLong, v.toInt)
    }.toDF("doc_id", "piped_tokens")
  }

  /** Stub "external command": emits `doc_id \t token_count` per input
    * line — mirrors a `wc -w`-style streaming mapper, deterministic
    * and oracle-checkable. */
  private def pipeLineProcessor(lines: Iterator[String]): Iterator[String] =
    lines.map { line =>
      val Array(id, text) = line.split("\t", 2)
      val n = text.toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty)
      s"$id\t$n"
    }
}
