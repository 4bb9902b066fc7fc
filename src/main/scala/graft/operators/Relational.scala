package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-first re-expressions of the Hadoop MapReduce core dataflow
  * (SURVEY §2.1). Each method is one `SparkEntry.queries` entry.
  *
  * Reference semantics (Hadoop 2.10.0 public source):
  *  - `mapreduce/Mapper.java`, `Reducer.java` — map / keyed agg with
  *    map-side combine → Catalyst partial+final HashAggregate.
  *  - `lib/partition/TotalOrderPartitioner.java` + `InputSampler.java`
  *    — global sort → Spark RangePartitioning (samples bounds the
  *    same way, fully distributed).
  *  - `examples/SecondarySort.java` — grouping comparator → ordered
  *    aggregation (`min_by`/`max_by` over a composite sort key).
  *  - `lib/join/CompositeInputFormat` — inner/outer/override joins →
  *    sort-merge / broadcast joins.
  *  - `lib/fieldsel/FieldSelectionMapper.java` — delimited field
  *    selection → `split` + `element_at`.
  *  - `lib/chain/ChainMapper.java` — chained map/reduce stages →
  *    composed DataFrame transforms (fused by codegen).
  *
  * Scale notes (100 TB): aggregations rely on Catalyst's partial
  * aggregation (map-side combine) so the shuffle carries one row per
  * key per partition; dimension joins broadcast (no shuffle of the
  * fact side); the only full shuffles are keyed aggs / fact-fact
  * joins, which is the theoretical minimum for this workload.
  */
object Relational {

  /** #1 Mapper: per-record projection+filter; pushed to the scan. */
  def mapProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 30)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
        upper(col("l_returnflag")).as("flag"))

  /** #2 Reducer+Combiner: keyed aggregation, partial+final. */
  def reduceAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(min(col("l_discount")), 2).as("min_disc"),
        round(max(col("l_tax")), 2).as("max_tax"))

  /** #4/#23 TotalOrderPartitioner + Sort example: global sort via
    * RangePartitioning (Spark samples range bounds like InputSampler). */
  def totalOrderSort(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)

  /** #5 Secondary sort: per-key values ordered by a secondary key
    * without a driver-side sort — `min_by`/`max_by` over a composite
    * (shipdate-ms, linenumber) key reproduce the grouping-comparator
    * "first/last value per key in value-sort order" contract. */
  def secondarySort(s: SparkSession, dir: String): DataFrame = {
    val sortKey = unix_millis(col("l_shipdate")) * 10 + col("l_linenumber")
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        min_by(col("l_linenumber"), sortKey).as("first_line"),
        max_by(col("l_linenumber"), sortKey).as("last_line"),
        count(lit(1)).cast("bigint").as("n_lines"))
  }

  /** #5b Full secondary sort: the complete value stream per key in
    * secondary-key order, as one delimited column (the exact
    * grouping-comparator contract — reducers saw values sorted). */
  def secondarySortFull(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(
              (unix_millis(col("l_shipdate")) * 10 + col("l_linenumber")).as("sk"),
              col("l_linenumber").as("ln")))),
            x => x.getField("ln").cast("string")),
          ",").as("lines_in_order"),
        count(lit(1)).as("n_lines"))
  }

  /** Range join (equi + interval predicate): lineitems shipped within
    * 30 days of their order date. Catalyst keeps the equi-key as the
    * join key and evaluates the range residually — one shuffle on
    * orderkey, no cross product. */
  def joinRange(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_fast_lines"),
        round(sum(col("l_extendedprice")), 2).as("fast_revenue"))

  /** As-of join: for every event, the most recent prior (or same-
    * instant) 'signup'-type event timestamp of the same user —
    * expressed as a running window max, so it is one shuffle on
    * user_id with no self-join at all (the compose-builtins tier for
    * an operator Spark lacks natively). */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("asof_signup_ts",
        max(when(col("event_type") === "signup", col("ts"))).over(w))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("asof_signup_ts"))
  }

  /** #5g NEAREST-event temporal join — the both-directions member of
    * the temporal family (#5d latest-prior, #5c bounded-range, #5f
    * all-overlaps): for every event, the CLOSEST 'signup' of the
    * same user in EITHER direction (the sensor-alignment semantic —
    * "attach the nearest calibration reading", where latest-prior is
    * wrong for events before the first reading). Still ZERO joins:
    * a forward running max (prior signup, inclusive — exactly #5d's
    * window) plus a BACKWARD running min (next signup) over the SAME
    * user partitioning — Catalyst plans both window frames in one
    * region over one exchange; nearest = smaller absolute distance,
    * ties to the earlier (prior wins at equal distance — stated the
    * same way in both engines on exact integer micros). Reference
    * analogue: one secondary-sort reducer pass keeping both a
    * carried-last and a lookahead buffer. */
  def joinNearest(s: SparkSession, dir: String): DataFrame = {
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val bwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(0, Window.unboundedFollowing)
    val sig = when(col("event_type") === "signup", col("ts"))
    Tables.events(s, dir)
      .withColumn("prior_ts", max(sig).over(fwd))
      .withColumn("next_ts", min(sig).over(bwd))
      .withColumn("nearest_ts",
        when(col("prior_ts").isNull, col("next_ts"))
          .when(col("next_ts").isNull, col("prior_ts"))
          .when(unix_micros(col("ts")) - unix_micros(col("prior_ts")) <=
            unix_micros(col("next_ts")) - unix_micros(col("ts")), col("prior_ts"))
          .otherwise(col("next_ts")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("nearest_ts")).as("nearest_signup_ms"))
  }

  /** #6 Reduce-side inner join (CompositeInputFormat "inner"). */
  def joinInner(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_orderkey"), col("l_linenumber"),
        col("o_totalprice"), col("l_extendedprice"), col("o_orderstatus"))

  /** #6 Outer join (CompositeInputFormat "outer"): customers × their
    * orders, keeping customers with no orders. */
  def joinOuter(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))

  /** #6 "override" join: rightmost source with the key wins —
    * per-customer order stats overridden by account balance fallback. */
  def joinOverride(s: SparkSession, dir: String): DataFrame = {
    val orderTotals = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("order_total"))
    Tables.customer(s, dir)
      .join(orderTotals, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        round(coalesce(col("order_total"), col("c_acctbal")), 2).as("effective_total"))
  }

  /** #7 Map-side join: small dims shipped to every task — Spark's
    * BroadcastHashJoin (the DistributedCache analogue). */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_name"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("brand_revenue"))

  /** #8 Semi-join (bloom-filter pattern): customers with ≥1 order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** #8 Anti-join: customers with no large orders (>400k). */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** Bloom sizing for [[joinBloom]]: estimated distinct dim keys at
    * the gate SF and a bits budget giving ~1% FP — false positives
    * only cost wasted shuffle rows (the exact join removes them), so
    * the size/accuracy trade is free to tune per deployment. */
  val JoinBloomItems = 20000L
  val JoinBloomBits = 8L * JoinBloomItems

  /** #8c BLOOM JOIN (`org.apache.hadoop.util.bloom` + the Pig/Hive
    * bloom-join idiom): a selective dim predicate reduced onto the
    * fact side as a map-side bloom membership probe BEFORE the join —
    * the hand-rolled twin of Spark's own `InjectRuntimeFilter`
    * rewrite, surfaced as an operator so the reduction is explicit
    * and spec-measurable.
    *
    * Shape: the filtered dim's keys aggregate into one bloom blob
    * (scalar subquery — the blob ships with the plan like a
    * broadcast), the fact scan probes it map-side, and only probable
    * matches reach the join, which then removes the false positives —
    * result IDENTICAL to the plain join (spec-asserted; false
    * negatives are impossible by construction). At 100 TB this is the
    * semi-join reduction that matters when the dim is too big to
    * broadcast: a shuffle join would move every fact row; the bloom
    * kills ~(1−selectivity) of them in the map stage for a
    * constant-size blob. */
  def joinBloom(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftFunctions.{bloom_filter_agg, bloom_might_contain}
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = dim.agg(
      bloom_filter_agg(col("o_orderkey"), JoinBloomItems, JoinBloomBits)).scalar()
    Tables.lineitem(s, dir)
      .filter(bloom_might_contain(bloom, col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** #9 ChainMapper/ChainReducer: map → map → reduce → map, fused by
    * whole-stage codegen into two stages around one shuffle. */
  def chainPipeline(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_discount") > 0.02)                           // map 1
      .withColumn("net", col("l_extendedprice") * (lit(1.0) - col("l_discount"))) // map 2
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))  // reduce
      .agg(sum(col("net").cast("decimal(18,4)")).cast("double").as("month_net"))
      .withColumn("month_net_k", round(col("month_net") / 1000.0, 2))    // map 3
      .drop("month_net")

  /** #10 FieldSelection: delimiter split + positional field pick. */
  def fieldSelection(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("value", concat_ws(":", col("c_name"), col("c_mktsegment"), col("c_custkey")))
      .select(
        element_at(split(col("value"), ":"), 2).as("segment_field"),
        element_at(split(col("value"), ":"), 3).as("key_field"))

  val KeyFieldParts = 8

  /** #3b KeyFieldBasedPartitioner + KeyFieldBasedComparator
    * (`lib/partition/KeyFieldBasedPartitioner.java`,
    * `KeyFieldBasedComparator.java` — the streaming-job staple
    * `-partitioner ... -k2,2` + `-k3,3n`): partition the delimited
    * stream on an extracted key field and order each partition by
    * another field compared NUMERICALLY (where text comparison would
    * put "10" before "9"). Spark-native: split the value, derive a
    * deterministic reducer id from the partition field (md5 bucket —
    * the portable stand-in for `hashCode % numReduceTasks`, so the
    * oracle reproduces the placement), and rank inside each reducer
    * with a window ordered by the numeric field — Catalyst plans ONE
    * exchange on the reducer id plus the in-partition sort, exactly
    * the MR shuffle. RelationalSpec adds the TeraValidate-style
    * physical proof (partition-exclusive keys, numeric order within
    * partitions). */
  def keyFieldPartition(s: SparkSession, dir: String): DataFrame = {
    val f = split(col("value"), "\\|")
    val w = Window.partitionBy(col("part_id")).orderBy(col("sort_key"))
    Tables.customer(s, dir)
      .select(concat_ws("|", col("c_name"), col("c_mktsegment"), col("c_custkey")).as("value"))
      .select(
        element_at(f, 1).as("name_field"),
        element_at(f, 2).as("key_field"),
        element_at(f, 3).cast("bigint").as("sort_key"))
      .withColumn("part_id",
        (conv(substring(md5(col("key_field")), 1, 4), 16, 10).cast("int")
          % KeyFieldParts).cast("int"))
      .withColumn("pos_in_part", row_number().over(w))
      .select(col("part_id"), col("key_field"), col("name_field"),
        col("sort_key"), col("pos_in_part"))
  }

  /** #12 InputSampler analogue: deterministic modulo sample, with a
    * per-stratum count (sampleBy's contract, reproducible in SQL). */
  def samplingStratified(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 7 === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"),
        round(sum(col("l_quantity")), 2).as("sampled_qty"))

  /** #13 MultipleInputs: two differently-shaped sources parsed to a
    * common schema and unioned. */
  def multipleInputsUnion(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      lit("customer").as("kind"), col("c_name").as("name"),
      round(col("c_acctbal"), 2).as("balance"))
    val supp = Tables.supplier(s, dir).select(
      lit("supplier").as("kind"), col("s_name").as("name"),
      round(col("s_acctbal"), 2).as("balance"))
    cust.unionByName(supp)
  }

  /** #16 KeyValueTextInputFormat: parse k=v text lines. */
  def kvTextParse(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("kv", concat(lit("user="), col("user_id"), lit("&type="), col("event_type")))
      .select(
        col("event_id"),
        regexp_extract(col("kv"), "user=([0-9]+)", 1).cast("bigint").as("user_field"),
        regexp_extract(col("kv"), "type=([a-z_]+)", 1).as("type_field"))

  /** #11 Counters, first-class: the query RUNS an observed plan
    * (`Dataset.observe` → CollectMetrics, Spark's Counter analogue —
    * metrics accumulate task-side during the pass exactly like
    * Hadoop's `Counter.increment`, reference `mapreduce/Counter.java`)
    * and the RESULT is the observation payload, the way a MapReduce
    * job report surfaces its counters. The driven action is a noop
    * sink, so the only thing that ever reaches the driver is the
    * one-row metrics payload — the events scan and counting stay
    * fully distributed. Payload values are the same aggregates as
    * before, so the DuckDB oracle is unchanged. */
  /** #5e EDIT-DISTANCE similarity self-join (record linkage /
    * fuzzy matching): all supplier-name pairs within Levenshtein
    * distance 1, WITHOUT the n² cross join. Blocking is the
    * deletion-neighborhood technique (the FastSS / Mining-of-Massive-
    * Datasets candidate-generation idea, the string cousin of the
    * MinHash-LSH band join): every name explodes into itself plus its
    * |s| single-character-deletion variants, and two strings within
    * distance 1 MUST share a variant (equal strings share the
    * original; a substitution shares the deletion at the edited
    * position; an insert/delete pair shares the shorter string).
    * Candidates come from a variant-keyed EQUI-join — linear in
    * n·|s|, bucketed by variant — then exact `levenshtein` verifies
    * (shared variants at different positions can be distance 2) and
    * distinct() collapses multi-variant duplicates. This is the
    * cheap-candidates → exact-verify tiering every dedup operator in
    * this repo uses, applied to record linkage; at 100 TB the
    * explode is map-side, the join keys on short variant strings,
    * and nothing ever pairs beyond shared buckets. Oracle replays
    * the full n² truth in DuckDB (affordable at the dim's size —
    * the point: the blocked plan must MISS NOTHING vs brute force).
    * Reference analogue: the map-side-generated composite join keys
    * of `lib/join` — synthetic keys manufactured in the mapper so
    * the reducer only sees co-bucketed candidates. */
  def joinEditDistance(s: SparkSession, dir: String): DataFrame =
    editDistancePairs(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")))

  /** Operator core over any (s_suppkey, s_name) relation — what the
    * brute-force-equivalence and insert/delete-shape specs drive. */
  private[graft] def editDistancePairs(names: DataFrame): DataFrame = {
    // variants = the name itself + every single-deletion (transform
    // over sequence keeps it codegen-friendly; no UDF)
    val variants = names.select(col("s_suppkey"), col("s_name"),
      explode(concat(array(col("s_name")),
        expr("transform(sequence(1, length(s_name)), i -> " +
          "concat(substring(s_name, 1, i - 1), substring(s_name, i + 1)))")))
        .as("variant"))
    val a = variants.toDF("a_key", "a_name", "variant")
    val b = variants.toDF("b_key", "b_name", "variant")
    a.join(b, Seq("variant"))
      .filter(col("a_key") < col("b_key"))
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"))
      .distinct()
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 1)
      .select(col("a_key"), col("b_key"), col("dist"))
  }

  /** #5f INTERVAL-OVERLAP self-join, BANDED — the general temporal
    * join (#5c bounds a fact to a dim window; #5d picks the latest
    * prior; this finds ALL pairs of overlapping intervals): which
    * purchase sessions of DIFFERENT users were concurrently active
    * (session = 30-min-gap islands, active until last event + 30 min
    * — the session_window padding rule). A raw `a.s <= b.e AND
    * b.s <= a.e` θ-join plans nested-loop (n² at 100 TB); the scale
    * shape is TIME-BUCKET BANDING: each interval explodes to the
    * hour buckets it spans (bounded — session length is gap-capped),
    * candidates come from a bucket-keyed EQUI-join, duplicates from
    * multi-bucket pairs collapse via distinct() — the MinHash-band /
    * deletion-neighborhood candidate-generation idea applied to
    * time. The overlap predicate rides the join so false bucket
    * neighbors (same hour, disjoint spans) never survive. The
    * oracle runs the UNBANDED inequality join (DuckDB's IEJoin can
    * afford it) — so the banding is proven to miss nothing, the
    * same completeness claim as join_editdist. Output: concurrent
    * pairs per overlap-start hour. Reference analogue: the
    * composite-key banding of `lib/join` — synthetic time-bucket
    * keys manufactured map-side so the reducer only sees
    * co-bucketed candidates. */
  def joinIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val sess = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("ns",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("e"))
    val banded = sess.select(col("user_id"), col("sid"), col("s"), col("e"),
      explode(sequence(date_trunc("hour", col("s")),
        date_trunc("hour", col("e")), expr("INTERVAL 1 HOUR"))).as("bucket"))
    val a = banded.toDF("u1", "sid1", "s1", "e1", "bucket")
    val b = banded.toDF("u2", "sid2", "s2", "e2", "bucket")
    a.join(b, Seq("bucket"))
      .filter(col("u1") < col("u2") &&
        col("s1") <= col("e2") && col("s2") <= col("e1"))
      .select(col("u1"), col("sid1"), col("u2"), col("sid2"),
        greatest(col("s1"), col("s2")).as("os"))
      .distinct()
      .groupBy(date_trunc("hour", col("os")).as("overlap_hour"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def countersObserve(s: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, dir)
      .observe(obs,
        count(lit(1)).as("n_total"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        round(sum(col("value")), 2).as("sum_value"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    Seq((m("n_total").asInstanceOf[Long], m("n_errors").asInstanceOf[Long],
      m("n_clicks").asInstanceOf[Long], m("sum_value").asInstanceOf[Double]))
      .toDF("n_total", "n_errors", "n_clicks", "sum_value")
  }
}
