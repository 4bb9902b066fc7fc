package graft

import graft.operators._

/** Partition-count invariance: the cross-engine determinism rules
  * (exact DECIMAL accumulation, total window orderings, md5-only
  * hashing, scalar fixpoints) all reduce to one physical claim — the
  * result must not depend on HOW the exchanges split the data. The
  * DuckDB oracle can only witness one partitioning; this spec
  * witnesses another: every determinism-sensitive query must produce
  * byte-identical rows under a different (and prime, so nothing
  * divides evenly) shuffle-partition count, with all memoized
  * intermediates rebuilt from scratch.
  */
class DeterminismSpec extends SparkSpecBase {

  private val sensitive: Seq[String] = Seq(
    "ann_ivf",          // Lloyd means: exact DECIMAL(28,10) per-(cluster,dim) sums
    "dedup_clusters",   // min-label fixpoint over however many rounds
    "dedup_keeper",     // struct-tuple arg-max across partitions
    "events_anomaly",   // integer power sums → z-scores
    "quantile_report",  // exact percentile over a distributed sort
    "tfidf_topterms",   // rational idf + rank window tie-breaks
    "mix_execute",      // per-doc hash draws joined to a broadcast plan
    "line_dedup_strip", // corpus-wide df + map-side rewrite
    "span_dedup_strip", // positional-gram occurrence counts + covered-set union
    "span_dedup_exact", // char-window occurrence counts + covered-set union
    "span_dedup_exact_strip", // covered-set union + position-ordered rewrite
    "dedup_incremental", // batch-keeper window + index join on hash keys
    "text_lm_score",    // per-doc FP log-prob sums rounded to 4
    "jobcontrol_run",   // DAG report over persisted shared intermediates
    "heavy_hitters",    // MG candidate SET varies with partitioning; confirmed set must not
    "agg_incremental",  // stored-partials + batch merge
    "tpch_q10",         // global top-20: decimal-ordered row_number tie-break
    "tpch_q11",         // scalar 1.2x-mean threshold in explicit-width decimals
    "tpch_q15",         // equality against the exact decimal max (ties)
    "tpch_q17",         // division-free 0.2*avg predicate on integral doubles
    "mr_total_order_sort", // range partitioning itself
    "bbp_digits",       // exact int64 fixed-point digit extraction
    "embedding_pq",     // PQ Lloyd means: DECIMAL(28,10) per-(m,c,dim) sums
    "ann_pq_adc",       // ADC fixed-order sums + (adc, cand_id) rank ties
    "ann_ivf_pq",       // both training chains + coarse probe rank ties
    "mix_by_cluster",   // Lloyd clusters + sqrt-share normalizer + hash draws
    "text_quality_buckets", // exact percentile thresholds + boundary compares
    "embedding_sq8",    // float extrema + rounded affine codes
    "pagerank",         // 5 iterations of DECIMAL(28,12) contribution sums
    "search_bm25",      // per-doc DECIMAL(28,12) score sums + rank ties
    "scd2_dimension",   // (ts, event_id) total-order windows
    "events_gapfill",   // max_by struct tie-break + run-length explode
    "dq_check",         // fused analyzer counts incl. count_distinct
    "grouped_regression", // exact-decimal sufficient statistics
    "sketch_kmv_merge", // k-min rank windows + merge of kept sets
    "winsorize_values", // rounded percentile thresholds + boundary compares
    "join_interval_overlap", // banded candidate union + dedup across bands
    "join_nearest",     // two-direction window race: |Δt| then direction ties
    "join_editdist",    // deletion-neighborhood candidate dedup + verify
    "assoc_rules",      // integer-exact thresholds + directed pair union
    "scd2_incremental", // stored/batch seam + (ts, event_id) windows
    "join_pointintime", // per-(user,ts) max_by collapse + tag total order
    "inverted_index_capped", // per-term rank cap + null-skipping collect
    "weighted_sample",  // ln(u)/w keys + TakeOrdered k-boundary ties
    "nb_classify",      // rounded-score argmax ties + decimal loglik sums
    "matmul_gram",      // DECIMAL(18,12) product sums across partitions
    "pca_power",        // 5 iterations of DECIMAL-pinned mat-vec + norms
    "knn_classify",     // raw-cosine rank ties + vote argmax
    "itemsim_cf",       // rounded-sim rank ties on the capped pair join
    "graph_sssp",       // frontier BFS + localCheckpoint lineage cuts
    "graph_triangles",  // (deg, id)-oriented wedge join
    "events_transitions", // (ts, event_id)-ordered lead pairs
    "ab_test",          // hash-parity arms + decimal sufficient stats
    "eval_confusion",   // classifier argmax ties feeding exact counts
    "eval_auc",         // score-grouped running sums + tie half-credit
    "sketch_cms",       // md5 bucket grid + min-over-rows estimates
    "join_setsim",      // global (df, sh) prefix order + candidate dedup
    "graph_clustering", // shared wedge core + per-node triangle charge
    "events_ema",       // 8-lag fixed-order FP chain under (ts, event_id)
    "graph_components", // min-label fixpoint + Σ-scalar early exit
    "eval_rank",        // decimal discount sums over BM25 rank ties
    "sketch_kmv_intersect", // per-pair k-min windows + kept-set semis
    "events_anomaly_mad",   // distributed exact percentiles × 2 passes
    "events_rfm",       // decimal monetary + rounded quintile cuts
    "logreg_train",     // 8 GD rounds of decimal gradient sums
    "logreg_classify",  // z >= 0 boundary against the trained weights
    "nb_classify_topv", // top-V cap boundary ties + decimal loglik sums
    "eval_calibration", // decile buckets + decimal sigma sums
    "eval_cv",          // leave-fold-out grids + decimal loglik sums
    "als_rank1",        // alternating decimal-sum half-rounds
    "graph_kcore",      // peeling fixpoint + edge-count early exit
    "events_top_paths", // collect_list sort + top-k rank ties
    "events_attribution", // ignoreNulls running carry + 2-dec sums
    "events_funnel_time", // exact percentiles over ms-long deltas
    "quantile_by_group",  // per-group exact percentile buffers
    "quantile_by_group_approx", // GK sketch merge order + rank-bound booleans
    "graph_hits",         // decimal-sum alternation + L1 normalizers
    "text_collocations",  // integer contingency cells + fixed ln trees
    "feature_chi2",       // rank ties on the rounded statistic
    "events_survival",    // round-10 ln factors in a decimal running sum
    "dq_drift",           // PSI decimal term sums + rounded verdict cuts
    "bpe_train",          // weighted pair argmax ties under any partitioning
    "events_funnel_conv") // per-user greedy fold + countDistinct report

  private def run(name: String): Seq[String] = {
    Dedup.clearCaches()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect().map(_.toString).sorted.toIndexedSeq
  }

  test("determinism-sensitive queries are invariant to the shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      val base = sensitive.map(n => n -> run(n)).toMap
      spark.conf.set(key, "7")
      sensitive.foreach { n =>
        val alt = run(n)
        assert(alt == base(n),
          s"$n changed under $saved -> 7 shuffle partitions " +
            s"(first diff: ${alt.zip(base(n)).find(p => p._1 != p._2)})")
      }
    } finally {
      spark.conf.set(key, saved)
      Dedup.clearCaches()
    }
  }

  test("witness: the decimal-multiply scale rule the count-weighted sums depend on") {
    // Round-17 trap, pinned so a Spark upgrade can't silently
    // reintroduce it: bag-of-words compression replaces "sum dec(ll)
    // over cnt occurrences" with "sum dec(ll)·cnt", which is bit-equal
    // ONLY while the product type keeps scale 12. A DECIMAL(28,12) ×
    // BIGINT product wants precision 49; allowPrecisionLoss caps it
    // at precision 38 by REDUCING SCALE (to 6 here), so each product
    // rounds mid-sum — a 1-ulp round-4 divergence the sf0.01 gate
    // caught on nb_classify doc 279. The right-sized operands used by
    // nb_classify/eval_cv — DECIMAL(14,12) × DECIMAL(10,0) — fit in
    // (25,12): exact. Both halves asserted from the type system.
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.DecimalType
    val df = spark.range(1).select(
      expr("CAST(-1.234567890123 AS DECIMAL(28,12))").as("wide"),
      expr("CAST(-1.234567890123 AS DECIMAL(14,12))").as("tight"),
      expr("CAST(3 AS BIGINT)").as("cntL"),
      expr("CAST(3 AS DECIMAL(10,0))").as("cntD"))
    val widened = df.select((col("wide") * col("cntL")).as("p"))
      .schema("p").dataType.asInstanceOf[DecimalType]
    val exact = df.select((col("tight") * col("cntD")).as("p"))
      .schema("p").dataType.asInstanceOf[DecimalType]
    assert(widened.scale < 12,
      s"Spark no longer reduces the wide product's scale ($widened) — " +
        "the (28,12)×BIGINT form would be exact now; re-evaluate the " +
        "operand right-sizing comments (correctness unaffected)")
    assert(exact.scale == 12 && exact.precision <= 38,
      s"the right-sized product lost exactness ($exact) — nb_classify/" +
        "eval_cv count-weighted sums are NO LONGER bit-equal to " +
        "per-occurrence sums; fix before trusting their hashes")
    // And the end-to-end identity on the exact form: cnt·dec(x) equals
    // the cnt-fold decimal sum, bit-for-bit.
    val row = df.select(
      (col("tight") * col("cntD")).as("weighted"),
      (col("tight") + col("tight") + col("tight"))
        .cast("decimal(25,12)").as("repeated")).head()
    assert(row.getDecimal(0).compareTo(row.getDecimal(1)) == 0)
  }

  /** `sum` aggregates over a DECIMAL(p ≤ 18) input anywhere in a
    * physical plan the census reaches (main tree, subqueries, cache
    * builds): Spark sums those with a BigDecimal per row. A p ≤ 8 sum is
    * a long sum already (its input becomes an UnscaledValue), and
    * [[graft.plans.DecimalSums]] makes a sum of a DOUBLE cast a DecimalSum. */
  private def narrowPlanSums(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types.DecimalType
    ShuffleCensus.reachable(plan).flatMap(_.flatMap(_.expressions.flatMap(_.collect {
      case s: Sum if (s.child.dataType match {
        case d: DecimalType => d.precision <= 18
        case _ => false
      }) => s.sql
    }))).distinct
  }

  test("pin: no registered query's plan sums a DECIMAL(p<=18) with Spark's sum") {
    // It also sees a narrow decimal that reached `sum` through a column
    // cast in an earlier step, which the rule cannot rewrite: it sees
    // only a cast inside the sum.
    import org.apache.spark.sql.functions.{col, sum}
    withConf(ShuffleCensus.aqeOff) {
      val cast = spark.range(10).withColumn("v", (col("id") * 1.25).cast("decimal(12,2)"))
      assert(narrowPlanSums(cast.agg(sum(col("v"))).queryExecution.executedPlan).nonEmpty,
        "a sum over a column cast to decimal(12,2) one step earlier escaped the pin")
      val exact = spark.range(10).agg(sum((col("id") * 1.25).cast("decimal(12,2)")))
      assert(narrowPlanSums(exact.queryExecution.executedPlan).isEmpty,
        "the rule left a sum of a DOUBLE cast to Spark's sum")
    }
    val hits = surface.census.flatMap { case (name, plan) =>
      val sums = narrowPlanSums(plan)
      if (sums.isEmpty) None else Some(s"$name: ${sums.mkString("; ")}")
    }
    assert(hits.isEmpty,
      "write these as sum(x.cast(\"decimal(p,s)\")) of a DOUBLE x, the cast inside " +
        "the sum (DecimalSums sums it on longs):\n" +
        hits.mkString("\n"))
  }

  test("pin: exactly the queries with an exact narrow sum plan a DecimalSum") {
    // The plan pin above also passes when no query sums at all; this one
    // fails if the rule stops rewriting any site, or rewrites a new one.
    val observed = surface.census.collect { case (name, plan) if sumsOnLongs(plan) => name }
    assert(observed.sorted == DecimalSumSpec.exactSumQueries.sorted)
    withConf(ShuffleCensus.aqeOff) {
      assert(sumsOnLongs(graft.operators.Learn.alsRatingPairs(spark, sfDir)
        .queryExecution.executedPlan), "als_rank1's rating relation")
    }
  }
}
