package graft

/** Whole-surface SHUFFLE census — the fourth permanent discipline
  * sweep (round 15), completing the set: scans (IO amplification),
  * broadcasts (entity-keyed driver/memory risk), global windows
  * (single-partition collapse), zero CartesianProduct, and now the
  * NETWORK dimension: every registered query's exchange count,
  * pinned.
  *
  * Unlike the other sweeps there is no "offense" threshold — a
  * shuffle is not a defect, it is a BUDGET. What the sweep bans is
  * silent drift: the census of each query (ShuffleExchange nodes
  * under AQE-off / auto-broadcast-off planning, including subquery
  * plans and each distinct cache build once — [[ShuffleCensus]]) must
  * equal the pinned count exactly, in either direction. A refactor
  * that accidentally adds an exchange (a lost bucketing, a
  * repartition that stopped colocating, a join that fell off its
  * broadcast hint) fails here the day it lands, not in a bench
  * archaeology three rounds later; a refactor that REMOVES one fails
  * too, so wins get recorded, consciously, by re-pinning.
  *
  * Pins are regenerated by `sbt 'Test/runMain graft.ShuffleCensusDump'`
  * (same census code, same sorted iteration, same cache-state rule) —
  * paste the printed map below and read the diff as the list of
  * shuffles you added or removed.
  *
  * Census-config note: auto-broadcast OFF means every non-hinted join
  * counts its shuffle shape, so the pins are plan-shape facts and an
  * UPPER bound on any statistics-driven plan. One class IS
  * layout-sensitive: the `Tables.spread` seams probe the input's
  * split count and add a REPARTITION_BY_NUM exchange only on
  * single-file inputs, so the pins are facts of the sf0.001 layout
  * they were generated against. If the driver ever regenerates
  * testdata with different file counts, a broad round-start drift in
  * THIS spec alone means "re-run ShuffleCensusDump and re-pin", not
  * a plan regression — every other exchange class (join/agg/window
  * ENSURE_REQUIREMENTS, explicit key repartitions) is partitioning
  * logic independent of file counts.
  */
class ShuffleDisciplineSpec extends SparkSpecBase {
  import ShuffleDisciplineSpec.pinned

  test("every registered query's shuffle count equals its pin (regenerate via ShuffleCensusDump on deliberate change)") {
    val observed = ShuffleCensus.sweep(spark, sfDir).toMap
    val drift = observed.keys.toSeq.sorted.flatMap { name =>
      pinned.get(name) match {
        case Some(p) if p == observed(name) => None
        case Some(p) =>
          Some(s"$name: observed ${observed(name)} shuffles != pinned $p")
        case None =>
          Some(s"$name: registered but unpinned (observed ${observed(name)})")
      }
    }
    val stale = pinned.keys.toSeq.sorted.filterNot(observed.contains)
      .map(n => s"$n: pinned but not registered")
    assert(drift.isEmpty && stale.isEmpty,
      s"shuffle-census drift:\n${(drift ++ stale).mkString("\n")}")
  }

  test("witness: cache-build and subquery shuffles are counted; a deliberate extra exchange is detected") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = spark.read.schema("doc_id LONG, text STRING, source STRING, lang STRING")
      .parquet(s"$sfDir/documents.parquet")
    // A persisted aggregate: its groupBy shuffle lives in the cache
    // BUILD, invisible to a plain plan walk.
    val bySource = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val base = docs.select(col("doc_id"), col("source"))
        .join(bySource, "source")
      val baseCount = ShuffleCensus.countPlan(base.queryExecution.executedPlan)
      // The visible plan joins against an InMemoryTableScan; the
      // build's agg exchange must still be in the census.
      val visibleOnly = {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        base.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s }.size
      }
      assert(baseCount > visibleOnly,
        s"cache-build shuffle escaped the census ($baseCount vs visible $visibleOnly)")
      // A deliberately added repartition must move the census by
      // exactly one — the drift the sweep exists to catch.
      val broken = base.repartition(7, col("doc_id"))
      val brokenCount = ShuffleCensus.countPlan(broken.queryExecution.executedPlan)
      assert(brokenCount == baseCount + 1,
        s"extra exchange not detected ($brokenCount vs $baseCount)")
      // Scalar-subquery shuffles count too: an agg-valued filter
      // hides its exchanges inside plan.subqueries, which the plain
      // collect never visits.
      docs.createOrReplaceTempView("shuffle_census_docs")
      val sub = spark.sql(
        """SELECT doc_id FROM shuffle_census_docs
          |WHERE doc_id < (SELECT max(n) FROM
          |  (SELECT count(*) AS n FROM shuffle_census_docs GROUP BY lang))
          |""".stripMargin)
      val subVisible = {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        sub.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s }.size
      }
      assert(ShuffleCensus.countPlan(sub.queryExecution.executedPlan) > subVisible,
        "scalar-subquery shuffle escaped the census")
    } finally {
      bySource.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", saved)
    }
  }
}

object ShuffleDisciplineSpec {
  /** The shuffle budget of the registered surface, pinned (round 15).
    * Generated by [[ShuffleCensusDump]]; every deliberate plan change
    * re-pins its query and the diff IS the review artifact. */
  val pinned: Map[String, Int] = Map(
    "ab_test" -> 1,
    "agg_from_spec" -> 2,
    "agg_histogram" -> 1,
    "agg_incremental" -> 2,
    "agg_uniq" -> 2,
    "agg_uniq_approx" -> 3,
    "agg_value_sum" -> 1,
    "als_rank1" -> 9,
    "ann_bruteforce" -> 2,
    "ann_ivf" -> 4,
    "ann_ivf_big" -> 4,
    "ann_ivf_ingest" -> 0,
    "ann_ivf_pq" -> 9,
    "ann_ivf_pq_serve" -> 7,
    "ann_ivf_serve" -> 4,
    "ann_lsh" -> 1,
    // 9 since round 16's artifacts-warm census fixed point: the old 8
    // was a fresh-JVM accident (the PQ serve build's side-effect memos
    // were live when adc censused); warm, adc plans its own chain.
    "ann_pq_adc" -> 9,
    "ann_pq_serve" -> 4,
    "ann_sq8" -> 4,
    "assoc_rules" -> 5,
    "avro_roundtrip" -> 1,
    "bbp_digits" -> 1,
    "bpe_train" -> 0,
    "bucketed_join" -> 1,
    "chain_pipeline" -> 1,
    "columnar_roundtrip" -> 1,
    "compaction_roundtrip" -> 2,
    "cooccurrence_pairs" -> 1,
    "corpus_curate" -> 6,
    "corpus_divergence" -> 7,
    "counters_observe" -> 0,
    "csv_roundtrip" -> 2,
    "cube_report" -> 1,
    "db_roundtrip" -> 1,
    "decontaminate" -> 3,
    "decontaminate_bloom" -> 4,
    "dedup_clusters" -> 7,
    "dedup_containment" -> 9,
    "dedup_embedding" -> 1,
    "dedup_embedding_lsh" -> 6,
    "dedup_exact" -> 1,
    "dedup_incremental" -> 2,
    "dedup_incremental_near" -> 4,
    "dedup_jaccard" -> 9,
    "dedup_keeper" -> 9,
    "dedup_manifest" -> 0,
    "dedup_minhash_lsh" -> 3,
    "dedup_semantic" -> 6,
    "dedup_semdedup" -> 3,
    "dedup_simhash" -> 3,
    "dq_check" -> 5,
    "dq_drift" -> 4,
    "dup_ngram_profile" -> 4,
    "dynamic_partition_overwrite" -> 1,
    "embedding_pq" -> 5,
    "embedding_sq8" -> 3,
    "eval_auc" -> 2,
    "eval_calibration" -> 1,
    // 16 → 17 and 12 → 13 in round 17: nbClassify's corpus side
    // compresses to per-(doc, term) counts before the SHUFFLED grid
    // join (+1 counting exchange, join bytes and the ×|langs| fan
    // shrink 2.33×; A/B won all 3 pairs ~15% on nb_classify).
    "eval_confusion" -> 17,
    // 24 since the round-16 vector-join restructure: +4 vocab-scale
    // re-shuffles in the per-(fold,term) loglik-vector build, against
    // which the ONE corpus-sized exchange shrank 5x (toks joins the
    // vectors once instead of fanning x|langs| through two shuffled
    // joins) — the count metric is byte-blind; the bytes are the
    // point (PLANS.md round-16 eval_cv entry).
    // 24 → 25 in round 17: cvtoks compresses to per-(doc, term) COUNTS
    // inside its memo build (+1 corpus-sized counting exchange), which
    // shrinks every downstream corpus pass ~2.3× at sf0.1 (more on
    // Zipfian corpora) — interleaved A/B won all 3 pairs.
    "eval_cv" -> 25,
    "eval_rank" -> 13,
    "events_anomaly" -> 2,
    "events_anomaly_mad" -> 2,
    "events_attribution" -> 2,
    "events_ema" -> 1,
    "events_funnel" -> 7,
    "events_funnel_conv" -> 3,
    "events_funnel_time" -> 4,
    "events_gapfill" -> 1,
    "events_pageviews" -> 2,
    "events_retention" -> 4,
    "events_rfm" -> 2,
    "events_sessionize" -> 1,
    "events_sliding" -> 1,
    "events_survival" -> 5,
    "events_top_paths" -> 2,
    "events_transitions" -> 3,
    "events_windowed" -> 1,
    "feature_chi2" -> 7,
    "field_selection" -> 0,
    "graph_clustering" -> 8,
    "graph_components" -> 0,
    "graph_hits" -> 18,
    "graph_kcore" -> 1,
    "graph_sssp" -> 0,
    "graph_triangles" -> 10,
    "grep_count" -> 1,
    "grouped_regression" -> 1,
    "grouping_sets_report" -> 1,
    "heavy_hitters" -> 2,
    "ingest_night" -> 0,
    "inverted_index" -> 1,
    "inverted_index_capped" -> 1,
    "itemsim_cf" -> 6,
    "jobcontrol_run" -> 0,
    "join_anti" -> 2,
    "join_asof" -> 1,
    "join_bloom" -> 4,
    "join_broadcast" -> 1,
    "join_editdist" -> 2,
    "join_inner" -> 2,
    "join_interval_overlap" -> 4,
    "join_nearest" -> 1,
    "join_outer" -> 2,
    "join_override" -> 2,
    "join_pointintime" -> 2,
    "join_range" -> 3,
    "join_salted" -> 3,
    "join_semi" -> 2,
    "join_setsim" -> 7,
    "json_extract" -> 0,
    "json_roundtrip" -> 1,
    "key_field_partition" -> 1,
    "knn_classify" -> 2,
    "kv_text_parse" -> 0,
    "line_dedup_profile" -> 4,
    "line_dedup_strip" -> 5,
    "logreg_classify" -> 1,
    "logreg_train" -> 0,
    "matmul_gram" -> 2,
    "mix_by_cluster" -> 6,
    "mix_execute" -> 2,
    "mix_plan" -> 1,
    "mr_map_project" -> 0,
    "mr_reduce_agg" -> 1,
    "mr_secondary_sort" -> 1,
    "mr_secondary_sort_full" -> 1,
    "mr_total_order_sort" -> 1,
    "multimodal_audio" -> 0,
    "multimodal_frame_dedup" -> 4,
    "multimodal_frames" -> 0,
    "multimodal_meta" -> 0,
    "multimodal_scenes" -> 1,
    "multiple_inputs_union" -> 0,
    "named_outputs_roundtrip" -> 2,
    "nb_classify" -> 13,
    "nb_classify_topv" -> 8,
    "nb_train" -> 8,
    "orc_roundtrip" -> 1,
    "pack_sequences" -> 1,
    "pagerank" -> 11,
    "partitioned_prune_join" -> 1,
    "pca_power" -> 2,
    "pentomino_tilings" -> 3,
    "pi_estimate" -> 1,
    "pivot_report" -> 2,
    "profile_table" -> 2,
    "quantile_by_group" -> 1,
    "quantile_by_group_approx" -> 2,
    "quantile_report" -> 1,
    "quantile_report_approx" -> 1,
    "quantile_report_hist" -> 3,
    "random_writer" -> 0,
    "rollup_report" -> 1,
    "sample_reservoir" -> 1,
    "sampling_stratified" -> 1,
    "scd2_dimension" -> 1,
    "scd2_incremental" -> 2,
    "schema_evolution_read" -> 1,
    "search_bm25" -> 6,
    "sequencefile_roundtrip" -> 1,
    "shuffle_shards" -> 1,
    "sketch_cms" -> 2,
    "sketch_kmv" -> 2,
    "sketch_kmv_intersect" -> 12,
    "sketch_kmv_merge" -> 3,
    "span_dedup_exact" -> 5,
    "span_dedup_exact_strip" -> 5,
    "span_dedup_profile" -> 5,
    "span_dedup_strip" -> 5,
    "split_assign" -> 0,
    "sql_frontend" -> 1,
    "streaming_attribution" -> 1,
    "streaming_attribution_ttl" -> 1,
    "streaming_attribution_ttl_rocksdb" -> 1,
    "streaming_available_now" -> 0,
    "streaming_dedup" -> 2,
    "streaming_dedup_rocksdb" -> 2,
    "streaming_funnel" -> 2,
    "streaming_funnel_conv" -> 3,
    "streaming_funnel_conv_rocksdb" -> 3,
    "streaming_funnel_conv_tws" -> 3,
    "streaming_funnel_rocksdb" -> 2,
    "streaming_heavy_hitters" -> 1,
    "streaming_ingest_index" -> 0,
    "streaming_ingest_index_near" -> 0,
    "streaming_join" -> 0,
    "streaming_join_outer" -> 0,
    "streaming_pipe_real" -> 0,
    "streaming_pipe_stub" -> 0,
    "streaming_session_windows" -> 0,
    "streaming_sessionize" -> 1,
    "streaming_sessionize_tws" -> 1,
    "streaming_sink_parquet" -> 0,
    "streaming_sink_versioned" -> 0,
    "streaming_sketch_cms" -> 2,
    "streaming_sliding" -> 0,
    "streaming_static_join" -> 0,
    "streaming_windowed" -> 0,
    "streaming_windowed_append" -> 0,
    "sudoku_solve" -> 1,
    "terasort_validate" -> 3,
    "text_chunk" -> 0,
    "text_clean" -> 0,
    "text_collocations" -> 6,
    "text_fingerprint" -> 1,
    "text_gzip_roundtrip" -> 1,
    "text_langid" -> 0,
    "text_lm_score" -> 8,
    "text_quality" -> 0,
    "text_quality_buckets" -> 9,
    "text_quality_gopher" -> 1,
    "text_readability" -> 0,
    "text_redact" -> 0,
    "text_repetition" -> 1,
    "text_source_roundtrip" -> 1,
    "text_tokens" -> 0,
    "text_tokens_bpe" -> 1,
    "tfidf_topterms" -> 5,
    "topk_per_group" -> 1,
    "topn_global" -> 0,
    "tpch_q1" -> 1,
    "tpch_q10" -> 3,
    "tpch_q11" -> 2,
    "tpch_q12" -> 3,
    "tpch_q13" -> 3,
    "tpch_q14" -> 1,
    "tpch_q15" -> 3,
    "tpch_q16" -> 4,
    "tpch_q17" -> 3,
    "tpch_q18" -> 2,
    "tpch_q19" -> 1,
    "tpch_q2" -> 4,
    "tpch_q20" -> 3,
    "tpch_q21" -> 4,
    "tpch_q22" -> 4,
    "tpch_q3" -> 2,
    "tpch_q4" -> 3,
    "tpch_q5" -> 3,
    "tpch_q6" -> 1,
    "tpch_q7" -> 3,
    "tpch_q8" -> 3,
    "tpch_q9" -> 5,
    "versioned_diff" -> 2,
    "versioned_merge" -> 2,
    "versioned_optimize" -> 2,
    "versioned_roundtrip" -> 2,
    "versioned_vacuum" -> 2,
    "weighted_sample" -> 0,
    "window_ntile" -> 1,
    "window_range_frame" -> 1,
    "window_running" -> 1,
    "winsorize_values" -> 2,
    "word_stats" -> 1,
    "wordcount" -> 1,
    "xml_roundtrip" -> 1,
    "zorder_roundtrip" -> 2
  )
}
