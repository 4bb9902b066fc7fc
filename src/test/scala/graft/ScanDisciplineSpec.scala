package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Whole-surface scan-amplification guard — the round-14 companion to
  * [[BroadcastDisciplineSpec]]: under AQE-off planning, no registered
  * query may READ A HEAVY COLUMN (text, embedding — the columns that
  * dominate corpus IO at 100 TB) from the same table in two or more
  * scans, unless the query is whitelisted as declared role
  * separation. The class this guards against: a corpus-pass aggregate
  * consumed by k branches re-runs the tokenize k times, because
  * exchange reuse does NOT deduplicate branches whose pushed
  * isnotnull filters canonicalize their scans apart (measured round
  * 14 — zero ReusedExchange at runtime). The fix is the CLAUDE.md
  * persist rule or deriving from a bounded relation; this spec keeps
  * the fixed families fixed and forces every future multi-scan to
  * either share one pass or justify itself in the whitelist.
  *
  * Round 15 additions, per the round-14 verdict and advice:
  * - A FACT tier: events' `value`/`ts` columns (the fact-table bytes
  *   at 100 TB) in a relaxed census — 2 scans allowed (the standard
  *   aggregate-then-join-back verification shape), 3+ flagged. The
  *   funnel chains and the MAD anomaly are the three justified
  *   entries (disjoint pushed step predicates / inherently dependent
  *   exact passes).
  * - PINNED censuses: each whitelist entry declares the exact
  *   table→scan-count map it is allowed; observed != pinned fails in
  *   either direction, so a whitelisted query cannot silently gain a
  *   fourth scan (the boolean-whitelist gap the advice named).
  *
  * Scans whose pushed data filters bound the row count (the serve
  * faces' `vec_id < NumQueries` probes) still count — the whitelist
  * entry states the bound; silent exclusion would let a real
  * amplification hide behind any pushed predicate.
  */
class ScanDisciplineSpec extends SparkSpecBase {
  import ScanDisciplineSpec._

  /** Heavy scans of one query, COUNTING CACHE BUILDS (round 15): a
    * persisted relation hides its build scan inside an
    * InMemoryRelation the plain plan walk never visits, so before
    * this change a query could re-tokenize behind two different memos
    * and census as clean. Each DISTINCT cached relation (deduped by
    * its shared CachedRDDBuilder — four lookups of one cache are ONE
    * build) contributes its cached plan's scans once, recursively —
    * under the bench's cold-cache rule that is exactly the corpus
    * passes the query pays. Subquery plans count too: the census walks
    * the same trees as the shuffle census. */
  private def census(plan: SparkPlan, hit: HeavyRule, floor: Int): Map[String, Int] = {
    def scans(p: SparkPlan): Seq[String] = p.collect {
      case f: FileSourceScanExec if f.requiredSchema.fields.exists(hit) =>
        f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
    }
    ShuffleCensus.reachable(plan).flatMap(scans)
      .groupBy(identity).view.mapValues(_.size).toMap.filter(_._2 >= floor)
  }

  private def sweep(hit: HeavyRule, floor: Int,
      wl: Map[String, PinnedCensus], label: String): Unit = {
    // The census plans have auto-broadcast off as well as AQE (round
    // 15): a size-triggered BroadcastExchange can't reuse against the
    // same subplan's ShuffleExchange, so with auto-broadcast ON the
    // census counts depend on table SIZE (events_funnel read x4 at
    // sf0.001, x3 under the all-shuffle plan) — the pins must be
    // plan-shape facts, not statistics artifacts.
    val offenders = surface.census.flatMap { case (name, plan) =>
      val hot = census(plan, hit, floor)
      wl.get(name) match {
        case None if hot.isEmpty => None
        case None => Some(s"$name: ${fmt(hot)} (not whitelisted)")
        case Some(PinnedCensus(_, sig)) if hot == sig => None
        case Some(PinnedCensus(_, sig)) =>
          // Rot (scan count dropped — remove/re-pin) and regression
          // (a new scan appeared under the entry) both land here.
          Some(s"$name census drift: observed ${fmt(hot)} != pinned ${fmt(sig)}")
      }
    }
    assert(offenders.isEmpty,
      s"$label scan-amplification violations:\n${offenders.mkString("\n")}")
    val gone = wl.keys.toSeq.sorted.filterNot(SparkEntry.queries.contains)
    assert(gone.isEmpty,
      s"$label whitelist entries for unregistered queries:\n${gone.mkString("\n")}")
  }

  test("no registered query reads a heavy column from the same table in 2+ scans (pinned whitelist aside)") {
    sweep(heavy, 2, heavyWhitelist, "heavy-column")
  }

  test("witness: a corpus pass hidden inside a cache build is counted by the census") {
    // The round-15 recursion's reason to exist: before it, a query
    // could re-tokenize behind a memo and census as clean. A plan
    // that scans text once visibly and once inside a persisted
    // relation's build must census at 2.
    import org.apache.spark.sql.functions.{col, length, lit, sum}
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cached = docs.select(col("doc_id"), length(col("text")).as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val visible = docs.select(col("doc_id"), col("text"))
      val plan = visible.join(cached, "doc_id")
      val counted = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        val p = plan.queryExecution.executedPlan
        def scans(q: SparkPlan): Int = q.collect {
          case f: FileSourceScanExec if f.requiredSchema.fieldNames.contains("text") => f
        }.size
        val cachedPlans = p.collect { case c: InMemoryTableScanExec => c.relation.cachedPlan }
        scans(p) + cachedPlans.map(scans).sum
      }
      assert(counted >= 2,
        s"cache-hidden text scan escaped the census (counted $counted)")
      // sanity: the visible-only walk undercounts — the gap this
      // witness pins
      val visibleOnly = plan.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.requiredSchema.fieldNames.contains("text") => f
      }.size
      assert(visibleOnly < counted,
        "expected the cached build scan to be invisible to the plain walk")
      // keep the aggregate meaningful so nothing is optimized away
      assert(plan.agg(sum(lit(1))).collect().head.getLong(0) > 0)
    } finally {
      cached.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("no registered query reads events fact columns (value/ts) in 3+ scans (pinned whitelist aside)") {
    sweep(fact, 3, factWhitelist, "fact-column")
  }

  test("witness: a derived file's RENAMED payload column is counted by the type rule, missed by the name rule") {
    // The round-16 upgrade's reason to exist: embeddings written to a
    // scratch parquet as `embedding AS vec` are the same corpus bytes,
    // and a plan re-scanning that file k times is the amplification
    // class — under the pre-16 name-only rule it censused as clean.
    import org.apache.spark.sql.functions.{col, size => asize}
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = java.nio.file.Files.createTempDirectory("scan_rename_witness")
      .resolve("renamed").toString
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("vec"))
      .write.mode("overwrite").parquet(dir)
    try {
      val a = spark.read.parquet(dir).select(col("vec_id"), asize(col("vec")).as("d"))
      val b = spark.read.parquet(dir).filter(asize(col("vec")) > 0)
        .select(col("vec_id"))
      val plan = a.join(b, "vec_id").queryExecution.executedPlan
      def count(rule: HeavyRule): Int = plan.collect {
        case f: FileSourceScanExec if f.requiredSchema.fields.exists(rule) => f
      }.size
      val nameOnly: HeavyRule = f => f.name == "text" || f.name == "embedding"
      assert(count(heavy) >= 2,
        s"renamed array payload escaped the type rule (counted ${count(heavy)})")
      assert(count(nameOnly) == 0,
        "expected the rename to be invisible to the name-only rule — " +
          "if this starts counting, the witness no longer witnesses")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
    }
  }
}

object ScanDisciplineSpec {
  /** A whitelisted multi-scan: WHY the re-scan is genuinely separate
    * passes, and the PINNED table→count census the query's plan is
    * allowed. */
  final case class PinnedCensus(why: String, sig: Map[String, Int])

  /** Does one scanned file column count as heavy for a tier? */
  type HeavyRule = org.apache.spark.sql.types.StructField => Boolean

  private def fmt(m: Map[String, Int]): String =
    m.toSeq.sorted.map { case (t, n) => s"$t x$n" }.mkString("{", ", ", "}")

  /** Heavy tier (round 16, closing the rename blind spot the r15
    * verdict carried over from the broadcast tier): a scanned column
    * is heavy by NAME (text/embedding — the corpus payload under its
    * own name; a scan's requiredSchema is in FILE-schema terms, so a
    * projection-level rename cannot hide a source-table scan) or by
    * TYPE (any array or binary column, the cache census's rule with
    * no rename blind spot) — which is what covers DERIVED files: a
    * scratch parquet written with `embedding AS vec` or a token/code
    * array under any name re-scanned k times is corpus-scale bytes
    * the name rule missed. Residual, shared verbatim with the cache
    * census: a plain STRING copy of text written to a derived file
    * under another name — no type signal exists for it, and no such
    * write occurs in this codebase (witnessed there, documented
    * here). */
  val heavy: HeavyRule = f =>
    f.name == "text" || f.name == "embedding" ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
      f.dataType == org.apache.spark.sql.types.BinaryType

  /** events' fact columns — a second, relaxed tier (round-14 verdict
    * item 4): the aggregate-then-join-back verification shape costs a
    * legitimate second pass all over the surface, so 2 scans pass
    * silently; 3+ is the amplification class. `ts` also appears in
    * streaming scratch copies — those are EventReplayCap-bounded and
    * never reach 3 scans of one path. Name-only rule: the tier is
    * about the fact table's scalar bytes, not payload arrays. */
  val fact: HeavyRule = f => f.name == "value" || f.name == "ts"

  /** Declared role separations for the heavy (text/embedding) tier.
    * With cache builds counted (round 15), the standard index+apply
    * families census at 2: one build pass materializing the persisted
    * index/model, one apply pass over the raw corpus. Each entry pins
    * that expectation so a third pass fails. */
  val heavyWhitelist: Map[String, PinnedCensus] = Map(
    "nb_classify_topv" -> PinnedCensus(
      "model pass (the top-V cap's count-ordered vocabulary window " +
        "reads the persisted grid, but the capped-grid REBUILD tokenizes) " +
        "+ inference pass (per-doc tokens) — the train-vs-classify role " +
        "split production puts in two tables",
      Map("documents.parquet" -> 4)),
    "nb_classify" -> PinnedCensus(
      "grid-cache build (train tokenize) + inference tokenize — the " +
        "train-vs-classify role split",
      Map("documents.parquet" -> 2)),
    "eval_confusion" -> PinnedCensus(
      "inherits nb_classify's train + inference passes; everything the " +
        "eval layer adds reads the |langs|²-bounded cell cache",
      Map("documents.parquet" -> 2)),
    "assoc_rules" -> PinnedCensus(
      "pair-count build + item-count build (both persisted) — the " +
        "apriori two-job shape the reference itself ran over its input " +
        "twice",
      Map("documents.parquet" -> 2)),
    "corpus_curate" -> PinnedCensus(
      "benchmark n-gram-set build (the suite is carved from documents " +
        "in this testbed; a deployment reads a separate benchmark " +
        "table) + the corpus decontamination pass",
      Map("documents.parquet" -> 2)),
    "dedup_jaccard" -> PinnedCensus(
      "LSH signature-index build (one tokenize, persisted) + the exact " +
        "n-gram verify reading raw text for CANDIDATES only",
      Map("documents.parquet" -> 2)),
    "dedup_containment" -> PinnedCensus(
      "same signature-build + candidate-verify split as dedup_jaccard",
      Map("documents.parquet" -> 2)),
    "dedup_incremental" -> PinnedCensus(
      "stored exact-index build (persisted) + the new-batch probe pass " +
        "— the incremental two-relation contract",
      Map("documents.parquet" -> 2)),
    "dedup_keeper" -> PinnedCensus(
      "cluster-label chain build (the lshBands tokenize, persisted) + " +
        "the keeper-selection quality pass over raw text",
      Map("documents.parquet" -> 2)),
    "dedup_embedding_lsh" -> PinnedCensus(
      "SRP band-index build (persisted) + the exact cosine verify on " +
        "candidates reading raw embeddings",
      Map("embeddings.parquet" -> 2)),
    "heavy_hitters" -> PinnedCensus(
      "MG sketch build + the exact-count pass backing the checked " +
        "tolerance output — the verification-harness second pass",
      Map("documents.parquet" -> 2)),
    "line_dedup_strip" -> PinnedCensus(
      "line-profile build (persisted) + the map-local strip pass",
      Map("documents.parquet" -> 2)),
    "span_dedup_profile" -> PinnedCensus(
      "token-span profile build (persisted) + the covered-set " +
        "computation's second pass",
      Map("documents.parquet" -> 2)),
    "span_dedup_strip" -> PinnedCensus(
      "span profile build + strip pass",
      Map("documents.parquet" -> 2)),
    "span_dedup_exact" -> PinnedCensus(
      "char-window profile build + covered-position pass — the " +
        "declared exact tier",
      Map("documents.parquet" -> 2)),
    "span_dedup_exact_strip" -> PinnedCensus(
      "exact profile build + strip pass",
      Map("documents.parquet" -> 2)),
    "ann_bruteforce" -> PinnedCensus(
      "corpus side + query side of the same embeddings table — separate " +
        "tables in a production serving layout",
      Map("embeddings.parquet" -> 2)),
    "dedup_embedding" -> PinnedCensus(
      "same corpus-vs-query role split as ann_bruteforce",
      Map("embeddings.parquet" -> 2)),
    "ann_pq_serve" -> PinnedCensus(
      "one full re-rank fetch + the query-side reads (vec_id < Q pushed " +
        "to the scan — Q-row bounded) + the cached ADC table's Q-filtered " +
        "build read; the four per-subspace lookups share the one cache",
      Map("codes" -> 3)),
    "ann_ivf_pq_serve" -> PinnedCensus(
      "same as ann_pq_serve plus the Q-bounded coarse-probe read",
      Map("codes" -> 4)),
    "ann_ivf_serve" -> PinnedCensus(
      "the persisted assignments artifact read as the cluster-pruned " +
        "CANDIDATE side and as the Q-bounded QUERY side (vec_id < Q " +
        "pushed to the scan) — the serve layout's two roles",
      Map("assignments" -> 2)),
    "knn_classify" -> PinnedCensus(
      "same corpus-vs-query role split as ann_bruteforce",
      Map("embeddings.parquet" -> 2)))

  /** Declared multi-pass shapes for the events fact tier (3+ scans). */
  val factWhitelist: Map[String, PinnedCensus] = Map(
    "events_funnel" -> PinnedCensus(
      "three scans with DISJOINT pushed event_type predicates " +
        "(view/click/purchase) — combined they read each event at most " +
        "once, and a production layout partitioned by event_type prunes " +
        "each step scan to its slice; not amplification",
      Map("events.parquet" -> 3)),
    "events_funnel_time" -> PinnedCensus(
      "the funnel chain's exact three disjoint step scans — same " +
        "justification as events_funnel",
      Map("events.parquet" -> 3)),
    "events_anomaly_mad" -> PinnedCensus(
      "med → MAD → classify are three INHERENTLY dependent exact " +
        "passes (MAD's percentile needs med first; the classify needs " +
        "both) — the declared exact-tier price, each pass reading only " +
        "the 3-column projection; the approx swap (grouped GK twin) is " +
        "the one-pass-less scale tier",
      Map("events.parquet" -> 3)))
}
