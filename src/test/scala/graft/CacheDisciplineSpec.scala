package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Whole-surface CACHE-WIDTH census — the fifth permanent discipline
  * sweep (round 15), covering the EXECUTOR-STORAGE dimension the
  * other four leave open: scans (IO), shuffles (network), broadcasts
  * (driver/executor heap per task), global windows (partitioning),
  * and now what the persist-or-derive rule MATERIALIZES. The
  * persist rule earns its keep by caching narrow derived relations;
  * its failure mode is caching a PAYLOAD column — raw text, raw
  * embeddings, token/shingle arrays — where the cache costs more
  * than the pass it saves (measured in round 15: persisting
  * join_setsim's exploded shingle relation was 3.28 s against 1.74
  * for deriving from doc-sized set arrays; at 100 TB a text-bearing
  * cache is a second copy of the corpus in executor storage).
  *
  * Census: every DISTINCT cached relation the registered surface
  * builds (deduped globally by CachedRDDBuilder across the sorted
  * query iteration, recursing into cache builds and subqueries —
  * the shuffle-census walk), attributed to the first query that
  * builds it. A cache is FLAGGED when its output schema carries a
  * payload-class column: any array or binary type, or a column
  * literally named text/embedding. Flagged caches must match their
  * pinned (query → flagged-signature MULTISET) entry exactly — a new
  * payload cache (even one duplicating an existing signature, e.g. a
  * second sub:array<double> slice), a widened one, or a removed one
  * all fail until consciously re-pinned. Renamed scalar copies of
  * heavy columns
  * escape the name rule (the broadcast sweep's documented residual);
  * the array/binary TYPE rule has no rename blind spot, and raw
  * text/embedding survive projection under their own names
  * everywhere in this codebase.
  *
  * The pinned caches (9 queries, 10 distinct signatures — the
  * round-15 "eleven" miscounted) are all deliberate: bounded per-doc
  * arrays at the measured-right materialization point (join_setsim
  * sets, containment trigrams, LM tokens), Q-/k-/grid-bounded
  * relations (eval_rank query-term index, heavy-hitters candidate
  * row, PQ codebooks, grouped percentile triples), and the ANN build
  * tiers' vector working sets that Lloyd/PQ training re-reads every
  * iteration.
  */
class CacheDisciplineSpec extends SparkSpecBase {
  import CacheDisciplineSpec._

  /** (query → flagged cache signature multiset) over the whole
    * surface, the dump/spec-shared procedure: global builder dedup in
    * sorted query order, census config AQE-off/auto-broadcast-off. */
  private def sweep(): Map[String, Map[String, Int]] = {
    val seen = ShuffleCensus.identitySet()
    // Signature MULTISET per query: a SECOND payload cache with an
    // identical signature (e.g. another sub:array<double> slice in
    // ann_ivf_pq) must fail the pin, not hide inside a Set.
    val acc = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    surface.census.foreach { case (name, plan) =>
      ShuffleCensus.cacheBuilds(plan, seen).flatMap(flaggedSig).foreach { sig =>
        val m = acc.getOrElse(name, Map.empty)
        acc(name) = m + (sig -> (m.getOrElse(sig, 0) + 1))
      }
    }
    acc.toMap
  }

  test("no registered query persists a payload-class column (pinned whitelist aside)") {
    val observed = sweep()
    val names = (observed.keySet ++ pinned.keySet).toSeq.sorted
    val drift = names.flatMap { name =>
      (observed.get(name), pinned.get(name)) match {
        case (Some(o), Some(p)) if o == p.sigs => None
        case (Some(o), Some(p)) =>
          Some(s"$name flagged-cache drift: observed ${fmt(o)} != pinned ${fmt(p.sigs)}")
        case (Some(o), None) =>
          Some(s"$name persists a payload-class cache, not whitelisted: ${fmt(o)}")
        case (None, Some(_)) =>
          Some(s"$name: pinned but no flagged cache observed (rot — remove/re-pin)")
      }
    }
    assert(drift.isEmpty, s"cache-width violations:\n${drift.mkString("\n")}")
    val gone = pinned.keys.toSeq.sorted.filterNot(SparkEntry.queries.contains)
    assert(gone.isEmpty, s"pins for unregistered queries:\n${gone.mkString("\n")}")
  }

  test("witness: a cache materializing raw text is flagged; a narrow derived cache is not") {
    import org.apache.spark.sql.functions.{col, length}
    // AQE off, as in every census witness: an AdaptiveSparkPlanExec
    // hides its inner tree from the plain collect.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = spark.read.schema("doc_id LONG, text STRING, source STRING, lang STRING")
      .parquet(s"$sfDir/documents.parquet")
    val wide = docs.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val narrow = docs.select(col("doc_id"), length(col("text")).as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wPlan = wide.join(narrow, "doc_id").queryExecution.executedPlan
      val sigs = wPlan.collect { case c: InMemoryTableScanExec => c.relation.cachedPlan }
        .flatMap(flaggedSig)
      assert(sigs.exists(_.startsWith("text:")),
        s"raw-text cache escaped the census (flagged: $sigs)")
      assert(!sigs.exists(_.contains("len")),
        s"narrow derived cache false-positived: $sigs")
    } finally {
      wide.unpersist(); narrow.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", saved)
    }
  }
}

object CacheDisciplineSpec {
  /** A whitelisted payload cache: WHY materializing it is the right
    * trade, and the exact flagged-column signature MULTISET allowed
    * (signature → occurrence count, so a duplicate-signature second
    * cache in the same query is drift, not an escape). */
  final case class PinnedCaches(why: String, sigs: Map[String, Int])

  private def fmt(s: Map[String, Int]): String = s.toSeq.sorted
    .map { case (sig, n) => if (n == 1) sig else s"$sig (x$n)" }
    .mkString("{", " | ", "}")

  /** Flagged-column signature of one cached plan, or None if the
    * cache is payload-free: sorted `name:type` of every array/binary
    * column plus any column literally named text/embedding. */
  def flaggedSig(cached: SparkPlan): Option[String] = {
    val heavy = cached.output.filter { a =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        a.dataType.isInstanceOf[org.apache.spark.sql.types.BinaryType.type] ||
        a.name == "text" || a.name == "embedding"
    }
    if (heavy.isEmpty) None
    else Some(heavy.map(a => s"${a.name}:${a.dataType.simpleString}")
      .sorted.mkString(","))
  }

  /** The justified payload caches (9 queries / 10 distinct
    * signatures, round 15; multiset-pinned since round 16),
    * attributed to the first sorted query that builds each. */
  val pinned: Map[String, PinnedCaches] = Map(
    "ann_ivf" -> PinnedCaches(
      "Lloyd working set: k-means re-reads every vector each " +
        "iteration; persisting the double-converted embeddings trades " +
        "2x embedding bytes for zero per-iteration reconversion — the " +
        "declared build tier (serve twin reads the parquet handoff)",
      Map("emb_d:array<double>,embedding:array<float>" -> 1)),
    "ann_ivf_pq" -> PinnedCaches(
      "PQ training working sets: per-subspace slices (corpus x M rows " +
        "of d/M doubles, re-read per Lloyd iteration) and the M*K-row " +
        "codebook — build tier, never the serve path",
      Map("sub:array<double>" -> 1, "c_emb:array<double>" -> 1)),
    "dedup_containment" -> PinnedCaches(
      "doc trigram SETS consumed by the df aggregation and the " +
        "candidate verify — doc-bounded arrays (~3 words/token each), " +
        "the exact-verify candidate side",
      Map("tri:array<string>" -> 1)),
    "dedup_semdedup" -> PinnedCaches(
      "cluster-assignment relation carrying the vectors: the " +
        "per-cluster centroid-similarity branch needs (vector, cluster, " +
        "sim) together; one row per corpus vector, the SemDeDup shape",
      Map("embedding:array<float>" -> 1)),
    "eval_rank" -> PinnedCaches(
      "query-term forward index: tokens INTERSECTED with the benchmark " +
        "query terms — Q-bounded per doc, not the full text (the " +
        "round-14 7-scans-to-1 restructure's shared relation)",
      Map("qt:array<string>" -> 1)),
    "heavy_hitters" -> PinnedCaches(
      "ONE row of <=cap Misra-Gries candidate strings",
      Map("cands:array<string>" -> 1)),
    "join_setsim" -> PinnedCaches(
      "sorted-distinct shingle set arrays — the MEASURED-right " +
        "materialization point (PLANS.md round 15: persisting the " +
        "exploded shingle relation instead was 2x worse); doc-bounded",
      Map("set:array<string>" -> 1)),
    "quantile_by_group_approx" -> PinnedCaches(
      "three GK percentiles per event type — |event_type| rows of a " +
        "3-element double array",
      Map("pcts:array<double>" -> 1)),
    "text_lm_score" -> PinnedCaches(
      "tokenized docs consumed by LM train AND score branches — same " +
        "byte class as text, the declared one-tokenize price of the " +
        "CCNet tier",
      Map("toks:array<string>" -> 1)))
}
