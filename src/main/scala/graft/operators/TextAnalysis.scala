package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM data pipelines (SURVEY §2.4
  * #48–51): language ID, quality scoring, token counting, document
  * fingerprinting. All pure `functions._` column algebra — one
  * codegen stage per document, no shuffle at all (the natural shape
  * for per-document scoring at 100 TB: map-only, scan-bound).
  */
object TextAnalysis {

  /** #48 Language ID: marker-word occurrence scores per language,
    * argmax with fixed tie-break order (deterministic heuristic). */
  def langid(s: SparkSession, dir: String): DataFrame = {
    val scored = langMarkers.foldLeft(Tables.documents(s, dir)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang", langScore(col("text"), markers))
    }
    val best = langMarkers.map(_._1).foldRight(lit("und")) {
      case (lang, acc) =>
        val isMax = langMarkers.map(_._1).filter(_ != lang)
          .map(o => col(s"score_$lang") >= col(s"score_$o"))
          .reduce(_ && _)
        when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(acc)
    }
    scored.select(
      col("doc_id"),
      col("score_en"), col("score_de"), col("score_fr"),
      col("score_es"), col("score_zh"),
      best.as("lang_pred"))
  }

  /** #49f Flesch Reading Ease — the classic readability score a
    * quality pipeline reports next to the heuristic/Gopher/LM tiers:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * with syllables approximated as VOWEL RUNS (the standard
    * regex-tier approximation; a production scorer swaps in a
    * hyphenation dictionary at the same seam) and sentences as
    * terminal-punctuation runs, floored at 1 so headline-like
    * fragments still score. Pure map-side: three regexp counts per
    * doc feeding one fixed double expression — exact integer inputs,
    * literals written identically in the oracle, round 4. */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val words = size(tokens(col("text")))
    val sentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
    val syllables = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
    Tables.documents(s, dir)
      .select(col("doc_id"), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
          .as("flesch"))
  }

  /** #49 Quality scoring: length / punctuation / stopword / repetition
    * signals with a composite keep/drop flag. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nToks = size(toks)
    val nPunct = length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
    val stop = Seq("the", "a", "and", "of", "to", "in")
    val nStop = stop.map(m => occurrences(concat(lit(" "), lower(col("text")), lit(" ")), s" $m ")
      .cast("int")).reduce[Column](_ + _)
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars_actual"),
      nToks.as("n_tokens"),
      round(nPunct.cast("double") / greatest(length(col("text")), lit(1)), 4).as("punct_ratio"),
      round(nStop.cast("double") / greatest(nToks, lit(1)), 4).as("stopword_ratio"),
      round(size(array_distinct(toks)).cast("double") / greatest(nToks, lit(1)), 4).as("uniq_ratio"),
      (length(col("text")) >= 50 && nToks >= 10).as("quality_keep"))
  }

  /** #50 Token counting: whitespace tokens + BPE-ish regex tokens. */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      bpeTokenCount(col("text")).as("bpe_tokens"),
      round(length(col("text")).cast("double") /
        greatest(bpeTokenCount(col("text")), lit(1)), 4).as("chars_per_token"))

  /** #55 Repetition scoring (Gopher-style quality signal): fraction
    * of the document covered by its single most-repeated trigram.
    * One pass per doc via the codegen'd
    * [[graft.plans.RepetitionStats]] expression (per-doc trigram
    * counts stay in an array-local hash map — no trigram explosion,
    * no shuffle at all). The `explode(array(...))` wrapper puts the
    * expression behind a Generate boundary so CollapseProject can't
    * re-inline it once per consuming column. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    Tables.spread(s, Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"),
        explode(array(graft.plans.GraftFunctions.repetition_stats(lower(col("text"))))).as("rs"))
      .select(col("doc_id"),
        col("rs.n_trigrams").as("n_trigrams"),
        col("rs.max_tri_count").as("max_tri_count"),
        round(col("rs.max_tri_count").cast("double") / col("rs.n_trigrams"), 4)
          .as("repetition_ratio"))
  }

  /** #49b CCNet-style statistical LM quality scoring (Wenzek et al.
    * 2019, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data"): a token-bigram LM with add-1/2 smoothing is
    * trained ON the corpus itself in one pass (unigram + bigram
    * counts), then every document is scored by the average negative
    * log-likelihood of its bigrams under that LM — low `avg_nll` ≈
    * fluent corpus-typical text, high ≈ junk; the score CCNet
    * thresholds into head/middle/tail quality buckets.
    *
    * Scale: the gram-count relations are corpus-vocabulary-sized at
    * 100 TB — NOT broadcastable. The plan hash-joins the per-doc
    * bigram relation against the bigram- and unigram-count tables on
    * their gram keys (AQE broadcasts them at test SF; at scale they
    * shuffle, and the bigram join reuses the count agg's hash
    * partitioning), then one doc-keyed aggregation; only the 1-row
    * vocabulary size is explicitly broadcast. FP determinism: each
    * bigram's nll is a pure function of exact integer counts; the
    * per-doc double sum is rounded to 4 decimals, which absorbs both
    * summation order and last-ulp `log` library differences (the
    * house irrational-average rule — boundary collisions are
    * measure-zero, unlike products of 2-decimal payments).
    *
    * P(w2|w1) = (c(w1,w2) + 1/2) / (c(w1) + V/2), V = |vocabulary|.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    lmScoreOf(Tables.documents(s, dir))

  /** Operator core over any (doc_id, text) relation — the surface the
    * randomized naive-reference spec exercises. The tokenized view
    * and the per-doc bigram relation are each consumed twice (counts
    * + scoring join), so both persist under the house cache rule. */
  def lmScoreOf(docs: DataFrame): DataFrame = {
    val toks = persistedLmRel(docs
      .select(col("doc_id"), tokens(col("text")).as("toks")))
    val big = persistedLmRel(toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val uni = toks.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val perDoc = big
      .join(bc, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll",
        -log((col("cb") + lit(0.5)) / (col("c1") + lit(0.5) * col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("nll")).as("snll"))
    toks.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        round(col("snll") / col("nb"), 4).as("avg_nll"))
  }

  /** #49e CCNet head/middle/tail quality bucketing (Wenzek et al.
    * 2019 §4.3 — the step after [[lmScore]]): split the corpus into
    * terciles of the LM score and label each doc `head` (most
    * fluent), `middle`, or `tail`; CCNet trains on head+middle and
    * drops tail. Thresholds are the EXACT 1/3 and 2/3 percentiles of
    * `avg_nll` (the Spark `percentile` ↔ DuckDB `quantile_cont`
    * parity the quantile tier proved), computed once as a 1-row
    * broadcast relation and compared map-side — no global sort, no
    * single-partition window: the 100 TB shape is two tiny
    * aggregation passes plus a map-only classify, and a deployment
    * that can't afford the exact percentile swaps in the
    * approx/histogram quantile tier without touching the classify.
    * Sub-bigram docs carry no score and label `unscored`. Thresholds
    * round at 4 like every quantile face, so the boundary
    * comparisons sit on bit-equal doubles cross-engine. */
  def lmBuckets(s: SparkSession, dir: String): DataFrame = {
    val sc = persistedLmRel(lmScore(s, dir))
    val th = broadcast(sc.filter(col("n_bigrams") > 0).agg(
      round(expr("percentile(avg_nll, 1.0/3)"), 4).as("t1"),
      round(expr("percentile(avg_nll, 2.0/3)"), 4).as("t2")))
    sc.crossJoin(th)
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"),
        when(col("n_bigrams") === 0, "unscored")
          .when(col("avg_nll") <= col("t1"), "head")
          .when(col("avg_nll") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  private def persistedLmRel(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.liveCaches.put(s"lmscore|${System.identityHashCode(p)}", p)
    p
  }

  /** Gopher rule-table stop list (Rae et al. 2021, appendix A1.1):
    * a keeper document must contain at least [[GopherMinStopHits]]
    * DISTINCT words from this list. */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinStopHits = 2

  /** #49c Gopher quality-rule table (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", appendix A1.1 — the rule set RefinedWeb/Dolma/FineWeb
    * reuse): per-document signals plus the conjunctive keep flag.
    * Rules: word count in [50, 100k]; mean word length in [3, 10];
    * symbol-to-word ratio ('#' or '...') ≤ 0.1; < 90% of lines
    * bullet-started; ≤ 30% of lines ellipsis-ended; ≥ 80% of words
    * contain a letter; ≥ 2 distinct stop words.
    *
    * Reference analogue: the record-level filter stage of a
    * streaming/MapReduce quality pass (`mapred/lib/FieldSelection` +
    * counter-driven drop decisions) — here the whole rule table is
    * one map-only codegen stage, no shuffle at all (the 100 TB shape:
    * scan-bound, rides the same pass that tokenizes).
    *
    * The registered query runs over [[Curation.relined]] (the
    * synthetic corpus is single-line; same harness adaptation as the
    * line-dedup tier — the operator core consumes ANY \n-framed
    * (doc_id, text) relation and the spec exercises every rule's
    * failure path on crafted multi-line docs). All comparisons sit
    * on exact int/int divisions, so the keep flag is bit-identical
    * cross-engine; displayed ratios are rounded to 4. */
  def gopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherQualityOf(Curation.relined(s, dir))

  /** Operator core over any (doc_id, text) relation with \n line
    * framing — what the per-rule spec exercises directly. */
  private[graft] def gopherQualityOf(docs: DataFrame): DataFrame = {
    val withArrays = docs.select(
      col("doc_id"), col("text"),
      tokens(col("text")).as("t"),
      filter(split(col("text"), "\n", -1), l => length(l) > 0).as("ls"))
    val nWords = size(col("t"))
    val nLines = greatest(size(col("ls")), lit(1))
    // total word chars as length of the separator-free concatenation
    // (array_join ≡ DuckDB array_to_string — no list_sum needed)
    val meanLen = length(array_join(col("t"), "")).cast("double") /
      greatest(nWords, lit(1))
    val symbols = occurrences(col("text"), "#") + occurrences(col("text"), "...")
    val symbolRatio = symbols.cast("double") / greatest(nWords, lit(1))
    val bulletRatio = size(filter(col("ls"),
      l => l.like("- %") || l.like("* %") || l.like("• %")))
      .cast("double") / nLines
    val ellipsisRatio = size(filter(col("ls"),
      l => l.like("%...") || l.like("%…"))).cast("double") / nLines
    val alphaRatio = size(filter(col("t"), w => w.rlike("[a-z]")))
      .cast("double") / greatest(nWords, lit(1))
    val stopHits = gopherStops
      .map(w => when(array_contains(col("t"), w), 1).otherwise(0))
      .reduce[Column](_ + _)
    withArrays.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(bulletRatio, 4).as("bullet_line_ratio"),
      round(ellipsisRatio, 4).as("ellipsis_line_ratio"),
      round(alphaRatio, 4).as("alpha_word_ratio"),
      stopHits.as("n_stop_hits"),
      (nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3 && meanLen <= 10 &&
        symbolRatio <= 0.1 &&
        bulletRatio < 0.9 &&
        ellipsisRatio <= 0.3 &&
        alphaRatio >= 0.8 &&
        stopHits >= GopherMinStopHits).as("gopher_keep"))
  }

  /** #52 Text normalization/cleaning: collapse whitespace, strip
    * control chars, trim — the canonicalization step every dedup
    * pipeline runs before hashing. Map-only, no shuffle. */
  def clean(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      trim(regexp_replace(regexp_replace(col("text"), "[\\x00-\\x1f]", " "),
        " +", " ")).as("text_clean"),
      length(trim(regexp_replace(regexp_replace(col("text"), "[\\x00-\\x1f]", " "),
        " +", " "))).as("n_chars_clean"))

  /** #53 PII-style redaction: pattern-mask email/phone/id-like spans
    * (regex-only stand-in for the NER tier). Map-only. */
  def redact(s: SparkSession, dir: String): DataFrame = {
    val masked = regexp_replace(
      regexp_replace(col("text"),
        "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")
    Tables.documents(s, dir).select(
      col("doc_id"),
      masked.as("text_redacted"),
      (length(masked) - length(regexp_replace(masked, "<NUM>|<EMAIL>", "")))
        .cast("int").as("masked_chars"))
  }

  /** #54 Chunking: fixed-width character windows with stride — the
    * training-example segmentation step. The window arithmetic stays
    * array-local (sequence + substring inside one codegen stage) and
    * explodes to one row per chunk; no shuffle. */
  def chunk(s: SparkSession, dir: String): DataFrame = {
    val width = 200
    val stride = 150
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), greatest(length(col("text")) - (width - stride), lit(1)), lit(stride)),
          i => substring(col("text"), i, lit(width)))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        col("col").as("chunk"), length(col("col")).as("chunk_chars"))
  }

  /** #51 Document fingerprinting: min/max over the rolling 8-shingle
    * md5 window (the MinHash primitive as a standalone fingerprint).
    * One pass per doc via the codegen'd [[graft.plans.FpMinMax]]
    * expression — the former `array_min`/`array_max` over two
    * `transform(..., md5)` arrays hashed every shingle twice (the
    * arrays are separate expressions after CollapseProject), and
    * compares raw digests instead of hex strings. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.spread(s, Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"),
        explode(array(graft.plans.GraftFunctions.fp_minmax(lower(col("text"))))).as("fp"),
        md5(col("text")).as("fp_exact"))
      .select(col("doc_id"), col("fp.fp_min").as("fp_min"),
        col("fp.fp_max").as("fp_max"), col("fp_exact"))
  }

  /** #55b Corpus DIVERGENCE report — distribution drift between each
    * language slice and the rest of the corpus, the monitoring
    * primitive a training-mix pipeline alarms on (did this source's
    * token distribution move?). Per lang: Laplace-smoothed unigram
    * distributions p (slice) and q (complement) over the full
    * vocabulary grid (langs x vocab built by a vocab-sized cross
    * join, so zero-count cells exist — smoothing (+1)/(T+V) keeps
    * every term finite), then three divergences: KL(p||q), KL(q||p)
    * (ln-based, per-term contributions accumulated in
    * DECIMAL(28,12) so partition order never reorders FP addition)
    * and total-variation distance (pure rational arithmetic — the
    * correctly-rounded tier, same reasoning as tfidf's rational
    * idf). One exploded-token agg is the only corpus-sized pass;
    * everything after is vocab-sized. Reference analogue: the
    * counter-matrix comparison jobs built on lib/aggregate
    * ValueHistogram pairs. */
  def corpusDivergence(s: SparkSession, dir: String): DataFrame = {
    // PERSISTED (house cache rule, round 14): the lang×vocab-bounded
    // count relation feeds four branches (vocab totals, lang totals,
    // the lang list, the grid join) and exchange reuse does not
    // deduplicate them — without the memo each branch re-ran the
    // corpus tokenize. One corpus pass per session/SF.
    val counts = Dedup.memo(s, "divcounts", dir)(Tables.documents(s, dir)
          .select(col("lang"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val vocabTotals = counts.groupBy(col("tok")).agg(sum(col("c")).as("c_all"))
    val langTotals = counts.groupBy(col("lang")).agg(sum(col("c")).as("t_in"))
    val vocabSize = vocabTotals.agg(count(lit(1)).as("v"),
      sum(col("c_all")).as("t_all"))
    // full lang x vocab grid so zero-count cells participate — the
    // cross broadcasts the LANG side (label-bounded); vocabTotals is
    // vocab-sized = corpus-derived and must never broadcast (the
    // nb_classify rule)
    val grid = vocabTotals
      .crossJoin(broadcast(counts.select(col("lang")).distinct()))
      .join(counts, Seq("lang", "tok"), "left")
      .withColumn("c_in", coalesce(col("c"), lit(0L)))
      .withColumn("c_out", col("c_all") - col("c_in"))
      .join(broadcast(langTotals), "lang")
      .crossJoin(broadcast(vocabSize))
    val p = (col("c_in") + lit(1L)).cast("double") / (col("t_in") + col("v")).cast("double")
    val q = (col("c_out") + lit(1L)).cast("double") /
      (col("t_all") - col("t_in") + col("v")).cast("double")
    grid
      .withColumn("p", p).withColumn("q", q)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum((col("p") * log(col("p") / col("q"))).cast("decimal(28,12)"))
          .cast("double"), 6).as("kl_fwd"),
        round(sum((col("q") * log(col("q") / col("p"))).cast("decimal(28,12)"))
          .cast("double"), 6).as("kl_rev"),
        round(sum(abs(col("p") - col("q")).cast("decimal(28,12)"))
          .cast("double") / 2.0, 6).as("tv_dist"))
  }
}
