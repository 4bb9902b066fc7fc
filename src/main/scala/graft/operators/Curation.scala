package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators (SURVEY §2.4 #56–61): the steps between
  * "raw crawl" and "training shards" that a large-scale pipeline runs
  * after dedup/quality — benchmark decontamination, leakage-safe split
  * assignment, deterministic shard shuffling, per-stratum reservoir
  * sampling, inverse-document-frequency term scoring, and
  * duplicate-cluster keeper selection.
  *
  * Reference semantics: these extend the Hadoop aggregate/partition
  * library patterns (`lib/aggregate`, `lib/partition/InputSampler`,
  * TeraSort's deterministic ordering) to the LLM-data-pipeline tier
  * the brief mandates. Everything is declarative DataFrame algebra —
  * hashes are md5 so every operator stays DuckDB-oracle-checkable.
  */
object Curation {

  /** Every doc_id ≡ 0 (mod [[BenchMod]]) stands in for the held-out
    * eval/benchmark set — in production this is a separate small
    * relation (MMLU/GSM8K/... serialized to n-grams). Mod 7 (not a
    * rarer slice) so the synthetic corpus's planted near-dups
    * actually straddle the boundary and the overlap join has
    * non-trivial hits to verify. */
  val BenchMod = 7
  val GramW = 5

  /** #56 Benchmark decontamination: flag corpus docs sharing any
    * [[GramW]]-token n-gram with the benchmark set (the standard
    * train-set contamination check run before every pretraining job).
    *
    * Scale shape: n-grams never leave their doc row (array-local
    * build + distinct) until the explode, and the exploded rows are
    * 40-byte (doc_id, md5) pairs aggregated per doc right after the
    * join. The benchmark side is tiny (eval suites are MBs, not TBs)
    * → broadcast hash join against it; at 100 TB the same relation
    * feeds a bloom filter for a pre-join prune — the exact-join
    * verify here is the semantics the bloom path must preserve. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = gramRelation(s, dir)
    val bench = grams.filter(col("doc_id") % BenchMod === 0)
      .select(col("h")).distinct()
    val hits = grams.filter(col("doc_id") % BenchMod =!= 0)
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    overlapReport(s, dir, hits)
  }

  /** Distinct [[GramW]]-token n-gram md5s per doc — one relation for
    * both sides of the contamination join. Docs with < GramW tokens
    * contribute nothing (a partial window is not an n-gram); grams
    * never leave their doc row (array-local build + distinct) until
    * the explode into 40-byte (doc_id, md5) pairs.
    *
    * Persisted (house cache rule, same as [[Dedup.lshBands]]): every
    * consumer joins the relation against an aggregate of ITSELF
    * (bench vs corpus split, df counts), so uncached the tokenize +
    * per-gram md5 pass — the expensive part — runs once per side;
    * at 100 TB this is the "gram index" intermediate a
    * decontamination run materializes anyway. */
  private def gramRelation(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "grams", dir)({
      val toks = Tables.spread(s, Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      toks.filter(size(col("toks")) >= GramW)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (GramW - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(GramW))))))).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** #65 Duplicate-n-gram profile (Gopher/RefinedWeb quality signal,
    * Rae et al. 2021 §A1.1): per doc, the fraction of its distinct
    * [[GramW]]-token n-grams that also occur in ≥1 OTHER document —
    * high values mark boilerplate/templated text that survives
    * doc-level dedup. Reuses [[gramRelation]]; one document-frequency
    * aggregation over the 40-byte gram rows + a join-back, both
    * partial+final — linear in corpus grams, no quadratic stage.
    * Per-doc duplicate grams count df ≥ 2 (the doc's own occurrence
    * plus at least one other). */
  def dupNgramProfile(s: SparkSession, dir: String): DataFrame = {
    val grams = gramRelation(s, dir)
    val freq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    grams.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 4)
          .as("dup_frac"))
  }

  val LineTokens = 8

  /** Re-lined corpus view for the line-dedup tier: the synthetic
    * corpus is single-line (no '\n' anywhere in `documents.text`), so
    * the registered line-dedup queries run over a deterministic
    * re-lining — fixed [[LineTokens]]-token lines joined by '\n'.
    * This is harness adaptation, not operator semantics: the
    * operators themselves ([[lineProfileOf]]/[[lineStripOf]]) consume
    * ANY (doc_id, text) relation whose text uses '\n' framing, and
    * the spec exercises them on real multi-line documents. Map-only
    * (tokenize + window + join back to a string) — no shuffle. */
  private[graft] def relined(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) < 1, lit(""))
          .otherwise(array_join(transform(
            sequence(lit(1), size(col("toks")), lit(LineTokens)),
            i => concat_ws(" ", slice(col("toks"), i, lit(LineTokens)))), "\n"))
          .as("text"))

  /** (doc_id, line_no, md5(line)) for every non-empty line — the
    * text is consumed in the scan projection (split + md5 are
    * array-local), so only 40-byte hash rows ever reach an exchange,
    * the same no-text-shuffle rule [[Dedup.exact]] plan-asserts.
    * line_no is the 0-based index in the FULL split (empty lines keep
    * their slot), so strip can re-address lines map-side. */
  private def lineHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("line_no", "line")))
      .filter(length(col("line")) > 0)
      .select(col("doc_id"), col("line_no"), md5(col("line")).as("h"))

  /** Corpus line-hash relation, persisted (house cache rule): both
    * line-dedup queries consume it twice (df aggregation + join-back),
    * and uncached the tokenize + re-line + md5 pass would run per
    * consumer. At 100 TB this is the "line index" a CCNet-style run
    * materializes anyway — hash rows only, never text. */
  private def corpusLines(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "lines", dir)(lineHashes(relined(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def lineProfileFrom(lines: DataFrame): DataFrame = {
    val freq = lines.groupBy(col("h")).agg(count(lit(1)).as("df"))
    lines.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        round(col("n_dup_lines").cast("double") / col("n_lines").cast("double"), 4)
          .as("dup_frac"))
  }

  private def lineStripFrom(docs: DataFrame, lines: DataFrame): DataFrame = {
    val freq = lines.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val dup = lines.join(freq, "h").filter(col("df") >= 2)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("line_no"))).as("dup_nos"))
    val noDups = array().cast("array<int>")
    docs.join(broadcast(dup), Seq("doc_id"), "left")
      .withColumn("ls", split(col("text"), "\n", -1))
      // Complement via array_except (hash-set membership, one probe
      // per line) instead of a per-line array_contains scan of
      // dup_nos — O(lines + |dups|) per doc, not O(lines·|dups|).
      // Both sides of the except are distinct ascending ints and
      // array_except preserves left order, so kept order is the
      // document's line order exactly as the filter produced it.
      // The size >= 1 guard matches spanStripFrom: split(_, "\n", -1)
      // can't return an empty array today, but sequence(0, -1)
      // DESCENDS, so the invariant must not be load-bearing here.
      .withColumn("keep", filter(
        transform(array_except(
            when(size(col("ls")) >= 1,
              sequence(lit(0), size(col("ls")) - 1)).otherwise(noDups),
            coalesce(col("dup_nos"), noDups)),
          i => element_at(col("ls"), i + 1)),
        l => length(l) > 0))
      .select(col("doc_id"),
        size(filter(col("ls"), l => length(l) > 0)).as("n_lines"),
        size(col("keep")).as("n_kept"),
        md5(array_join(col("keep"), "\n")).as("kept_md5"))
  }

  /** #66 Line-level duplicate profile (CCNet/RefinedWeb record tier):
    * per doc, how many of its non-empty lines occur ≥ 2 times
    * corpus-wide — the boilerplate signal (recurring headers/footers/
    * nav text) that whole-doc dedup (md5/minhash/simhash) structurally
    * cannot see. Same hash-df dataflow as [[dupNgramProfile]] at line
    * granularity: one df aggregation over 40-byte (doc_id, line_no,
    * md5) rows + a join-back, both partial+final — linear in corpus
    * lines, text never enters an exchange.
    *
    * Reference semantics: the record-level map transform tier of
    * Hadoop streaming/`lib/fieldsel` (per-record key extraction →
    * corpus-wide count → per-doc report), applied to the LLM-curation
    * line-dedup stage (Wenzek et al. 2020 §3.1 run it corpus-wide
    * before doc-level dedup). */
  def lineDedupProfile(s: SparkSession, dir: String): DataFrame =
    lineProfileFrom(corpusLines(s, dir))

  /** #67 Line-level dedup STRIP: rewrite each doc keeping only lines
    * with corpus-wide occurrence count < 2 (every copy of a duplicated
    * line is dropped — order-free and deterministic, the strictest
    * CCNet variant). Emits (doc_id, n_lines, n_kept, md5(kept_text))
    * — the md5 stands in for the rewritten body so the exchange and
    * the result stay text-free and DuckDB-checkable.
    *
    * Scale shape: the dup line-number relation is (doc_id, int array)
    * for docs with ≥1 duplicated line — compact next to the corpus,
    * broadcast here; the rewrite itself is map-side (split + indexed
    * filter + rejoin inside codegen), so document text NEVER crosses
    * an exchange (plan-asserted in CurationSpec). At 100 TB with
    * billions of flagged docs the broadcast becomes a doc_id-keyed
    * sort-merge join — text then moves through exactly ONE exchange,
    * the unavoidable corpus-rewrite pass (doc_id-bucketed storage
    * removes even that). */
  def lineDedupStrip(s: SparkSession, dir: String): DataFrame =
    lineStripFrom(relined(s, dir), corpusLines(s, dir))

  /** Operator cores over any '\n'-framed (doc_id, text) relation —
    * the real line-dedup semantics the spec exercises on multi-line
    * documents (shared boilerplate, within-doc repeats, empty lines,
    * all-dup docs). */
  def lineProfileOf(docs: DataFrame): DataFrame = lineProfileFrom(lineHashes(docs))
  def lineStripOf(docs: DataFrame): DataFrame = lineStripFrom(docs, lineHashes(docs))

  /** Tokenized corpus view shared by the span-dedup tier: (doc_id,
    * toks). Tokenization happens in the scan projection; the array
    * never crosses an exchange in any consumer. */
  private def corpusToks(s: SparkSession, dir: String): DataFrame =
    tokensOf(Tables.spread(s, Tables.documents(s, dir), "doc_id"))

  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  /** POSITIONAL gram relation over a tokenized view: (doc_id, pos, h)
    * for EVERY [[GramW]]-token window — pos is the 0-based token index
    * of the window start, and unlike [[gramRelation]]'s distinct set,
    * within-doc repeats keep all their positions (suffix-array
    * semantics: a span repeated anywhere, including inside one doc,
    * is a duplicate span). The md5 is built array-locally in the scan
    * projection, so only 44-byte (doc_id, pos, h) rows reach an
    * exchange. */
  private def posGrams(toksDf: DataFrame): DataFrame =
    toksDf.filter(size(col("toks")) >= GramW)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("toks")) - (GramW - 1)),
        i => md5(concat_ws(" ", slice(col("toks"), i, lit(GramW))))))
        .as(Seq("pos", "h")))

  /** Per-doc COVERED token positions — the merged duplicate spans:
    * every token index inside a gram window whose hash occurs ≥ 2
    * times corpus-wide. Overlapping/adjacent windows merge for free
    * because coverage is a position SET (sorted int array per flagged
    * doc). The expansion from dup window starts to positions happens
    * array-locally before the per-doc aggregation, so the exchange
    * carries one row per duplicated window, not [[GramW]] of them. */
  private def coveredPositions(pg: DataFrame): DataFrame = {
    val freq = pg.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    pg.join(freq, "h").filter(col("cnt") >= 2)
      .select(col("doc_id"), sequence(col("pos"), col("pos") + (GramW - 1)).as("ivl"))
      .groupBy(col("doc_id"))
      .agg(sort_array(array_distinct(flatten(collect_list(col("ivl"))))).as("cov"))
  }

  private def spanProfileFrom(toksDf: DataFrame, covered: DataFrame): DataFrame =
    toksDf.join(broadcast(covered), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).as("n_dup_tokens"))
      .withColumn("dup_frac",
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(col("n_dup_tokens").cast("double") / col("n_tokens").cast("double"), 4)))

  private def spanStripFrom(toksDf: DataFrame, covered: DataFrame): DataFrame = {
    val noCov = array().cast("array<int>")
    // Kept token indexes = 0..n-1 minus the covered set, via
    // array_except's hash-set complement — O(n + |cov|) per doc
    // where the per-token array_contains probe was O(n·|cov|).
    // sequence(0, -1) DESCENDS (the adjacent-pair gotcha): empty
    // docs get an explicitly empty index list.
    val allIdx = when(size(col("toks")) >= 1,
      sequence(lit(0), size(col("toks")) - 1)).otherwise(noCov)
    toksDf.join(broadcast(covered), Seq("doc_id"), "left")
      .withColumn("keep",
        transform(array_except(allIdx, coalesce(col("cov"), noCov)),
          i => element_at(col("toks"), i + 1)))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("keep")).as("n_kept"),
        md5(array_join(col("keep"), " ")).as("kept_md5"))
  }

  /** Persisted positional gram relation for the corpus queries (house
    * cache rule): both span queries consume it twice (occurrence-count
    * aggregation + join-back), and at 100 TB this is the positional
    * k-gram index the substring-dedup pass materializes anyway —
    * hash rows only, never text. */
  private def corpusPosGrams(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "posgrams", dir)(posGrams(corpusToks(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** #68 Substring-level duplicate-SPAN profile (the positional-k-gram
    * approximation of Lee et al. 2022's suffix-array tier —
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): per doc, how many of its tokens sit inside a
    * ≥ [[GramW]]-token span that occurs ≥ 2 times corpus-wide
    * (within-doc repeats included). This is the dedup granularity
    * BETWEEN whole-doc ([[Dedup.exact]]/minhash) and line-level
    * ([[lineDedupProfile]]): repeated boilerplate SPANS inside
    * otherwise-unique prose, which neither coarser tier can see.
    *
    * Scale shape: one df-style occurrence count over 44-byte
    * positional gram rows + a join-back + a per-doc int-array
    * aggregation — linear in corpus tokens, text never enters an
    * exchange (plan-asserted in CurationSpec). The suffix array of the
    * paper finds spans of ANY length ≥ threshold; the positional-gram
    * approximation catches exactly the spans ≥ [[GramW]] tokens (a
    * repeated span of length L ≥ GramW covers L−GramW+1 repeated
    * windows whose union reconstructs the span), at the cost of
    * missing shorter repeats — the standard Spark-native trade. */
  def spanDedupProfile(s: SparkSession, dir: String): DataFrame =
    spanProfileFrom(corpusToks(s, dir), coveredPositions(corpusPosGrams(s, dir)))

  /** #68b Substring-level span STRIP: rewrite each doc dropping every
    * token inside a duplicated span (every copy goes — the same
    * strictest-variant rule as [[lineDedupStrip]], one granularity
    * down). Emits (doc_id, n_tokens, n_kept, md5(kept tokens joined
    * by ' ')) so the exchange and the result stay text-free and
    * DuckDB-checkable.
    *
    * Scale shape: the covered-position relation is (doc_id, sorted
    * int array) for flagged docs only — compact next to the corpus,
    * broadcast here; the rewrite is map-side (indexed array filter +
    * rejoin inside codegen), so document text NEVER crosses an
    * exchange. At billions of flagged docs the broadcast becomes a
    * doc_id-keyed sort-merge join — the same documented fallback as
    * [[lineDedupStrip]]. */
  def spanDedupStrip(s: SparkSession, dir: String): DataFrame =
    spanStripFrom(corpusToks(s, dir), coveredPositions(corpusPosGrams(s, dir)))

  /** Character-window width for the EXACT substring-dedup tier
    * (#68c): the Lee et al. 2022 suffix-array length threshold (50
    * UTF-8 chars there, trained-corpus scale; 25 here, proportioned
    * to this corpus's ~300-char documents so the tier has real work
    * to witness). */
  val SpanMinChars = 25

  /** #68c Substring-duplicate profile, EXACT (suffix-array-semantics)
    * tier: per doc, how many of its CHARACTERS sit inside a
    * ≥ [[SpanMinChars]]-char span occurring ≥ 2 times corpus-wide
    * (within-doc repeats included) — exactly the duplicated-substring
    * definition of Lee et al. 2022's suffix-array pass, which the
    * token-positional tier (#68) only approximates: a duplicated span
    * of 2–4 tokens never covers a [[GramW]]-token window and is
    * invisible there, but at ≥ SpanMinChars characters this tier
    * catches it (spec plants exactly that case). The sliding
    * char-window argument makes it exact: every duplicated span of
    * length L ≥ SpanMinChars duplicates all its L−SpanMinChars+1
    * char windows, whose union reconstructs the span — so covered
    * positions = union of duplicated windows, no suffix array needed
    * on the cluster.
    *
    * Scale shape: one (doc_id, pos, h16) row per char position — the
    * corpus's character count, the honest price of exactness (the
    * token tier stays the cheap path; Lee et al. pay the same linear
    * blowup building suffix-array input). Hashes are 16-hex md5
    * prefixes (64-bit space; the md5-only house rule, halved to keep
    * the exchange at ~50 B/row), window→position expansion happens
    * array-locally AFTER the ≥2 filter, and the covered-set union is
    * the #68 per-doc int-array aggregation. Text never crosses an
    * exchange. */
  def spanDedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = exactD(Tables.spread(s, Tables.documents(s, dir), "doc_id"))
    spanExactProfileFrom(d, corpusExactWins(s, dir, d))
  }

  /** #68d Substring-duplicate STRIP, exact tier — the corpus rewrite
    * completing the #68c/#68d pair as #68/#68b pair the token
    * granularity up: drop every CHARACTER inside a duplicated
    * ≥ [[SpanMinChars]]-char span (all copies — the strictest
    * variant, matching [[spanDedupStrip]]'s contract), emit
    * (n_chars, n_kept, md5(kept chars)). Same covered-position
    * machinery as the profile; the rewrite itself is array-local —
    * the covered sets broadcast and each doc filters its own
    * character positions inside codegen, so text never crosses an
    * exchange (at 100 TB the broadcast becomes the one doc_id-keyed
    * rewrite exchange, the #67 note). Per-doc rewrite cost is
    * O(len + |covered|): kept positions come from array_except's
    * hash-set complement over the two sorted position arrays (the
    * round-15 landing of the previously-documented sorted-merge
    * upgrade — the per-char array_contains probe was len·|covered|).
    * No idempotence claim, as #68b: stripping can join distant text
    * into NEW repeated windows. */
  def spanDedupExactStrip(s: SparkSession, dir: String): DataFrame = {
    val d = exactD(Tables.spread(s, Tables.documents(s, dir), "doc_id"))
    spanExactStripFrom(d, corpusExactWins(s, dir, d))
  }

  /** #68d core over any (doc_id, text) relation. */
  def spanExactStripOf(docs: DataFrame): DataFrame = {
    val d = exactD(docs)
    spanExactStripFrom(d, persistedGrams(exactWins(d)))
  }

  /** (doc_id, text, len) projection shared by the exact-tier faces. */
  private def exactD(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), length(col("text")).as("len"))

  /** Sliding char-window hash relation (doc_id, pos, h16) — the
    * exact tier's positional index. */
  private def exactWins(d: DataFrame): DataFrame =
    d.filter(col("len") >= SpanMinChars)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), col("len") - (SpanMinChars - 1)),
        i => substring(md5(col("text").substr(i, lit(SpanMinChars))), 1, 16)))
        .as(Seq("pos", "h")))

  /** Memoized corpus-level window index (house cache rule — the
    * corpusPosGrams pattern one granularity down): profile + strip
    * both consume it twice (frequency agg + join-back). The body
    * touches only Tables/plain lineage — no nested liveCaches call. */
  private def corpusExactWins(s: SparkSession, dir: String, d: DataFrame): DataFrame =
    Dedup.memo(s, "exactwins", dir)(exactWins(d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Per-doc sorted covered-position arrays from a window index —
    * union of all windows whose hash occurs ≥ 2 times corpus-wide. */
  private def exactCovered(wins: DataFrame): DataFrame = {
    val freq = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    wins.join(freq, "h").filter(col("cnt") >= 2)
      .select(col("doc_id"),
        sequence(col("pos") + 1, col("pos") + SpanMinChars).as("ivl"))
      .groupBy(col("doc_id"))
      .agg(sort_array(array_distinct(flatten(collect_list(col("ivl"))))).as("cov"))
  }

  private def spanExactStripFrom(d: DataFrame, wins: DataFrame): DataFrame = {
    val noCov = array().cast("array<int>")
    // sequence(1, 0) DESCENDS in Spark (the adjacent-pair gotcha) —
    // empty docs get an explicitly empty position list.
    val allPos = when(col("len") >= 1, sequence(lit(1), col("len")))
      .otherwise(noCov)
    d.join(broadcast(exactCovered(wins)), Seq("doc_id"), "left")
      // The documented sorted-merge-class upgrade, landed: allPos and
      // cov are both distinct ascending position arrays, so the kept
      // set is array_except's order-preserving hash-set complement —
      // O(len + |cov|) per doc, not len·|cov| array_contains probes.
      .withColumn("keptp", array_except(allPos, coalesce(col("cov"), noCov)))
      .select(col("doc_id"), col("len").as("n_chars"),
        size(col("keptp")).as("n_kept"),
        md5(array_join(transform(col("keptp"),
          p => col("text").substr(p, lit(1))), "")).as("kept_md5"))
  }

  /** #68c core over any (doc_id, text) relation — the planted-span
    * spec runs it next to [[spanProfileOf]] to witness the
    * exact-vs-approximate gap. */
  def spanExactProfileOf(docs: DataFrame): DataFrame = {
    val d = exactD(docs)
    spanExactProfileFrom(d, persistedGrams(exactWins(d)))
  }

  private def spanExactProfileFrom(d: DataFrame, wins: DataFrame): DataFrame =
    d.join(broadcast(exactCovered(wins)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("len").as("n_chars"),
        coalesce(size(col("cov")), lit(0)).as("n_dup_chars"))
      .withColumn("dup_frac",
        when(col("n_chars") === 0, lit(0.0)).otherwise(
          round(col("n_dup_chars").cast("double") / col("n_chars").cast("double"), 4)))

  /** Operator cores over any (doc_id, text) relation — the real
    * span-dedup semantics the randomized naive-reference spec
    * exercises (planted cross-doc spans, within-doc repeats, docs
    * below the gram width, all-duplicate docs). The house cache rule
    * applies to the cores too: coveredPositions consumes the
    * positional gram relation twice (frequency agg + join-back), so
    * it is persisted here as well, registered for clearCaches
    * cleanup. */
  def spanProfileOf(docs: DataFrame): DataFrame = {
    val t = tokensOf(docs)
    spanProfileFrom(t, coveredPositions(persistedGrams(posGrams(t))))
  }
  def spanStripOf(docs: DataFrame): DataFrame = {
    val t = tokensOf(docs)
    spanStripFrom(t, coveredPositions(persistedGrams(posGrams(t))))
  }

  private def persistedGrams(pg: DataFrame): DataFrame = {
    val p = pg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.liveCaches.put(s"spanops|${System.identityHashCode(p)}", p)
    p
  }

  /** Shared report tail: left-join per-doc overlap counts back onto
    * the corpus side so uncontaminated docs report 0/false. */
  private def overlapReport(s: SparkSession, dir: String, hits: DataFrame): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % BenchMod =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("int").as("n_overlap_grams"),
        (coalesce(col("n"), lit(0L)) > 0).as("is_contaminated"))

  /** Bloom sizing for [[decontaminateBloom]]: ~8 bits per expected
    * bench gram ≈ 2% false-positive rate. At production scale these
    * grow with the eval-suite gram count — still KBs→MBs, broadcast
    * either way. */
  val BloomItems = 200000L
  val BloomBits = 1600000L

  /** #56b Decontamination with the bloom PRE-PRUNE tier the 100 TB
    * deployment runs (the semi-join pattern of SURVEY #8, sketch
    * edition): the bench grams fold into one bloom filter (a single
    * broadcastable binary blob, built by one aggregation over the
    * tiny bench side); the corpus gram stream is filtered by
    * `bloom_might_contain` BEFORE the equality join, so at scale
    * ~98% of exploded corpus gram rows die in the map stage without
    * ever reaching the join — the join then removes bloom false
    * positives, making the result IDENTICAL to [[decontaminate]]
    * (false negatives are impossible by bloom construction; the
    * equivalence is spec-asserted and both share one DuckDB oracle).
    */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftFunctions.{bloom_filter_agg, bloom_might_contain}
    val grams = gramRelation(s, dir)
    // Persisted: the bench gram build (tokenize + n-gram md5 over the
    // eval suite) feeds BOTH the bloom aggregation and the exact-join
    // broadcast — uncached it runs twice per query.
    val bench = Dedup.memo(s, "benchgrams", dir)(grams.filter(col("doc_id") % BenchMod === 0)
          .select(col("h")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Scalar subquery, not a join: might_contain requires its bloom
    // input to be constant-foldable per task (Spark ships the blob
    // with the plan, the same way InjectRuntimeFilter does).
    val bloom = bench.agg(bloom_filter_agg(col("h"), BloomItems, BloomBits)).scalar()
    val hits = grams.filter(col("doc_id") % BenchMod =!= 0)
      .filter(bloom_might_contain(bloom, col("h")))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    overlapReport(s, dir, hits)
  }

  /** Declared target language mixture (integer percents so every
    * derived quantity stays in exact integer arithmetic) and the
    * token budget of the planned training run. */
  val TargetPct: Seq[(String, Int)] =
    Seq("en" -> 40, "es" -> 15, "fr" -> 15, "de" -> 15, "zh" -> 15)
  val MixBudgetTokens = 200000L

  /** #64 Data-mixing plan (language/domain reweighting): per-language
    * token inventory → the sampling rate / epoch-repeat factor that
    * hits the declared target mixture under a token budget — the
    * "data mixture" knob every pretraining run sets (DoReMi-style
    * pipelines *learn* the weights; this operator turns declared
    * weights into an executable plan). One partial+final aggregation
    * over the corpus; token sums are exact BIGINTs and the budget is
    * split with integer arithmetic (budget/100 · pct), so the only
    * double is the final ratio — bit-identical cross-engine.
    * repeat_factor > 1 ⇒ the language must be repeated across epochs;
    * < 1 ⇒ subsample at that rate. */
  /** Per-doc token counts — (doc_id, lang, n_tok), no raw text.
    * PERSISTED (house cache rule, round 14): the mix PLAN aggregates
    * it per language and the mix EXECUTE reads it per doc, and both
    * were computing the identical size(tokens(text)) projection as
    * separate corpus tokenizes. One pass; ~20-byte rows. */
  private def docTokenCounts(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "mixtok", dir)(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def mixPlan(s: SparkSession, dir: String): DataFrame = {
    val pct = TargetPct.foldLeft(lit(0)) { case (acc, (l, p)) =>
      when(col("lang") === l, p).otherwise(acc)
    }
    docTokenCounts(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("target_pct", pct)
      .withColumn("target_tokens", lit(MixBudgetTokens / 100) * col("target_pct"))
      // Zero guard: Spark's non-ANSI x/0 is NULL while DuckDB's is
      // Inf — a lang whose docs all tokenize empty would break the
      // oracle compare. 0.0 = "nothing to sample".
      .withColumn("repeat_factor",
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(col("target_tokens").cast("double") / col("n_tokens").cast("double"), 4)))
  }

  /** #64c Cluster-balanced temperature mixing (round 11): the
    * SEMANTIC-space counterpart of [[mixPlan]] — instead of declared
    * per-language weights, sampling weights come from the embedding
    * clustering itself, share_c ∝ sqrt(n_docs_c) (temperature
    * α = 1/2, the flattening multilingual pretraining applies to
    * language shares — Conneau et al. 2020 §3.1 — here applied to
    * topic clusters, the D4-style diversification axis, Tirumala et
    * al. 2023): big clusters are damped, small clusters boosted, so
    * the executed mixture covers the embedding space more evenly
    * than raw token mass would. Reuses the bit-exact ann_ivf Lloyd
    * index ([[Similarity.lloydCentroids]] — exact-DECIMAL means,
    * map-only argmax assignment), then [[mixExecute]]'s
    * deterministic per-doc hash draw executes the plan.
    *
    * Scale shape: one map-only assignment pass over the embeddings,
    * one doc_id-keyed join of two narrow relations (tokens counts ⋈
    * cluster ids — persisted once under the house cache rule, it
    * feeds both the stats and the execution pass), k-row plan
    * relations broadcast. Cross-engine: cluster ids and token sums
    * are exact; sqrt and the 16-term normalizer are doubles whose
    * last-ulp jitter the round(rf, 4) absorbs (house
    * irrational-average rule), and the executed draw compares u
    * against the bit-equal rounded rf exactly as mix_execute does. */
  def mixByCluster(s: SparkSession, dir: String): DataFrame = {
    val eD = Similarity.embD(s, dir)
    val cents = Similarity.lloydCentroids(eD)
    val assigned = eD.select(col("vec_id").as("doc_id"),
      array_max(Similarity.scored(cents)).getField("c_id").as("cluster"))
    val j = Dedup.memo(s, "cmixj", dir)(Tables.documents(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tok"))
        .join(assigned, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cs = j.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val norm = cs.agg(sum(sqrt(col("n_docs").cast("double"))).as("z"))
    val plan = cs.crossJoin(broadcast(norm))
      .withColumn("repeat_factor",
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(lit(MixBudgetTokens) * sqrt(col("n_docs").cast("double")) /
            col("z") / col("n_tokens").cast("double"), 4)))
      .select(col("cluster"), col("repeat_factor"))
    val u = (conv(substring(md5(concat(lit("cmix|"), col("doc_id").cast("string"))), 1, 4),
      16, 10).cast("double") / 65536.0)
    j.join(broadcast(plan), "cluster")
      .withColumn("n_copies",
        (floor(col("repeat_factor")) +
          when(u < col("repeat_factor") - floor(col("repeat_factor")), 1L)
            .otherwise(0L)).cast("bigint"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        first(col("repeat_factor")).as("repeat_factor"),
        sum(col("n_copies")).as("n_copies_total"),
        sum(col("n_copies") * col("n_tok")).as("executed_tokens"))
  }

  /** #64b EXECUTE the mixing plan: per doc, the number of copies the
    * training run materializes — `floor(rf)` guaranteed epochs plus
    * one more with probability `frac(rf)`, decided by a deterministic
    * per-doc hash draw (so the executed mixture is reproducible and
    * the DuckDB oracle can replay it). rf < 1 becomes keep/drop
    * subsampling; rf > 1 becomes epoch repetition — both faces of the
    * same formula. One broadcast of the tiny per-language plan onto
    * the corpus scan, one partial+final aggregate; the per-doc draw
    * u = hex4(md5('mix|'||id)) / 65536 is exact in both engines, and
    * rf is the bit-equal round(...,4) double from [[mixPlan]], so the
    * u < frac(rf) comparison agrees everywhere. Spec asserts the
    * executed token mass lands near each language's declared target. */
  def mixExecute(s: SparkSession, dir: String): DataFrame = {
    val plan = mixPlan(s, dir).select(col("lang"), col("repeat_factor"))
    val u = (conv(substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 4),
      16, 10).cast("double") / 65536.0)
    docTokenCounts(s, dir)
      .join(broadcast(plan), "lang")
      .withColumn("n_copies",
        (floor(col("repeat_factor")) +
          when(u < col("repeat_factor") - floor(col("repeat_factor")), 1L)
            .otherwise(0L)).cast("bigint"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_copies")).as("n_copies_total"),
        sum(col("n_copies") * col("n_tok")).as("executed_tokens"))
  }

  val TrainPct = 80
  val ValPct = 90

  /** #57 Leakage-safe train/val/test split: the split key is
    * md5(source), not md5(doc_id) — every doc from one source lands
    * in one split, so near-duplicates that cluster within a source
    * (mirrors, re-crawls) can't straddle the train/eval boundary.
    * Map-only: no shuffle, no state, stable under re-runs and
    * incremental ingest (a new doc's split depends only on its
    * source string). */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("source")), 1, 4), 16, 10).cast("int") % 100)
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < ValPct, "val")
          .otherwise("test"))

  val NumShards = 8

  /** #58 Deterministic training shuffle: shard = hash(doc_id) mod
    * [[NumShards]], position within shard = rank of an independent
    * per-doc hash. This is the scale-correct form of "globally
    * shuffle the corpus": a single global row_number would funnel
    * every row through one partition, while per-shard windows give
    * [[NumShards]]-way (at 100 TB: thousands-way) parallel rank
    * computation and each shard is already the unit a trainer reads.
    * Fully deterministic — re-running produces byte-identical shards
    * (the property that makes training runs reproducible). */
  def shuffleShards(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(md5(concat(lit("ord|"), id)), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("shard|"), id)), 1, 4), 16, 10)
          .cast("int") % NumShards).as("shard"))
      .withColumn("pos_in_shard", row_number().over(byShard))
  }

  val ReservoirN = 20

  /** #59 Per-stratum reservoir sample (InputSampler.RandomSampler at
    * scale): the [[ReservoirN]] docs with smallest md5('rsv|'||id)
    * per source — a uniform fixed-size draw per stratum, but
    * deterministic, so the oracle can replay it. Catalyst plans the
    * rank-filter as WindowGroupLimit: each map task keeps a local
    * top-N before the shuffle, so the exchange carries
    * O(strata × N), not the corpus. */
  def sampleReservoir(s: SparkSession, dir: String): DataFrame = {
    val bySource = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("rsv|"), col("doc_id").cast("string"))), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(bySource))
      .filter(col("rk") <= ReservoirN)
  }

  /** Weighted-sample size. */
  val WeightedK = 100

  /** #59b WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis A-ES one-pass algorithm (the distributed
    * answer to "sample 100 docs proportional to length"): each item
    * draws u ∈ (0,1) and keeps key ln(u)/w (order-equivalent to the
    * paper's u^(1/w)); the k LARGEST keys are exactly a weighted
    * draw without replacement. One pass, no weight prefix-sums, no
    * rejection loop — and the top-k is a literal `orderBy().limit(k)`
    * so it PLANS as TakeOrderedAndProject (per-task top-k + driver
    * merge, O(k) per task at any corpus size); rank is derived by a
    * window AFTER the limit, over exactly k rows — never a
    * single-partition global sort of the whole relation (which is
    * what `row_number` over an unpartitioned Window would plan).
    * Deterministic: u is the house md5 hash-draw
    * ((16-bit prefix + 0.5)/65536, never 0 or 1 — ln stays finite
    * and nonzero), keys tie-break by doc_id, weights floor at 1.
    * Reference analogue: `lib/InputSampler`'s one-pass samplers,
    * upgraded from uniform to weighted. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("ws|"), col("doc_id").cast("string"))),
      1, 4), 16, 10).cast("double") + lit(0.5)) / lit(65536.0)
    val topk = Tables.documents(s, dir)
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).cast("long").as("weight"))
      .withColumn("key", log(u) / col("weight"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(WeightedK)
    val byKey = Window.orderBy(col("key").desc, col("doc_id"))
    topk
      .withColumn("rank", row_number().over(byKey))
      .select(col("doc_id"), col("weight"), col("rank"))
  }

  val TopTerms = 5

  /** #60 Inverse-document-frequency term scoring, top-[[TopTerms]]
    * terms per doc. The idf factor is the *rational* smoothed form
    * (N+1)/(df+1) rather than ln((N+1)/(df+1)): +,*,/ are correctly
    * rounded in IEEE 754 so Spark and DuckDB produce bit-identical
    * scores, while ln is only faithfully rounded and the engines'
    * libm disagree in the last ulp (a production deployment would
    * swap ln back in — ordering per doc is unaffected for fixed tf).
    *
    * Scale shape: tf is one partial+final agg over exploded tokens;
    * df reuses tf (one more agg); N is a 1-row broadcast. The only
    * per-corpus-size shuffles are the two keyed aggs — the standard
    * TF-IDF dataflow. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    // PERSISTED (house cache rule, round 14): tf is the forward token
    // index — (doc, term, count) rows, no raw text — consumed by both
    // the df aggregation and the scoring join; without the memo each
    // branch re-ran the corpus tokenize (exchange reuse does not
    // deduplicate them). The CCNet-style "token index a run
    // materializes anyway", same argument as corpusLines.
    val tf = Dedup.memo(s, "tfidftf", dir)(Tables.documents(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= TopTerms)
      .select(col("doc_id"), col("rk"), col("term"), round(col("score"), 4).as("score"))
  }

  /** #63 End-to-end curation report: every corpus doc gets exactly
    * one disposition — exact-dup (non-keeper of its md5 group),
    * contaminated (shares a benchmark n-gram), low-quality (below
    * the length/token floor), or keep — counted per source. This is
    * the pipeline summary a curation run ships with; the stages
    * compose the already-verified operators ([[decontaminate]], the
    * dedup keeper window, the quality floor) in one plan, with the
    * same disposition priority (dup > contaminated > low_quality)
    * on both engines.
    *
    * Scale shape: the text column is consumed ENTIRELY on the map
    * side — each doc is reduced to (doc_id, source, md5, quality bit)
    * in the scan projection, so the keeper window's exchange carries
    * ~50-byte rows, never the document body (the same no-text-shuffle
    * rule [[Dedup.exact]] plan-asserts; CurationSpec asserts it for
    * this plan too). */
  def corpusCurate(s: SparkSession, dir: String): DataFrame = {
    val con = decontaminate(s, dir)
      .select(col("doc_id"), col("is_contaminated"))
    val byHash = Window.partitionBy(col("h"))
    Tables.documents(s, dir)
      .filter(col("doc_id") % BenchMod =!= 0)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        (length(col("text")) >= 50 && size(tokens(col("text"))) >= 10).as("qual"))
      .withColumn("keeper", min(col("doc_id")).over(byHash))
      .join(con, "doc_id")
      .withColumn("disposition",
        when(col("doc_id") =!= col("keeper"), "dup")
          .when(col("is_contaminated"), "contaminated")
          .when(not(col("qual")), "low_quality")
          .otherwise("keep"))
      .groupBy(col("source"), col("disposition"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** #61b Final dedup MANIFEST — the keep/drop decision a curation
    * run executes, merging the two dedup tiers into one disposition
    * per doc: `dup_exact` (non-keeper of an md5 identity group, the
    * guarantee tier), `dup_near` (member of an LSH near-dup cluster
    * but not its keeper), else `keep`. Priority exact > near, same
    * rule as [[corpusCurate]]'s disposition ladder.
    *
    * Scale shape: the exact tier is the one hash-row window exchange
    * [[Dedup.exact]] plan-asserts; the cluster labels and per-cluster
    * keepers are tiny relations next to the corpus (only docs inside
    * collision clusters appear) — broadcast on the left joins, never
    * a corpus shuffle. The tier relations come from a parquet tier
    * index built ONCE per process ([[dedupTierDir]]) — a 100 TB
    * curation run materializes each tier once and every consumer
    * reads the handoff, so the manifest measures the merge; inside
    * the build itself, keeperSelect's internal clusters() call shares
    * the memoized fixpoint labels instead of re-running the
    * propagation loop. Reference semantics: the job-chain composition
    * tier (`lib/chain` + `lib/aggregate`) — dedup pipelines in the
    * reference era ran exactly this as the final "write the keep
    * list" reduce. */
  private val tierDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build the dedup TIER INDEX once per (session, sf) and persist it
    * to parquet: the exact-dup keyed relation, the near-dup cluster
    * labels, and the per-cluster keepers. This is [[Similarity.ivfIndexDir]]'s
    * build-once contract applied to the dedup tiers (and the reference's
    * `TotalOrderPartitioner` `_partition.lst` handoff): a curation run
    * materializes each tier ONCE, and every downstream consumer — the
    * manifest merge, audits, re-runs — reads the persisted relations
    * instead of re-running the window + cluster fixpoint. The path
    * carries a process-unique sequence number (no cross-session
    * rewrite races — same rule as the streaming scratch copies). */
  private def dedupTierDir(s: SparkSession, dir: String): String =
    Dedup.dirMemo(tierDirs, Dedup.cacheKey(s, "deduptiers", dir)) {
      val out = graft.sources.FileRoundTrips.freshScratch("deduptiers", dir)
      Dedup.exact(s, dir).select(col("doc_id"), col("keeper"))
        .write.mode("overwrite").parquet(s"$out/exact")
      Dedup.clusters(s, dir)
        .write.mode("overwrite").parquet(s"$out/labels")
      keeperSelect(s, dir).select(col("cluster"), col("keeper_doc"))
        .write.mode("overwrite").parquet(s"$out/keepers")
      out
    }

  def dedupManifest(s: SparkSession, dir: String): DataFrame = {
    // Serve the merge from the persisted tier index — ZERO tier
    // recomputation once the index exists (explicit schemas keep even
    // schema inference off the job queue, as with annIvfServe).
    val idx = dedupTierDir(s, dir)
    val exact = s.read.schema("doc_id BIGINT, keeper BIGINT")
      .parquet(s"$idx/exact")
    val labels = s.read.schema("doc_id BIGINT, cluster BIGINT")
      .parquet(s"$idx/labels")
    val keepers = s.read.schema("cluster BIGINT, keeper_doc BIGINT")
      .parquet(s"$idx/keepers")
    exact
      .join(broadcast(labels), Seq("doc_id"), "left")
      .join(broadcast(keepers), Seq("cluster"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keeper"), "dup_exact")
          .when(col("cluster").isNotNull && col("doc_id") =!= col("keeper_doc"),
            "dup_near")
          .otherwise("keep").as("disposition"))
  }

  val SeqWindow = 2048

  /** #62 Greedy sequence packing: lay the shuffled shards' docs
    * end-to-end and cut [[SeqWindow]]-token training sequences —
    * `seq_in_shard` is the sequence index where each doc *starts*
    * (floor of the running token count before the doc). One window
    * pass per shard over the same deterministic order as
    * [[shuffleShards]], so packing is reproducible and parallel per
    * shard; no driver-side loop ever sees a document. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(md5(concat(lit("ord|"), id)), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"),
        (conv(substring(md5(concat(lit("shard|"), id)), 1, 4), 16, 10)
          .cast("int") % NumShards).as("shard"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(
          byShard.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("tokens_before") / SeqWindow).cast("int").as("seq_in_shard"))
  }

  /** #61 Duplicate-cluster keeper selection: the curation step the
    * dedup family feeds — per near-dup cluster ([[Dedup.clusters]]),
    * keep the longest doc (ties → lowest doc_id). The arg-max key is
    * a (len, −doc_id) struct — tuple ordering, because any arithmetic
    * composite (the first cut used len·10⁷ − doc_id) silently
    * mis-orders once doc_id outgrows the scale factor, and 100 TB
    * corpora have ids well past 10⁷. One join (labels are a tiny
    * relation next to the corpus — broadcast at scale) + one keyed
    * agg; the DuckDB oracle mirrors the semantics with a
    * row_number() window over (len DESC, doc_id ASC). */
  def keeperSelect(s: SparkSession, dir: String): DataFrame =
    // House memo (the body calls clusters, which builds nested memos
    // on the same map — the reason memo never computeIfAbsent's): the
    // keeper relation is tiny (one row per near-dup cluster) and
    // [[dedupManifest]] consumes it next to the labels, so the house
    // cache rule applies — materialize once per pipeline.
    Dedup.memo(s, "keeper", dir) {
      val labels = Dedup.clusters(s, dir)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("len"))
      labels.join(docs, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          max_by(col("doc_id"),
            struct(col("len"), (-col("doc_id")).as("neg_id"))).as("keeper_doc"),
          max(col("len")).as("keeper_chars"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
}
