package graft.operators

import graft.Tables
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Search/IR operators over the documents corpus: the inverted index
  * (THE canonical MapReduce application — the workload MapReduce was
  * invented for, per the original OSDI'04 paper's motivating example)
  * and BM25 ranked retrieval on top of it.
  *
  * Reference semantics: the index build is the textbook
  * term→postings reduce (mapper emits (term, doc), reducer
  * concatenates sorted postings); Hadoop 2.10.0 ships the machinery
  * as `lib/aggregate` + TotalOrderPartitioner-sorted output rather
  * than a named example. Spark-first: explode + groupBy with partial
  * (map-side) list merge, sort_array for the deterministic postings
  * order.
  */
object Search {

  /** #20b Inverted index: term → document-frequency + SORTED posting
    * list. array_distinct before the explode = the map-side "emit
    * once per (term, doc)" dedup — token repeats never reach the
    * shuffle. collect_list merges partially per map task, then
    * sort_array pins the deterministic order the oracle states with
    * `list(... ORDER BY)`. The postings list leaves the plan as a
    * comma-joined STRING (the secondarySortFull pattern,
    * Relational.scala:82): downstream adjudicators sort/hash scalar
    * columns, and a bare array column is unhashable to them. At
    * 100 TB stop-word postings dominate — the df-capped tier below
    * ([[invertedIndexCapped]]) is the deployment path; the 31-term
    * synthetic vocab keeps full lists exact here, and the BM25
    * consumer (#20c) reads tf/df stats, not raw lists. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))

  /** Document-frequency cap for [[invertedIndexCapped]]: terms whose
    * df exceeds the cap keep their exact `df` (BM25's input stat is
    * unaffected) but truncate the materialized posting list to the
    * first [[DfCap]] doc_ids. Written identically in the oracle. */
  val DfCap = 40

  /** #20b' Df-capped inverted index — the 100 TB deployment tier the
    * scaladoc above promises. The hot-reducer guard is structural,
    * not cosmetic: a `row_number` window over (term ORDER BY doc_id)
    * ranks postings in one streaming sort pass (no per-term buffer —
    * the sort is disk-spillable), then the groupBy REUSES that
    * exchange (same `term` partitioning, zero extra shuffle) and its
    * `collect_list(when(rn <= cap, ...))` buffer is ≤[[DfCap]]
    * elements per term because collect_list skips the nulls; `df =
    * max(rn)` stays exact past the cap. A stop-word term with a
    * billion docs costs one external sort run, never an in-memory
    * billion-element aggregation buffer or output row. `truncated`
    * marks capped terms so consumers know the list is a prefix of the
    * doc_id-sorted full list. */
  def invertedIndexCapped(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("term"))
      .agg(max(col("rn")).cast("long").as("df"),
        array_join(
          sort_array(collect_list(when(col("rn") <= DfCap, col("doc_id")))),
          ",").as("postings"))
      .select(col("term"), col("df"), (col("df") > DfCap).as("truncated"),
        col("postings"))
  }

  /** BM25 parameters (the standard Robertson defaults) and the fixed
    * query. Literals are written identically in the oracle SQL so
    * both engines parse the same doubles. */
  val QueryTerms = Seq("spark", "join", "dup")
  val TopK = 20

  /** #20c BM25 ranked retrieval: top-[[TopK]] documents for
    * [[QueryTerms]] under Okapi BM25 (k1=1.2, b=0.75, the
    * +1-smoothed idf). Every relation in the plan is
    * vocabulary-sized or query-sized except the one tf pass: the
    * per-doc term frequencies filter to the query terms BEFORE the
    * aggregation, df and the corpus stats broadcast, and the final
    * ranking is a global top-k (TakeOrderedAndProject — per-task
    * top-k + driver merge, never a full sort). Determinism: the
    * per-term double score is one fixed expression tree (identical
    * literals/associativity both engines), and the per-doc sum
    * accumulates in DECIMAL(28,12) — the SKILL.md k-means rule —
    * so partition order can't reorder FP addition; ties rank by
    * doc_id. The ranking is a literal `orderBy().limit(k)` so it
    * plans as TakeOrderedAndProject (per-task top-k + driver merge);
    * rank derives from a window AFTER the limit, over exactly k
    * rows — never an unpartitioned-window global sort. Reference
    * analogue: the two-job search chain (index stats job feeding a
    * scoring job) with the score emitted from the reducer. */
  /** Per-doc forward index RESTRICTED to the query terms — one row
    * per doc: its token count and the (tiny, ≤ query-sized per doc)
    * sub-array of query-term occurrences. PERSISTED (house cache
    * rule, round 14): this is the ONE tokenize pass the whole BM25 /
    * ranking-eval family runs — doc lengths, corpus stats, term
    * frequencies, document frequencies, and the relevance set all
    * DERIVE from it (before, each was its own branch re-running the
    * corpus tokenize: 3 text passes in bm25, 4 more in eval_rank). */
  private def bm25DocMeta(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "bm25meta", dir)(
        Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
            filter(col("t"), t => t.isin(QueryTerms: _*)).as("qt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Query-term frequencies per doc, derived from [[bm25DocMeta]] —
    * one row per (doc, present query term). */
  private[operators] def bm25Tf(s: SparkSession, dir: String): DataFrame =
    bm25DocMeta(s, dir)
      .select(col("doc_id"), explode(col("qt")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  def searchBm25(s: SparkSession, dir: String): DataFrame = {
    val meta = bm25DocMeta(s, dir)
    val dls = meta.select(col("doc_id"), col("dl"))
    val stats = meta.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = bm25Tf(s, dir)
    // document frequency derives from tf (one row per doc containing
    // the term), not a second corpus explode
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perTerm = tf
      .join(broadcast(dfreq), "term")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score_term",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val topk = perTerm.groupBy(col("doc_id"))
      .agg(sum(col("score_term").cast("decimal(28,12)")).as("score_dec"))
      .orderBy(col("score_dec").desc, col("doc_id"))
      .limit(TopK)
    val w = Window.orderBy(col("score_dec").desc, col("doc_id"))
    topk.withColumn("rank", row_number().over(w))
      .select(col("doc_id"),
        round(col("score_dec").cast("double"), 4).as("score"), col("rank"))
  }

  /** Relevance floor for [[evalRank]]: a doc is relevant iff it
    * contains at least this many DISTINCT query terms — a binary
    * judgment both engines state identically in exact integers. */
  val RelMinTerms = 2

  /** NDCG discount table 1/log₂(i+1), i = 1..[[TopK]], pinned to 12
    * decimals in ONE place and embedded as literals in BOTH engines'
    * plans — so the only irrational in the metric never computes at
    * query time and cross-engine equality is by construction. */
  private[graft] val RankDiscounts: IndexedSeq[String] =
    (1 to TopK).map(i => String.format(java.util.Locale.ROOT, "%.12f",
      Double.box(1.0 / (math.log(i + 1.0) / math.log(2.0)))))

  /** #70c Ranking-quality evaluation of [[searchBm25]] —
    * precision/recall@k and NDCG@k (Järvelin & Kekäläinen 2002)
    * against the term-overlap relevance rule, completing the eval
    * family (confusion → classification, AUC → detection, this →
    * retrieval). Every input is exact: hit counts are integers,
    * precision/recall are single divisions, and DCG/IDCG sum the
    * PRE-ROUNDED literal discounts in DECIMAL(28,12) (order-free
    * commutative adds), so the whole report hash-checks. Scale
    * shape: the ranking is the BM25 plan (already
    * TakeOrderedAndProject-bounded); relevance is one map-side
    * predicate; everything downstream is k-row or 1-row. */
  def evalRank(s: SparkSession, dir: String): DataFrame = {
    val discounts = array(RankDiscounts.map(d =>
      lit(new java.math.BigDecimal(d)).cast("decimal(28,12)")): _*)
    // relevance = docs carrying >= RelMinTerms DISTINCT query terms —
    // derived from the persisted forward index (array_distinct of the
    // query-term sub-array), not another corpus tokenize
    val rel = bm25DocMeta(s, dir)
      .filter(size(array_distinct(col("qt"))) >= RelMinTerms)
      .select(col("doc_id"))
    val nrel = rel.agg(count(lit(1)).as("n_rel"))
    val hits = searchBm25(s, dir).join(rel, "doc_id").select(col("rank"))
    val dcg = hits.agg(coalesce(sum(element_at(discounts, col("rank"))),
      lit(java.math.BigDecimal.ZERO).cast("decimal(28,12)")).as("dcg"))
    val idcg = s.range(1).select(explode(sequence(lit(1), lit(TopK))).as("rank"))
      .crossJoin(broadcast(nrel))
      .filter(col("rank") <= least(lit(TopK), col("n_rel")))
      .agg(sum(element_at(discounts, col("rank"))).as("idcg"))
    val nHit = hits.agg(count(lit(1)).as("n_rel_topk"))
    nHit.crossJoin(broadcast(nrel))
      .crossJoin(broadcast(dcg)).crossJoin(broadcast(idcg))
      .select(lit(TopK).as("k"), col("n_rel_topk"), col("n_rel"),
        round(col("n_rel_topk").cast("double") / TopK, 4).as("precision"),
        when(col("n_rel") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_rel_topk").cast("double") / col("n_rel"), 4))
          .as("recall"),
        when(col("idcg").isNull || col("idcg") === 0, lit(null).cast("double"))
          .otherwise(round(col("dcg").cast("double") / col("idcg").cast("double"), 4))
          .as("ndcg"))
  }

  /** Shared DuckDB CTE chain for the BM25 ranking — ends at
    * `r(doc_id, score_dec, rank)`; consumed by the search_bm25 oracle
    * and the [[evalRank]] metrics oracle so the ranking SQL exists
    * once. */
  private[graft] def bm25OracleCtes(tokensSql: String): String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |dls AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dls),
       |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
       |  WHERE tok IN ($terms) GROUP BY 1, 2),
       |dfreq AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS df
       |  FROM (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks)
       |  WHERE tok IN ($terms) GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |  sum(CAST(
       |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |    AS DECIMAL(28,12))) AS score_dec
       |  FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id), stats
       |  GROUP BY 1),
       |r AS (SELECT doc_id, score_dec,
       |  row_number() OVER (ORDER BY score_dec DESC, doc_id) AS rank FROM sc)""".stripMargin
  }

  /** Generated metrics oracle for [[evalRank]] — same BM25 chain,
    * same literal discount table. */
  private[graft] def evalRankOracleSql(tokensSql: String): String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    val disc = RankDiscounts.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST($d AS DECIMAL(28,12)))" }
      .mkString(", ")
    s"""WITH ${bm25OracleCtes(tokensSql)},
       |topk AS (SELECT doc_id, CAST(rank AS INTEGER) AS rank FROM r
       |  WHERE rank <= $TopK),
       |rel AS (SELECT doc_id FROM toks
       |  WHERE len(list_intersect(list_distinct(t), [$terms])) >= $RelMinTerms),
       |nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel),
       |hits AS (SELECT t.rank FROM topk t JOIN rel ON rel.doc_id = t.doc_id),
       |disc(rank, d) AS (SELECT * FROM (VALUES $disc)),
       |dcgv AS (SELECT coalesce(sum(d), CAST(0 AS DECIMAL(28,12))) AS dcg
       |  FROM hits JOIN disc ON disc.rank = hits.rank),
       |idcgv AS (SELECT sum(d) AS idcg FROM disc, nrel
       |  WHERE disc.rank <= least($TopK, n_rel)),
       |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_rel_topk FROM hits)
       |SELECT $TopK AS k, n_rel_topk, n_rel,
       | round(CAST(n_rel_topk AS DOUBLE) / $TopK, 4) AS precision,
       | CASE WHEN n_rel = 0 THEN NULL
       |   ELSE round(CAST(n_rel_topk AS DOUBLE) / n_rel, 4) END AS recall,
       | CASE WHEN idcg IS NULL OR idcg = 0 THEN NULL
       |   ELSE round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 4) END AS ndcg
       |FROM nh, nrel, dcgv, idcgv""".stripMargin
  }

  /** #20d Word co-occurrence PAIRS — the canonical MapReduce design
    * pattern (Lin & Dyer ch. 3: pairs vs stripes): adjacent-token
    * pair counts across the corpus. Spark-first the pattern inverts —
    * the pair explosion happens array-locally inside `transform`
    * (codegen, no shuffle) and ONLY the aggregated (w1, w2, n)
    * triples ride the exchange with map-side partial counts, which is
    * exactly what the stripes optimization bought the MapReduce
    * version (fewer, fatter shuffle records); at a 31-term vocabulary
    * or a 100 TB web corpus alike the shuffle is vocab², not corpus-
    * sized. sequence(1, size-1) is guarded by the size>=2 filter
    * (SKILL.md's descending-sequence trap). */
  /** #20e Association rules (market-basket analysis, the
    * support/confidence/lift mining classic): each document's
    * DISTINCT token set is a basket; rules X→Y emit for item pairs
    * clearing integer-exact thresholds. Thresholds are deliberately
    * stated in INTEGERS — support ≥ 5% as `20·n_xy ≥ N`, confidence
    * ≥ 50% as `2·n_xy ≥ n_x` — so the boundary compare can never
    * straddle an FP rounding seam cross-engine (the
    * text_quality_buckets lesson); the reported support/confidence/
    * lift ratios are single divisions of exact longs, rounded at 4.
    * Plan shape: the pair explosion is array-local (sorted distinct
    * items → i<j combos inside one transform — codegen, no
    * self-join), the exchange carries vocab²-bounded (a, b, n)
    * partials, item supports join SHUFFLED on their token keys —
    * never broadcast (the nb_classify vocab rule the collocations
    * docstring states; round 15 closed this face's rename-hidden
    * violation: the antecedent/consequent aliases had let a
    * vocab-sized broadcast slip past the entity-name sweep) — and N
    * is the one legitimately-broadcast 1-row relation. Reference
    * analogue: the two-job apriori chain (item-count job feeding the
    * pair-count job) collapsed into one DAG. */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.documents(s, dir)
      .select(col("doc_id"), array_sort(array_distinct(tokens(col("text")))).as("items"))
    // basket count needs no tokens — a doc_id-only pruned scan, not a
    // third tokenize pass (round-14 scan census); the item-count and
    // pair-count passes below are the apriori two-job shape the
    // reference ran, each reading the corpus once
    val nn = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    // Persisted (house cache rule): the antecedent and consequent
    // marginal joins are separate consumers — without the memo each
    // would re-run the corpus explode+count (exchange reuse does not
    // dedupe consumer branches). Vocab-bounded rows.
    val itemCnt = Dedup.memo(s, "associtems", dir)(baskets.select(explode(col("items")).as("item"))
          .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Also persisted: the directed relation below unions TWO
    // projections of this — the union branches are separate
    // consumers, so without the memo the pair explosion (the heavier
    // of the two apriori jobs) ran twice. Vocab²-bounded rows; with
    // both memos the query's corpus cost is exactly the apriori
    // two-job shape — one pair pass + one item pass.
    val pairCnt = Dedup.memo(s, "assocpairs", dir)(baskets
          .filter(size(col("items")) >= 2)
          .select(explode(expr(
            "flatten(transform(sequence(1, size(items) - 1), " +
              "i -> transform(sequence(i + 1, size(items)), " +
              "j -> struct(element_at(items, i) AS a, element_at(items, j) AS b))))")).as("p"))
          .select(col("p.a"), col("p.b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_xy"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val directed = pairCnt.select(col("a").as("antecedent"), col("b").as("consequent"), col("n_xy"))
      .unionAll(pairCnt.select(col("b").as("antecedent"), col("a").as("consequent"), col("n_xy")))
    directed
      .join(itemCnt.select(col("item").as("antecedent"), col("n_item").as("n_x")), "antecedent")
      .join(itemCnt.select(col("item").as("consequent"), col("n_item").as("n_y")), "consequent")
      .crossJoin(broadcast(nn))
      // integer-exact thresholds: support >= 1/20, confidence >= 1/2
      .filter(col("n_xy") * 20 >= col("n_docs") && col("n_xy") * 2 >= col("n_x"))
      .select(col("antecedent"), col("consequent"), col("n_xy"),
        round(col("n_xy").cast("double") / col("n_docs"), 4).as("support"),
        round(col("n_xy").cast("double") / col("n_x"), 4).as("confidence"),
        round((col("n_xy") * col("n_docs")).cast("double") / (col("n_x") * col("n_y")), 4).as("lift"))
  }

  /** PERSISTED (house cache rule, round 14): the bigram-count
    * relation is vocab²-bounded but corpus-DERIVED, and it feeds four
    * consumers in [[collocations]] plus the word graph's edge builder
    * (triangles / clustering coefficient) — without the memo each
    * consumer branch re-runs the corpus tokenize, since exchange
    * reuse does not deduplicate branches with different pushed
    * filters (the featureChi2 finding). One tokenize pass per
    * session/SF; the relation itself is the "stripes" payoff. */
  def cooccurrencePairs(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "coocpairs", dir)(Tables.documents(s, dir)
        .select(tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("p"))
        .select(col("p.w1"), col("p.w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Minimum bigram count for a [[collocations]] row — the standard
    * low-frequency cut (PMI is notoriously unstable below it). */
  val CollocMinCount = 5

  /** #20f COLLOCATION mining — PMI + Dunning log-likelihood ratio
    * over the adjacent-bigram counts (Church & Hanks 1990; Dunning
    * 1993; the Mahout `CollocDriver` ran exactly this as a two-job
    * count-then-score MapReduce chain on the [[cooccurrencePairs]]
    * output). Both scores come from the bigram 2×2 contingency
    * table: k11 = n(x,y), row marginal n(x,·), column marginal
    * n(·,y), N = total bigrams.
    *
    * pmi = ln(k11·N / (n_x·n_y)); llr = 2·(S(N) + ΣS(k_ij) − ΣS(row)
    * − ΣS(col)) with S(x) = x·ln(x), S(0) = 0 — Dunning's entropy
    * form, the one Mahout's LogLikelihood.logLikelihoodRatio
    * implements. Every S input is an exact-integer-valued double, the
    * expression tree is written identically in the oracle, and the
    * only cross-engine risk is last-ulp libm ln drift — absorbed at
    * round-4 (the house irrational rule). No FP ever aggregates:
    * scoring happens per row AFTER exact-integer count aggregation.
    *
    * Scale: bigram counts are vocab²-bounded but corpus-derived, so
    * the marginal relations (vocab-sized) join SHUFFLED on their
    * token keys — never broadcast (the nb_classify vocab rule); the
    * [[CollocMinCount]] filter cuts the heavy tail BEFORE the
    * marginal joins (marginals themselves aggregate the full pair
    * relation — one extra vocab-bounded shuffle each); N is the one
    * legitimately-broadcast 1-row relation. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val pairs = cooccurrencePairs(s, dir)
    val left = pairs.groupBy(col("w1")).agg(sum(col("n")).as("n_x"))
    val right = pairs.groupBy(col("w2")).agg(sum(col("n")).as("n_y"))
    val nn = pairs.agg(sum(col("n")).as("n_big"))
    val sx = (x: Column) =>
      when(x === 0, lit(0.0)).otherwise(x.cast("double") * log(x.cast("double")))
    val k11 = col("n")
    val k12 = col("n_x") - col("n")
    val k21 = col("n_y") - col("n")
    val k22 = col("n_big") - col("n_x") - col("n_y") + col("n")
    pairs.filter(col("n") >= CollocMinCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(nn))
      .select(col("w1"), col("w2"), col("n").as("n_xy"),
        col("n_x"), col("n_y"),
        round(log(k11.cast("double") * col("n_big") /
          (col("n_x").cast("double") * col("n_y"))), 4).as("pmi"),
        round(lit(2.0) * (sx(col("n_big")) +
          sx(k11) + sx(k12) + sx(k21) + sx(k22) -
          sx(col("n_x")) - sx(col("n_big") - col("n_x")) -
          sx(col("n_y")) - sx(col("n_big") - col("n_y"))), 4).as("llr"))
  }

  /** DuckDB mirror of [[collocations]] — identical expression tree
    * (same S(x)=x·ln(x) CASE form, same literal order). */
  def collocationsOracleSql(tokensSql: String): String = {
    def sx(x: String) =
      s"(CASE WHEN $x = 0 THEN 0.0 ELSE CAST($x AS DOUBLE) * ln(CAST($x AS DOUBLE)) END)"
    s"""WITH pairs AS MATERIALIZED (SELECT w1, w2, count(*) AS n FROM (
       |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
       |  FROM (SELECT $tokensSql AS t FROM documents)
       |  WHERE len(t) >= 2) GROUP BY 1, 2),
       |lm AS (SELECT w1, CAST(sum(n) AS BIGINT) AS n_x FROM pairs GROUP BY 1),
       |rm AS (SELECT w2, CAST(sum(n) AS BIGINT) AS n_y FROM pairs GROUP BY 1),
       |nn AS (SELECT CAST(sum(n) AS BIGINT) AS n_big FROM pairs)
       |SELECT p.w1, p.w2, p.n AS n_xy, lm.n_x, rm.n_y,
       | round(ln(CAST(p.n AS DOUBLE) * nn.n_big /
       |   (CAST(lm.n_x AS DOUBLE) * rm.n_y)), 4) AS pmi,
       | round(2.0 * (${sx("nn.n_big")} +
       |   ${sx("p.n")} + ${sx("lm.n_x - p.n")} + ${sx("rm.n_y - p.n")} +
       |   ${sx("nn.n_big - lm.n_x - rm.n_y + p.n")} -
       |   ${sx("lm.n_x")} - ${sx("nn.n_big - lm.n_x")} -
       |   ${sx("rm.n_y")} - ${sx("nn.n_big - rm.n_y")}), 4) AS llr
       |FROM pairs p JOIN lm USING (w1) JOIN rm USING (w2), nn
       |WHERE p.n >= $CollocMinCount""".stripMargin
  }
}
