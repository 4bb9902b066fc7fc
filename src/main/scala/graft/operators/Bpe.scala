package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING (SURVEY §2.4 #50b/c) — the
  * on-cluster answer to "no public vocab file ships in this
  * container": production pipelines train their own merges on their
  * own corpus (Sennrich et al. 2016, arXiv:1508.07909), and the
  * training loop is corpus-scale aggregation — exactly this engine's
  * job. Reference semantics: the `lib/aggregate` iterative-job
  * pattern (each round is one ValueAggregator-style keyed count; the
  * driver holds only the k-row merge table between rounds — the same
  * scalar-state contract as the Lloyd/fixpoint loops).
  *
  * Scale shape: the per-round pair count runs over the DISTINCT-token
  * vocabulary weighted by corpus frequency, not the corpus — the one
  * corpus-sized pass is the initial token-frequency aggregation
  * (partial+final, 40-byte-ish rows). Each round: segment the vocab
  * under the current merges (codegen'd [[graft.plans.BpeSegment]]
  * kernel, merge table shipped as a plan constant), explode adjacent
  * symbol pairs, one weighted count, take the arg-max — a total order
  * (weight DESC, left ASC, right ASC) so training is deterministic
  * and reproducible cross-run. [[NumMerges]] rounds ⇒ O(k) tiny jobs
  * after the one corpus pass.
  *
  * Oracle (round 16, closing the last two `no_oracle` rows): the
  * [[NumMerges]]-round training loop IS one-shot SQL once unrolled —
  * each round is a pair-count + argmax + one greedy merge
  * application, and the greedy left-to-right non-overlapping merge of
  * one pair over a symbol list is exactly a left fold (a freshly
  * merged symbol `l+r` can never equal `l` again because `r` is
  * non-empty, so the fold never re-merges inside one round — the same
  * invariant the kernel's j+=2 skip encodes). DuckDB's `list_reduce`
  * expresses that fold; [[bpeTrainOracleSql]] /
  * [[tokensBpeOracleSql]] generate the unrolled 12-round CTE chain
  * (every multiply-referenced CTE `AS MATERIALIZED` — inlining would
  * blow up 3^k). BpeSpec additionally proves the trainer equals a
  * naive driver-side reference exactly on planted corpora, and the
  * kernel has a randomized property test against a naive apply.
  */
object Bpe {

  val NumMerges = 12

  /** (token, freq) corpus vocabulary — the one corpus-sized pass,
    * persisted (house cache rule: every training round consumes it). */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "bpevocab", dir)(Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Train up to `k` merges over a (token, freq) relation. Stops
    * early when no adjacent pair occurs with weight ≥ 2 (nothing left
    * to compress). Returns rank-ordered (left, right, weight). */
  private[graft] def trainOn(v: DataFrame, k: Int): Seq[(String, String, Long)] = {
    var merges = Vector.empty[(String, String, Long)]
    var done = false
    while (merges.length < k && !done) {
      val flat = merges.flatMap(m => Seq(m._1, m._2))
      val seg = GraftFunctions.bpe_segment(col("token"), flat)
      // Adjacent-pair explosion is guarded on size ≥ 2: Spark's
      // sequence(1, 0) would DESCEND (step −1), not return empty.
      val top = v
        .select(col("freq"), seg.as("sym"))
        .filter(size(col("sym")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("sym")) - 1),
          i => struct(element_at(col("sym"), i).as("l"),
            element_at(col("sym"), i + lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("w"))
        .orderBy(col("w").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < 2) done = true
      else merges = merges :+ ((top.head.getString(0), top.head.getString(1),
        top.head.getLong(2)))
    }
    merges
  }

  /** Trained merge tables by (session, sf) — the build-once artifact
    * [[tokensBpe]] serves from (the ivfIndexDir contract; at 100 TB
    * the merge table is a tiny published file every encode job
    * ships). [[bpeTrain]] always retrains — it IS the build path and
    * must measure it — then refreshes this cache for the serve side. */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String, Long)]]()

  /** #50b driver surface: the learned merge table as data —
    * deterministic, so `rank` is reproducible run-to-run. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val m = trainOn(vocab(s, dir), NumMerges)
    mergeCache.put(Dedup.cacheKey(s, "bpemerges", dir), m)
    import s.implicits._
    m.zipWithIndex.map { case ((l, r, w), i) => (i + 1, l, r, w) }
      .toDF("rank", "left", "right", "weight")
  }

  private def trainedMerges(s: SparkSession, dir: String): Seq[(String, String, Long)] =
    Dedup.dirMemo(mergeCache, Dedup.cacheKey(s, "bpemerges", dir)) {
      trainOn(vocab(s, dir), NumMerges)
    }

  /** #50c BPE-denominated token counts per doc under the learned
    * merges — what makes `mix_plan`/`pack_sequences`-style budgets
    * tokenizer-accurate instead of whitespace-approximate. One
    * codegen pass per doc; the merge table rides the plan as a
    * constant (no join, no shuffle). */
  def tokensBpe(s: SparkSession, dir: String): DataFrame = {
    val flat = trainedMerges(s, dir).flatMap(m => Seq(m._1, m._2))
    Tables.spread(s, Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens_ws"),
        aggregate(
          transform(col("toks"),
            t => size(GraftFunctions.bpe_segment(t, flat))),
          lit(0), (acc, x) => acc + x).as("n_symbols_bpe"))
  }

  /** Shared CTE chain for both oracles: `v` (token, freq) → `s0`
    * (initial codepoint+`</w>` segmentation) → k unrolled rounds of
    * (`p_k` adjacent-pair weights, `b_k` argmax, `s_k` greedy fold
    * apply). Mirrors [[trainOn]] exactly: stop-when-top-weight-<2 is
    * the `coalesce(b.w, 0) >= 2` guard (once a round fails it, the
    * segmentation is frozen, so every later `b` repeats the same
    * sub-2 top pair and is filtered), tiebreak is the same total
    * order (w DESC, l ASC, r ASC), and the `list_reduce` fold is the
    * kernel's left-to-right non-overlapping scan (see class doc).
    * Tokens are `[a-z0-9]+` runs, so codepoints == single chars. */
  private def oracleCtes(k: Int): String = {
    val head =
      """v AS MATERIALIZED (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |    FROM documents) GROUP BY token),
        |s0 AS MATERIALIZED (
        |  SELECT token, freq,
        |    list_transform(range(1, length(token)+1),
        |      i -> substr(token, i, 1)) || ['</w>'] AS seg
        |  FROM v)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT seg[i] AS l, seg[i+1] AS r, sum(freq) AS w
         |  FROM s${i - 1}, (SELECT unnest(range(1, len(seg))) AS i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT l, r, w FROM p$i ORDER BY w DESC, l ASC, r ASC LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT token, freq,
         |    CASE WHEN coalesce(b.w, 0) >= 2 THEN
         |      list_reduce(list_transform(seg, x -> [x]),
         |        (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
         |                    THEN list_slice(acc, 1, len(acc)-1) || [b.l || b.r]
         |                    ELSE acc || x END)
         |    ELSE seg END AS seg
         |  FROM s${i - 1} LEFT JOIN b$i b ON true)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** #50b oracle: rank-ordered merge table (rank, left, right,
    * weight), ranks are the passing prefix of rounds. */
  def bpeTrainOracleSql: String = {
    val union = (1 to NumMerges)
      .map(i => s"SELECT $i AS rank, l, r, w FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${oracleCtes(NumMerges)},
       |ranked AS ($union)
       |SELECT CAST(rank AS INTEGER) AS rank, l AS "left", r AS "right",
       |  CAST(w AS BIGINT) AS weight
       |FROM ranked WHERE w >= 2""".stripMargin
  }

  /** #50c oracle: per-doc token counts under the learned merges —
    * every doc token is by construction in the trained vocab, so the
    * final segmentation joins back by token (the oracle-side analogue
    * of the kernel's plan-constant merge table). */
  def tokensBpeOracleSql: String =
    s"""WITH ${oracleCtes(NumMerges)},
       |dt AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
       |  FROM documents),
       |da AS (
       |  SELECT dt.doc_id, count(*) AS n_ws, sum(len(s.seg)) AS n_bpe
       |  FROM dt JOIN s$NumMerges s USING (token) GROUP BY dt.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(da.n_ws, 0) AS INTEGER) AS n_tokens_ws,
       |  CAST(coalesce(da.n_bpe, 0) AS INTEGER) AS n_symbols_bpe
       |FROM documents d LEFT JOIN da ON d.doc_id = da.doc_id""".stripMargin
}
