package graft

import graft.operators._
import graft.sources.{DbExchange, FileRoundTrips}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory
  * and §6 for the correctness protocol (identical column names +
  * portable md5/round formulas on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.tpchQ5(spark, "/root/testdata/sf0.001")

  /** The two corpus-derived constants an oracle may read
    * ([[graft.operators.Dedup.embPlanes]] and
    * [[graft.operators.Dedup.semK]], round 20): the
    * dedup_embedding_lsh mirror must band with the SAME w, and the
    * dedup_semdedup mirror must cluster with the SAME k, that the
    * Spark queries derived from the embeddings count — so Spark and
    * oracle move in lockstep at any scale (at every declared SF the
    * derived values are the historical 6 and 16). */
  final case class Derived(embPlanes: Int, semK: Int)

  /** One registered query: its builder over (session, sfDir) and its
    * DuckDB mirror — equivalent SQL over the same parquet tables with
    * identical column names. The mirror is a function, so only a
    * caller that asks for SQL text builds it. */
  final case class QueryDef(name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Derived => String)

  /** Builder of every registered query, by name. Each build first
    * installs graft on its session ([[graft.plans.GraftFunctions.install]],
    * idempotent), so a session graft did not build runs the same plans. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.iterator.map(q => q.name -> { (s: SparkSession, dir: String) =>
      graft.plans.GraftFunctions.install(s)
      q.build(s, dir)
    }).toMap

  /** DuckDB mirror of every registered query for the dir being
    * verified; the session/dir pair exists only to resolve
    * [[Derived]]. */
  def oracleSql(s: SparkSession, dir: String): Map[String, String] = {
    val d = Derived(Dedup.embPlanes(s, dir), Dedup.semK(s, dir))
    defs.iterator.map(q => q.name -> q.oracle(d)).toMap
  }

  // ---- oracle SQL builders (DuckDB dialect) -------------------------

  /** Shared CTE prefix for the MinHash-LSH pipeline (SURVEY §2.4 #41):
    * distinct 8-shingles → 4 salted md5 arrays → 16 minima over the
    * four independent 8-hex chunks of each md5 → 4 band signatures.
    * Mirrors Dedup.minhashSignature exactly. */
  private val lshCtes: String = {
    val hCols = (0 until Dedup.NumSalts)
      .map(a => s"list_transform(sh, x -> md5('$a|' || x)) AS h$a").mkString(", ")
    val mh = (0 until Dedup.NumHashes).map { j =>
      val salt = j / Dedup.ChunksPerMd5
      val off = (j % Dedup.ChunksPerMd5) * 8 + 1
      s"list_min(list_transform(h$salt, x -> substr(x, $off, 8)))"
    }.mkString("[", ", ", "]")
    val sig = (0 until Dedup.RowsPerBand)
      .map(r => s"mh[1 + b*${Dedup.RowsPerBand} + $r]").mkString(" || '|' || ")
    s"""sh AS (SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(1, length(text)-7)),
       |    i -> substr(text, i, 8))) AS sh FROM documents),
       |h AS (SELECT doc_id, $hCols FROM sh),
       |mh AS (SELECT doc_id, $mh AS mh FROM h),
       |bands AS (SELECT doc_id, b AS band, md5($sig) AS sig
       |  FROM mh, (SELECT unnest([0,1,2,3]) AS b))""".stripMargin
  }

  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** Count-min grid + point estimates — shared by the batch face and
    * the streaming fold (CMS linearity makes them identical). */
  private val cmsOracleSql: String =
    s"""WITH ev AS (SELECT user_id FROM events),
       |cells AS (SELECT user_id, r,
       |  CAST(concat('0x', substr(md5(
       |    'cms' || r || '|' || CAST(user_id AS VARCHAR)), 1, 2)) AS INTEGER) AS bucket
       |  FROM ev, (SELECT unnest([0,1,2,3]) AS r)),
       |sk AS (SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
       |exact AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY 1),
       |kb AS (SELECT DISTINCT user_id, r, bucket FROM cells),
       |est AS (SELECT kb.user_id, min(sk.cnt) AS n_est
       |  FROM kb JOIN sk ON sk.r = kb.r AND sk.bucket = kb.bucket GROUP BY 1)
       |SELECT e.user_id, e.n_exact, CAST(est.n_est AS BIGINT) AS n_est,
       | CAST(est.n_est - e.n_exact AS BIGINT) AS overshoot
       |FROM exact e JOIN est ON est.user_id = e.user_id""".stripMargin

  /** Re-lined corpus lines + corpus-wide line-hash df — mirrors
    * Curation.relined (fixed LineTokens-token lines; the synthetic
    * corpus has no '\n', see the relined scaladoc) and
    * Curation.lineHashes (0-based line_no over the full split,
    * empty lines excluded). Shared by both line-dedup oracles. */
  private val lineCtes: String = {
    val w = Curation.LineTokens
    s"""toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |lw AS (SELECT doc_id, list_transform(generate_series(1, len(t), $w),
       |    i -> array_to_string(t[i:i+${w - 1}], ' ')) AS ls
       |  FROM toks),
       |lg AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i,
       |    unnest(ls) AS line FROM lw),
       |ne AS (SELECT doc_id, i - 1 AS line_no, line, md5(line) AS h
       |  FROM lg WHERE length(line) > 0),
       |lf AS (SELECT h, count(*) AS df FROM ne GROUP BY h)""".stripMargin
  }

  /** Positional gram relation + per-doc covered-position sets —
    * mirrors Curation.posGrams (0-based window starts, within-doc
    * repeats keep all their positions) and Curation.coveredPositions
    * (union of all ≥2-occurrence windows). Shared by both span-dedup
    * oracles. */
  private val spanCtes: String = {
    val w = Curation.GramW
    s"""toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |ph AS (SELECT doc_id,
       |    unnest(generate_series(1, len(t) - ${w - 1})) - 1 AS pos,
       |    unnest(list_transform(generate_series(1, len(t) - ${w - 1}),
       |      i -> md5(array_to_string(t[i:i+${w - 1}], ' ')))) AS h
       |  FROM toks WHERE len(t) >= $w),
       |f AS (SELECT h, count(*) AS cnt FROM ph GROUP BY h),
       |cov AS (SELECT doc_id,
       |    list_sort(list_distinct(flatten(list(generate_series(pos, pos + ${w - 1}))))) AS cov
       |  FROM ph JOIN f USING (h) WHERE f.cnt >= 2 GROUP BY doc_id)""".stripMargin
  }

  /** Assignment CTE against a given centroid relation; mirrors
    * Similarity.scored (same cosine term order, same lowest-c_id
    * tie-break). Also emits the winning cosine as `cent_sim`
    * (dedup_semdedup's keep-priority key; ann_ivf ignores it). */
  private def ivfAssignSql(cents: String, filter: String, keep: Int): String = {
    val cos = s"""list_dot_product(e.emb, c.c_emb) /
       |          (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.c_emb, c.c_emb)))""".stripMargin
    s"""SELECT vec_id, emb, c_id AS cluster, cent_sim FROM (
       |    SELECT e.vec_id, e.emb, c.c_id, $cos AS cent_sim,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        $cos DESC,
       |        c.c_id) AS rn
       |    FROM e CROSS JOIN $cents c$filter)
       |  WHERE rn <= $keep""".stripMargin
  }

  /** Lloyd mean: exact DECIMAL(28,10) per-(cluster,dim) sum → double
    * — order-independent, identical to the Spark side term-for-term. */
  private def ivfMeansSql(from: String): String =
    s"""SELECT c_id, list(m ORDER BY d) AS c_emb FROM (
       |    SELECT cluster AS c_id, d, CAST(sum(CAST(emb[d] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
       |    FROM $from, (SELECT unnest(generate_series(1, 64)) AS d)
       |    GROUP BY cluster, d) GROUP BY c_id""".stripMargin

  /** PQ assignment CTE against a codebook relation: mirrors
    * Similarity.pqAssign term-for-term — the L2 argmin as
    * argmax(x·c − ½c·c) on `list_dot_product` doubles, (score DESC,
    * c_id) tie-break. */
  private def pqAssignSql(from: String, cents: String): String =
    s"""SELECT * FROM (
       |    SELECT es.vec_id, es.m, es.sub, c.c_id,
       |      list_dot_product(es.sub, c.c_emb) AS dot_sc,
       |      list_dot_product(c.c_emb, c.c_emb) AS css,
       |      row_number() OVER (PARTITION BY es.vec_id, es.m ORDER BY
       |        list_dot_product(es.sub, c.c_emb)
       |          - 0.5 * list_dot_product(c.c_emb, c.c_emb) DESC,
       |        c.c_id) AS rn
       |    FROM $from es JOIN $cents c ON es.m = c.m)
       |  WHERE rn = 1""".stripMargin

  /** PQ Lloyd mean per (subspace, centroid, dim): the exact
    * DECIMAL(28,10) accumulation contract, subvector width
    * [[Similarity.PqSubDim]]. */
  private def pqMeansSql(from: String): String =
    s"""SELECT m, c_id, list(mv ORDER BY d) AS c_emb FROM (
       |    SELECT m, c_id, d,
       |      CAST(sum(CAST(sub[d] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mv
       |    FROM $from, (SELECT unnest(generate_series(1, ${Similarity.PqSubDim})) AS d)
       |    GROUP BY m, c_id, d) GROUP BY m, c_id""".stripMargin

  /** Shared PQ codebook-train chain (melt → c0 → a0 → c1 → a1 → c2 →
    * final assignment `af` with per-row reconstruction error) — used
    * by both the coding oracle and the ADC serving oracle. */
  private def pqChainCtes: String = {
    val sd = Similarity.PqSubDim
    s"""pe AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |pes AS (SELECT vec_id, m, emb[(m*$sd+1):(m*$sd+$sd)] AS sub
       |  FROM pe, (VALUES (0), (1), (2), (3)) mm(m)),
       |pc0 AS (SELECT m, CAST(vec_id AS INTEGER) AS c_id, sub AS c_emb
       |  FROM pes WHERE vec_id < ${Similarity.PqK}),
       |pa0 AS (${pqAssignSql("pes", "pc0")}),
       |pc1 AS (${pqMeansSql("pa0")}),
       |pa1 AS (${pqAssignSql("pes", "pc1")}),
       |pc2 AS (${pqMeansSql("pa1")}),
       |paf AS (SELECT vec_id, m, c_id,
       |    list_dot_product(sub, sub) - 2.0 * dot_sc + css AS dist2
       |  FROM (${pqAssignSql("pes", "pc2")})),
       |codes AS (SELECT vec_id,
       |  max(CASE WHEN m = 0 THEN c_id END) AS code_0,
       |  max(CASE WHEN m = 1 THEN c_id END) AS code_1,
       |  max(CASE WHEN m = 2 THEN c_id END) AS code_2,
       |  max(CASE WHEN m = 3 THEN c_id END) AS code_3,
       |  round(max(CASE WHEN m = 0 THEN dist2 END)
       |      + max(CASE WHEN m = 1 THEN dist2 END)
       |      + max(CASE WHEN m = 2 THEN dist2 END)
       |      + max(CASE WHEN m = 3 THEN dist2 END), 6) AS distortion
       |FROM paf GROUP BY vec_id)""".stripMargin
  }

  /** Full product-quantization oracle: the shared chain's pivoted
    * codes + fixed-order distortion sum. */
  private def embeddingPqSql: String =
    s"""WITH $pqChainCtes
       |SELECT vec_id, code_0, code_1, code_2, code_3, distortion
       |FROM codes""".stripMargin

  /** ADC + exact-re-rank serving oracle: per-query distance table
    * against the retrained codebooks, four fixed-order lookups to an
    * ADC shortlist, exact L2 on the shortlist's vectors for the
    * final (l2, cand_id)-ranked top-k. */
  private def annPqAdcSql: String =
    s"""WITH $pqChainCtes,
       |dt AS (SELECT q.vec_id AS q_id, c.m, c.c_id,
       |    list_dot_product(q.sub, q.sub) - 2.0 * list_dot_product(q.sub, c.c_emb)
       |      + list_dot_product(c.c_emb, c.c_emb) AS d2
       |  FROM pes q JOIN pc2 c ON q.m = c.m WHERE q.vec_id < ${Similarity.NumQueries}),
       |cand AS (SELECT t0.q_id, co.vec_id AS cand_id,
       |    t0.d2 + t1.d2 + t2.d2 + t3.d2 AS adc
       |  FROM codes co
       |  JOIN dt t0 ON t0.m = 0 AND t0.c_id = co.code_0
       |  JOIN dt t1 ON t1.m = 1 AND t1.c_id = co.code_1 AND t1.q_id = t0.q_id
       |  JOIN dt t2 ON t2.m = 2 AND t2.c_id = co.code_2 AND t2.q_id = t0.q_id
       |  JOIN dt t3 ON t3.m = 3 AND t3.c_id = co.code_3 AND t3.q_id = t0.q_id
       |  WHERE t0.q_id <> co.vec_id),
       |short AS (SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rk_adc
       |    FROM cand) WHERE rk_adc <= ${Similarity.PqShortlist}),
       |rr AS (SELECT s.q_id, s.cand_id,
       |    list_dot_product(q.emb, q.emb) - 2.0 * list_dot_product(q.emb, v.emb)
       |      + list_dot_product(v.emb, v.emb) AS l2
       |  FROM short s
       |  JOIN pe v ON s.cand_id = v.vec_id
       |  JOIN pe q ON s.q_id = q.vec_id),
       |r AS (SELECT q_id, cand_id, l2,
       |  row_number() OVER (PARTITION BY q_id ORDER BY l2, cand_id) AS rk FROM rr)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, cand_id, round(l2, 6) AS l2_dist
       |FROM r WHERE rk <= ${Similarity.TopK}""".stripMargin

  /** Full IVF-PQ oracle: BOTH training chains — the cosine IVF
    * k-means (`e`..`c2`) and the L2 PQ codebooks (`pe`..`codes`) —
    * from the same parquet; coarse cluster pruning restricts the ADC
    * candidate pairs, then the shortlist + exact-re-rank tail of
    * [[annPqAdcSql]]. */
  private def annIvfPqSql: String =
    s"""WITH ${ivfIndexCtes(Similarity.NumCentroids)},
       |$pqChainCtes,
       |assigned AS (SELECT vec_id, cluster FROM (${ivfAssignSql("c2", "", 1)})),
       |probes AS (SELECT vec_id AS q_id, cluster FROM (
       |  ${ivfAssignSql("c2", s" WHERE e.vec_id < ${Similarity.NumQueries}", Similarity.NumProbes)})),
       |dt AS (SELECT q.vec_id AS q_id, c.m, c.c_id,
       |    list_dot_product(q.sub, q.sub) - 2.0 * list_dot_product(q.sub, c.c_emb)
       |      + list_dot_product(c.c_emb, c.c_emb) AS d2
       |  FROM pes q JOIN pc2 c ON q.m = c.m WHERE q.vec_id < ${Similarity.NumQueries}),
       |cand AS (SELECT t0.q_id, co.vec_id AS cand_id,
       |    t0.d2 + t1.d2 + t2.d2 + t3.d2 AS adc
       |  FROM codes co
       |  JOIN assigned av ON co.vec_id = av.vec_id
       |  JOIN probes pr ON pr.cluster = av.cluster
       |  JOIN dt t0 ON t0.m = 0 AND t0.c_id = co.code_0 AND t0.q_id = pr.q_id
       |  JOIN dt t1 ON t1.m = 1 AND t1.c_id = co.code_1 AND t1.q_id = t0.q_id
       |  JOIN dt t2 ON t2.m = 2 AND t2.c_id = co.code_2 AND t2.q_id = t0.q_id
       |  JOIN dt t3 ON t3.m = 3 AND t3.c_id = co.code_3 AND t3.q_id = t0.q_id
       |  WHERE t0.q_id <> co.vec_id),
       |short AS (SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rk_adc
       |    FROM cand) WHERE rk_adc <= ${Similarity.PqShortlist}),
       |rr AS (SELECT s.q_id, s.cand_id,
       |    list_dot_product(q.emb, q.emb) - 2.0 * list_dot_product(q.emb, v.emb)
       |      + list_dot_product(v.emb, v.emb) AS l2
       |  FROM short s
       |  JOIN pe v ON s.cand_id = v.vec_id
       |  JOIN pe q ON s.q_id = q.vec_id),
       |r AS (SELECT q_id, cand_id, l2,
       |  row_number() OVER (PARTITION BY q_id ORDER BY l2, cand_id) AS rk FROM rr)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, cand_id, round(l2, 6) AS l2_dist
       |FROM r WHERE rk <= ${Similarity.TopK}""".stripMargin

  /** The k-means index CTE chain (e → c0 → a0 → c1 → a1 → c2)
    * reproducing Similarity.lloydCentroids bit-for-bit for `k`
    * centroids. One SQL covers both Spark assignment paths (plan
    * literals below the ceiling, broadcast max_by above) — they are
    * spec-asserted equal, and the Lloyd means are the same exact
    * DECIMAL sums either way. */
  private def ivfIndexCtes(k: Int): String =
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < $k),
       |a0 AS (${ivfAssignSql("c0", "", 1)}),
       |c1 AS (${ivfMeansSql("a0")}),
       |a1 AS (${ivfAssignSql("c1", "", 1)}),
       |c2 AS (${ivfMeansSql("a1")})""".stripMargin

  /** Full IVF query oracle for `k` centroids / `nprobe` probed
    * clusters — shared by `ann_ivf` (bench k) and `ann_ivf_big`
    * (production-k broadcast path). */
  private def annIvfSql(k: Int, nprobe: Int): String =
    s"""WITH ${ivfIndexCtes(k)},
       |assigned AS (${ivfAssignSql("c2", "", 1)}),
       |q AS (
       |  SELECT vec_id AS q_id, emb AS q_emb, cluster FROM (
       |  ${ivfAssignSql("c2", s" WHERE e.vec_id < ${Similarity.NumQueries}", nprobe)})),
       |s AS (
       |  SELECT q.q_id, a.vec_id AS cand_id,
       |    list_dot_product(q.q_emb, a.emb) /
       |      (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(a.emb, a.emb))) AS cos
       |  FROM q JOIN assigned a ON q.cluster = a.cluster AND q.q_id <> a.vec_id),
       |r AS (SELECT q_id, cand_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk FROM s)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, cand_id, round(cos, 4) AS cos_sim
       |FROM r WHERE rk <= ${Similarity.TopK}""".stripMargin

  /** Exact-join contamination check — shared by `decontaminate` and
    * `decontaminate_bloom` (the bloom tier is a pure pre-prune). */
  private lazy val decontaminateSql =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - ${Curation.GramW - 1}),
       |    i -> md5(array_to_string(toks[i:i+${Curation.GramW - 1}], ' '))))) AS h
       |  FROM toks WHERE len(toks) >= ${Curation.GramW}),
       |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % ${Curation.BenchMod} = 0),
       |hits AS (SELECT doc_id, count(*) AS n FROM g JOIN bench USING (h)
       |  WHERE doc_id % ${Curation.BenchMod} <> 0 GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(t.n, 0) AS INTEGER) AS n_overlap_grams,
       | coalesce(t.n, 0) > 0 AS is_contaminated
       |FROM documents d LEFT JOIN hits t ON d.doc_id = t.doc_id
       |WHERE d.doc_id % ${Curation.BenchMod} <> 0""".stripMargin

  /** Bigram-LM scoring SQL (mirrors TextAnalysis.lmScore) — shared
    * by `text_lm_score` and, as a CTE, `text_quality_buckets`. */
  private lazy val lmScoreSql: String =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |tp AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS pos,
       |   unnest(t) AS tok FROM toks),
       |big AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
       |  FROM tp a JOIN tp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |uni AS (SELECT tok AS w1, CAST(count(*) AS BIGINT) AS c1 FROM tp GROUP BY tok),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY w1, w2),
       |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
       |sc AS (SELECT big.doc_id,
       |   -ln((bc.cb + 0.5) / (uni.c1 + 0.5 * voc.v)) AS nll
       |  FROM big JOIN bc USING (w1, w2) JOIN uni USING (w1), voc),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, sum(nll) AS snll
       |  FROM sc GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
       | CAST(coalesce(pd.nb, 0) AS BIGINT) AS n_bigrams,
       | round(pd.snll / pd.nb, 4) AS avg_nll
       |FROM toks t LEFT JOIN pd USING (doc_id)""".stripMargin

  private def occSql(textExpr: String, marker: String): String =
    s"CAST((length($textExpr) - length(replace($textExpr, '$marker', ''))) / ${marker.length} AS INTEGER)"

  private def langScoreSql(lang: String): String = {
    val markers = graft.functions.TextFunctions.langMarkers.toMap.apply(lang)
    markers.map(m => occSql("(' ' || lower(text) || ' ')", s" $m ")).mkString("(", " + ", ")")
  }

  /** LSH collision graph → connected components → per-doc cluster
    * label (min doc_id of the component), shared by the clusters and
    * keeper-selection oracles. Mirrors Dedup.clusters' min-label
    * propagation fixpoint via a recursive reachability CTE. */
  private val clusterCtes: String =
    s"""$lshCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |    UNION
       |    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a)
       |  SELECT src, dst FROM r),
       |labels AS (SELECT src AS doc_id, min(dst) AS cluster
       |  FROM reach GROUP BY src)""".stripMargin

  /** SQ8 coding CTEs (mirror Similarity.sq8Stats/sq8Coded): exact
    * per-dim float extrema → affine uint8 codes, identical
    * multiply/divide order and rounding to the Spark plan. Shared by
    * `embedding_sq8` and `ann_sq8`. */
  private lazy val sq8Ctes: String = {
    val d = Similarity.EmbDim
    val L = Similarity.Sq8Levels
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |xp AS (SELECT vec_id, unnest(generate_series(1, $d)) AS pos,
       |   unnest(emb) AS v FROM e),
       |st AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM
       |  (SELECT pos, min(v) AS lo, max(v) AS hi FROM xp GROUP BY pos)),
       |c AS (SELECT vec_id, emb, los, his,
       |   list_transform(generate_series(1, $d), i ->
       |     CASE WHEN his[i] = los[i] THEN 0
       |          ELSE CAST(round($L * (emb[i] - los[i]) / (his[i] - los[i])) AS BIGINT) END) AS codes
       |  FROM e, st)""".stripMargin
  }

  private val cosSql =
    "list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))"

  /** One sign-random-projection bit for global plane `p` — mirrors
    * VectorOps.planeCoef / VectorOps.srpBandSigs exactly (same
    * integer coefficient formula, same left-to-right double fold). */
  private def annBitSql(p: Int): String = {
    // CAST to BIGINT: plane index * 73856093 overflows DuckDB's INT32
    // from p = 30 up (Scala side is Long arithmetic already).
    val dot = s"list_sum(list_transform(generate_series(1, 64), i -> " +
      s"emb[i] * (CAST(((CAST($p AS BIGINT)*73856093 + (i-1)*19349663) % 1009) AS DOUBLE)/1009.0 - 0.5)))"
    s"CASE WHEN $dot >= 0.0 THEN '1' ELSE '0' END"
  }

  // Streaming funnel shares the batch step-chain oracle over the
  // capped replay window (Update sink collapsed by max step); the
  // RocksDB twin shares it verbatim (provider-independent output).
  // TTL attribution oracle: the batch last-touch carry with the SAME
  // 24 h event-time horizon the state function applies (epoch_us
  // matches its microsecond compare); shared verbatim by the RocksDB
  // twin (provider-independent output).
  private val streamingAttributionTtlOracle: String =
    s"""WITH t AS (SELECT user_id, ts, event_id, event_type, value,
       |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
       |    IGNORE NULLS) OVER w AS touch,
       |  last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
       |    IGNORE NULLS) OVER w AS touch_us
       |  FROM events
       |  WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT CASE WHEN touch IS NOT NULL AND
       |    epoch_us(ts) - touch_us <= ${graft.streaming.EventStreams.AttributionTtlMicros}
       |  THEN touch ELSE '(direct)' END AS channel,
       | count(*) AS n_conversions,
       | round(sum(value), 2) AS attributed_value
       |FROM t WHERE event_type = 'purchase'
       |GROUP BY 1""".stripMargin

  private val streamingFunnelOracle: String =
    s"""WITH ev AS (SELECT user_id, ts, event_type FROM events
       |  WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}),
       |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
       |  WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
       |  JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
       |  JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
       |SELECT '1_view' AS step, count(*) AS n_users FROM s1
       |UNION ALL SELECT '2_click' AS step, count(*) AS n_users FROM s2
       |UNION ALL SELECT '3_purchase' AS step, count(*) AS n_users FROM s3""".stripMargin

  /** One declaration per implemented operator from SURVEY.md §2. */
  val defs: Seq[QueryDef] = Seq(
    // §2.1 core MapReduce dataflow
    QueryDef("mr_map_project", Relational.mapProject, _ =>
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1.0 - l_discount) AS net_price,
        | upper(l_returnflag) AS flag
        |FROM lineitem WHERE l_quantity > 30""".stripMargin),
    QueryDef("mr_reduce_agg", Relational.reduceAgg, _ =>
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(avg(l_extendedprice), 2) AS avg_price,
        | round(min(l_discount), 2) AS min_disc,
        | round(max(l_tax), 2) AS max_tax
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("mr_total_order_sort", Relational.totalOrderSort, _ =>
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin),
    QueryDef("mr_secondary_sort", Relational.secondarySort, _ =>
      """SELECT l_orderkey,
        | arg_min(l_linenumber, epoch_ms(l_shipdate)*10 + l_linenumber) AS first_line,
        | arg_max(l_linenumber, epoch_ms(l_shipdate)*10 + l_linenumber) AS last_line,
        | count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey""".stripMargin),
    QueryDef("mr_secondary_sort_full", Relational.secondarySortFull, _ =>
      """SELECT l_orderkey,
        | string_agg(CAST(l_linenumber AS VARCHAR), ','
        |   ORDER BY epoch_ms(l_shipdate)*10 + l_linenumber) AS lines_in_order,
        | count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey""".stripMargin),
    QueryDef("join_range", Relational.joinRange, _ =>
      """SELECT o_orderpriority, count(*) AS n_fast_lines,
        | round(sum(l_extendedprice), 2) AS fast_revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("join_asof", Relational.joinAsof, _ =>
      """SELECT event_id, user_id, event_type,
        | max(CASE WHEN event_type = 'signup' THEN ts END) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_ts
        |FROM events""".stripMargin),
    // Full n² truth in SQL — the blocked deletion-neighborhood plan
    // must miss NOTHING vs brute force (supplier is dim-sized, so the
    // oracle can afford what the Spark plan correctly avoids).
    QueryDef("join_editdist", Relational.joinEditDistance, _ =>
      """SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
        | CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin),
    // UNBANDED inequality join (DuckDB IEJoin affords what the Spark
    // plan correctly bands) — the time-bucket blocking must miss no
    // overlapping pair.
    QueryDef("join_interval_overlap", Relational.joinIntervalOverlap, _ =>
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |l AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |  THEN 1 ELSE 0 END AS ns
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
        |sess AS (SELECT user_id, sid, min(ts) AS s,
        |  max(ts) + INTERVAL 30 MINUTE AS e FROM g GROUP BY 1, 2),
        |pairs AS (SELECT greatest(a.s, b.s) AS os
        |  FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
        |SELECT date_trunc('hour', os) AS overlap_hour, count(*) AS n_pairs
        |FROM pairs GROUP BY 1""".stripMargin),
    // Same two-window rewrite in SQL: prior = inclusive running max,
    // next = inclusive backward min, nearest by exact micro distance
    // with ties to prior.
    QueryDef("join_nearest", Relational.joinNearest, _ =>
      """WITH w AS (SELECT event_id, user_id, event_type, ts,
        |  max(CASE WHEN event_type = 'signup' THEN ts END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_ts,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
        |  FROM events)
        |SELECT event_id, user_id, event_type,
        | epoch_ms(CASE
        |   WHEN prior_ts IS NULL THEN next_ts
        |   WHEN next_ts IS NULL THEN prior_ts
        |   WHEN epoch_us(ts) - epoch_us(prior_ts) <= epoch_us(next_ts) - epoch_us(ts)
        |     THEN prior_ts
        |   ELSE next_ts END) AS nearest_signup_ms
        |FROM w""".stripMargin),
    QueryDef("join_inner", Relational.joinInner, _ =>
      """SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),
    QueryDef("join_outer", Relational.joinOuter, _ =>
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin),
    QueryDef("join_override", Relational.joinOverride, _ =>
      """SELECT c_custkey, round(coalesce(order_total, c_acctbal), 2) AS effective_total
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS order_total
        |  FROM orders GROUP BY o_custkey) t ON c_custkey = o_custkey""".stripMargin),
    QueryDef("join_broadcast", Relational.joinBroadcast, _ =>
      """SELECT p_brand, s_name, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS brand_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_name""".stripMargin),
    // The bloom pre-filter only drops rows the exact join would drop
    // anyway — the oracle is the PLAIN selective join.
    QueryDef("join_bloom", Relational.joinBloom, _ =>
      """SELECT l_returnflag, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |   AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin),
    QueryDef("join_semi", Relational.joinSemi, _ =>
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    QueryDef("join_anti", Relational.joinAnti, _ =>
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),
    QueryDef("chain_pipeline", Relational.chainPipeline, _ =>
      """SELECT ship_month, round(month_net / 1000.0, 2) AS month_net_k FROM (
        |  SELECT date_trunc('month', l_shipdate) AS ship_month,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS month_net
        |  FROM lineitem WHERE l_discount > 0.02 GROUP BY 1)""".stripMargin),
    QueryDef("field_selection", Relational.fieldSelection, _ =>
      """SELECT split_part(value, ':', 2) AS segment_field,
        | split_part(value, ':', 3) AS key_field
        |FROM (SELECT concat_ws(':', c_name, c_mktsegment, c_custkey) AS value FROM customer)""".stripMargin),
    QueryDef("key_field_partition", Relational.keyFieldPartition, _ =>
      s"""WITH p AS (
         |  SELECT split_part(value, '|', 1) AS name_field,
         |    split_part(value, '|', 2) AS key_field,
         |    CAST(split_part(value, '|', 3) AS BIGINT) AS sort_key
         |  FROM (SELECT concat_ws('|', c_name, c_mktsegment, c_custkey) AS value FROM customer)),
         |b AS (SELECT *,
         |  CAST(CAST(concat('0x', substr(md5(key_field), 1, 4)) AS INTEGER)
         |    % ${Relational.KeyFieldParts} AS INTEGER) AS part_id
         | FROM p)
         |SELECT part_id, key_field, name_field, sort_key,
         | CAST(row_number() OVER (PARTITION BY part_id ORDER BY sort_key) AS INTEGER) AS pos_in_part
         |FROM b""".stripMargin),
    QueryDef("sampling_stratified", Relational.samplingStratified, _ =>
      """SELECT l_returnflag, count(*) AS n_sampled,
        | round(sum(l_quantity), 2) AS sampled_qty
        |FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY l_returnflag""".stripMargin),
    QueryDef("multiple_inputs_union", Relational.multipleInputsUnion, _ =>
      """SELECT 'customer' AS kind, c_name AS name, round(c_acctbal, 2) AS balance FROM customer
        |UNION ALL
        |SELECT 'supplier' AS kind, s_name AS name, round(s_acctbal, 2) AS balance FROM supplier""".stripMargin),
    QueryDef("kv_text_parse", Relational.kvTextParse, _ =>
      """SELECT event_id,
        | CAST(regexp_extract(kv, 'user=([0-9]+)', 1) AS BIGINT) AS user_field,
        | regexp_extract(kv, 'type=([a-z_]+)', 1) AS type_field
        |FROM (SELECT event_id, concat('user=', user_id, '&type=', event_type) AS kv FROM events)""".stripMargin),
    QueryDef("counters_observe", Relational.countersObserve, _ =>
      """SELECT count(*) AS n_total,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
        | round(sum(value), 2) AS sum_value
        |FROM events""".stripMargin),
    QueryDef("agg_value_sum", Aggregators.valueSum, _ =>
      """SELECT l_returnflag,
        | CAST(sum(l_linenumber) AS BIGINT) AS long_sum,
        | round(sum(l_quantity), 2) AS double_sum,
        | round(min(l_extendedprice), 2) AS value_min,
        | round(max(l_extendedprice), 2) AS value_max
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("agg_uniq", Aggregators.uniqCount, _ =>
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS uniq_parts,
        | count(DISTINCT l_suppkey) AS uniq_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // HLL scale twin of agg_uniq (DuckDB's HLL is a different
    // implementation; the 5% tolerance is an in-plan boolean).
    // The HLL estimate itself can't cross engines; what the driver
    // adjudicates is the exact tier plus the in-plan tolerance
    // booleans — TRUE here means "Spark's estimate was within 5% of
    // exact", so estimator drift now fails the hash check.
    QueryDef("agg_uniq_approx", Aggregators.uniqCountApproxChecked, _ =>
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS uniq_parts,
        | count(DISTINCT l_suppkey) AS uniq_supps,
        | count(*) AS n_rows,
        | TRUE AS parts_within_tol,
        | TRUE AS supps_within_tol
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("agg_histogram", Aggregators.histogram, _ =>
      """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        | count(*) AS n_in_bucket, round(sum(value), 2) AS bucket_sum
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryDef("agg_from_spec", Aggregators.aggFromSpec, _ =>
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_l_quantity,
        | round(min(l_extendedprice), 2) AS min_l_extendedprice,
        | round(max(l_extendedprice), 2) AS max_l_extendedprice,
        | count(DISTINCT l_partkey) AS uniq_l_partkey
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // Incremental merge of stored + batch partials must equal the
    // full recompute — the oracle IS the full recompute.
    QueryDef("agg_incremental", Aggregators.aggIncremental, _ =>
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_quantity) / count(*), 4) AS avg_qty,
        | round(max(l_quantity), 2) AS max_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // One profile row per column; non-numeric columns carry NULL
    // min/max. Mirrors the one-pass wide agg as a UNION of six
    // single-column profiles.
    QueryDef("profile_table", Aggregators.profileTable, _ => {
      val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
      Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority").map { c =>
        val mn = if (numeric(c)) s"round(CAST(min($c) AS DOUBLE), 2)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric(c)) s"round(CAST(max($c) AS DOUBLE), 2)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | $mn AS min_num, $mx AS max_num
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")
    }),
    // Six constraints, each a violation count the engines total
    // independently; unique(o_custkey) FAILS by design (repeat
    // buyers) so both verdict branches are hash-checked.
    QueryDef("dq_check", DataQuality.dqCheck, _ =>
      """WITH v AS (
        |  SELECT 'not_null(o_custkey)' AS constraint_name,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_custkey)',
        |    CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'range(o_totalprice>0)',
        |    CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'in_set(o_orderstatus)',
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'ref(o_custkey->customer)',
        |    CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS (
        |      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT))
        |SELECT constraint_name, violations, violations = 0 AS passed FROM v""".stripMargin),
    // PSI drift: fixed-width buckets, integer-ms midpoint split,
    // add-1-smoothed shares, DECIMAL(28,12) term sums, round 6.
    QueryDef("dq_drift", DataQuality.dqDrift, _ => DataQuality.dqDriftOracleSql),
    QueryDef("streaming_pipe_stub", Aggregators.streamingPipe, _ =>
      s"""SELECT doc_id,
         | CAST(len($tokensSql) AS INTEGER) AS piped_tokens
         |FROM documents""".stripMargin),
    // Same oracle as the stub: the real /bin/cat round-trip must be
    // byte-transparent, so token counts over the piped-back text
    // equal token counts over the source text.
    QueryDef("streaming_pipe_real", Pipe.streamingPipeReal, _ =>
      s"""SELECT doc_id,
         | CAST(len($tokensSql) AS INTEGER) AS piped_tokens
         |FROM documents""".stripMargin),
    // Structured Streaming plans run to quiescence (memory sink) and
    // settle to exactly the batch answer, so both are fully
    // oracle-checked despite being real streams. Both the windowed
    // agg AND the dedup stream ingest a DISTRIBUTED readStream file
    // source (no driver-side collect anywhere on either input path;
    // ≥2 real micro-batches). Multi-batch Append-mode dedup is
    // batch-equal here because the capped doc window's time spread
    // (ReplayCap · 1 s) sits far inside the 1 h watermark horizon —
    // no twin can arrive > horizon after its first copy, so state
    // eviction can never re-emit a duplicate; an unbounded feed keeps
    // horizon semantics and is deliberately not batch-equal.
    // The streaming replay settles to exactly the batch aggregation
    // (single micro-batch, nothing beyond the watermark) — same
    // oracle as events_windowed.
    QueryDef("streaming_windowed", EventStreams.windowedCountsFileStream, _ =>
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // AvailableNow is pure deployment config: same plan, same state
    // semantics, same settled result — same oracle.
    QueryDef("streaming_available_now", EventStreams.windowedCountsAvailableNow, _ =>
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // Sliding face: one-batch replay settles to the batch sliding agg.
    // The distributed file-source stream (time-ordered ⇒ nothing
    // late) settles to exactly the batch sliding aggregation — same
    // oracle as events_sliding.
    QueryDef("streaming_sliding", EventStreams.slidingCountsFileStream, _ =>
      """SELECT window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT unnest([
        |      make_timestamp((epoch_ms(ts) // 1800000 * 1800000) * 1000),
        |      make_timestamp((epoch_ms(ts) // 1800000 * 1800000 - 1800000) * 1000)
        |    ]) AS window_start, event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin),
    // Append mode is deterministic here because the file copy is
    // range-partitioned on ts (files ingest oldest-first, so nothing
    // is ever late): the settled sink is exactly the windows the
    // final watermark closes — emit-once, horizon-bounded state, the
    // production output path, oracle-stated in one WHERE clause.
    // Append emits exactly the windows whose end the final watermark
    // (max ts - 2h) passes; the open tail stays in state. No event is
    // late (time-ordered ingest), so counts are complete.
    QueryDef("streaming_windowed_append", EventStreams.windowedCountsAppendFileStream, _ =>
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        | FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n_events, sum_value
        |FROM h, mx
        |WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR""".stripMargin),
    // Real-sink face: the same Complete-mode agg published to parquet
    // via foreachBatch overwrite (idempotent latest-rollup sink); the
    // query returns the downstream read of the published files.
    // The published parquet after quiescence is the settled Complete
    // state — the same relation the memory-sink face settles to.
    QueryDef("streaming_sink_parquet", EventStreams.windowedCountsParquetSink, _ =>
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // Publish-by-pointer face: each micro-batch lands as an immutable
    // snapshot of a #15e versioned table and goes live via the atomic
    // _CURRENT swap — reader-isolated, idempotent, monotone.
    // The current snapshot after quiescence is the last batch's
    // Complete state = the full aggregation; snapshot/pointer
    // mechanics are spec-asserted, the content is hash-checked here.
    QueryDef("streaming_sink_versioned", EventStreams.windowedCountsVersionedSink, _ =>
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // Native session_window aggregation in Append mode — per-session
    // records, horizon-bounded state, emit-once; time-ordered ingest
    // makes the emitted set exactly the sessions the final watermark
    // closes (one WHERE clause in the oracle).
    // Gaps-and-islands at SESSION granularity. Spark session_window
    // merge is INCLUSIVE at the gap (events exactly 30:00 apart stay
    // in one session — spec-pinned), so a new session needs gap >
    // 30 min, the same rule as the batch sessionize query; emitted =
    // sessions whose end (last ts + gap) the final watermark
    // (max ts - 2h) passes.
    QueryDef("streaming_session_windows", EventStreams.sessionWindowsFileStream, _ =>
      """WITH o AS (SELECT user_id, ts, event_id,
        |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |   CASE WHEN prev IS NULL
        |     OR epoch_ms(ts) - epoch_ms(prev) > 1800000 THEN 1 ELSE 0 END AS nf
        |  FROM o),
        |s AS (SELECT user_id, ts,
        |   sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |g AS (SELECT user_id, sid, min(ts) AS session_start,
        |   max(ts) AS last_ts, count(*) AS n_events
        |  FROM s GROUP BY user_id, sid),
        |mx AS (SELECT max(ts) AS m FROM events)
        |SELECT user_id, epoch_ms(session_start) AS session_start_ms, n_events
        |FROM g, mx
        |WHERE last_ts + INTERVAL 30 MINUTE <= m - INTERVAL 2 HOUR""".stripMargin),
    // dropDuplicatesWithinWatermark keeps one row per md5(text), so
    // both summary counts equal count(DISTINCT text) over the same
    // bounded replay window (see EventStreams.ReplayCap).
    QueryDef("streaming_dedup", EventStreams.dedupExactStreamReplay, _ =>
      s"""SELECT count(DISTINCT text) AS n_unique_docs,
         | count(DISTINCT text) AS n_distinct_texts
         |FROM documents WHERE doc_id < ${graft.streaming.EventStreams.ReplayCap}""".stripMargin),
    // Time-ordered ingest ⇒ first arrival of each hash is its
    // min-doc_id keeper, under any micro-batch split (see
    // EventStreams.ingestIndexStreamReplay) — the settled persisted
    // index is plain GROUP BY, fully hash-checkable.
    QueryDef("streaming_ingest_index", EventStreams.ingestIndexStreamReplay, _ =>
      s"""SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS dup_of
         |FROM documents WHERE doc_id < ${graft.streaming.EventStreams.ReplayCap}
         |GROUP BY md5(text)""".stripMargin),
    // Near-dup twin: the settled band index is the same plain GROUP
    // BY argument over the LSH bucketing relation.
    QueryDef("streaming_ingest_index_near", EventStreams.ingestBandIndexStreamReplay, _ =>
      s"""WITH $lshCtes
         |SELECT CAST(band AS INTEGER) AS band, sig,
         | CAST(min(doc_id) AS BIGINT) AS near_of
         |FROM bands WHERE doc_id < ${graft.streaming.EventStreams.ReplayCap}
         |GROUP BY band, sig""".stripMargin),
    // Same plan on the RocksDB state store (the deployment tier for
    // state ≫ heap — billions of dedup hashes on local SSD); output
    // is provider-independent, so the oracle is streaming_dedup's.
    // Provider-independent output: the RocksDB-backed run answers the
    // identical workload, so it shares streaming_dedup's oracle.
    QueryDef("streaming_dedup_rocksdb", EventStreams.dedupExactStreamReplayRocksDb, _ =>
      s"""SELECT count(DISTINCT text) AS n_unique_docs,
         | count(DISTINCT text) AS n_distinct_texts
         |FROM documents WHERE doc_id < ${graft.streaming.EventStreams.ReplayCap}""".stripMargin),
    // The flatMapGroupsWithState sessionizer across TWO micro-batches
    // (time-ordered split; cross-batch sessions exercise real state),
    // settled Update-mode history collapsed to latest-per-user —
    // equals the batch gaps-and-islands SQL over the capped window.
    // The settled two-micro-batch flatMapGroupsWithState state equals
    // the batch gaps-and-islands query over the same capped window —
    // events_sessionize's SQL with the replay-cap predicate.
    QueryDef("streaming_sessionize", EventStreams.sessionizeStreamReplay, _ =>
      s"""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
         |FROM (
         |  SELECT user_id,
         |    CASE WHEN prev_ts IS NULL
         |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
         |  FROM (
         |    SELECT user_id, ts,
         |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |    FROM events WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}))
         |GROUP BY user_id""".stripMargin),
    // The same session fold on Spark 4's transformWithState
    // (StatefulProcessor + typed ValueState, RocksDB-mandated) —
    // the modern arbitrary-state API on the driver-checked path.
    // transformWithState face: one fold, two state APIs — same oracle.
    QueryDef("streaming_sessionize_tws", EventStreams.sessionizeTwsStreamReplay, _ =>
      s"""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
         |FROM (
         |  SELECT user_id,
         |    CASE WHEN prev_ts IS NULL
         |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
         |  FROM (
         |    SELECT user_id, ts,
         |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |    FROM events WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}))
         |GROUP BY user_id""".stripMargin),
    // Last-touch attribution carry in fMGWS state (one string per
    // user), Append emit-once per purchase across TWO time-ordered
    // micro-batches ⇒ settled sink == the batch window face.
    // The streaming carry shares the batch attribution semantics over
    // the capped replay window (Append emit-once per purchase).
    QueryDef("streaming_attribution", EventStreams.attributionStreamReplay, _ =>
      s"""WITH t AS (SELECT user_id, ts, event_id, event_type, value,
         |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
         |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM events
         |  WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap})
         |SELECT coalesce(touch, '(direct)') AS channel,
         | count(*) AS n_conversions,
         | round(sum(value), 2) AS attributed_value
         |FROM t WHERE event_type = 'purchase'
         |GROUP BY 1""".stripMargin),
    // TTL face: same carry, EventTimeTimeout state eviction bounded
    // by the 24 h horizon the credit check itself enforces.
    // TTL face: the oracle applies the SAME 24 h event-time horizon
    // the state function applies (touch credited only within
    // AttributionTtlMicros), so the hash check stays exact on any
    // corpus, including one where the TTL bites.
    QueryDef("streaming_attribution_ttl", EventStreams.attributionTtlStreamReplay,
      _ => streamingAttributionTtlOracle),
    // Production config: TTL bounds the key population, RocksDB
    // moves it off-heap — the two knobs compose.
    QueryDef("streaming_attribution_ttl_rocksdb", EventStreams.attributionTtlStreamReplayRocksDb,
      _ => streamingAttributionTtlOracle),
    // Streaming funnel shares the batch step-chain oracle over the
    // capped replay window (Update sink collapsed by max step).
    QueryDef("streaming_funnel", EventStreams.funnelStreamReplay, _ => streamingFunnelOracle),
    // Provider-independent output: the RocksDB-backed funnel answers
    // the identical workload (the streaming_dedup_rocksdb contract).
    QueryDef("streaming_funnel_rocksdb", EventStreams.funnelStreamReplayRocksDb,
      _ => streamingFunnelOracle),
    // Conversion-window funnel (attempt-scoped, TTL-evictable): the
    // streaming face of events_funnel_conv over the capped replay.
    QueryDef("streaming_funnel_conv", EventStreams.funnelConvStreamReplay, _ =>
      graft.streaming.EventStreams.convFunnelOracleSql(
        s"WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}")),
    // TTL eviction composed with the RocksDB store — the deployment
    // configuration (the attribution_ttl_rocksdb contract).
    QueryDef("streaming_funnel_conv_rocksdb", EventStreams.funnelConvStreamReplayRocksDb, _ =>
      graft.streaming.EventStreams.convFunnelOracleSql(
        s"WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}")),
    // The same operator on transformWithState with explicit
    // event-time TIMERS (register/delete/handleExpiredTimer) — the
    // Spark-4 state API's eviction surface, tws ≡ fMGWS ≡ batch.
    QueryDef("streaming_funnel_conv_tws", EventStreams.funnelConvTwsStreamReplay, _ =>
      graft.streaming.EventStreams.convFunnelOracleSql(
        s"WHERE event_id < ${graft.streaming.EventStreams.EventReplayCap}")),
    // Stream-stream interval join (view→click attribution): both
    // sides watermarked, event-time-bounded condition, Append mode;
    // single-batch replay per side ⇒ settled sink == batch join.
    // The settled stream-stream join equals the batch interval join
    // over the same capped window (both replay sides are complete in
    // their first micro-batch, so no match can be missed or doubled).
    QueryDef("streaming_join", EventStreams.attributionJoinReplay, _ => {
      val cap = graft.streaming.EventStreams.EventReplayCap
      val hrs = graft.streaming.EventStreams.AttributionHours
      s"""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
         | CAST((epoch_ms(c.ts) - epoch_ms(v.ts)) // 60000 AS BIGINT) AS lag_minutes
         |FROM events v JOIN events c ON v.user_id = c.user_id
         | AND v.event_type = 'view' AND c.event_type = 'click'
         | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL $hrs HOUR
         |WHERE v.event_id < $cap AND c.event_id < $cap""".stripMargin
    }),
    // Outer face: matches emit as in the inner oracle; an unmatched
    // view emits null-padded ONLY once evictable — view_ts + horizon
    // strictly before the global watermark (min of both sides' max ts
    // minus the delay). Later views stay in state, no row.
    QueryDef("streaming_join_outer", EventStreams.attributionJoinOuterReplay, _ => {
      val cap = graft.streaming.EventStreams.EventReplayCap
      val hrs = graft.streaming.EventStreams.AttributionHours
      s"""WITH v AS (SELECT event_id, ts, user_id FROM events
         |  WHERE event_type = 'view' AND event_id < $cap),
         |c AS (SELECT event_id, ts, user_id FROM events
         |  WHERE event_type = 'click' AND event_id < $cap),
         |wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
         |  - INTERVAL $hrs HOUR AS w),
         |m AS (SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
         |  CAST((epoch_ms(c.ts) - epoch_ms(v.ts)) // 60000 AS BIGINT) AS lag_minutes
         | FROM v JOIN c ON v.user_id = c.user_id
         |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL $hrs HOUR),
         |um AS (SELECT v.user_id, v.event_id AS view_id,
         |  CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS lag_minutes
         | FROM v, wm
         | WHERE v.ts + INTERVAL $hrs HOUR < wm.w
         |  AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = v.user_id
         |   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL $hrs HOUR))
         |SELECT user_id, view_id, click_id, lag_minutes FROM m
         |UNION ALL SELECT user_id, view_id, click_id, lag_minutes FROM um""".stripMargin
    }),
    // Stream-static enrichment: per-batch broadcast dim join (stateless),
    // settled Complete state == batch join+rollup over the capped window.
    QueryDef("streaming_static_join", EventStreams.enrichedNationRollupReplay, _ => {
      val cap = graft.streaming.EventStreams.EventReplayCap
      s"""SELECT n_name, event_type, count(*) AS n_events,
         | round(sum(value), 2) AS sum_value
         |FROM events
         |JOIN customer ON user_id = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE event_id < $cap
         |GROUP BY 1, 2""".stripMargin
    }),
    QueryDef("sketch_kmv", Aggregators.sketchKmv, _ =>
      """WITH h AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
        |k AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
        |kth AS (SELECT h AS kth_hash FROM k
        |  WHERE rn = LEAST(64, (SELECT count(*) FROM h)))
        |SELECT
        | CAST(LEAST(64, (SELECT count(*) FROM h)) AS INTEGER) AS n_kept,
        | kth_hash,
        | round(63.0 / (CAST(concat('0x', substr(kth_hash, 1, 15)) AS BIGINT)
        |   / 1152921504606846976.0), 4) AS distinct_estimate
        |FROM kth""".stripMargin),
    // Mergeable-summaries law: per-source k-min sketches + the global
    // sketch built from the kept sets only — both recomputed from
    // scratch here, so a lossy merge fails the hash. Estimate formula
    // identical to sketch_kmv's proven form.
    QueryDef("sketch_kmv_merge", Aggregators.sketchKmvMerge, _ =>
      s"""WITH h AS (SELECT DISTINCT source, md5(text) AS h FROM documents),
         |kept AS (SELECT source, h FROM (
         |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM h) WHERE rn <= ${Aggregators.KmvMergeK}),
         |per_src AS (SELECT source AS scope, CAST(count(*) AS INTEGER) AS n_kept,
         |  max(h) AS kth_hash FROM kept GROUP BY 1),
         |mg AS (SELECT h FROM (
         |  SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT h FROM kept)) WHERE rn <= ${Aggregators.KmvMergeK}),
         |merged AS (SELECT 'ALL' AS scope, CAST(count(*) AS INTEGER) AS n_kept,
         |  max(h) AS kth_hash FROM mg),
         |u AS (SELECT * FROM per_src UNION ALL SELECT * FROM merged)
         |SELECT scope, n_kept, kth_hash,
         | round(CASE WHEN n_kept < ${Aggregators.KmvMergeK} THEN CAST(n_kept AS DOUBLE)
         |   ELSE ${Aggregators.KmvMergeK - 1}.0 / (CAST(concat('0x', substr(kth_hash, 1, 15)) AS BIGINT)
         |     / 1152921504606846976.0) END, 4) AS distinct_estimate
         |FROM u""".stripMargin),
    // Count-min sketch: deterministic md5 bucket hashes make every
    // estimate exactly reproducible cross-engine; overshoot witnesses
    // the one-sided error law est >= exact per key.
    QueryDef("sketch_cms", Aggregators.sketchCms, _ => cmsOracleSql),
    // KMV set algebra (audience overlap): union sketch per event-type
    // pair, theta threshold, J = shared-kept/|U|; md5-deterministic
    // so estimates hash-check; exact audience intersection rides
    // along as the verification column.
    QueryDef("sketch_kmv_intersect", Aggregators.sketchKmvIntersect, _ =>
      s"""WITH h AS (SELECT DISTINCT event_type AS source,
         |  md5(CAST(user_id AS VARCHAR)) AS h FROM events),
         |kept AS (SELECT source, h FROM (
         |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM h) WHERE rn <= ${Aggregators.KmvMergeK}),
         |srcs AS (SELECT DISTINCT source FROM kept),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |bo AS (SELECT DISTINCT p.source_a, p.source_b, kk.h
         |  FROM pairs p JOIN kept kk
         |  ON kk.source = p.source_a OR kk.source = p.source_b),
         |u AS (SELECT source_a, source_b, h FROM (
         |  SELECT source_a, source_b, h,
         |    row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
         |  FROM bo) WHERE rn <= ${Aggregators.KmvMergeK}),
         |th AS (SELECT source_a, source_b, CAST(count(*) AS INTEGER) AS n_u,
         |  max(h) AS theta FROM u GROUP BY 1, 2),
         |ik AS (SELECT u.source_a, u.source_b,
         |  CAST(count(*) AS INTEGER) AS n_inter_kept FROM u
         |  WHERE EXISTS (SELECT 1 FROM kept ka
         |    WHERE ka.source = u.source_a AND ka.h = u.h)
         |   AND EXISTS (SELECT 1 FROM kept kb
         |    WHERE kb.source = u.source_b AND kb.h = u.h)
         |  GROUP BY 1, 2),
         |ex AS (SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_exact_inter
         |  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
         |SELECT th.source_a, th.source_b, th.n_u,
         | coalesce(ik.n_inter_kept, 0) AS n_inter_kept,
         | coalesce(ex.n_exact_inter, 0) AS n_exact_inter,
         | round(CAST(coalesce(ik.n_inter_kept, 0) AS DOUBLE) / th.n_u, 4)
         |   AS jaccard_est,
         | round(CAST(coalesce(ik.n_inter_kept, 0) AS DOUBLE) / th.n_u *
         |   CASE WHEN th.n_u < ${Aggregators.KmvMergeK} THEN CAST(th.n_u AS DOUBLE)
         |     ELSE ${Aggregators.KmvMergeK - 1}.0 /
         |       (CAST(concat('0x', substr(theta, 1, 15)) AS BIGINT)
         |         / 1152921504606846976.0) END, 4) AS inter_est
         |FROM th LEFT JOIN ik
         |  ON ik.source_a = th.source_a AND ik.source_b = th.source_b
         |LEFT JOIN ex
         |  ON ex.source_a = th.source_a AND ex.source_b = th.source_b""".stripMargin),
    // CMS linearity: the settled multi-batch grid equals the one-shot
    // batch grid cell-wise, so the streaming face shares the batch
    // oracle verbatim.
    QueryDef("streaming_sketch_cms", EventStreams.sketchCmsStreamReplay, _ => cmsOracleSql),
    // OPTIMIZE must not change content: both versions' rollups are
    // stated identically from the base table.
    QueryDef("versioned_optimize", FileRoundTrips.versionedOptimize, _ =>
      """SELECT 2 AS version, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT 1, count(*), CAST(sum(length(text)) AS BIGINT)
        |FROM documents""".stripMargin),
    // Only the en partition was reloaded (+1 char/doc); every other
    // language must sit at its original values — a static-mode wipe
    // or a non-replaced partition both fail this.
    QueryDef("dynamic_partition_overwrite", FileRoundTrips.dynamicPartitionOverwrite, _ =>
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(length(text) + CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin),
    // Two-pass heavy hitters: the MG candidate sketch is a superset
    // of the true φ-heavy set and the confirm pass trims it exactly,
    // so the oracle is the plain exact definition — integer-arithmetic
    // threshold, no division.
    QueryDef("heavy_hitters", Aggregators.heavyHitterWords, _ =>
      s"""WITH w AS (SELECT unnest($tokensSql) AS word FROM documents),
         |t AS (SELECT count(*) AS n_total FROM w)
         |SELECT word, count(*) AS n FROM w, t
         |GROUP BY word, t.n_total
         |HAVING count(*) * ${Aggregators.HhPhiDenom} > t.n_total""".stripMargin),
    // Streaming face of heavy_hitters: the MG sketch maintained
    // incrementally across two real micro-batches (Complete-mode
    // global agg state), then the batch exact confirm — MG's
    // superset-under-any-merge guarantee makes the confirmed result
    // equal the batch answer, so the stream is fully oracle-checked.
    // Same algorithm over the capped replay window — the streaming
    // sketch's exact-confirm output provably equals the batch answer.
    QueryDef("streaming_heavy_hitters", EventStreams.heavyHittersStreamReplay, _ =>
      s"""WITH w AS (SELECT unnest($tokensSql) AS word FROM documents
         |           WHERE doc_id < ${graft.streaming.EventStreams.ReplayCap}),
         |t AS (SELECT count(*) AS n_total FROM w)
         |SELECT word, count(*) AS n FROM w, t
         |GROUP BY word, t.n_total
         |HAVING count(*) * ${Aggregators.HhPhiDenom} > t.n_total""".stripMargin),
    QueryDef("quantile_report", Aggregators.quantileReport, _ =>
      """SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
        | count(*) AS n_orders
        |FROM orders""".stripMargin),
    // Per-group exact percentiles over 2-decimal values — the same
    // quantile_cont interpolation parity as the global report.
    QueryDef("quantile_by_group", Aggregators.quantileByGroup, _ =>
      """SELECT event_type, count(*) AS n_events,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY 1""".stripMargin),
    // Grouped GK vs t-digest can't hash-match either; same contract —
    // exact per-group percentiles + in-plan ≤1% booleans.
    QueryDef("quantile_by_group_approx", Aggregators.quantileByGroupApprox, _ =>
      """SELECT event_type, count(*) AS n_events,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99,
        | TRUE AS p50_within_tol,
        | TRUE AS p90_within_tol,
        | TRUE AS p99_within_tol
        |FROM events GROUP BY 1""".stripMargin),
    // GK estimate vs t-digest can't hash-match; the oracle compares the
    // exact percentiles (quantile_cont parity) + in-plan ≤1% booleans.
    QueryDef("quantile_report_approx", Aggregators.quantileReportApproxChecked, _ =>
      """SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
        | count(*) AS n_orders,
        | TRUE AS p50_within_tol,
        | TRUE AS p90_within_tol,
        | TRUE AS p99_within_tol
        |FROM orders""".stripMargin),
    QueryDef("quantile_report_hist", Aggregators.quantileReportHist, _ => {
      val b = Aggregators.HistBuckets
      def est(p: String) =
        s"""round(min(CASE WHEN cum >= $p*n AND cum - c < $p*n
           |  THEN lo + ((hi - lo) / $b) * (bucket + ($p*n - (cum - c)) / c) END), 4)""".stripMargin
      s"""WITH x AS (SELECT o_totalprice AS x FROM orders),
         |mm AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM x),
         |h AS (SELECT CAST(least(floor((x - lo) / ((hi - lo) / $b)), ${b - 1}) AS INTEGER) AS bucket,
         |    lo, hi, n, count(*) AS c
         |  FROM x, mm GROUP BY 1, 2, 3, 4),
         |cumt AS (SELECT bucket, lo, hi, n, c,
         |  CAST(sum(c) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM h)
         |SELECT ${est("0.5")} AS p50, ${est("0.9")} AS p90,
         | ${est("0.99")} AS p99, max(n) AS n_orders
         |FROM cumt""".stripMargin
    }),
    QueryDef("join_salted", Skew.saltedJoinReport, _ =>
      """SELECT s_nationkey, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin),
    QueryDef("db_roundtrip", DbExchange.dbRoundTrip, _ =>
      """SELECT s_nationkey, count(*) AS n_suppliers,
        | round(sum(s_acctbal), 2) AS total_bal,
        | min(s_name) AS first_name
        |FROM supplier GROUP BY s_nationkey""".stripMargin),
    QueryDef("columnar_roundtrip", FileRoundTrips.columnarRoundTrip, _ =>
      """SELECT o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    // The fragment→compact→read loop happens Spark-side; the oracle
    // hash against the source table proves the rewrite lost nothing.
    QueryDef("compaction_roundtrip", FileRoundTrips.compactionRoundTrip, _ =>
      """SELECT l_returnflag, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // The z-order rewrite happens Spark-side; the oracle runs the same
    // 2-D box + rollup on the source table — content fidelity proof.
    QueryDef("zorder_roundtrip", FileRoundTrips.zorderRoundTrip, _ =>
      """SELECT l_suppkey, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem,
        | (SELECT max(l_partkey) AS pmax, max(l_suppkey) AS smax FROM lineitem) mm
        |WHERE l_partkey <= pmax // 4 AND l_suppkey <= smax // 4
        |GROUP BY l_suppkey""".stripMargin),
    // Versioned table: the oracle recomputes the current (v2,
    // retention-deleted) and time-travel (v1, full) rollups from the
    // base table — pointer resolution, snapshot immutability and
    // orphan invisibility are all value-checked.
    QueryDef("versioned_roundtrip", FileRoundTrips.versionedRoundTrip, _ =>
      """SELECT 2 AS version, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT 1, count(*), CAST(sum(length(text)) AS BIGINT)
        |FROM documents""".stripMargin),
    // MERGE INTO replayed in SQL: deletes (every 7th), patches
    // (every 10th, deletes winning on overlap), synthetic inserts
    // (per 13th) — all id-derived, so v2 recomputes exactly.
    QueryDef("versioned_merge", FileRoundTrips.versionedMerge, _ =>
      """WITH base AS (
        |  SELECT doc_id, length(text) AS n_chars, source FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
        |    CASE WHEN doc_id % 10 = 0 THEN 'patched' ELSE source END AS source
        |  FROM base WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, CAST(doc_id % 100 AS INTEGER), 'new'
        |  FROM base WHERE doc_id % 13 = 0)
        |SELECT 2 AS version, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(CASE WHEN source = 'patched' THEN 1 ELSE 0 END) AS BIGINT) AS n_patched,
        | CAST(sum(CASE WHEN source = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM v2
        |UNION ALL
        |SELECT 1, count(*), CAST(sum(n_chars) AS BIGINT),
        | CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM base""".stripMargin),
    // VACUUM keeps {v3 current, v2 time-travel}: the oracle recomputes
    // both retained rollups from the base table — a vacuum that broke
    // the pointer or deleted a retained version fails the hash.
    QueryDef("versioned_vacuum", FileRoundTrips.versionedVacuum, _ =>
      """WITH v2 AS (
        |  SELECT doc_id, length(text) AS n_chars
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT 3 AS version, count(*) AS n_docs,
        | CAST(sum(n_chars + 7) AS BIGINT) AS sum_chars
        |FROM v2
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM v2""".stripMargin),
    // The expected change feed stated from the base table alone: the
    // hash verifies the round-trip law diff(v1, merge(v1, batch)) ≡ batch.
    QueryDef("versioned_diff", FileRoundTrips.versionedDiff, _ =>
      """SELECT 'delete' AS op, doc_id,
        | CAST(length(text) AS INTEGER) AS n_chars, source
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 'update', doc_id, CAST(length(text) + 1000 AS INTEGER), 'patched'
        |FROM documents WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0
        |UNION ALL
        |SELECT 'insert', doc_id + 10000000, CAST(doc_id % 100 AS INTEGER), 'new'
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin),
    // jsonl.gz sink → explicit-schema read → agg; the hash proves the
    // text round-trip preserved every double bit-exactly.
    QueryDef("json_roundtrip", FileRoundTrips.jsonRoundTrip, _ =>
      """SELECT o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    // built-in XML sink/source round-trip, same contract.
    QueryDef("xml_roundtrip", FileRoundTrips.xmlRoundTrip, _ =>
      """SELECT c_mktsegment, count(*) AS n_customers,
        | round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin),
    // Five PageRank iterations unrolled as CTEs, generated from the
    // same PrIters constant; DECIMAL(28,12) contribution sums and
    // explicit DOUBLE casts on the decimal literals keep all five
    // iterations bit-identical cross-engine.
    QueryDef("pagerank", Graph.pagerank, _ => Graph.pagerankOracleSql),
    QueryDef("graph_sssp", Graph.sssp, _ => Graph.ssspOracleSql),
    // Degree-oriented triangle count mirrored join-for-join: each
    // triangle closes exactly once at its (deg, id)-lowest apex.
    QueryDef("graph_triangles", Graph.triangleCount, _ =>
      s"""WITH tt AS (SELECT $tokensSql AS t FROM documents),
         |adj AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
         |  FROM tt WHERE len(t) >= 2),
         |und AS MATERIALIZED (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
         |  FROM adj WHERE w1 <> w2),
         |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         |dire AS MATERIALIZED (SELECT
         |  CASE WHEN dga.deg < dgb.deg OR (dga.deg = dgb.deg AND a < b)
         |    THEN a ELSE b END AS src,
         |  CASE WHEN dga.deg < dgb.deg OR (dga.deg = dgb.deg AND a < b)
         |    THEN b ELSE a END AS dst,
         |  CASE WHEN dga.deg < dgb.deg OR (dga.deg = dgb.deg AND a < b)
         |    THEN dgb.deg ELSE dga.deg END AS dd
         |  FROM und JOIN deg dga ON dga.node = und.a
         |  JOIN deg dgb ON dgb.node = und.b),
         |tri AS (SELECT count(*) AS n_triangles FROM dire e1
         |  JOIN dire e2 ON e1.src = e2.src
         |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
         |  JOIN dire e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |nn AS (SELECT count(DISTINCT x) AS n_nodes FROM (
         |  SELECT a AS x FROM und UNION ALL SELECT b FROM und)),
         |ne AS (SELECT count(*) AS n_edges FROM und)
         |SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri""".stripMargin),
    // Same oriented wedge core; each triangle charged to all three
    // nodes, lcc = 2T/(deg(deg-1)) — one division of exact longs.
    QueryDef("graph_clustering", Graph.clusteringCoeff, _ =>
      s"""WITH tt AS (SELECT $tokensSql AS t FROM documents),
         |adj AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
         |  FROM tt WHERE len(t) >= 2),
         |und AS MATERIALIZED (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
         |  FROM adj WHERE w1 <> w2),
         |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         |dire AS MATERIALIZED (SELECT
         |  CASE WHEN dga.deg < dgb.deg OR (dga.deg = dgb.deg AND a < b)
         |    THEN a ELSE b END AS src,
         |  CASE WHEN dga.deg < dgb.deg OR (dga.deg = dgb.deg AND a < b)
         |    THEN b ELSE a END AS dst,
         |  CASE WHEN dga.deg < dgb.deg OR (dga.deg = dgb.deg AND a < b)
         |    THEN dgb.deg ELSE dga.deg END AS dd
         |  FROM und JOIN deg dga ON dga.node = und.a
         |  JOIN deg dgb ON dgb.node = und.b),
         |tri AS (SELECT e1.src AS apex, e1.dst AS n1, e2.dst AS n2 FROM dire e1
         |  JOIN dire e2 ON e1.src = e2.src
         |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
         |  JOIN dire e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |pn AS (SELECT node, count(*) AS n_tri FROM (
         |  SELECT unnest([apex, n1, n2]) AS node FROM tri) GROUP BY 1)
         |SELECT d.node, d.deg, coalesce(pn.n_tri, 0) AS n_tri,
         | round(2.0 * coalesce(pn.n_tri, 0) / (d.deg * (d.deg - 1)), 4) AS lcc
         |FROM deg d LEFT JOIN pn ON pn.node = d.node
         |WHERE d.deg >= 2""".stripMargin),
    // Min-label propagation unrolled for the same CcIters; early exit
    // fires only at a fixpoint, so round-count equality is
    // unconditional.
    QueryDef("graph_components", Graph.connectedComponents, _ => Graph.componentsOracleSql),
    // Laplace-smoothed multinomial NB grid: every ln input is an
    // exact integer ratio; round-4 absorbs last-ulp libm differences.
    QueryDef("nb_train", Learn.nbTrain, _ =>
      s"""WITH ${Learn.nbGridSql(tokensSql)}
         |SELECT lang, term, n_tc, round(loglik, 4) AS loglik,
         | round(logprior, 4) AS logprior FROM grid""".stripMargin),
    // Scores round at 4 BEFORE the argmax ordering (bit-equal doubles
    // cross-engine under the irrational rule); lang breaks exact ties.
    QueryDef("nb_classify", Learn.nbClassify, _ =>
      s"""WITH ${Learn.nbGridSql(tokensSql)},
         |sc AS (SELECT t.doc_id, g.lang,
         |  round(CAST(sum(CAST(g.loglik AS DECIMAL(28,12))) AS DOUBLE)
         |    + max(g.logprior), 4) AS score
         |  FROM toks t JOIN grid g ON g.term = t.term GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
         |  FROM sc)
         |SELECT doc_id, lang AS lang_pred, score FROM r WHERE rk = 1""".stripMargin),
    // Top-V capped-vocabulary NB — the production-broadcast tier:
    // the grid is V-bounded by configuration, OOV tokens drop, the
    // smoothing denominator counts the capped event space.
    QueryDef("nb_classify_topv", Learn.nbClassifyTopV, _ =>
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, lang, unnest($tokensSql) AS term
         |  FROM documents),
         |topv AS MATERIALIZED (SELECT term FROM (
         |  SELECT term, count(*) AS n_t FROM toks GROUP BY 1
         |  ORDER BY n_t DESC, term LIMIT ${graft.operators.Learn.NbTopV})),
         |kept AS MATERIALIZED (SELECT t.lang, t.term FROM toks t
         |  JOIN topv v ON v.term = t.term),
         |ct AS (SELECT lang, term, count(*) AS n_tc FROM kept GROUP BY 1, 2),
         |tot AS (SELECT lang, count(*) AS n_tok FROM kept GROUP BY 1),
         |vn AS (SELECT count(*) AS v FROM topv),
         |cls AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |grid AS (SELECT c.lang, v.term,
         |  ln((coalesce(ct.n_tc, 0) + 1.0) / (tot.n_tok + vn.v)) AS loglik,
         |  ln(CAST(c.n_docs AS DOUBLE) / nn.n) AS logprior
         |  FROM cls c CROSS JOIN topv v
         |  LEFT JOIN ct ON ct.lang = c.lang AND ct.term = v.term
         |  JOIN tot ON tot.lang = c.lang, vn, nn),
         |sc AS (SELECT t.doc_id, g.lang,
         |  round(CAST(sum(CAST(g.loglik AS DECIMAL(28,12))) AS DOUBLE)
         |    + max(g.logprior), 4) AS score
         |  FROM toks t JOIN grid g ON g.term = t.term GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
         |  FROM sc)
         |SELECT doc_id, lang AS lang_pred, score FROM r WHERE rk = 1""".stripMargin),
    // Upper-triangle Eᵀ·E; float→double element casts are exact and
    // the product sums accumulate in DECIMAL(28,12) (PageRank rule).
    QueryDef("matmul_gram", Learn.matmulGram, _ =>
      s"""WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |idx AS (SELECT unnest(generate_series(1, ${graft.operators.Similarity.EmbDim})) AS i),
         |p AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i)
         |SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
         | round(CAST(sum(CAST(emb[p.i] * emb[p.j] AS DECIMAL(18,12))) AS DOUBLE), 4) AS gram
         |FROM e, p GROUP BY 1, 2""".stripMargin),
    QueryDef("pca_power", Learn.pcaPower, _ => Learn.pcaPowerOracleSql),
    // Brute-tier neighbor ranking (the ann_bruteforce shape with
    // labels), exact integer votes, (votes desc, label) argmax.
    QueryDef("knn_classify", Learn.knnClassify, _ =>
      s"""WITH e AS MATERIALIZED (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |s AS (SELECT a.vec_id AS q_id, b.vec_id AS cand_id, b.label,
         |  list_dot_product(a.emb, b.emb)
         |    / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
         |  FROM e a JOIN e b
         |  ON a.vec_id < ${graft.operators.Learn.KnnQueries} AND a.vec_id <> b.vec_id),
         |r AS (SELECT q_id, label,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk FROM s),
         |v AS (SELECT q_id, label, count(*) AS n_votes FROM r
         |  WHERE rk <= ${graft.operators.Learn.KnnK} GROUP BY 1, 2),
         |p AS (SELECT q_id, label, n_votes,
         |  row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS pr FROM v)
         |SELECT q_id, label AS pred_label, n_votes FROM p WHERE pr = 1""".stripMargin),
    // Full-batch GD unrolled for the same rounds/eta; sigma rounds at
    // 10 (irrational rule), gradients sum in DECIMAL(28,12), so all
    // 8 rounds are bit-equal and the weights hash at round-8.
    QueryDef("logreg_train", Learn.logregTrain, _ => Learn.logregOracleSql(
      graft.functions.TextFunctions.langMarkers.map { case (l, _) =>
        l -> langScoreSql(l) })),
    // Apply face: pred = (z >= 0), exact-integer confusion counts.
    QueryDef("logreg_classify", Learn.logregClassify, _ => Learn.logregClassifyOracleSql(
      graft.functions.TextFunctions.langMarkers.map { case (l, _) =>
        l -> langScoreSql(l) })),
    // Reliability deciles on the 10-dec-rounded sigma; mean_pred via
    // order-free decimal sums, frac_pos one division of exact longs.
    QueryDef("eval_calibration", Learn.logregCalibration, _ => Learn.logregCalibrationOracleSql(
      graft.functions.TextFunctions.langMarkers.map { case (l, _) =>
        l -> langScoreSql(l) })),
    // Leave-fold-out count algebra: every fold's model = global
    // counts minus fold counts, so one counting pass yields all k.
    QueryDef("eval_cv", Learn.evalCvNb, _ => Learn.evalCvOracleSql(tokensSql)),
    // Item-item CF: hot users dropped before the per-user pair
    // explosion; counts on the capped relation; rank on rounded sim.
    QueryDef("itemsim_cf", Learn.itemSimilarity, _ =>
      s"""WITH ui AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS item
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |kept AS MATERIALIZED (SELECT cust, item FROM ui
         |  WHERE cust IN (SELECT cust FROM ui GROUP BY 1
         |    HAVING count(*) <= ${graft.operators.Learn.HotUserMax})),
         |ni AS MATERIALIZED (SELECT item, count(*) AS n_i FROM kept GROUP BY 1),
         |co AS MATERIALIZED (SELECT a.item AS ia, b.item AS ib, count(*) AS co
         |  FROM kept a JOIN kept b ON a.cust = b.cust AND a.item < b.item
         |  GROUP BY 1, 2),
         |directed AS (SELECT ia AS item, ib AS neighbor, co FROM co
         |  UNION ALL SELECT ib, ia, co FROM co),
         |scored AS (SELECT d.item, d.neighbor, d.co,
         |  round(CAST(d.co AS DOUBLE) / sqrt(CAST(na.n_i * nb.n_i AS DOUBLE)), 4) AS sim
         |  FROM directed d JOIN ni na ON na.item = d.item
         |  JOIN ni nb ON nb.item = d.neighbor),
         |r AS (SELECT item, neighbor, co, sim,
         |  row_number() OVER (PARTITION BY item ORDER BY sim DESC, neighbor) AS rk
         |  FROM scored)
         |SELECT item, CAST(rk AS INTEGER) AS rk, neighbor, co, sim
         |FROM r WHERE rk <= ${graft.operators.Learn.ItemSimTopN}""".stripMargin),
    // Rank-1 ALS: generated unrolled half-rounds, same λ and decimal
    // accumulation as the Spark loop.
    QueryDef("als_rank1", Learn.alsRank1, _ => graft.operators.Learn.alsOracleSql),
    // K-core peeling: generated unrolled rounds; pure integer set
    // algebra, fixpoint absorbing so trailing rounds are no-ops.
    QueryDef("graph_kcore", Graph.kcore, _ => graft.operators.Graph.kcoreOracleSql),
    // HITS: generated unrolled alternations over the directed trade
    // digraph; DECIMAL(28,12) sums + L1 normalizers, round-8 output.
    QueryDef("graph_hits", Graph.hits, _ => graft.operators.Graph.hitsOracleSql),
    // PMI + Dunning LLR from the bigram contingency table — exact
    // integer counts, identical S(x)=x·ln(x) trees, round 4.
    QueryDef("text_collocations", Search.collocations, _ =>
      graft.operators.Search.collocationsOracleSql(tokensSql)),
    // χ² term selection: exact-integer 2×2 cells, one fixed double
    // expression, rank on the rounded statistic, term breaks ties.
    QueryDef("feature_chi2", Learn.featureChi2,
      _ => graft.operators.Learn.featureChi2OracleSql(tokensSql)),
    // Kaplan–Meier: integer-day lifetimes, round-10 ln factors in a
    // DECIMAL(28,12) running sum, cummax zero-curve guard.
    QueryDef("events_survival", Analytics.eventsSurvival, _ => Analytics.eventsSurvivalOracleSql),
    // Confusion metrics: every metric is one division of exact longs
    // (F1 = 2·tp/(n_true+n_pred) — the p·r algebra collapsed), so the
    // report hash-checks with no tolerance story; NULL precision for
    // never-predicted classes on both sides.
    QueryDef("eval_confusion", Eval.evalConfusion, _ =>
      s"""WITH ${graft.operators.Learn.nbGridSql(tokensSql)},
         |sc AS (SELECT t.doc_id, g.lang,
         |  round(CAST(sum(CAST(g.loglik AS DECIMAL(28,12))) AS DOUBLE)
         |    + max(g.logprior), 4) AS score
         |  FROM toks t JOIN grid g ON g.term = t.term GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
         |  FROM sc),
         |preds AS (SELECT doc_id, lang AS lang_pred FROM r WHERE rk = 1),
         |j AS (SELECT d.lang, p.lang_pred FROM documents d
         |  JOIN preds p ON p.doc_id = d.doc_id),
         |bt AS (SELECT lang, count(*) AS n_true,
         |  CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM j GROUP BY 1),
         |bp AS (SELECT lang_pred AS lang, count(*) AS n_pred FROM j GROUP BY 1)
         |SELECT bt.lang, bt.n_true, coalesce(bp.n_pred, 0) AS n_pred, bt.n_correct,
         | CASE WHEN coalesce(bp.n_pred, 0) = 0 THEN NULL
         |   ELSE round(CAST(bt.n_correct AS DOUBLE) / bp.n_pred, 4) END AS precision,
         | round(CAST(bt.n_correct AS DOUBLE) / bt.n_true, 4) AS recall,
         | round(2.0 * bt.n_correct / (bt.n_true + coalesce(bp.n_pred, 0)), 4) AS f1
         |FROM bt LEFT JOIN bp ON bp.lang = bt.lang""".stripMargin),
    // Mann–Whitney rank AUC: 2U stays an exact long (the /2 tie
    // credit doubled away), AUC/Gini are one division each.
    QueryDef("eval_auc", Eval.evalAuc, _ =>
      s"""WITH scored AS (SELECT ${langScoreSql("en")} AS score,
         |  (lang = 'en') AS is_pos FROM documents),
         |per AS (SELECT score,
         |  sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS np,
         |  sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS nn
         |  FROM scored GROUP BY 1),
         |cum AS (SELECT score, np, nn,
         |  sum(nn) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nn AS cum_nn_below
         |  FROM per)
         |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
         | CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN NULL
         |   ELSE round(CAST(sum(np * (2 * cum_nn_below + nn)) AS DOUBLE)
         |     / (2.0 * sum(np) * sum(nn)), 4) END AS auc,
         | CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN NULL
         |   ELSE round(CAST(sum(np * (2 * cum_nn_below + nn)) AS DOUBLE)
         |     / (CAST(sum(np) AS DOUBLE) * sum(nn)) - 1.0, 4) END AS gini
         |FROM cum""".stripMargin),
    // Retrieval metrics on the same generated BM25 chain; the NDCG
    // discount table is pre-rounded literals shared by construction.
    QueryDef("eval_rank", Search.evalRank, _ => graft.operators.Search.evalRankOracleSql(tokensSql)),
    // v1 files (even keys) lack o_orderpriority — merged read backfills
    // NULL, so n_evolved counts exactly the odd-key (v2) rows.
    QueryDef("schema_evolution_read", FileRoundTrips.schemaEvolutionRead, _ =>
      """SELECT o_orderstatus, count(*) AS n_orders,
        | count(CASE WHEN o_orderkey % 2 <> 0 THEN 1 END) AS n_evolved,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    QueryDef("orc_roundtrip", FileRoundTrips.orcRoundTrip, _ =>
      """SELECT p_brand, count(*) AS n_parts,
        | round(sum(p_retailprice), 2) AS sum_retail
        |FROM part GROUP BY p_brand""".stripMargin),
    // Spark sum(length) over INT lengths is BIGINT; DuckDB sum over
    // INT is HUGEINT → cast.
    QueryDef("text_source_roundtrip", FileRoundTrips.textRoundTrip, _ =>
      """SELECT count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin),
    // Same round-trip proof through the gzip codec path.
    QueryDef("text_gzip_roundtrip", FileRoundTrips.gzipTextRoundTrip, _ =>
      """SELECT count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin),
    // ...and through the real Hadoop SequenceFile container.
    QueryDef("sequencefile_roundtrip", FileRoundTrips.sequenceFileRoundTrip, _ =>
      """SELECT count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin),
    // ...and through the Avro object-container (avro-mapred's
    // AvroKeyOutputFormat/AvroKeyInputFormat, deflate codec).
    QueryDef("avro_roundtrip", FileRoundTrips.avroRoundTrip, _ =>
      """SELECT count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin),
    QueryDef("named_outputs_roundtrip", FileRoundTrips.namedOutputsRoundTrip, _ =>
      """SELECT 'big' AS output_name, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_totalprice > 200000
        |UNION ALL
        |SELECT 'small', count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_totalprice <= 200000""".stripMargin),
    // The partitioned/bucketed physical layouts must not change any
    // row: both oracles run the same logical query over the original
    // unpartitioned tables.
    QueryDef("partitioned_prune_join", FileRoundTrips.partitionPruneJoin, _ =>
      """SELECT e.event_type, count(*) AS n_events,
        | round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN (VALUES ('click','hot'), ('purchase','hot'),
        |   ('view','cold'), ('signup','cold'), ('error','cold')) d(event_type, tier)
        | ON e.event_type = d.event_type
        |WHERE d.tier = 'hot'
        |GROUP BY e.event_type""".stripMargin),
    QueryDef("csv_roundtrip", FileRoundTrips.csvRoundTrip, _ =>
      """SELECT count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq
        |FROM documents""".stripMargin),
    QueryDef("window_range_frame", Analytics.windowRangeFrame, _ =>
      """SELECT o_orderkey, o_custkey, o_orderdate,
        | round(sum(o_totalprice) OVER w, 2) AS w7_price,
        | count(*) OVER w AS w7_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)""".stripMargin),
    // Truncated-EMA: power-of-two weights make every product an exact
    // double scaling; generated from the same EmaLags constant.
    QueryDef("events_ema", Analytics.eventsEma, _ => Analytics.eventsEmaOracleSql),
    QueryDef("bucketed_join", FileRoundTrips.bucketedJoin, _ =>
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    // §2.2 examples suite
    QueryDef("wordcount", Examples.wordcount, _ =>
      s"""SELECT tok AS word, count(*) AS n FROM (
         |  SELECT unnest($tokensSql) AS tok FROM documents)
         |GROUP BY tok""".stripMargin),
    QueryDef("word_stats", Examples.wordStats, _ =>
      s"""SELECT count(*) AS n_words,
         | round(avg(wlen), 4) AS mean_len,
         | round(median(wlen), 4) AS median_len,
         | round(stddev_pop(wlen), 4) AS stddev_len
         |FROM (SELECT CAST(length(tok) AS INTEGER) AS wlen FROM (
         |  SELECT unnest($tokensSql) AS tok FROM documents))""".stripMargin),
    QueryDef("grep_count", Examples.grepCount, _ =>
      """SELECT match_str, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(text, '(spark|hash|join|scan)[a-z]*', 0)) AS match_str
        |  FROM documents)
        |GROUP BY match_str""".stripMargin),
    QueryDef("terasort_validate", Examples.terasortValidate, _ =>
      """SELECT count(*) AS n_keys, min(tera_key) AS first_key, max(tera_key) AS last_key,
        | count(DISTINCT tera_key) AS n_distinct
        |FROM (SELECT md5(concat(l_orderkey, '-', l_linenumber)) AS tera_key FROM lineitem)""".stripMargin),
    QueryDef("random_writer", Examples.randomWriter, _ =>
      """SELECT id, md5(CAST(id AS VARCHAR)) AS payload,
        | (id * 2654435761) % 1000 AS bucket
        |FROM range(0, 10000) t(id)""".stripMargin),
    QueryDef("pi_estimate", Examples.piEstimate, _ =>
      """SELECT count(*) AS n_points, round(avg(inside) * 4.0, 6) AS pi_estimate FROM (
        |  SELECT CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END AS inside FROM (
        |    SELECT CAST((id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS x,
        |           CAST((id * 2246822519) % 4294967296 AS DOUBLE) / 4294967296.0 AS y
        |    FROM range(0, 100000) t(id)))""".stripMargin),
    // BBP hex digits of π — exact int64 fixed-point series, the
    // DistBbp fan-out shape; oracle mirrors the identical integer
    // algorithm in DuckDB (list_reduce modpow).
    // Same integer algorithm as the Spark plan: exact int64 modpow
    // (square-and-multiply via list_reduce over the exponent's bits)
    // and fixed-point floor(r·2^52/m) contributions — both engines
    // sum identical integers, so the hex digits hash-match exactly.
    QueryDef("bbp_digits", Examples.bbpDigits, _ =>
      """WITH positions AS (SELECT unnest(range(0, 18)) * 8 + 1 AS d),
        |terms AS (SELECT d, unnest(range(0, d + 13)) AS k FROM positions),
        |jterms AS (
        |  SELECT d, k, d - 1 - k AS e, j.j AS j, j.w AS w,
        |         (8*k + j.j)::BIGINT AS m
        |  FROM terms, (VALUES (1, 4), (4, -2), (5, -1), (6, -1)) j(j, w)),
        |withr AS (
        |  SELECT d, k, e, w, m,
        |    CASE WHEN e >= 0 THEN
        |      list_reduce(
        |        list_prepend([1::BIGINT, (16 % m)::BIGINT],
        |          list_transform(range(0, 8), i -> [i::BIGINT, 0::BIGINT])),
        |        (a, x) -> [
        |          CASE WHEN ((e >> x[1]::INT) & 1) = 1
        |               THEN (a[1] * a[2]) % m ELSE a[1] END,
        |          (a[2] * a[2]) % m])[1]
        |    ELSE 0 END AS r
        |  FROM jterms),
        |contrib AS (
        |  SELECT d, w,
        |    CASE WHEN e >= 0 THEN
        |      (r * 67108864 // m) * 67108864 + ((r * 67108864 % m) * 67108864) // m
        |    ELSE (4503599627370496 // m) >> (4*(k - d + 1))::INT END AS q
        |  FROM withr)
        |SELECT d, lpad(hex(
        |  (((sum(w * q) % 4503599627370496) + 4503599627370496)
        |    % 4503599627370496) >> 20), 8, '0') AS digits
        |FROM contrib GROUP BY d""".stripMargin),
    // examples/dancing: exact-cover search fanned out over prefix
    // tasks. Sudoku is oracle-checked (DuckDB recursive-CTE solver
    // re-solves the same puzzle); pentomino counts have no
    // backtracking search in SQL, so their oracle states the published
    // solution counts (2,339 canonical) as constants.
    // The classic recursive-CTE sudoku solver over the same fixed
    // puzzle the Spark plan solves — an INDEPENDENT algorithm (cell-
    // by-cell CTE search vs exact-cover DLX) arriving at the same
    // unique solution.
    QueryDef("sudoku_solve", Dancing.sudokuSolve, _ =>
      s"""WITH RECURSIVE
        |  input(sud) AS (VALUES ('${graft.operators.Dancing.SudokuPuzzle}')),
        |  digits(z, lp) AS (
        |    VALUES ('1', 1) UNION ALL
        |    SELECT CAST(lp+1 AS TEXT), lp+1 FROM digits WHERE lp < 9),
        |  x(s, ind) AS (
        |    SELECT sud, instr(sud, '0') FROM input
        |    UNION ALL
        |    SELECT substr(s, 1, ind-1) || z || substr(s, ind+1),
        |           instr(substr(s, 1, ind-1) || z || substr(s, ind+1), '0')
        |    FROM x, digits AS z
        |    WHERE ind > 0
        |      AND NOT EXISTS (
        |        SELECT 1 FROM digits AS lp
        |        WHERE z.z = substr(s, ((ind-1)//9)*9 + lp, 1)
        |           OR z.z = substr(s, ((ind-1)%9) + (lp-1)*9 + 1, 1)
        |           OR z.z = substr(s, (((ind-1)//3) % 3) * 3
        |                + ((ind-1)//27) * 27 + lp + ((lp-1)//3) * 6, 1)))
        |SELECT s AS solution FROM x WHERE ind = 0""".stripMargin),
    // DuckDB can't run a backtracking exact-cover search; the oracle
    // is the PUBLISHED ground truth (Knuth, "Dancing Links", 2000):
    // 2,339 symmetry-distinct 6×10 pentomino tilings × 4 board
    // symmetries = 9,356 raw solutions, plus the deterministic
    // lexicographic-min solution board — see Dancing.pentominoTilings.
    QueryDef("pentomino_tilings", Dancing.pentominoTilings, _ =>
      """SELECT CAST(9356 AS BIGINT) AS n_solutions,
        | CAST(2339 AS BIGINT) AS n_canonical,
        | 'FFIIIIILZZVFFYLLLLZNVFYYYYXZZNVVVTWXXXNNPPPTWWXUNUPPTTTWWUUU' AS first_solution""".stripMargin),
    QueryDef("events_pageviews", Examples.eventsPageviews, _ =>
      """SELECT event_type, count(*) AS n_views, count(DISTINCT user_id) AS n_users,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    // §2.3 analytics
    QueryDef("sql_frontend", Analytics.sqlFrontend, _ => Analytics.SqlFrontendQuery),
    QueryDef("tpch_q1", Analytics.tpchQ1, _ =>
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("tpch_q3", Analytics.tpchQ3, _ =>
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        | AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin),
    QueryDef("tpch_q4", Analytics.tpchQ4, _ =>
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("tpch_q13", Analytics.tpchQ13, _ =>
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin),
    QueryDef("tpch_q22", Analytics.tpchQ22, _ =>
      """WITH thr AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS thr
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS n_cust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer, thr
        |WHERE c_acctbal > thr
        | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |   AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin),
    QueryDef("tpch_q12", Analytics.tpchQ12, _ =>
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin),
    QueryDef("tpch_q14", Analytics.tpchQ14, _ =>
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
        | 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |  AS promo_revenue_pct,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY 1""".stripMargin),
    QueryDef("tpch_q16", Analytics.tpchQ16, _ =>
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (5, 15, 25, 35)
        | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_size""".stripMargin),
    QueryDef("tpch_q19", Analytics.tpchQ19, _ =>
      """SELECT
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 1 AND 11)
        | OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 20
        |    AND l_quantity BETWEEN 10 AND 20)
        | OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 30
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    QueryDef("tpch_q5", Analytics.tpchQ5, _ =>
      """SELECT r_name, n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    QueryDef("tpch_q6", Analytics.tpchQ6, _ =>
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        | AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),
    QueryDef("tpch_q7", Analytics.tpchQ7, _ =>
      """WITH supp AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_11', 'NATION_12')),
        |cust AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_11', 'NATION_12'))
        |SELECT supp_nation, cust_nation,
        | CAST(year(l_shipdate) AS INTEGER) AS l_year,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supp ON l_suppkey = s_suppkey
        |JOIN cust ON o_custkey = c_custkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND supp_nation <> cust_nation
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryDef("tpch_q8", Analytics.tpchQ8, _ =>
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
        |     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |   AS mkt_share,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin),
    QueryDef("tpch_q10", Analytics.tpchQ10, _ =>
      """WITH rev AS (
        |  SELECT o_custkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS rev_dec,
        |    count(*) AS n_items
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY o_custkey),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY rev_dec DESC, o_custkey) AS INTEGER) AS rn
        |  FROM rev)
        |SELECT c_custkey, c_name, c_acctbal, c_nationkey,
        | CAST(rev_dec AS DOUBLE) AS revenue, n_items, rn
        |FROM ranked JOIN customer ON o_custkey = c_custkey
        |WHERE rn <= 20""".stripMargin),
    QueryDef("tpch_q11", Analytics.tpchQ11, _ =>
      """WITH v AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS value_dec
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (
        |  SELECT CAST(sum(value_dec) AS DECIMAL(28,4)) AS tot, count(*) AS np FROM v)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM v, t
        |WHERE CAST(value_dec AS DECIMAL(20,4)) * CAST(np AS DECIMAL(10,0))
        |    * CAST(5 AS DECIMAL(2,0))
        |  > tot * CAST(6 AS DECIMAL(2,0))""".stripMargin),
    QueryDef("tpch_q15", Analytics.tpchQ15, _ =>
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS total_rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(total_rev_dec) AS mx FROM rev)
        |SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
        |FROM (SELECT * FROM rev, mx WHERE total_rev_dec = mx) top
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin),
    QueryDef("tpch_q17", Analytics.tpchQ17, _ =>
      """WITH pa AS (
        |  SELECT l_partkey, sum(l_quantity) AS sum_qty, count(*) AS n_li
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        | count(*) AS n_items
        |FROM lineitem l
        |JOIN part ON l.l_partkey = p_partkey AND p_brand = 'Brand#11'
        |JOIN pa ON l.l_partkey = pa.l_partkey
        |WHERE l.l_quantity * 5 * n_li < sum_qty""".stripMargin),
    QueryDef("tpch_q18", Analytics.tpchQ18, _ =>
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300.0)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),
    QueryDef("tpch_q21", Analytics.tpchQ21, _ =>
      """WITH per_supp AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
        |  FROM lineitem GROUP BY 1, 2),
        |w1 AS (
        |  SELECT *,
        |    max(supp_last) OVER (PARTITION BY l_orderkey) AS order_last,
        |    count(*) OVER (PARTITION BY l_orderkey) AS n_supp
        |  FROM per_supp),
        |w2 AS (
        |  SELECT *,
        |    sum(CASE WHEN supp_last = order_last THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY l_orderkey) AS n_last
        |  FROM w1),
        |flagged AS (
        |  SELECT l_orderkey, l_suppkey FROM w2
        |  WHERE n_supp >= 2 AND n_last = 1 AND supp_last = order_last)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM flagged
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin),
    // The last three TPC-H shapes, runnable on the DERIVED partsupp
    // (distinct lineitem pairs + integer-formula attributes — the
    // oracle recomputes the identical relation from the same parquet).
    // Q2/Q9/Q20 run on the DERIVED partsupp: distinct lineitem pairs
    // (the TPC-H invariant, inverted) + integer-formula attributes,
    // cost in int64 CENTS — recomputed here from the same parquet, so
    // min/sum/threshold comparisons are exact in both engines.
    QueryDef("tpch_q2", Analytics.tpchQ2, _ =>
      """WITH partsupp AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    (ps_partkey * 37 + ps_suppkey * 101) % 9999 + 1 AS ps_availqty,
        |    (ps_partkey * 13 + ps_suppkey * 11) % 99900 + 100 AS ps_supplycost_cents
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |        FROM lineitem)),
        |supp_region AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |ps AS (
        |  SELECT p_partkey, p_brand, s_name, n_name, s_acctbal,
        |         ps_partkey, ps_supplycost_cents
        |  FROM partsupp
        |  JOIN part ON ps_partkey = p_partkey AND p_size <= 5 AND p_type = 'LARGE'
        |  JOIN supp_region ON ps_suppkey = s_suppkey),
        |mc AS (
        |  SELECT ps_partkey AS mc_partkey,
        |         min(ps_supplycost_cents) AS min_cost_cents
        |  FROM ps GROUP BY 1)
        |SELECT p_partkey, p_brand, s_name, n_name, s_acctbal,
        |       ps_supplycost_cents AS supplycost_cents
        |FROM ps JOIN mc
        |  ON ps_partkey = mc_partkey AND ps_supplycost_cents = min_cost_cents""".stripMargin),
    QueryDef("tpch_q9", Analytics.tpchQ9, _ =>
      """WITH partsupp AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    (ps_partkey * 13 + ps_suppkey * 11) % 99900 + 100 AS ps_supplycost_cents
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |        FROM lineitem))
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS sum_revenue,
        |  CAST(sum(ps_supplycost_cents * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS cost_cents,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE)
        |    - CAST(sum(ps_supplycost_cents * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
        |      / 100.0 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
        |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("tpch_q20", Analytics.tpchQ20, _ =>
      """WITH partsupp AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    (ps_partkey * 37 + ps_suppkey * 101) % 9999 + 1 AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |        FROM lineitem)),
        |shipped AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_1995
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT DISTINCT s_suppkey, s_name, n_name
        |FROM partsupp
        |JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN supplier ON ps_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey AND n_regionkey = 2
        |WHERE ps_availqty * 2 > qty_1995""".stripMargin),
    QueryDef("topk_per_group", Analytics.topkPerGroup, _ =>
      """SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rk <= 3""".stripMargin),
    QueryDef("topn_global", Analytics.topnGlobal, _ =>
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    QueryDef("rollup_report", Analytics.rollupReport, _ =>
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("cube_report", Analytics.cubeReport, _ =>
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),
    QueryDef("grouping_sets_report", Analytics.groupingSetsReport, _ =>
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        | count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_linestatus), ())""".stripMargin),
    QueryDef("window_ntile", Analytics.windowNtile, _ =>
      """SELECT o_orderpriority, CAST(quartile AS INTEGER) AS quartile,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price,
        | round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM (SELECT o_orderpriority, o_totalprice,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS quartile
        | FROM orders)
        |GROUP BY 1, 2""".stripMargin),
    // sum(CASE WHEN .. THEN 1 END) is NULL for absent combos — the
    // exact semantics of Spark's pivot + count cells.
    QueryDef("pivot_report", Analytics.pivotReport, _ => {
      val cols = Analytics.PivotTypes.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS \"$t\"")
        .mkString(",\n ")
      s"""SELECT date_trunc('hour', ts) AS window_start,
         | $cols
         |FROM events GROUP BY 1""".stripMargin
    }),
    QueryDef("window_running", Analytics.windowRunning, _ =>
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        | round(sum(l_quantity) OVER w, 2) AS running_qty,
        | CAST(row_number() OVER w AS INTEGER) AS rk,
        | lag(l_quantity, 1) OVER w AS prev_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("json_extract", Analytics.jsonExtract, _ =>
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL""".stripMargin),
    QueryDef("events_windowed", Analytics.eventsWindowed, _ =>
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // Sliding 1h/30min: each event belongs to exactly two windows —
    // the one starting at its 30-min floor and the one 30 min before.
    QueryDef("events_sliding", Analytics.eventsSliding, _ =>
      """SELECT window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT unnest([
        |      make_timestamp((epoch_ms(ts) // 1800000 * 1800000) * 1000),
        |      make_timestamp((epoch_ms(ts) // 1800000 * 1800000 - 1800000) * 1000)
        |    ]) AS window_start, event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin),
    // Variance from integer power sums (exact BIGINTs both engines)
    // so z is bit-deterministic; the anomaly flag uses the unrounded z.
    QueryDef("events_anomaly", Analytics.eventsAnomaly, _ =>
      """WITH h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events FROM events GROUP BY 1, 2),
        |st AS (SELECT window_start, event_type, n_events,
        |  sum(n_events) OVER w AS s1,
        |  sum(n_events * n_events) OVER w AS s2,
        |  count(*) OVER w AS cnt
        | FROM h WINDOW w AS (PARTITION BY event_type)),
        |zt AS (SELECT window_start, event_type, n_events,
        |  CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt) / cnt <= 0.0 THEN 0.0
        |       ELSE (n_events - CAST(s1 AS DOUBLE) / cnt) /
        |            sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt) / cnt) END AS z
        | FROM st)
        |SELECT window_start, event_type, n_events,
        | round(z, 4) AS z, abs(z) >= 2.0 AS is_anomaly
        |FROM zt""".stripMargin),
    // med/MAD robust anomaly: exact-percentile parity, thresholds
    // rounded at 4 before the boundary compare (winsorize rule).
    QueryDef("events_anomaly_mad", Analytics.eventsAnomalyMad, _ =>
      s"""WITH med AS (SELECT event_type,
         |  round(quantile_cont(value, 0.5), 4) AS med
         |  FROM events GROUP BY 1),
         |mad AS (SELECT e.event_type, m.med,
         |  round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
         |  FROM events e JOIN med m ON m.event_type = e.event_type
         |  GROUP BY 1, 2)
         |SELECT e.event_id, e.event_type, e.value, m.med, m.mad,
         | round((e.value - m.med) / (1.4826 * m.mad), 4) AS robust_z
         |FROM events e JOIN mad m ON m.event_type = e.event_type
         |WHERE m.mad > 0
         |  AND abs(e.value - m.med) > ${Analytics.MadK} * 1.4826 * m.mad""".stripMargin),
    // RFM: quintile thresholds broadcast + map-side classify; strict->
    // compares on rounded cuts, monetary from decimal accumulation.
    QueryDef("events_rfm", Analytics.eventsRfm, _ => Analytics.eventsRfmOracleSql),
    QueryDef("events_sessionize", Analytics.eventsSessionize, _ =>
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |    FROM events))
        |GROUP BY user_id""".stripMargin),
    QueryDef("events_funnel", Analytics.eventsFunnel, _ =>
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT '1_view' AS step, count(*) AS n_users FROM s1
        |UNION ALL SELECT '2_click' AS step, count(*) AS n_users FROM s2
        |UNION ALL SELECT '3_purchase' AS step, count(*) AS n_users FROM s3""".stripMargin),
    // Conversion-window funnel: ONE oracle generator for both faces
    // (recursive-CTE attempt hopping), parameterized by the replay
    // cap — empty for the batch face, the cap for the streaming one.
    QueryDef("events_funnel_conv", EventStreams.eventsFunnelConv, _ =>
      graft.streaming.EventStreams.convFunnelOracleSql("")),
    // Time-to-convert over exact millisecond deltas; linear
    // interpolation percentiles are exact rationals (quantile_cont
    // parity), rounded 4.
    QueryDef("events_funnel_time", Analytics.eventsFunnelTime, _ =>
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |d AS (SELECT epoch_ms(s3.t3) - epoch_ms(s1.t1) AS ms
        |  FROM s3 JOIN s1 ON s3.user_id = s1.user_id)
        |SELECT count(*) AS n_converted,
        | CAST(min(ms) AS BIGINT) AS min_ms,
        | round(quantile_cont(ms, 0.5), 4) AS p50_ms,
        | round(quantile_cont(ms, 0.9), 4) AS p90_ms,
        | CAST(max(ms) AS BIGINT) AS max_ms
        |FROM d""".stripMargin),
    QueryDef("events_retention", Analytics.eventsRetention, _ =>
      """WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY 1)
        |SELECT cohort_wk,
        | CAST(datediff('day', cohort_wk, wk) / 7 AS INTEGER) AS week_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM act JOIN cohort USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    // SCD2 replayed: change-detect via lag (drop no-op updates),
    // close ranges via lead — both over the (ts, event_id) total
    // order; epoch-millis range boundaries are exact cross-engine.
    QueryDef("scd2_dimension", Analytics.scd2Dimension, _ =>
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id, value FROM p
        |  WHERE prev_value IS NULL OR value <> prev_value),
        |r AS (SELECT user_id, value, ts,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        |  FROM c)
        |SELECT user_id, value,
        | epoch_ms(ts) AS effective_from_ms,
        | epoch_ms(next_ts) AS effective_to_ms,
        | next_ts IS NULL AS is_current
        |FROM r""".stripMargin),
    // Gap-fill replayed: per-(user, day) last value under the same
    // (ts DESC, event_id DESC) total order (row_number mirrors
    // Spark's max_by-struct — DuckDB arg_max has no struct key),
    // then each observed day emits its forward-fill run up to the
    // next observed day.
    QueryDef("events_gapfill", Analytics.eventsGapfill, _ =>
      """WITH ranked AS (
        |  SELECT user_id, CAST(ts AS DATE) AS obs_day, value,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |daily AS (SELECT user_id, obs_day, value AS day_value
        |  FROM ranked WHERE rn = 1),
        |runs AS (SELECT user_id, obs_day, day_value,
        |  lead(obs_day) OVER (PARTITION BY user_id ORDER BY obs_day) AS next_day
        |  FROM daily),
        |grid AS (SELECT user_id, obs_day, day_value,
        |  unnest(generate_series(CAST(obs_day AS TIMESTAMP),
        |    CAST(coalesce(next_day - 1, obs_day) AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS gd
        |  FROM runs)
        |SELECT user_id,
        | strftime(gd, '%Y-%m-%d') AS day,
        | day_value AS filled_value,
        | CAST(gd AS DATE) = obs_day AS is_observed
        |FROM grid""".stripMargin),
    // OLS from exact-decimal sufficient statistics; the finishing
    // algebra is written identically on both engines over bit-equal
    // double inputs.
    QueryDef("grouped_regression", Analytics.groupedRegression, _ =>
      """WITH e AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(value AS DECIMAL(18,6)) AS y
        |  FROM events),
        |st AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    sum(y) AS sy,
        |    sum(CAST(x * y AS DECIMAL(28,10))) AS sxy,
        |    sum(CAST(y * y AS DECIMAL(28,10))) AS syy
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM st),
        |r AS (SELECT event_type, n, nd, sxd, sxxd, syd, sxyd, syyd,
        |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope_raw
        |  FROM d)
        |SELECT event_type, n,
        | round(slope_raw, 6) AS slope,
        | round((syd - slope_raw * sxd) / nd, 6) AS intercept,
        | round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
        |   / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6) AS r2
        |FROM r""".stripMargin),
    // Rounded(4) per-group percentile thresholds (the proven
    // quantile_cont parity), clip, decimal-accumulated rollup.
    QueryDef("winsorize_values", Analytics.winsorizeValues, _ =>
      """WITH th AS (SELECT event_type,
        |  round(quantile_cont(value, 0.01), 4) AS p_lo,
        |  round(quantile_cont(value, 0.99), 4) AS p_hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        | CAST(sum(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        | CAST(sum(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        | round(CAST(sum(CAST(
        |   CASE WHEN value < p_lo THEN p_lo
        |        WHEN value > p_hi THEN p_hi
        |        ELSE value END AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_clipped
        |FROM events e JOIN th USING (event_type)
        |GROUP BY 1""".stripMargin),
    // Markov transitions under the (ts, event_id) total order;
    // probabilities are single divisions of exact longs, rounded 4.
    QueryDef("events_transitions", Analytics.eventsTransitions, _ =>
      """WITH p AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        | FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        | WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        | round(CAST(c.n AS DOUBLE) / m.n_from, 4) AS prob
        |FROM c JOIN m USING (from_type)""".stripMargin),
    // Top session paths: 30-min-gap sessionization (the sessionize
    // rule verbatim), step-capped ordered path strings, top-k under
    // the (n desc, path asc) total order.
    QueryDef("events_top_paths", Analytics.eventsTopPaths, _ => {
      val steps = Analytics.PathSteps
      val k = Analytics.PathTopK
      s"""WITH l AS (SELECT user_id, ts, event_id, event_type,
         |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |f AS (SELECT user_id, ts, event_id, event_type,
         |  CASE WHEN prev_ts IS NULL
         |    OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS nf
         |  FROM l),
         |sess AS (SELECT user_id, ts, event_id, event_type,
         |  sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
         |st AS (SELECT user_id, session_id, event_type,
         |  row_number() OVER (PARTITION BY user_id, session_id
         |    ORDER BY ts, event_id) AS step FROM sess),
         |p AS (SELECT user_id, session_id,
         |  string_agg(event_type, '>' ORDER BY step) AS path
         |  FROM st WHERE step <= $steps GROUP BY 1, 2),
         |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INTEGER)
         |  AS rank, path, n_sessions
         |FROM c ORDER BY n_sessions DESC, path LIMIT $k""".stripMargin
    }),
    // Last-touch attribution: IGNORE NULLS running carry over the
    // (ts, event_id) total order; 2-decimal value sums exact at
    // round 2 (the events_windowed rule).
    QueryDef("events_attribution", Analytics.eventsAttribution, _ =>
      """WITH t AS (SELECT user_id, ts, event_id, event_type, value,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT coalesce(touch, '(direct)') AS channel,
        | count(*) AS n_conversions,
        | round(sum(value), 2) AS attributed_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin),
    // Welch z from exact-decimal sufficient stats; hash-parity arm
    // assignment (the weighted_sample md5 draw); finishing algebra
    // written identically over bit-equal doubles.
    QueryDef("ab_test", Analytics.abTest, _ =>
      """WITH e AS (SELECT event_type,
        |  CAST(concat('0x', substr(md5('ab|' || user_id), 1, 4)) AS INTEGER) % 2 AS arm,
        |  CAST(value AS DECIMAL(18,6)) AS y FROM events),
        |st AS (SELECT event_type,
        |  count(*) FILTER (arm = 0) AS n_a,
        |  count(*) FILTER (arm = 1) AS n_b,
        |  sum(y) FILTER (arm = 0) AS sy_a,
        |  sum(y) FILTER (arm = 1) AS sy_b,
        |  sum(CAST(y * y AS DECIMAL(28,10))) FILTER (arm = 0) AS syy_a,
        |  sum(CAST(y * y AS DECIMAL(28,10))) FILTER (arm = 1) AS syy_b
        | FROM e GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |  CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |  CAST(sy_a AS DOUBLE) AS sya, CAST(sy_b AS DOUBLE) AS syb,
        |  CAST(syy_a AS DOUBLE) AS syya, CAST(syy_b AS DOUBLE) AS syyb FROM st),
        |v AS (SELECT *,
        |  (syya - sya * sya / na) / (na - 1) AS va,
        |  (syyb - syb * syb / nb) / (nb - 1) AS vb FROM d)
        |SELECT event_type, n_a, n_b,
        | round(sya / na, 4) AS mean_a,
        | round(syb / nb, 4) AS mean_b,
        | CASE WHEN n_a < 2 OR n_b < 2 THEN NULL
        |   ELSE round((sya / na - syb / nb) / sqrt(va / na + vb / nb), 4) END AS z
        |FROM v""".stripMargin),
    // The union+window rewrite cross-checked by a genuinely different
    // algorithm: DuckDB's native ASOF JOIN over the same retained
    // change relation (inclusive >=; facts before the first version
    // stay NULL).
    QueryDef("join_pointintime", Analytics.joinPointInTime, _ =>
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max_by(value, event_id) AS value FROM p
        |  WHERE prev_value IS NULL OR value <> prev_value
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.event_type,
        | epoch_ms(e.ts) AS ts_ms, c.value AS dim_value
        |FROM events e ASOF LEFT JOIN c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin),
    // The incremental path must equal the FULL recompute — the oracle
    // IS the from-scratch build (same SQL as scd2_dimension); the
    // hash is the incremental-≡-full law.
    QueryDef("scd2_incremental", Analytics.scd2Incremental, _ =>
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id, value FROM p
        |  WHERE prev_value IS NULL OR value <> prev_value),
        |r AS (SELECT user_id, value, ts,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        |  FROM c)
        |SELECT user_id, value,
        | epoch_ms(ts) AS effective_from_ms,
        | epoch_ms(next_ts) AS effective_to_ms,
        | next_ts IS NULL AS is_current
        |FROM r""".stripMargin),
    // term → (df, sorted postings); list(ORDER BY) states the order
    // Spark pins with sort_array, joined to a comma string so the
    // adjudicator sorts/hashes a scalar column (no bare arrays).
    QueryDef("inverted_index", Search.invertedIndex, _ =>
      s"""SELECT tok AS term, count(*) AS df,
         | array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         |FROM (SELECT doc_id, unnest(list_distinct($tokensSql)) AS tok
         |  FROM documents)
         |GROUP BY tok""".stripMargin),
    // df-capped tier: rank per (term, doc_id), exact df = max(rn),
    // postings truncated to the first DfCap doc_ids via FILTER.
    QueryDef("inverted_index_capped", Search.invertedIndexCapped, _ =>
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS term
         |  FROM documents),
         |r AS (SELECT term, doc_id,
         |  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM t)
         |SELECT term, CAST(max(rn) AS BIGINT) AS df,
         | max(rn) > ${graft.operators.Search.DfCap} AS truncated,
         | array_to_string(
         |   list(doc_id ORDER BY doc_id)
         |     FILTER (WHERE rn <= ${graft.operators.Search.DfCap}), ',') AS postings
         |FROM r GROUP BY term""".stripMargin),
    // Market-basket rules: pair counts from a per-doc self-join (the
    // oracle can afford the quadratic basket form the Spark plan
    // keeps array-local); integer-exact thresholds, single divisions
    // of exact longs rounded at 4.
    QueryDef("assoc_rules", Search.assocRules, _ =>
      s"""WITH bk AS (SELECT doc_id, list_distinct($tokensSql) AS items FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM bk),
         |t AS (SELECT doc_id, unnest(items) AS tok FROM bk),
         |ic AS (SELECT tok AS item, CAST(count(*) AS BIGINT) AS n_item FROM t GROUP BY 1),
         |pc AS (SELECT x.tok AS wa, y.tok AS wb, CAST(count(*) AS BIGINT) AS n_xy
         |  FROM t x JOIN t y ON x.doc_id = y.doc_id AND x.tok < y.tok GROUP BY 1, 2),
         |d AS (SELECT wa AS antecedent, wb AS consequent, n_xy FROM pc
         |  UNION ALL SELECT wb, wa, n_xy FROM pc)
         |SELECT antecedent, consequent, n_xy,
         | round(CAST(n_xy AS DOUBLE) / n_docs, 4) AS support,
         | round(CAST(n_xy AS DOUBLE) / n_x, 4) AS confidence,
         | round(CAST(n_xy * n_docs AS DOUBLE) / (n_x * n_y), 4) AS lift
         |FROM d
         |JOIN (SELECT item AS antecedent, n_item AS n_x FROM ic) USING (antecedent)
         |JOIN (SELECT item AS consequent, n_item AS n_y FROM ic) USING (consequent), nn
         |WHERE n_xy * 20 >= n_docs AND n_xy * 2 >= n_x""".stripMargin),
    // A-ES weighted draw replayed: same md5 hash-uniform, same
    // ln(u)/w key, doc_id tie-break; integer doc selection is the
    // hash-checked surface (no FP values in the output).
    QueryDef("weighted_sample", Curation.weightedSample, _ =>
      s"""WITH d AS (SELECT doc_id,
         |  CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
         |  (CAST(CAST(concat('0x', substr(md5('ws|' || doc_id), 1, 4)) AS INTEGER) AS DOUBLE) + 0.5)
         |    / 65536.0 AS u
         | FROM documents),
         |r AS (SELECT doc_id, weight,
         |  row_number() OVER (ORDER BY ln(u) / weight DESC, doc_id) AS rank FROM d)
         |SELECT doc_id, weight, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= ${Curation.WeightedK}""".stripMargin),
    // Laplace-smoothed p/q over the full lang×vocab grid; ln-based
    // KL sums in DECIMAL(28,12), TV distance rational.
    QueryDef("corpus_divergence", TextAnalysis.corpusDivergence, _ =>
      s"""WITH toks AS (SELECT lang, unnest($tokensSql) AS tok FROM documents),
         |counts AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
         |vt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS c_all FROM counts GROUP BY 1),
         |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t_in FROM counts GROUP BY 1),
         |vs AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_all) AS BIGINT) AS t_all FROM vt),
         |grid AS (SELECT l.lang, vt.tok, vt.c_all, coalesce(c.c, 0) AS c_in
         |  FROM (SELECT DISTINCT lang FROM counts) l CROSS JOIN vt
         |  LEFT JOIN counts c ON c.lang = l.lang AND c.tok = vt.tok),
         |pq AS (SELECT g.lang,
         |  CAST(c_in + 1 AS DOUBLE) / CAST(t_in + v AS DOUBLE) AS p,
         |  CAST(c_all - c_in + 1 AS DOUBLE) / CAST(t_all - t_in + v AS DOUBLE) AS q
         |  FROM grid g JOIN lt USING (lang), vs)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
         | round(CAST(sum(CAST(p * ln(p / q) AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl_fwd,
         | round(CAST(sum(CAST(q * ln(q / p) AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl_rev,
         | round(CAST(sum(CAST(abs(p - q) AS DECIMAL(28,12))) AS DOUBLE) / 2.0, 6) AS tv_dist
         |FROM pq GROUP BY lang""".stripMargin),
    // Okapi BM25, literals and associativity written identically to
    // the Spark expression tree; per-doc sum in DECIMAL(28,12) (the
    // k-means accumulation rule) so FP add order can't diverge.
    QueryDef("search_bm25", Search.searchBm25, _ =>
      s"""WITH ${graft.operators.Search.bm25OracleCtes(tokensSql)}
         |SELECT doc_id, round(CAST(score_dec AS DOUBLE), 4) AS score,
         | CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= ${graft.operators.Search.TopK}""".stripMargin),
    // adjacent-pair counts via DuckDB's positional multi-unnest zip
    // (the line-dedup oracle trick) over the two offset slices.
    QueryDef("cooccurrence_pairs", Search.cooccurrencePairs, _ =>
      s"""SELECT w1, w2, count(*) AS n FROM (
         |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
         |  FROM (SELECT $tokensSql AS t FROM documents)
         |  WHERE len(t) >= 2)
         |GROUP BY 1, 2""".stripMargin),
    // §2.4 LLM-data-pipeline operators
    QueryDef("dedup_exact", Dedup.exact, _ =>
      """SELECT doc_id,
        | min(doc_id) OVER h AS keeper,
        | doc_id <> min(doc_id) OVER h AS is_dup,
        | count(*) OVER h AS n_copies
        |FROM documents
        |WINDOW h AS (PARTITION BY md5(text))""".stripMargin),
    QueryDef("dedup_incremental", Dedup.exactIncremental, _ =>
      s"""WITH ex AS (SELECT md5(text) AS h, min(doc_id) AS dup_of
         |  FROM documents WHERE doc_id % ${Dedup.IncrMod} <> 0 GROUP BY 1),
         |nb AS (SELECT doc_id, md5(text) AS h FROM documents
         |  WHERE doc_id % ${Dedup.IncrMod} = 0),
         |w AS (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS bk FROM nb)
         |SELECT w.doc_id, ex.dup_of,
         | CASE WHEN ex.dup_of IS NOT NULL THEN 'dup_corpus'
         |      WHEN w.doc_id <> w.bk THEN 'dup_batch'
         |      ELSE 'new_unique' END AS disposition
         |FROM w LEFT JOIN ex USING (h)""".stripMargin),
    QueryDef("dedup_incremental_near", Dedup.nearIncremental, _ =>
      s"""WITH $lshCtes,
         |idx AS (SELECT band, sig, min(doc_id) AS corpus_min
         |  FROM bands WHERE doc_id % ${Dedup.IncrMod} <> 0 GROUP BY band, sig),
         |nb AS (SELECT doc_id, band, sig FROM bands
         |  WHERE doc_id % ${Dedup.IncrMod} = 0),
         |w AS (SELECT doc_id, band, sig,
         |   min(doc_id) OVER (PARTITION BY band, sig) AS bmin FROM nb),
         |g AS (SELECT w.doc_id, min(idx.corpus_min) AS near_of, min(w.bmin) AS bmin
         |  FROM w LEFT JOIN idx USING (band, sig) GROUP BY w.doc_id)
         |SELECT doc_id, near_of,
         | CASE WHEN near_of IS NOT NULL THEN 'near_corpus'
         |      WHEN bmin < doc_id THEN 'near_batch'
         |      ELSE 'new_unique' END AS disposition
         |FROM g""".stripMargin),
    QueryDef("dedup_minhash_lsh", Dedup.minhashLsh, _ =>
      s"""WITH $lshCtes
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         | ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin),
    QueryDef("dedup_jaccard", Dedup.jaccard, _ =>
      s"""WITH $lshCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |tri AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(1, length(lower(text)) - 2)),
         |    i -> substr(lower(text), i, 3))) AS tri
         |  FROM documents)
         |SELECT p.doc_a, p.doc_b,
         | round(CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE) /
         |   CAST(len(ta.tri) + len(tb.tri) - len(list_intersect(ta.tri, tb.tri)) AS DOUBLE),
         |   4) AS jaccard
         |FROM pairs p
         | JOIN tri ta ON ta.doc_id = p.doc_a
         | JOIN tri tb ON tb.doc_id = p.doc_b""".stripMargin),
    // Exact set-similarity join (prefix-filtered on the Spark side);
    // the oracle computes ground truth by the complete shared-shingle
    // equi-join — any J >= threshold pair shares a shingle — with the
    // intersection counted directly by the join, no list ops on pairs.
    QueryDef("join_setsim", Dedup.setSimJoin, _ =>
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
         |  FROM tk WHERE len(t) >= 3),
         |sh AS (SELECT doc_id, unnest(sh) AS sh FROM shl),
         |card AS (SELECT doc_id, CAST(len(sh) AS INTEGER) AS n FROM shl),
         |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS INTEGER) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT co.doc_a, co.doc_b, co.inter,
         | ca.n + cb.n - co.inter AS n_union,
         | round(CAST(co.inter AS DOUBLE) / (ca.n + cb.n - co.inter), 4) AS jaccard
         |FROM co JOIN card ca ON ca.doc_id = co.doc_a
         | JOIN card cb ON cb.doc_id = co.doc_b
         |WHERE ${Dedup.SetSimDen + Dedup.SetSimNum} * co.inter
         |  >= ${Dedup.SetSimNum} * (ca.n + cb.n)""".stripMargin),
    QueryDef("dedup_clusters", Dedup.clusters, _ =>
      s"""WITH $clusterCtes
         |SELECT doc_id, cluster FROM labels""".stripMargin),
    QueryDef("dedup_simhash", Dedup.simhash, _ => {
      val voteCols = (0 until Dedup.SimhashBits)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val sigExpr = (0 until Dedup.SimhashBits)
        .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      val mask = (1L << Dedup.SimhashChunkBits) - 1
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)),
         |votes AS (SELECT doc_id, $voteCols FROM toks GROUP BY doc_id),
         |sigs AS (SELECT doc_id, $sigExpr AS sig FROM votes),
         |chunks AS (
         |  SELECT doc_id, sig, c AS chunk_id,
         |    (sig >> (c * ${Dedup.SimhashChunkBits})) & $mask AS chunk
         |  FROM sigs, (SELECT unnest([0,1,2,3]) AS c))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
    }),
    QueryDef("dedup_embedding", Dedup.embedding, _ =>
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round($cosSql, 4) AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4""".stripMargin),
    QueryDef("dedup_embedding_lsh", Dedup.embeddingLsh, d => {
      val bandSelects = (0 until Dedup.EmbBands).map { g =>
        val bits = (0 until d.embPlanes)
          .map(j => annBitSql(g * d.embPlanes + j)).mkString(" || ")
        s"SELECT vec_id, $g AS band, $bits AS bucket FROM e"
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |banded AS ($bandSelects),
         |cands AS (SELECT DISTINCT ba.vec_id AS vec_a, bb.vec_id AS vec_b
         |  FROM banded ba JOIN banded bb
         |   ON ba.band = bb.band AND ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT c.vec_a, c.vec_b, round($cosSql, 4) AS cos
         |  FROM cands c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b)
         |WHERE cos >= ${Dedup.EmbCosTau}""".stripMargin
    }),
    QueryDef("ann_bruteforce", Similarity.annBruteForce, _ =>
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS cand_id, $cosSql AS cos
         |  FROM e a JOIN e b ON a.vec_id < ${Similarity.NumQueries} AND a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT q_id, cand_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
         |  FROM s)
         |SELECT q_id, CAST(rk AS INTEGER) AS rk, cand_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rk <= ${Similarity.TopK}""".stripMargin),
    QueryDef("ann_lsh", Similarity.annLsh, _ => {
      val bits = (0 until Similarity.NumPlanes).map(annBitSql).mkString(" || ")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, $bits AS bucket FROM e)
         |SELECT vec_id, bucket,
         | count(*) OVER (PARTITION BY bucket) AS n_in_bucket
         |FROM b""".stripMargin
    }),
    QueryDef("ann_ivf", Similarity.annIvf,
      _ => annIvfSql(Similarity.NumCentroids, Similarity.NumProbes)),
    QueryDef("ann_ivf_big", Similarity.annIvfBig,
      _ => annIvfSql(Similarity.BigK, Similarity.BigNprobe)),
    // The serve path reads the index the build path persists — same
    // Lloyd bits, same probe/rank semantics, so the oracle is the
    // full index-CTE query verbatim.
    QueryDef("ann_ivf_serve", Similarity.annIvfServe,
      _ => annIvfSql(Similarity.BigK, Similarity.BigNprobe)),
    // PQ compression tier next to the IVF index: codebooks trained in
    // one melted dataflow, 4-byte codes + reconstruction error, fully
    // oracle-checked (the DuckDB mirror retrains the same codebooks).
    QueryDef("embedding_pq", Similarity.embeddingPq, _ => embeddingPqSql),
    // PQ serving: asymmetric distance computation — per-query distance
    // table, candidate distance = 4 broadcast-join lookups, top-k.
    QueryDef("ann_pq_adc", Similarity.annPqAdc, _ => annPqAdcSql),
    // Full IVF-PQ: coarse cluster pruning before the ADC lookups.
    QueryDef("ann_ivf_pq", Similarity.annIvfPq, _ => annIvfPqSql),
    // PQ serve tier: the persisted-index split (codebooks + codes on
    // parquet, zero training passes per query batch) — the
    // ann_ivf_serve contract applied to the PQ family. Bit-identical
    // to the build-path queries above.
    // Incremental ANN ingest: classify the IncrMod batch against the
    // full-corpus k=128 index — the mirror retrains the same Lloyd
    // chain and assigns only the batch.
    QueryDef("ann_ivf_ingest", Similarity.annIvfIngest, _ =>
      s"""WITH ${ivfIndexCtes(Similarity.BigK)},
         |a AS (${ivfAssignSql("c2", s" WHERE e.vec_id % ${graft.operators.Dedup.IncrMod} = 0", 1)})
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
         | round(cent_sim, 4) AS cent_sim
         |FROM a""".stripMargin),
    // SQ8: the DuckDB mirror re-trains the per-dim quantizer (exact
    // float extrema), re-codes (identical multiply/divide order, same
    // half-away-from-zero rounding) and reproduces code mass and
    // reconstruction error bit-for-bit.
    QueryDef("embedding_sq8", Similarity.embeddingSq8, _ =>
      s"""WITH $sq8Ctes
         |SELECT vec_id,
         | CAST(list_sum(codes) AS BIGINT) AS code_sum,
         | round(list_max(list_transform(generate_series(1, ${Similarity.EmbDim}), i ->
         |   abs(emb[i] - (CAST(codes[i] AS DOUBLE) / ${Similarity.Sq8Levels} * (his[i] - los[i]) + los[i])))), 6) AS max_abs_err
         |FROM c""".stripMargin),
    // ANN over the dequantized corpus: exact queries, SQ8 candidates.
    QueryDef("ann_sq8", Similarity.annSq8, _ =>
      s"""WITH $sq8Ctes,
         |dq AS (SELECT vec_id, list_transform(generate_series(1, ${Similarity.EmbDim}), i ->
         |   CAST(codes[i] AS DOUBLE) / ${Similarity.Sq8Levels} * (his[i] - los[i]) + los[i]) AS emb
         |  FROM c),
         |s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS cand_id, $cosSql AS cos
         |  FROM e a JOIN dq b ON a.vec_id < ${Similarity.NumQueries} AND a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT q_id, cand_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
         |  FROM s)
         |SELECT q_id, CAST(rk AS INTEGER) AS rk, cand_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rk <= ${Similarity.TopK}""".stripMargin),
    // Serve paths read the index the build paths persist — same
    // trained doubles (exact parquet round-trip), same lookup/rank
    // semantics, so each oracle is the build-path query verbatim
    // (the ann_ivf_serve precedent).
    QueryDef("ann_pq_serve", Similarity.annPqServe, _ => annPqAdcSql),
    QueryDef("ann_ivf_pq_serve", Similarity.annIvfPqServe, _ => annIvfPqSql),
    QueryDef("multimodal_meta", Multimodal.multimodalMeta, _ =>
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS fake_width,
        | CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER) AS fake_height,
        | CASE WHEN octet_length(encode(text)) % 16 < 6 THEN 'jpeg'
        |      WHEN octet_length(encode(text)) % 16 < 11 THEN 'png'
        |      ELSE 'webp' END AS format
        |FROM documents""".stripMargin),
    // Byte semantics via hex(encode(text)): 2 hex chars per byte, so
    // offsets/widths double. md5 runs on the lowercase hex slice —
    // the only blob-slice hash DuckDB 1.0 and Spark both compute
    // identically for non-ASCII content (see Multimodal scaladoc).
    QueryDef("multimodal_frames", Multimodal.multimodalFrames, _ =>
      s"""WITH m AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
         |  octet_length(encode(text)) AS len FROM documents)
         |SELECT doc_id, CAST(f AS INTEGER) AS frame_no,
         | CAST(f * ${Multimodal.FrameStride} AS INTEGER) AS frame_offset,
         | CAST(length(substr(hx, f * ${2 * Multimodal.FrameStride} + 1, ${2 * Multimodal.FrameWidth})) // 2 AS INTEGER) AS frame_bytes,
         | md5(substr(hx, f * ${2 * Multimodal.FrameStride} + 1, ${2 * Multimodal.FrameWidth})) AS frame_md5
         |FROM m,
         | unnest(generate_series(0,
         |   greatest(CAST(ceil(len / ${Multimodal.FrameStride}.0) AS BIGINT) - 1, 0))) AS t(f)""".stripMargin),
    // RMS chain recomputed from the same bytes via ascii(): integer
    // squares sum exactly, /W is dyadic, IEEE sqrt is correctly
    // rounded — bit-exact both engines, so even the silence boundary
    // compare is hash-safe; per-doc mean sums in list (window) order.
    // Byte semantics like the frames face: samples are UTF-8 BYTES
    // decoded from hex pairs of hex(encode(text)) (strpos-parsed),
    // never character code points — ascii(substr(...)) would diverge
    // on any non-ASCII doc (multi-byte chars: fewer "samples", wrong
    // values). Byte values are exact small integers, so the
    // squares-sum/sqrt chain stays bit-exact cross-engine.
    QueryDef("multimodal_audio", Multimodal.multimodalAudio, _ =>
      s"""WITH m AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
         |  octet_length(encode(text)) AS n FROM documents),
         |w AS (SELECT doc_id, n,
         |  list_transform(
         |    generate_series(0, CAST(n // ${Multimodal.AudioWindow} AS INTEGER) - 1),
         |    w -> sqrt(list_aggregate(list_transform(
         |      list_transform(generate_series(1, ${Multimodal.AudioWindow}),
         |        i -> CAST((strpos('0123456789abcdef', substr(hx, (w * ${Multimodal.AudioWindow} + i) * 2 - 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(hx, (w * ${Multimodal.AudioWindow} + i) * 2, 1)) - 1 AS DOUBLE)),
         |      x -> x * x), 'sum')
         |      / ${Multimodal.AudioWindow}.0)) AS rmss
         |  FROM m)
         |SELECT doc_id,
         | CAST(n AS INTEGER) AS n_samples,
         | CAST(n // ${Multimodal.AudioWindow} AS INTEGER) AS n_windows,
         | CAST(len(list_filter(rmss, r -> r < ${Multimodal.SilenceRms})) AS INTEGER) AS n_silent,
         | CASE WHEN len(rmss) = 0 THEN NULL
         |      ELSE round(list_aggregate(rmss, 'sum') / len(rmss), 4) END AS mean_rms
         |FROM w""".stripMargin),
    QueryDef("multimodal_frame_dedup", Multimodal.frameDedup, _ =>
      s"""WITH m AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
         |  octet_length(encode(text)) AS len FROM documents),
         |fr AS (SELECT DISTINCT doc_id,
         |  md5(substr(hx, f * ${2 * Multimodal.FrameStride} + 1, ${2 * Multimodal.FrameWidth})) AS frame_md5
         | FROM m, unnest(generate_series(0,
         |   greatest(CAST(ceil(len / ${Multimodal.FrameStride}.0) AS BIGINT) - 1, 0))) AS t(f)),
         |rare AS (SELECT doc_id, frame_md5 FROM fr
         | WHERE frame_md5 IN (SELECT frame_md5 FROM fr GROUP BY 1
         |   HAVING count(*) <= ${Multimodal.HotFrameMax}))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_frames
         |FROM rare a JOIN rare b ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin),
    // Scene cuts over the same hex-slice frame digests: lag window
    // per doc, cut = digest differs from predecessor; offsets as a
    // comma-joined string (scalar-output rule).
    QueryDef("multimodal_scenes", Multimodal.multimodalScenes, _ =>
      s"""WITH m AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
         |  octet_length(encode(text)) AS len FROM documents),
         |fr AS (SELECT doc_id, CAST(f AS INTEGER) AS frame_no,
         |  CAST(f * ${Multimodal.SceneStride} AS INTEGER) AS frame_offset,
         |  md5(substr(hx, f * ${2 * Multimodal.SceneStride} + 1, ${2 * Multimodal.SceneWidth})) AS frame_md5
         | FROM m, unnest(generate_series(0,
         |   greatest(CAST(ceil(len / ${Multimodal.SceneStride}.0) AS BIGINT) - 1, 0))) AS t(f)),
         |c AS (SELECT doc_id, frame_no, frame_offset, frame_md5,
         |  lag(frame_md5) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev
         | FROM fr)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames,
         | CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> frame_md5
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         | coalesce(array_to_string(list(frame_offset ORDER BY frame_offset)
         |   FILTER (WHERE prev IS NOT NULL AND prev <> frame_md5), ','), '')
         |   AS cut_offsets
         |FROM c GROUP BY doc_id""".stripMargin),
    QueryDef("text_langid", TextAnalysis.langid, _ =>
      s"""SELECT doc_id,
         | ${langScoreSql("en")} AS score_en,
         | ${langScoreSql("de")} AS score_de,
         | ${langScoreSql("fr")} AS score_fr,
         | ${langScoreSql("es")} AS score_es,
         | ${langScoreSql("zh")} AS score_zh,
         | CASE
         |  WHEN ${langScoreSql("en")} > 0 AND ${langScoreSql("en")} >= ${langScoreSql("de")} AND ${langScoreSql("en")} >= ${langScoreSql("fr")} AND ${langScoreSql("en")} >= ${langScoreSql("es")} AND ${langScoreSql("en")} >= ${langScoreSql("zh")} THEN 'en'
         |  WHEN ${langScoreSql("de")} > 0 AND ${langScoreSql("de")} >= ${langScoreSql("en")} AND ${langScoreSql("de")} >= ${langScoreSql("fr")} AND ${langScoreSql("de")} >= ${langScoreSql("es")} AND ${langScoreSql("de")} >= ${langScoreSql("zh")} THEN 'de'
         |  WHEN ${langScoreSql("fr")} > 0 AND ${langScoreSql("fr")} >= ${langScoreSql("en")} AND ${langScoreSql("fr")} >= ${langScoreSql("de")} AND ${langScoreSql("fr")} >= ${langScoreSql("es")} AND ${langScoreSql("fr")} >= ${langScoreSql("zh")} THEN 'fr'
         |  WHEN ${langScoreSql("es")} > 0 AND ${langScoreSql("es")} >= ${langScoreSql("en")} AND ${langScoreSql("es")} >= ${langScoreSql("de")} AND ${langScoreSql("es")} >= ${langScoreSql("fr")} AND ${langScoreSql("es")} >= ${langScoreSql("zh")} THEN 'es'
         |  WHEN ${langScoreSql("zh")} > 0 AND ${langScoreSql("zh")} >= ${langScoreSql("en")} AND ${langScoreSql("zh")} >= ${langScoreSql("de")} AND ${langScoreSql("zh")} >= ${langScoreSql("fr")} AND ${langScoreSql("zh")} >= ${langScoreSql("es")} THEN 'zh'
         |  ELSE 'und' END AS lang_pred
         |FROM documents""".stripMargin),
    // Corpus-trained bigram LM with add-1/2 smoothing; every count is
    // an exact BIGINT, so each bigram's nll double is a pure function
    // of identical inputs on both engines, and the per-doc average is
    // rounded to 4 (irrational-value rule: no boundary collisions).
    QueryDef("text_lm_score", TextAnalysis.lmScore, _ => lmScoreSql),
    QueryDef("text_quality", TextAnalysis.quality, _ =>
      s"""SELECT doc_id,
         | CAST(length(text) AS INTEGER) AS n_chars_actual,
         | CAST(len($tokensSql) AS INTEGER) AS n_tokens,
         | round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |   / greatest(length(text), 1), 4) AS punct_ratio,
         | round(CAST(${Seq("the", "a", "and", "of", "to", "in").map(m => occSql("(' ' || lower(text) || ' ')", s" $m ")).mkString(" + ")} AS DOUBLE)
         |   / greatest(len($tokensSql), 1), 4) AS stopword_ratio,
         | round(CAST(len(list_distinct($tokensSql)) AS DOUBLE)
         |   / greatest(len($tokensSql), 1), 4) AS uniq_ratio,
         | (length(text) >= 50 AND len($tokensSql) >= 10) AS quality_keep
         |FROM documents""".stripMargin),
    // Flesch: vowel-run syllables + terminal-punct sentence runs
    // (floored at 1); one fixed double expression, round 4.
    QueryDef("text_readability", TextAnalysis.readability, _ =>
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   t -> t <> '')) AS INTEGER) AS n_words,
        | CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INTEGER)
        |   AS n_sentences,
        | CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER)
        |   AS n_syllables,
        | CASE WHEN len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |     t -> t <> '')) = 0 THEN NULL
        |   ELSE round(206.835
        |     - 1.015 * (CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |         t -> t <> '')) AS DOUBLE)
        |       / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |     - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |       / len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           t -> t <> ''))), 4) END AS flesch
        |FROM documents""".stripMargin),
    QueryDef("text_tokens", TextAnalysis.tokenCounts, _ =>
      s"""SELECT doc_id,
         | CAST(len($tokensSql) AS INTEGER) AS ws_tokens,
         | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS INTEGER) AS bpe_tokens,
         | round(CAST(length(text) AS DOUBLE) /
         |   greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)), 1), 4) AS chars_per_token
         |FROM documents""".stripMargin),
    QueryDef("text_fingerprint", TextAnalysis.fingerprint, _ =>
      """SELECT doc_id,
        | list_min(list_transform(generate_series(1, greatest(1, length(lower(text)) - 7)),
        |   i -> md5(substr(lower(text), i, 8)))) AS fp_min,
        | list_max(list_transform(generate_series(1, greatest(1, length(lower(text)) - 7)),
        |   i -> md5(substr(lower(text), i, 8)))) AS fp_max,
        | md5(text) AS fp_exact
        |FROM documents""".stripMargin),
    QueryDef("text_clean", TextAnalysis.clean, _ =>
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(text, '[\x00-\x1f]', ' ', 'g'), ' +', ' ', 'g')) AS text_clean,
        | CAST(length(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f]', ' ', 'g'), ' +', ' ', 'g'))) AS INTEGER) AS n_chars_clean
        |FROM documents""".stripMargin),
    QueryDef("text_redact", TextAnalysis.redact, _ =>
      """SELECT doc_id, masked AS text_redacted,
        | CAST(length(masked) - length(regexp_replace(masked, '<NUM>|<EMAIL>', '', 'g')) AS INTEGER) AS masked_chars
        |FROM (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g') AS masked
        |  FROM documents)""".stripMargin),
    QueryDef("text_chunk", TextAnalysis.chunk, _ =>
      """SELECT doc_id,
        | CAST((i - 1) // 150 AS INTEGER) AS chunk_id,
        | substr(text, CAST(i AS INTEGER), 200) AS chunk,
        | CAST(length(substr(text, CAST(i AS INTEGER), 200)) AS INTEGER) AS chunk_chars
        |FROM documents,
        | unnest(generate_series(1, greatest(length(text) - 50, 1), 150)) AS t(i)""".stripMargin),
    QueryDef("text_repetition", TextAnalysis.repetition, _ =>
      """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams, max(c) AS max_tri_count,
        | round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS repetition_ratio
        |FROM (
        |  SELECT doc_id, tri, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(1, length(lower(text)) - 2)),
        |      i -> substr(lower(text), i, 3))) AS tri
        |    FROM documents)
        |  GROUP BY doc_id, tri)
        |GROUP BY doc_id""".stripMargin),
    // Gopher rule table over the re-lined view (same harness rule as
    // the line-dedup oracles). Every compared value is an exact
    // int/int division, so keep flags agree bit-for-bit; displayed
    // ratios round to 4 (small-denominator rationals — both engines
    // hold the identical double and round half-away-from-zero).
    QueryDef("text_quality_gopher", TextAnalysis.gopherQuality, _ => {
      val w = Curation.LineTokens
      val meanLen =
        "CAST(length(array_to_string(t, '')) AS DOUBLE) / greatest(len(t), 1)"
      val symbols =
        s"CAST(${occSql("rt", "#")} + ${occSql("rt", "...")} AS DOUBLE) / greatest(len(t), 1)"
      val bullets =
        "CAST(len(list_filter(nls, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS DOUBLE) / greatest(len(nls), 1)"
      val ellipses =
        "CAST(len(list_filter(nls, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE) / greatest(len(nls), 1)"
      val alpha =
        "CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / greatest(len(t), 1)"
      val stops = TextAnalysis.gopherStops
        .map(m => s"(CASE WHEN list_contains(t, '$m') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |lw AS (SELECT doc_id, list_transform(generate_series(1, len(t), $w),
         |    i -> array_to_string(t[i:i+${w - 1}], ' ')) AS ls
         |  FROM toks),
         |g AS (SELECT toks.doc_id, toks.t,
         |   list_filter(lw.ls, l -> length(l) > 0) AS nls,
         |   array_to_string(lw.ls, chr(10)) AS rt
         |  FROM toks JOIN lw USING (doc_id))
         |SELECT doc_id,
         | CAST(len(t) AS INTEGER) AS n_words,
         | round($meanLen, 4) AS mean_word_len,
         | round($symbols, 4) AS symbol_ratio,
         | round($bullets, 4) AS bullet_line_ratio,
         | round($ellipses, 4) AS ellipsis_line_ratio,
         | round($alpha, 4) AS alpha_word_ratio,
         | CAST($stops AS INTEGER) AS n_stop_hits,
         | (len(t) >= 50 AND len(t) <= 100000
         |  AND $meanLen >= 3 AND $meanLen <= 10
         |  AND $symbols <= 0.1
         |  AND $bullets < 0.9
         |  AND $ellipses <= 0.3
         |  AND $alpha >= 0.8
         |  AND ($stops) >= ${TextAnalysis.GopherMinStopHits}) AS gopher_keep
         |FROM g""".stripMargin
    }),
    // CCNet terciles over the LM score: exact-percentile thresholds
    // (the proven percentile ↔ quantile_cont parity), rounded at 4
    // like every quantile face, compared map-side.
    QueryDef("text_quality_buckets", TextAnalysis.lmBuckets, _ =>
      s"""WITH lm AS ($lmScoreSql),
         |th AS (SELECT round(quantile_cont(avg_nll, 1.0/3), 4) AS t1,
         |   round(quantile_cont(avg_nll, 2.0/3), 4) AS t2
         |  FROM lm WHERE n_bigrams > 0)
         |SELECT doc_id, n_tokens, avg_nll,
         | CASE WHEN n_bigrams = 0 THEN 'unscored'
         |      WHEN avg_nll <= t1 THEN 'head'
         |      WHEN avg_nll <= t2 THEN 'middle'
         |      ELSE 'tail' END AS bucket
         |FROM lm, th""".stripMargin),
    // BPE trainer + encode (BpeSpec carries the naive-reference
    // equality and the kernel property test).
    QueryDef("bpe_train", Bpe.bpeTrain, _ => graft.operators.Bpe.bpeTrainOracleSql),
    QueryDef("text_tokens_bpe", Bpe.tokensBpe, _ => graft.operators.Bpe.tokensBpeOracleSql),
    // §2.4 corpus curation (post-dedup pipeline tier)
    QueryDef("decontaminate", Curation.decontaminate, _ => decontaminateSql),
    // The bloom prune only drops rows the exact join would drop
    // anyway, so the oracle is the same exact-join SQL.
    QueryDef("decontaminate_bloom", Curation.decontaminateBloom, _ => decontaminateSql),
    QueryDef("split_assign", Curation.splitAssign, _ =>
      s"""SELECT doc_id, source, bucket,
         | CASE WHEN bucket < ${Curation.TrainPct} THEN 'train'
         |      WHEN bucket < ${Curation.ValPct} THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, source,
         |  CAST(CAST(concat('0x', substr(md5(source), 1, 4)) AS INTEGER) % 100
         |    AS INTEGER) AS bucket
         | FROM documents)""".stripMargin),
    QueryDef("shuffle_shards", Curation.shuffleShards, _ =>
      s"""SELECT doc_id, shard,
         | CAST(row_number() OVER (PARTITION BY shard
         |   ORDER BY md5('ord|' || doc_id), doc_id) AS INTEGER) AS pos_in_shard
         |FROM (SELECT doc_id,
         |  CAST(CAST(concat('0x', substr(md5('shard|' || doc_id), 1, 4)) AS INTEGER)
         |    % ${Curation.NumShards} AS INTEGER) AS shard
         | FROM documents)""".stripMargin),
    QueryDef("sample_reservoir", Curation.sampleReservoir, _ =>
      s"""SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5('rsv|' || doc_id), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= ${Curation.ReservoirN}""".stripMargin),
    QueryDef("tfidf_topterms", Curation.tfidfTopTerms, _ =>
      s"""WITH tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, round(score, 4) AS score FROM (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf AS DOUBLE) * ((n.n_docs + 1.0) / (df.df + 1.0)) AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY
         |      CAST(tf.tf AS DOUBLE) * ((n.n_docs + 1.0) / (df.df + 1.0)) DESC,
         |      tf.term) AS rk
         |  FROM tf JOIN df USING (term), n)
         |WHERE rk <= ${Curation.TopTerms}""".stripMargin),
    QueryDef("dedup_keeper", Curation.keeperSelect, _ =>
      // Window mirror of the Spark max_by(doc_id, struct(len, -id))
      // tuple key: DuckDB's arg_max has no struct-key overload, and
      // an arithmetic composite would overflow/mis-order for ids
      // beyond the scale constant.
      s"""WITH $clusterCtes,
         |r AS (
         |  SELECT cluster, d.doc_id, length(d.text) AS len,
         |    row_number() OVER (PARTITION BY cluster ORDER BY length(d.text) DESC, d.doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS n_docs,
         |    max(length(d.text)) OVER (PARTITION BY cluster) AS max_len
         |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
         |SELECT cluster, n_docs, doc_id AS keeper_doc,
         | CAST(max_len AS INTEGER) AS keeper_chars
         |FROM r WHERE rn = 1""".stripMargin),
    // Exact tier beats near tier, same ladder as corpus_curate; docs
    // outside any collision cluster keep unless they are exact dups.
    QueryDef("dedup_manifest", Curation.dedupManifest, _ =>
      s"""WITH $clusterCtes,
         |k AS (
         |  SELECT cluster, doc_id AS keeper_doc FROM (
         |    SELECT cluster, d.doc_id,
         |      row_number() OVER (PARTITION BY cluster
         |        ORDER BY length(d.text) DESC, d.doc_id ASC) AS rn
         |    FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
         |  WHERE rn = 1),
         |e AS (SELECT doc_id,
         |   min(doc_id) OVER (PARTITION BY md5(text)) AS ek
         |  FROM documents)
         |SELECT e.doc_id,
         | CASE WHEN e.doc_id <> e.ek THEN 'dup_exact'
         |      WHEN l.cluster IS NOT NULL AND e.doc_id <> k.keeper_doc
         |        THEN 'dup_near'
         |      ELSE 'keep' END AS disposition
         |FROM e
         | LEFT JOIN labels l ON e.doc_id = l.doc_id
         | LEFT JOIN k ON l.cluster = k.cluster""".stripMargin),
    QueryDef("dedup_semdedup", Dedup.semDedup, d =>
      s"""WITH ${ivfIndexCtes(d.semK)},
         |assigned AS (${ivfAssignSql("c2", "", 1)}),
         |removed AS (SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
         |  ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |  AND list_dot_product(a.emb, b.emb) /
         |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= ${Dedup.SemTau}
         |  AND (b.cent_sim < a.cent_sim OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id)))
         |SELECT s.vec_id, s.cluster, round(s.cent_sim, 4) AS cent_sim,
         | (r.vec_id IS NOT NULL) AS is_removed
         |FROM assigned s LEFT JOIN removed r ON s.vec_id = r.vec_id""".stripMargin),
    QueryDef("dedup_containment", Dedup.containment, _ =>
      s"""WITH $lshCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |tri AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(1, length(lower(text)) - 2)),
         |    i -> substr(lower(text), i, 3))) AS tri
         |  FROM documents)
         |SELECT p.doc_a, p.doc_b,
         | round(CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE) /
         |   CAST(least(len(ta.tri), len(tb.tri)) AS DOUBLE),
         |   4) AS containment
         |FROM pairs p
         | JOIN tri ta ON ta.doc_id = p.doc_a
         | JOIN tri tb ON tb.doc_id = p.doc_b""".stripMargin),
    QueryDef("mix_plan", Curation.mixPlan, _ => {
      val pctCase = Curation.TargetPct
        .map { case (l, p) => s"WHEN '$l' THEN $p" }.mkString(" ")
      s"""SELECT lang, count(*) AS n_docs,
         | CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
         | CAST(CASE lang $pctCase ELSE 0 END AS INTEGER) AS target_pct,
         | CAST(${Curation.MixBudgetTokens / 100} * (CASE lang $pctCase ELSE 0 END) AS BIGINT) AS target_tokens,
         | CASE WHEN sum(len($tokensSql)) = 0 THEN 0.0 ELSE
         |   round(CAST(${Curation.MixBudgetTokens / 100} * (CASE lang $pctCase ELSE 0 END) AS DOUBLE) /
         |     CAST(sum(len($tokensSql)) AS DOUBLE), 4) END AS repeat_factor
         |FROM documents GROUP BY lang""".stripMargin
    }),
    QueryDef("mix_execute", Curation.mixExecute, _ => {
      val pctCase = Curation.TargetPct
        .map { case (l, p) => s"WHEN '$l' THEN $p" }.mkString(" ")
      s"""WITH plan AS (
         | SELECT lang,
         |  CASE WHEN sum(len($tokensSql)) = 0 THEN 0.0 ELSE
         |   round(CAST(${Curation.MixBudgetTokens / 100} * (CASE lang $pctCase ELSE 0 END) AS DOUBLE) /
         |     CAST(sum(len($tokensSql)) AS DOUBLE), 4) END AS rf
         | FROM documents GROUP BY lang),
         |d AS (SELECT doc_id, lang, len($tokensSql) AS n_tok,
         |  CAST(CAST(concat('0x', substr(md5('mix|' || doc_id), 1, 4)) AS INTEGER) AS DOUBLE)
         |    / 65536.0 AS u
         | FROM documents),
         |c AS (SELECT d.lang, d.n_tok,
         |  CAST(floor(rf) AS BIGINT) +
         |    (CASE WHEN u < rf - floor(rf) THEN 1 ELSE 0 END) AS n_copies
         | FROM d JOIN plan USING (lang))
         |SELECT lang, count(*) AS n_docs,
         | CAST(sum(n_copies) AS BIGINT) AS n_copies_total,
         | CAST(sum(n_copies * n_tok) AS BIGINT) AS executed_tokens
         |FROM c GROUP BY lang""".stripMargin
    }),
    // Deterministic per-doc hash draw replays the executed mixture:
    // u and rf are bit-equal in both engines, so the u < frac(rf)
    // epoch coin agrees row for row.
    // Cluster-balanced temperature mixing: the DuckDB mirror retrains
    // the same Lloyd index (bit-exact DECIMAL means), reassigns every
    // vector, rebuilds the sqrt-share plan and replays the per-doc
    // hash draw — the executed mixture matches cluster for cluster.
    QueryDef("mix_by_cluster", Curation.mixByCluster, _ =>
      s"""WITH ${ivfIndexCtes(Similarity.NumCentroids)},
         |assigned AS (${ivfAssignSql("c2", "", 1)}),
         |d AS (SELECT doc_id, len($tokensSql) AS n_tok FROM documents),
         |j AS (SELECT a.cluster, d.doc_id, d.n_tok
         |  FROM d JOIN assigned a ON d.doc_id = a.vec_id),
         |cs AS (SELECT cluster, count(*) AS n_docs,
         |   CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM j GROUP BY cluster),
         |norm AS (SELECT sum(sqrt(CAST(n_docs AS DOUBLE))) AS z FROM cs),
         |plan AS (SELECT cluster,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |   round(${Curation.MixBudgetTokens} * sqrt(CAST(n_docs AS DOUBLE)) / z
         |     / CAST(n_tokens AS DOUBLE), 4) END AS rf
         | FROM cs CROSS JOIN norm),
         |ex AS (SELECT j.cluster, j.n_tok,
         |  CAST(floor(rf) AS BIGINT) + (CASE WHEN
         |    CAST(CAST(concat('0x', substr(md5('cmix|' || j.doc_id), 1, 4)) AS INTEGER) AS DOUBLE) / 65536.0
         |      < rf - floor(rf) THEN 1 ELSE 0 END) AS n_copies,
         |  rf
         | FROM j JOIN plan USING (cluster))
         |SELECT cluster, count(*) AS n_docs,
         | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         | min(rf) AS repeat_factor,
         | CAST(sum(n_copies) AS BIGINT) AS n_copies_total,
         | CAST(sum(n_copies * n_tok) AS BIGINT) AS executed_tokens
         |FROM ex GROUP BY cluster""".stripMargin),
    QueryDef("dup_ngram_profile", Curation.dupNgramProfile, _ =>
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - ${Curation.GramW - 1}),
         |    i -> md5(array_to_string(toks[i:i+${Curation.GramW - 1}], ' '))))) AS h
         |  FROM toks WHERE len(toks) >= ${Curation.GramW}),
         |f AS (SELECT h, count(*) AS df FROM g GROUP BY h)
         |SELECT g.doc_id, count(*) AS n_grams,
         | CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
         | round(CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
         |   CAST(count(*) AS DOUBLE), 4) AS dup_frac
         |FROM g JOIN f ON g.h = f.h
         |GROUP BY g.doc_id""".stripMargin),
    QueryDef("dedup_semantic", Dedup.semantic, _ =>
      s"""WITH $lshCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)
         |SELECT p.doc_a, p.doc_b, round($cosSql, 4) AS cos_sim
         |FROM pairs p
         | JOIN e a ON a.vec_id = p.doc_a
         | JOIN e b ON b.vec_id = p.doc_b""".stripMargin),
    QueryDef("pack_sequences", Curation.packSequences, _ =>
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($tokensSql) AS INTEGER) AS n_tokens,
         |  CAST(CAST(concat('0x', substr(md5('shard|' || doc_id), 1, 4)) AS INTEGER)
         |    % ${Curation.NumShards} AS INTEGER) AS shard
         | FROM documents)
         |SELECT doc_id, shard, n_tokens,
         | CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |     ORDER BY md5('ord|' || doc_id), doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   / ${Curation.SeqWindow}) AS INTEGER) AS seq_in_shard
         |FROM t""".stripMargin),
    QueryDef("corpus_curate", Curation.corpusCurate, _ =>
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - ${Curation.GramW - 1}),
         |    i -> md5(array_to_string(toks[i:i+${Curation.GramW - 1}], ' '))))) AS h
         |  FROM toks WHERE len(toks) >= ${Curation.GramW}),
         |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % ${Curation.BenchMod} = 0),
         |hits AS (SELECT doc_id, count(*) AS n FROM g JOIN bench USING (h)
         |  WHERE doc_id % ${Curation.BenchMod} <> 0 GROUP BY doc_id),
         |k AS (SELECT doc_id, source, text,
         |   min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |  FROM documents WHERE doc_id % ${Curation.BenchMod} <> 0),
         |d AS (SELECT k.doc_id, k.source,
         |  CASE WHEN k.doc_id <> k.keeper THEN 'dup'
         |       WHEN coalesce(h.n, 0) > 0 THEN 'contaminated'
         |       WHEN NOT (length(k.text) >= 50 AND len($tokensSql) >= 10)
         |         THEN 'low_quality'
         |       ELSE 'keep' END AS disposition
         | FROM k LEFT JOIN hits h ON k.doc_id = h.doc_id)
         |SELECT source, disposition, count(*) AS n_docs
         |FROM d GROUP BY source, disposition""".stripMargin),
    QueryDef("line_dedup_profile", Curation.lineDedupProfile, _ =>
      s"""WITH $lineCtes
         |SELECT ne.doc_id, count(*) AS n_lines,
         | CAST(sum(CASE WHEN lf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
         | round(CAST(sum(CASE WHEN lf.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
         |   CAST(count(*) AS DOUBLE), 4) AS dup_frac
         |FROM ne JOIN lf USING (h)
         |GROUP BY ne.doc_id""".stripMargin),
    QueryDef("line_dedup_strip", Curation.lineDedupStrip, _ =>
      s"""WITH $lineCtes,
         |k AS (SELECT ne.doc_id, count(*) AS n_kept,
         |   string_agg(ne.line, chr(10) ORDER BY ne.line_no) AS kept
         |  FROM ne JOIN lf USING (h) WHERE lf.df < 2 GROUP BY ne.doc_id),
         |nl AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(nl.n_lines, 0) AS INTEGER) AS n_lines,
         | CAST(coalesce(k.n_kept, 0) AS INTEGER) AS n_kept,
         | md5(coalesce(k.kept, '')) AS kept_md5
         |FROM documents d LEFT JOIN nl USING (doc_id) LEFT JOIN k USING (doc_id)""".stripMargin),
    QueryDef("span_dedup_profile", Curation.spanDedupProfile, _ =>
      s"""WITH $spanCtes
         |SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
         | CAST(coalesce(len(c.cov), 0) AS INTEGER) AS n_dup_tokens,
         | CASE WHEN len(t.t) = 0 THEN 0.0 ELSE
         |   round(CAST(coalesce(len(c.cov), 0) AS DOUBLE) /
         |     CAST(len(t.t) AS DOUBLE), 4) END AS dup_frac
         |FROM toks t LEFT JOIN cov c USING (doc_id)""".stripMargin),
    QueryDef("span_dedup_strip", Curation.spanDedupStrip, _ =>
      s"""WITH $spanCtes,
         |tp AS (SELECT doc_id, unnest(generate_series(1, len(t))) - 1 AS ti,
         |    unnest(t) AS tok FROM toks),
         |k AS (SELECT tp.doc_id, count(*) AS n_kept,
         |   string_agg(tp.tok, ' ' ORDER BY tp.ti) AS kept
         |  FROM tp LEFT JOIN cov c USING (doc_id)
         |  WHERE c.cov IS NULL OR NOT list_contains(c.cov, tp.ti)
         |  GROUP BY tp.doc_id),
         |nt AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
         |SELECT n.doc_id, CAST(n.n_tokens AS INTEGER) AS n_tokens,
         | CAST(coalesce(k.n_kept, 0) AS INTEGER) AS n_kept,
         | md5(coalesce(k.kept, '')) AS kept_md5
         |FROM nt n LEFT JOIN k USING (doc_id)""".stripMargin),
    // Exact (suffix-array-semantics) substring-duplicate profile:
    // sliding char windows of SpanMinChars, 16-hex md5 prefixes,
    // covered positions = union of duplicated windows.
    QueryDef("span_dedup_exact", Curation.spanDedupExact, _ => {
      val mc = graft.operators.Curation.SpanMinChars
      s"""WITH d AS MATERIALIZED (SELECT doc_id, text,
         |  CAST(length(text) AS INTEGER) AS len FROM documents),
         |w AS (SELECT doc_id, CAST(unnest(generate_series(1, len - ${mc - 1})) AS INTEGER) AS pos
         |  FROM d WHERE len >= $mc),
         |h AS MATERIALIZED (SELECT w.doc_id, w.pos,
         |  substr(md5(substr(d.text, w.pos, $mc)), 1, 16) AS h
         |  FROM w JOIN d USING (doc_id)),
         |f AS (SELECT h, count(*) AS cnt FROM h GROUP BY 1),
         |cov AS (SELECT doc_id, CAST(count(DISTINCT cp) AS INTEGER) AS n_dup_chars FROM (
         |  SELECT hh.doc_id, unnest(generate_series(hh.pos, hh.pos + ${mc - 1})) AS cp
         |  FROM h hh JOIN f USING (h) WHERE f.cnt >= 2) GROUP BY 1)
         |SELECT d.doc_id, d.len AS n_chars,
         | coalesce(c.n_dup_chars, 0) AS n_dup_chars,
         | CASE WHEN d.len = 0 THEN 0.0
         |   ELSE round(CAST(coalesce(c.n_dup_chars, 0) AS DOUBLE) / d.len, 4) END AS dup_frac
         |FROM d LEFT JOIN cov c ON c.doc_id = d.doc_id""".stripMargin
    }),
    // Exact-tier span STRIP: drop every character inside a duplicated
    // >= SpanMinChars-char span (all copies); kept text reassembled
    // position-ordered and md5'd — the #68b contract one granularity
    // down.
    QueryDef("span_dedup_exact_strip", Curation.spanDedupExactStrip, _ => {
      val mc = graft.operators.Curation.SpanMinChars
      s"""WITH d AS MATERIALIZED (SELECT doc_id, text,
         |  CAST(length(text) AS INTEGER) AS len FROM documents),
         |w AS (SELECT doc_id, CAST(unnest(generate_series(1, len - ${mc - 1})) AS INTEGER) AS pos
         |  FROM d WHERE len >= $mc),
         |h AS MATERIALIZED (SELECT w.doc_id, w.pos,
         |  substr(md5(substr(d.text, w.pos, $mc)), 1, 16) AS h
         |  FROM w JOIN d USING (doc_id)),
         |f AS (SELECT h, count(*) AS cnt FROM h GROUP BY 1),
         |covp AS MATERIALIZED (SELECT DISTINCT doc_id, cp FROM (
         |  SELECT hh.doc_id, CAST(unnest(generate_series(hh.pos, hh.pos + ${mc - 1})) AS INTEGER) AS cp
         |  FROM h hh JOIN f USING (h) WHERE f.cnt >= 2)),
         |allp AS (SELECT doc_id, CAST(unnest(generate_series(1, len)) AS INTEGER) AS pos
         |  FROM d WHERE len >= 1),
         |k AS (SELECT a.doc_id, CAST(count(*) AS INTEGER) AS n_kept,
         |  string_agg(substr(d.text, a.pos, 1), '' ORDER BY a.pos) AS ktext
         |  FROM allp a JOIN d USING (doc_id)
         |  LEFT JOIN covp c ON c.doc_id = a.doc_id AND c.cp = a.pos
         |  WHERE c.cp IS NULL GROUP BY 1)
         |SELECT d.doc_id, d.len AS n_chars,
         | coalesce(k.n_kept, 0) AS n_kept,
         | md5(coalesce(k.ktext, '')) AS kept_md5
         |FROM d LEFT JOIN k USING (doc_id)""".stripMargin
    }),
    // The DAG report is deterministic (all three jobs succeed on any
    // corpus), so orchestration state is oracle-checkable as data.
    QueryDef("jobcontrol_run", JobControl.demoRun, _ =>
      s"""WITH stats AS (SELECT source, count(*) AS n_docs,
         |   CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source)
         |SELECT 'stats' AS job, 'SUCCESS' AS state,
         |  CAST((SELECT count(*) FROM stats) AS BIGINT) AS n_rows
         |UNION ALL SELECT 'top_sources', 'SUCCESS',
         |  CAST((SELECT least(3, count(*)) FROM stats) AS BIGINT)
         |UNION ALL SELECT 'quality', 'SUCCESS',
         |  CAST((SELECT count(*) FROM stats WHERE n_docs >= 5) AS BIGINT)""".stripMargin),
    // Composed nightly-ingest DAG: the three incremental faces
    // (exact/near dedup, rollup maintenance) orchestrated as one
    // JobControl run — proves the persisted-index contracts compose.
    // The composed DAG's report: every job lands SUCCESS on healthy
    // data, so the oracle recomputes each n_rows figure — the exact
    // and near dedup CTEs are the dedup_incremental /
    // dedup_incremental_near oracles verbatim, intersected for the
    // accept count.
    QueryDef("ingest_night", JobControl.ingestNight, _ =>
      s"""WITH $lshCtes,
         |exi AS (SELECT md5(text) AS h, min(doc_id) AS dup_of
         |  FROM documents WHERE doc_id % ${Dedup.IncrMod} <> 0 GROUP BY 1),
         |exw AS (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS bk
         |  FROM (SELECT doc_id, md5(text) AS h FROM documents
         |    WHERE doc_id % ${Dedup.IncrMod} = 0)),
         |exd AS (SELECT exw.doc_id,
         |  CASE WHEN exi.dup_of IS NOT NULL THEN 'dup_corpus'
         |       WHEN exw.doc_id <> exw.bk THEN 'dup_batch'
         |       ELSE 'new_unique' END AS disposition
         |  FROM exw LEFT JOIN exi USING (h)),
         |nidx AS (SELECT band, sig, min(doc_id) AS corpus_min
         |  FROM bands WHERE doc_id % ${Dedup.IncrMod} <> 0 GROUP BY band, sig),
         |nw AS (SELECT doc_id, band, sig,
         |   min(doc_id) OVER (PARTITION BY band, sig) AS bmin
         |  FROM bands WHERE doc_id % ${Dedup.IncrMod} = 0),
         |ng AS (SELECT nw.doc_id, min(nidx.corpus_min) AS near_of, min(nw.bmin) AS bmin
         |  FROM nw LEFT JOIN nidx USING (band, sig) GROUP BY nw.doc_id),
         |nd AS (SELECT doc_id,
         |  CASE WHEN near_of IS NOT NULL THEN 'near_corpus'
         |       WHEN bmin < doc_id THEN 'near_batch'
         |       ELSE 'new_unique' END AS disposition
         |  FROM ng),
         |acc AS (SELECT e.doc_id FROM exd e JOIN nd n USING (doc_id)
         |  WHERE e.disposition = 'new_unique' AND n.disposition = 'new_unique')
         |SELECT 'accept' AS job, 'SUCCESS' AS state,
         |  CAST((SELECT count(*) FROM acc) AS BIGINT) AS n_rows
         |UNION ALL SELECT 'exact_dedup', 'SUCCESS',
         |  CAST((SELECT count(*) FROM documents WHERE doc_id % ${Dedup.IncrMod} = 0) AS BIGINT)
         |UNION ALL SELECT 'manifest', 'SUCCESS',
         |  CAST((SELECT count(DISTINCT d.source) FROM documents d
         |    JOIN acc ON d.doc_id = acc.doc_id) AS BIGINT)
         |UNION ALL SELECT 'near_dedup', 'SUCCESS',
         |  CAST((SELECT count(*) FROM documents WHERE doc_id % ${Dedup.IncrMod} = 0) AS BIGINT)
         |UNION ALL SELECT 'rollup_merge', 'SUCCESS',
         |  CAST((SELECT count(*) FROM
         |    (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)) AS BIGINT)""".stripMargin),
  )
  require(defs.map(_.name).distinct.size == defs.size,
    "a query name is declared twice in SparkEntry.defs")
}
