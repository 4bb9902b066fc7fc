package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Learned-model operators — the classic MapReduce ML workloads
  * (reference analogue: the Mahout-era count-based trainers that ran
  * as aggregation job chains on Hadoop 2.x, and the blocked
  * matrix-multiply examples from the MapReduce literature).
  *
  * Naive Bayes here is the LEARNED counterpart of the heuristic
  * n-gram language ID ([[TextAnalysis.langid]]): train multinomial NB
  * with Laplace smoothing on the corpus's own (lang, token) counts,
  * then classify every document — two registered faces, both fully
  * oracle-checked because training is nothing but exact integer
  * count aggregation and the scoring chain follows the
  * [[TextAnalysis.lmScore]] determinism pattern (ln of exact
  * rationals, per-doc double sums, round-4 absorbing summation order
  * and last-ulp libm differences — the house irrational rule).
  */
object Learn {

  /** The (class × vocabulary) training grid shared by both faces:
    * one row per (lang, term) — including UNSEEN pairs, whose
    * smoothed log-likelihood ln(1/(n_tok_c+V)) the classifier needs —
    * with the class prior alongside. Grid size is |classes|·|vocab|.
    * The vocabulary is CORPUS-DERIVED and therefore unbounded at
    * 100 TB (web corpora carry hundreds of millions of distinct
    * tokens), so nothing vocab-sized ever broadcasts: the class×vocab
    * cross broadcasts the CLASS side (label-bounded) against the
    * distinct-term relation, and all term-keyed joins are shuffled
    * hash/SMJ — the [[TextAnalysis.lmScore]] vocab-relation rule. The
    * bounded-broadcast production tier is [[nbClassifyTopV]]. */
  private def nbGrid(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus tokenize (the featureChi2 pattern, round 14): the
    // per-(class, term) token counts PERSIST (vocab×class-bounded),
    // and the class token totals (Σ over terms), the vocabulary
    // (distinct terms), and V all DERIVE from them — before, each was
    // its own branch re-running the corpus explode (exchange reuse
    // does not deduplicate branches with different pushed filters).
    val classTok = Dedup.memo(s, "nbgridct", dir)(Tables.documents(s, dir)
          .select(col("lang"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("n_tc"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val classTot = classTok.groupBy(col("lang")).agg(sum(col("n_tc")).as("n_tok"))
    val vocab = classTok.select(col("term")).distinct()
    val vocabN = vocab.agg(count(lit(1)).as("v"))
    val classDocs = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nDocs = classDocs.agg(sum(col("n_docs")).as("n"))
    vocab.crossJoin(broadcast(classDocs))
      .join(classTok, Seq("lang", "term"), "left")
      .join(broadcast(classTot), Seq("lang"))
      .crossJoin(broadcast(vocabN))
      .crossJoin(broadcast(nDocs))
      .select(col("lang"), col("term"),
        coalesce(col("n_tc"), lit(0L)).as("n_tc"),
        log((coalesce(col("n_tc"), lit(0L)) + lit(1.0)) /
          (col("n_tok") + col("v"))).as("loglik"),
        log(col("n_docs").cast("double") / col("n")).as("logprior"))
  }

  /** #69 Multinomial Naive Bayes TRAINING (Laplace add-1): the full
    * smoothed (lang, term) log-likelihood grid + class log-priors.
    * P(t|c) = (n_tc + 1) / (n_tok_c + V). Pure count arithmetic —
    * every input to every ln is an exact integer ratio, so the grid
    * hash-checks cross-engine at round-4. */
  def nbTrain(s: SparkSession, dir: String): DataFrame =
    nbGrid(s, dir)
      .select(col("lang"), col("term"), col("n_tc"),
        round(col("loglik"), 4).as("loglik"),
        round(col("logprior"), 4).as("logprior"))

  /** #69b Naive Bayes CLASSIFICATION: argmax_c [ log P(c) +
    * Σ_tokens log P(t|c) ] per document, token repeats counted
    * (multinomial). Plan shape at 100 TB: the grid is
    * |classes|·|vocab| rows and vocab is corpus-derived — UNBOUNDED —
    * so the token⋈grid join keys on `term` as a shuffled hash/SMJ
    * (the [[TextAnalysis.lmScore]] vocab-relation rule; broadcasting
    * the grid would OOM every executor at web-corpus vocabulary
    * sizes). The corpus-sized work is one exploded-token pass fanned
    * out |classes|-fold, aggregated per (doc, class) with map-side
    * partials, then a per-doc window argmax. For the bounded-
    * broadcast production path see [[nbClassifyTopV]]. Determinism:
    * per-doc loglik sums accumulate in DECIMAL(28,12) (order-free —
    * partial-merge order must not matter under any partitioning),
    * scores round at 4 BEFORE the argmax ordering (rounded doubles
    * are bit-equal cross-engine under the irrational rule; ranking
    * on raw doubles could flip a last-ulp tie), lang ascending
    * breaks exact ties. */
  def nbClassify(s: SparkSession, dir: String): DataFrame = {
    val grid = nbGrid(s, dir)
    // Bag-of-words compression (round 17, the eval_cv trade applied
    // here): the grid join is SHUFFLED (vocab never broadcasts), so
    // joining per-(doc, term) COUNTS instead of per token occurrence
    // shrinks the corpus-side shuffle bytes and the ×|langs| fan by
    // the multiplicity factor (2.33× at sf0.1, more on Zipfian
    // corpora) for one counting exchange. cnt·dec(loglik) is
    // bit-equal to summing dec(loglik) cnt times ONLY when the
    // product stays exact: DECIMAL(14,12)×DECIMAL(10,0) = (25,12) —
    // a (28,12)×BIGINT product wants precision 49 and Spark caps it
    // as (38,6), rounding at the 6th decimal (1-ulp divergence at
    // round-4, caught by the gate). The TopV deployment
    // tier deliberately keeps per-occurrence rows: its scored join is
    // a BROADCAST probe, so compression there would buy map-side CPU
    // with a corpus-sized exchange — the wrong trade at scale.
    val docToks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    val scored = docToks
      .join(grid, Seq("term"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(col("loglik").cast("decimal(14,12)") *
          col("cnt").cast("decimal(10,0)")).cast("double") +
        max(col("logprior")), 4).as("score"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang").asc)
    scored.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"), col("score"))
  }

  /** Vocabulary cap for [[nbClassifyTopV]] — the production-broadcast
    * tier's bound. */
  val NbTopV = 512

  /** #69b' Naive Bayes classification, TOP-V VOCABULARY tier — the
    * production shape: cap the vocabulary at the [[NbTopV]] globally
    * most frequent terms (count desc, term asc — a total order, so
    * the cap boundary is deterministic) and the grid becomes
    * |classes|·V rows — BOUNDED by configuration, not the corpus — so
    * it broadcasts legitimately and the classify pass is one
    * map-side-joined corpus scan with zero shuffle on the token
    * relation. Out-of-vocabulary tokens drop (the standard capped-NB
    * semantics); class totals and the smoothing denominator n_tokV_c
    * + V are recomputed over IN-VOCAB tokens so the model stays a
    * proper multinomial over its own event space. Same determinism
    * contract as [[nbClassify]]: DECIMAL(28,12) loglik sums, round-4
    * before the (score desc, lang asc) argmax. */
  def nbClassifyTopV(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
    val topv = toks.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
      .orderBy(col("n_t").desc, col("term").asc)
      .limit(NbTopV)
      .select(col("term"))
    val kept = toks.join(broadcast(topv), Seq("term"))
    val classTok = kept.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("n_tc"))
    val classTot = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_tok"))
    val classDocs = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val vCap = topv.agg(count(lit(1)).as("v"))
    val grid = topv.crossJoin(broadcast(classDocs))
      .join(classTok, Seq("lang", "term"), "left")
      .join(broadcast(classTot), Seq("lang"))
      .crossJoin(broadcast(vCap))
      .crossJoin(broadcast(nDocs))
      .select(col("lang"), col("term"),
        log((coalesce(col("n_tc"), lit(0L)) + lit(1.0)) /
          (col("n_tok") + col("v"))).as("loglik"),
        log(col("n_docs").cast("double") / col("n")).as("logprior"))
    val docToks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val scored = docToks
      .join(broadcast(grid), Seq("term"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(col("loglik").cast("decimal(28,12)")).cast("double") +
        max(col("logprior")), 4).as("score"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang").asc)
    scored.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"), col("score"))
  }

  /** #69c Gram matrix Eᵀ·E over the embedding corpus — the blocked
    * MATRIX MULTIPLY of the MapReduce literature (one of the original
    * canonical examples) in its outer-product formulation, and the
    * covariance/PCA precursor a real embedding pipeline computes.
    * Each row contributes its d·(d+1)/2 upper-triangle products
    * ARRAY-LOCALLY (one codegen'd nested transform, no self-join, no
    * per-dimension explode-then-join); only (i, j, partial-sum)
    * triples ride the exchange, so the shuffle is d²-bounded at any
    * corpus size — the same stripes-over-pairs argument as
    * cooccurrence. Products accumulate in exact DECIMAL, pinning FP
    * addition order cross-engine (the PageRank contribution rule);
    * the element cast is DECIMAL(18,12) — |xᵢ·xⱼ| ≤ 1 needs 6
    * integer digits at scale 12, and precision ≤ 18 keeps Spark's
    * Decimal (and DuckDB's) on the compact int64 fast path instead
    * of BigDecimal, while the sum's (28,12) result type still
    * promotes safely on overflow. float→double element casts are
    * exact. */
  /** Unrounded upper-triangle gram core (i ≤ j, exact-decimal sums
    * cast to double) — the one corpus-sized pass, shared by the
    * registered face and the PCA power iteration. Persisted under the
    * house cache rule: PCA consumes it [[PowerIters]]+1 times.
    *
    * Execution is a PER-PARTITION FOLD ([[gramPartials]] — the
    * mapPartitions last-resort clause, warranted here because the
    * declarative formulation amplifies every input row d(d+1)/2 =
    * 2,080-fold before the partial aggregation can see it): each task
    * accumulates all 2,080 slot sums in a local array and emits ONE
    * 2,080-row partial, so the exchange carries n_partitions·d²/2
    * rows instead of n_rows·d²/2 and the hash-aggregate never touches
    * the amplified row space. The arithmetic is bit-identical to the
    * declarative path — [[gramCoreExplode]] survives as the reference
    * formulation and the equivalence spec's witness. The input is
    * [[Tables.spread]] so the CPU-bound product loop parallelizes
    * across cores even off a small single-file scan. */
  private[graft] def gramCore(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "gram", dir)({
      import s.implicits._
      val d = Similarity.EmbDim
      val emb = Tables.spread(s, Tables.embeddings(s, dir), "vec_id")
        .select(col("embedding")).as[Array[Float]]
      emb.mapPartitions(it => gramPartials(d, it))
        .toDF("i", "j", "p")
        .groupBy(col("i"), col("j"))
        .agg(sum(col("p").cast("decimal(28,12)")).cast("double").as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The per-partition gram fold behind [[gramCore]]: every
    * upper-triangle slot's DECIMAL(18,12) product sum accumulates in
    * unscaled-long 1e-12 units (BigInteger carry on long overflow —
    * unreachable below ~9M rows/partition at |xᵢ·xⱼ| ≤ 1, but handled
    * so no partition size can silently wrap). The per-product
    * rounding reproduces Spark's double→DECIMAL(18,12) cast exactly —
    * BigDecimal.valueOf (Double.toString shortest form) then
    * setScale(12, HALF_UP) — so the fold is bit-equal to the
    * declarative explode path; exact decimal addition is commutative,
    * so partition boundaries cannot shift the result. */
  private[graft] def gramPartials(d: Int, it: Iterator[Array[Float]]):
      Iterator[(Int, Int, java.math.BigDecimal)] = {
    import java.math.{BigDecimal => JBD, BigInteger => JBI, RoundingMode}
    val n = d * (d + 1) / 2
    val acc = new Array[Long](n)
    val carry = new Array[JBI](n)
    var any = false
    while (it.hasNext) {
      val v = it.next()
      any = true
      var i = 0
      var slot = 0
      while (i < d) {
        val xi = v(i).toDouble
        var j = i
        while (j < d) {
          val ubi = JBD.valueOf(xi * v(j).toDouble)
            .setScale(12, RoundingMode.HALF_UP).unscaledValue()
          if (ubi.bitLength() < 63) {
            val u = ubi.longValue()
            val s0 = acc(slot)
            val sum = s0 + u
            if (((s0 ^ sum) & (u ^ sum)) < 0) {
              carry(slot) = (if (carry(slot) == null) JBI.valueOf(s0)
                else carry(slot).add(JBI.valueOf(s0)))
              acc(slot) = u
            } else acc(slot) = sum
          } else {
            carry(slot) = (if (carry(slot) == null) ubi else carry(slot).add(ubi))
          }
          slot += 1
          j += 1
        }
        i += 1
      }
    }
    if (!any) Iterator.empty
    else {
      val out = new Array[(Int, Int, JBD)](n)
      var i = 0
      var slot = 0
      while (i < d) {
        var j = i
        while (j < d) {
          val total = if (carry(slot) == null) JBI.valueOf(acc(slot))
            else carry(slot).add(JBI.valueOf(acc(slot)))
          out(slot) = (i + 1, j + 1, new JBD(total, 12))
          slot += 1
          j += 1
        }
        i += 1
      }
      out.iterator
    }
  }

  /** The declarative explode formulation of the gram pass — retained
    * as the equivalence witness for [[gramPartials]] (the spec proves
    * fold ≡ explode bit-for-bit on real corpus data). */
  private[graft] def gramCoreExplode(s: SparkSession, dir: String): DataFrame = {
    val d = Similarity.EmbDim
    Tables.embeddings(s, dir)
      .select(expr(
        s"""explode(flatten(transform(sequence(1, $d), i ->
           |  transform(sequence(i, $d), j -> struct(i AS i, j AS j,
           |    CAST(CAST(element_at(embedding, i) AS DOUBLE)
           |      * CAST(element_at(embedding, j) AS DOUBLE)
           |      AS DECIMAL(18,12)) AS p)))))""".stripMargin).as("x"))
      .select(col("x.i"), col("x.j"), col("x.p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).cast("double").as("g"))
  }

  def matmulGram(s: SparkSession, dir: String): DataFrame =
    gramCore(s, dir)
      .select(col("i"), col("j"), round(col("g"), 4).as("gram"))

  private val gramDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize-once parquet handoff of [[gramCore]] — the
    * ivfIndexDir/tradeGraphDir contract: the gram build is an ingest
    * artifact (the covariance job), not something every downstream
    * analysis recomputes, so it survives clearCaches by design and
    * the bench measures the ITERATIONS of its consumers. Doubles
    * round-trip parquet exactly, so consumers see bit-identical g. */
  private[graft] def gramDir(s: SparkSession, dir: String): String =
    Dedup.dirMemo(gramDirs, Dedup.cacheKey(s, "gramdir", dir)) {
      val out = graft.sources.FileRoundTrips.freshScratch("gram", dir)
      gramCore(s, dir).write.mode("overwrite").parquet(out)
      out
    }

  /** Power-iteration rounds — fixed, mirrored by the generated
    * unrolled-CTE oracle. */
  val PowerIters = 5

  /** #69d PCA dominant component by POWER ITERATION on the gram
    * matrix — the classic two-stage distributed PCA (compute Σ ≈ EᵀE
    * in one corpus pass, then iterate on the d×d matrix; the MLlib
    * covariance-then-driver-eig shape, except the iteration here
    * stays declarative so the oracle can replay it). The gram matrix
    * is read from the [[gramDir]] parquet handoff — the ingest-job
    * artifact contract PageRank's trade graph uses, so the bench
    * measures the iterations, and the one corpus pass is measured by
    * the `matmul_gram` build face. After the handoff everything is
    * DIMENSION-bounded: each round is one
    * d²-row join + d-row aggregation, nothing corpus-sized moves.
    * v₀ = 1/√d (exactly 0.125 at d=64 — a dyadic constant both
    * engines parse identically); per-round w = G·v with products
    * accumulated in DECIMAL(28,12) (the PageRank contribution rule),
    * norm = √(Σw² in DECIMAL), v' = w/norm — every operand double is
    * bit-identical cross-engine, so all [[PowerIters]] rounds stay
    * exact and the output hashes at round-8. `eigval` is ‖G·v‖ of the
    * final round — the Rayleigh estimate of λ₁. Each round's w is
    * `localCheckpoint`ed: the norm and the next round both reference
    * it, and without the lineage cut the logical plan doubles per
    * round (the sssp planning-blowup lesson). */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val up = s.read.schema("i INT, j INT, g DOUBLE").parquet(gramDir(s, dir))
    val gsym = up.select(col("i"), col("j"), col("g"))
      .unionAll(up.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
    val d = Similarity.EmbDim
    val idx = s.range(1, d + 1).select(col("id").cast("int").as("i"))
    var v = idx.withColumn("v", lit(1.0 / math.sqrt(d.toDouble)))
    var lastNorm: DataFrame = null
    for (_ <- 1 to PowerIters) {
      val w = gsym.join(v.select(col("i").as("j"), col("v")), "j")
        .select(col("i"), (col("g") * col("v")).cast("decimal(28,12)").as("p"))
        .groupBy(col("i"))
        .agg(sum(col("p")).cast("double").as("w"))
        .localCheckpoint()
      val norm = w.agg(
        sqrt(sum((col("w") * col("w")).cast("decimal(28,12)")).cast("double")).as("nrm"))
      lastNorm = norm
      v = w.crossJoin(broadcast(norm))
        .select(col("i"), (col("w") / col("nrm")).as("v"))
    }
    v.crossJoin(broadcast(lastNorm))
      .select(col("i").as("dim_i"), round(col("v"), 8).as("loading"),
        round(col("nrm"), 6).as("eigval"))
  }

  val KnnK = 5
  val KnnQueries = 10

  /** #69e k-NN classification over the embedding corpus — the
    * similarity-search APPLICATION face (labels ride the existing ANN
    * machinery): each query vector takes its [[KnnK]] nearest
    * neighbors by cosine (self excluded — leave-one-out) and the
    * majority neighbor label wins, votes-desc then label-asc on ties.
    * This exact plan is the brute tier (query side broadcast, the
    * [[Similarity.annBruteForce]] shape); at 100 TB the neighbor
    * stage swaps for any registered ANN serve tier unchanged — the
    * vote aggregation only ever sees q×k rows. Ranking uses the raw
    * fixed-order cosine doubles (bit-identical cross-engine, the
    * ann-family precedent), votes are exact integers. */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < KnnQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cands = Tables.spread(s, e, "vec_id")
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"),
        col("label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val byVotes = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    broadcast(queries)
      .join(cands, col("q_id") =!= col("cand_id"))
      .withColumn("cos",
        graft.plans.GraftFunctions.cosine_sim(col("q_emb"), col("cand_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("pr", row_number().over(byVotes))
      .filter(col("pr") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
  }

  /** Hot-user cap for [[itemSimilarity]]: a customer with more
    * distinct suppliers than this is dropped BEFORE the pair join —
    * the quadratic-bucket guard every item-item CF deployment runs
    * (the [[Multimodal.HotFrameMax]] rule applied to users). Counts
    * (n_i, co) are computed on the capped relation so the similarity
    * stays internally consistent. */
  val HotUserMax = 200
  val ItemSimTopN = 5

  /** #69f Item-item collaborative filtering (Linden et al. 2003,
    * "Amazon.com Recommendations: Item-to-Item Collaborative
    * Filtering" — a MapReduce-era staple): supplier pairs scored by
    * cosine over their binary customer vectors, sim = co/√(n_a·n_b),
    * top-[[ItemSimTopN]] neighbors per item. The pair explosion is
    * per-USER (Σ items_per_user² candidates), df-capped by
    * [[HotUserMax]] so no single hot user can go quadratic; the
    * neighbor ranking windows per ITEM over co-rated pairs only.
    * Similarity is one double expression over exact integer counts,
    * rounded at 4; ranks tie (sim desc, neighbor asc) on the rounded
    * value so the boundary compare is bit-equal cross-engine. */
  private val itemsimDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize-once parquet handoff of the capped user-item
    * relation — the same ingest-artifact contract as
    * [[alsRatingsDir]] (one interaction-matrix build feeds every
    * recommender training run); the bench then measures the pair
    * join, which is the operator. */
  private[graft] def itemsimKeptDir(s: SparkSession, dir: String): String =
    Dedup.dirMemo(itemsimDirs, Dedup.cacheKey(s, "itemsimdir", dir)) {
      val out = graft.sources.FileRoundTrips.freshScratch("itemsim", dir)
      val ui = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("item"))
        .distinct()
      ui.withColumn("n_items",
          count(lit(1)).over(Window.partitionBy(col("cust"))))
        .filter(col("n_items") <= HotUserMax)
        .select(col("cust"), col("item"))
        .write.mode("overwrite").parquet(out)
      out
    }

  def itemSimilarity(s: SparkSession, dir: String): DataFrame = {
    // The capped user-item relation is consumed THREE times (item
    // marginals + both pair-join sides), so it persists under the
    // house cache rule; the hot-user cap itself is a count() window
    // over the cust partitioning — one pass, no self-join — and the
    // pair join below reuses that same cust clustering.
    val kept = Dedup.memo(s, "itemsim_kept", dir)(s.read.schema("cust BIGINT, item BIGINT")
          .parquet(itemsimKeptDir(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ni = kept.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
    val a = kept.alias("a")
    val b = kept.alias("b")
    val co = a.join(b,
      col("a.cust") === col("b.cust") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
      .agg(count(lit(1)).as("co"))
    val directed = co.select(col("ia").as("item"), col("ib").as("neighbor"), col("co"))
      .unionAll(co.select(col("ib").as("item"), col("ia").as("neighbor"), col("co")))
    val byItem = Window.partitionBy(col("item"))
      .orderBy(col("sim").desc, col("neighbor").asc)
    directed
      .join(ni.select(col("item"), col("n_i").as("na")), "item")
      .join(ni.select(col("item").as("neighbor"), col("n_i").as("nb")), "neighbor")
      .withColumn("sim",
        round(col("co").cast("double") / sqrt((col("na") * col("nb")).cast("double")), 4))
      .withColumn("rk", row_number().over(byItem))
      .filter(col("rk") <= ItemSimTopN)
      .select(col("item"), col("rk"), col("neighbor"), col("co"), col("sim"))
  }

  /** ALS half-round budget and the (dyadic — 2^-3) Tikhonov ridge for
    * [[alsRank1]]; both mirrored into the generated oracle. */
  val AlsIters = 4
  val AlsLambda = 0.125

  /** The (cust, item, r) rating relation — quantity totals per
    * customer×supplier trade pair, the implicit-feedback matrix.
    * Persisted TWICE, clustered by each alternation's join key (the
    * MLlib-ALS co-partitioning insight): every half-round's big side
    * then sits pre-shuffled and only the FACTOR relation (|custs| or
    * |items| rows) moves per round — without this the 8 half-rounds
    * re-shuffle the pairs-sized ratings 8 times, which at 100 TB is
    * the entire job cost. */
  private val alsDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize-once parquet handoff of the rating matrix — the
    * tradeGraphDir/gramDir ingest-artifact contract: a recommender's
    * interaction matrix is built by its ingest job, not recomputed by
    * every training run, so the handoff survives clearCaches by
    * design and the bench measures the ALTERNATION (which is the
    * operator). Exact 2-decimal sums round-trip parquet exactly. */
  private[graft] def alsRatingsDir(s: SparkSession, dir: String): String =
    Dedup.dirMemo(alsDirs, Dedup.cacheKey(s, "alsrdir", dir)) {
      val out = graft.sources.FileRoundTrips.freshScratch("alsr", dir)
      alsRatingPairs(s, dir).write.mode("overwrite").parquet(out)
      out
    }

  /** The rating relation [[alsRatingsDir]] writes: each trade pair's
    * exact quantity total. */
  private[graft] def alsRatingPairs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("item"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("r"))

  /** The rating relation clustered by one alternation's join key,
    * persisted per session (house cache rule: each half-round of its
    * side joins it). */
  private def alsRatings(s: SparkSession, dir: String, key: String): DataFrame = {
    val base = alsRatingsDir(s, dir)
    Dedup.memo(s, s"alsr_$key", dir)(s.read.schema("cust BIGINT, item BIGINT, r DOUBLE").parquet(base)
        .repartition(col(key))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** #69i RANK-1 ALTERNATING LEAST SQUARES matrix factorization — the
    * embedding TRAINER of the recommender family (Koren/Bell/Volinsky
    * 2009; the Mahout-era distributed ALS ran exactly this alternation
    * as paired aggregation jobs), complementing the neighborhood-based
    * [[itemSimilarity]]: learn latent factors u (per customer) and v
    * (per supplier) minimizing Σ(r_ui − u_u·v_i)² + λ(‖u‖²+‖v‖²) over
    * the observed trade pairs. At rank 1 each half-step is CLOSED
    * FORM — v_i = Σ_u r·u / (λ + Σ_u u²), then symmetrically for u —
    * so every half-round is ONE ratings-sized join + aggregation and
    * the whole trainer is [[AlsIters]] such pairs; u⁰ = 1.
    *
    * Scale shape: the factor relations are |custs|- and |items|-sized
    * — corpus-derived and UNBOUNDED — so every join keys on cust/item
    * as shuffled hash/SMJ (the nb_classify vocab rule: nothing
    * entity-sized ever broadcasts). The rating matrix reads from the
    * [[alsRatingsDir]] parquet handoff (the tradeGraphDir
    * ingest-artifact contract) and persists TWICE, clustered by each
    * alternation's join key (the MLlib-ALS co-partitioning insight),
    * so per half-round only the factor relation and the
    * (key, decimal-partial) aggregation pairs move — the pairs-sized
    * relation never re-shuffles inside the loop.
    *
    * Determinism (the logreg contract): r is an exact 2-decimal sum
    * cast to double; each half-round's products r·u / u·u are exact
    * IEEE products of bit-equal doubles, accumulated in
    * DECIMAL(28,12) (order-free under any partitioning); λ + den and
    * num/den are single double ops written identically in the
    * generated oracle — so all [[AlsIters]] rounds compound zero
    * divergence and the factors hash at round-6. */
  def alsRank1(s: SparkSession, dir: String): DataFrame = {
    val rByCust = alsRatings(s, dir, "cust")
    val rByItem = alsRatings(s, dir, "item")
    var u = rByCust.select(col("cust")).distinct().withColumn("u", lit(1.0))
    var v: DataFrame = null
    // No per-round lineage cut, deliberately: unlike pca_power (whose
    // w feeds BOTH the norm and the next round, doubling the plan per
    // iteration), each half-round here is consumed exactly once by
    // the next, so the lineage is a LINEAR 8-join chain Catalyst
    // plans in one pass — eager localCheckpoints only added 8
    // materialization jobs' fixed cost.
    for (_ <- 1 to AlsIters) {
      v = alsStepV(rByCust, u)
      u = alsStepU(rByItem, v)
    }
    v.select(col("item"), round(col("v"), 6).as("factor"))
  }

  /** One item half-step v = Σr·u / (λ + Σu²) — exposed for the
    * no-entity-broadcast plan spec (the nb termBroadcasts guard). */
  private[graft] def alsStepV(r: DataFrame, u: DataFrame): DataFrame =
    r.join(u, "cust")
      .groupBy(col("item"))
      .agg((sum((col("r") * col("u")).cast("decimal(28,12)")).cast("double") /
        (lit(AlsLambda) +
          sum((col("u") * col("u")).cast("decimal(28,12)")).cast("double"))).as("v"))

  /** The symmetric customer half-step u = Σr·v / (λ + Σv²). */
  private[graft] def alsStepU(r: DataFrame, v: DataFrame): DataFrame =
    r.join(v, "item")
      .groupBy(col("cust"))
      .agg((sum((col("r") * col("v")).cast("decimal(28,12)")).cast("double") /
        (lit(AlsLambda) +
          sum((col("v") * col("v")).cast("decimal(28,12)")).cast("double"))).as("u"))

  /** Generated unrolled-CTE mirror of [[alsRank1]] — same rounds,
    * same λ, same decimal accumulation, same expression shapes. */
  def alsOracleSql: String = {
    val iters = (1 to AlsIters).map { t =>
      s"""v$t AS MATERIALIZED (SELECT item,
         |  CAST(sum(CAST(r.r * u.u AS DECIMAL(28,12))) AS DOUBLE)
         |  / ($AlsLambda + CAST(sum(CAST(u.u * u.u AS DECIMAL(28,12))) AS DOUBLE)) AS v
         |  FROM r JOIN u${t - 1} u USING (cust) GROUP BY item),
         |u$t AS MATERIALIZED (SELECT cust,
         |  CAST(sum(CAST(r.r * v.v AS DECIMAL(28,12))) AS DOUBLE)
         |  / ($AlsLambda + CAST(sum(CAST(v.v * v.v AS DECIMAL(28,12))) AS DOUBLE)) AS u
         |  FROM r JOIN v$t v USING (item) GROUP BY cust)""".stripMargin
    }.mkString(",\n")
    s"""WITH r AS MATERIALIZED (SELECT o_custkey AS cust, l_suppkey AS item,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS r
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |u0 AS (SELECT DISTINCT cust, CAST(1.0 AS DOUBLE) AS u FROM r),
       |$iters
       |SELECT item, round(v, 6) AS factor FROM v$AlsIters""".stripMargin
  }

  /** The unrolled-CTE DuckDB mirror of [[pcaPower]] — generated from
    * the same [[PowerIters]] constant so the engines can't drift.
    * Every multi-referenced CTE is MATERIALIZED (the sssp lesson:
    * DuckDB's single-reference inlining blows up repeated chains). */
  def pcaPowerOracleSql: String = {
    val d = Similarity.EmbDim
    val iters = (1 to PowerIters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT g.i,
         |  CAST(sum(CAST(g.g * v.v AS DECIMAL(28,12))) AS DOUBLE) AS w
         |  FROM g JOIN v${k - 1} v ON g.j = v.i GROUP BY g.i),
         |n$k AS MATERIALIZED (SELECT
         |  sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, w / nrm AS v FROM w$k, n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |idx AS (SELECT unnest(generate_series(1, $d)) AS i),
       |p AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
       |gup AS MATERIALIZED (SELECT p.i, p.j,
       |  CAST(sum(CAST(emb[p.i] * emb[p.j] AS DECIMAL(18,12))) AS DOUBLE) AS g
       |  FROM e, p GROUP BY 1, 2),
       |g AS MATERIALIZED (SELECT i, j, g FROM gup
       |  UNION ALL SELECT j AS i, i AS j, g FROM gup WHERE i <> j),
       |v0 AS (SELECT i, CAST(${1.0 / math.sqrt(d.toDouble)} AS DOUBLE) AS v FROM idx),
       |$iters
       |SELECT CAST(v.i AS INTEGER) AS dim_i, round(v.v, 8) AS loading,
       | round(n.nrm, 6) AS eigval
       |FROM v$PowerIters v, n$PowerIters n""".stripMargin
  }

  /** Shared SQL fragment for the oracle grid (mirrors [[nbGrid]]). */
  private[graft] def nbGridSql(tokensSql: String): String =
    s"""toks AS MATERIALIZED (SELECT doc_id, lang, unnest($tokensSql) AS term FROM documents),
       |ct AS (SELECT lang, term, count(*) AS n_tc FROM toks GROUP BY 1, 2),
       |tot AS (SELECT lang, count(*) AS n_tok FROM toks GROUP BY 1),
       |voc AS (SELECT DISTINCT term FROM toks),
       |vn AS (SELECT count(*) AS v FROM voc),
       |cls AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |grid AS (
       |  SELECT c.lang, t.term, coalesce(ct.n_tc, 0) AS n_tc,
       |    ln((coalesce(ct.n_tc, 0) + 1.0) / (tot.n_tok + vn.v)) AS loglik,
       |    ln(CAST(c.n_docs AS DOUBLE) / nn.n) AS logprior
       |  FROM cls c CROSS JOIN voc t
       |  LEFT JOIN ct ON ct.lang = c.lang AND ct.term = t.term
       |  JOIN tot ON tot.lang = c.lang, vn, nn)""".stripMargin

  /** Gradient-descent rounds and the (dyadic — 2^-4) learning rate
    * for [[logregTrain]]; both mirrored into the generated oracle. */
  val LogregIters = 8
  val LogregEta = 0.0625

  private val logregLangs: Seq[String] = TextFunctions.langMarkers.map(_._1)

  /** Per-doc training rows: integer marker-count features + the
    * binary label. Persisted — the GD loop consumes it once per
    * round. */
  private def logregFeatures(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "logregfeat", dir)({
      val markers = TextFunctions.langMarkers.toMap
      val base = logregLangs.foldLeft(Tables.documents(s, dir)) {
        case (df, lang) => df.withColumn(s"x_$lang",
          TextFunctions.langScore(col("text"), markers(lang)))
      }
      base.select((when(col("lang") === "en", 1.0).otherwise(0.0).as("y") +:
        logregLangs.map(l => col(s"x_$l"))): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** #69g LOGISTIC REGRESSION by batch gradient descent — the
    * iterative-GRADIENT trainer archetype completing the Learn
    * family's count tier (NB), spectral tier (PCA power iteration)
    * and closed-form tier (grouped OLS); reference analogue: the
    * Mahout-era regression trainers run as one aggregation job per
    * epoch. Model: P(lang = en | x) = σ(w·x) over the 5 integer
    * marker-count features + intercept; [[LogregIters]] synchronous
    * full-batch rounds, wⱼ ← wⱼ − η·(Σᵢ xᵢⱼ(σᵢ − yᵢ))/n, w⁰ = 0.
    *
    * Every round is BIT-EQUAL cross-engine by construction: z is one
    * fixed left-associated chain over bit-equal weights; σ rounds at
    * 10 decimals (absorbing the engines' last-ulp exp differences —
    * the irrational rule); each row's gradient contribution is an
    * exact IEEE product of bit-equal doubles, summed in
    * DECIMAL(28,12) (order-free); /n and the dyadic η·g scaling are
    * single exact double ops. So 8 rounds compound ZERO divergence
    * and the final weights hash at round-8. The oracle replays the
    * identical recurrence as generated unrolled CTEs.
    *
    * Scale shape: the weight state lives in a 1-ROW relation
    * (broadcast each round, localCheckpoint'ed — the pca_power
    * lineage-cut rule), never on the driver; each round is one
    * corpus pass with map-side partial decimal sums — the optimal
    * full-batch GD cost, d-bounded everywhere else. */
  def logregTrain(s: SparkSession, dir: String): DataFrame = {
    val w = logregWeights(s, dir)
    val stackArgs = (Seq("'intercept'", "round(w_int, 8)") ++
      logregLangs.flatMap(l => Seq(s"'$l'", s"round(w_$l, 8)"))).mkString(", ")
    w.select(expr(
      s"stack(${1 + logregLangs.size}, $stackArgs) AS (feature, weight)"))
  }

  /** The GD loop itself — a 1-row weight relation after
    * [[LogregIters]] rounds; memoized (both faces consume it, and
    * each round is a full corpus pass). The body calls
    * [[logregFeatures]], itself memoized on the same map — the
    * nesting that made this site the original get/putIfAbsent witness
    * (round 13, sf0.1) whose pattern [[Dedup.memo]] now houses for
    * every memo site. */
  private def logregWeights(s: SparkSession, dir: String): DataFrame =
      Dedup.memo(s, "logregw", dir) {
    val feats = logregFeatures(s, dir)
    var w: DataFrame = s.range(1)
      .select((lit(0.0).as("w_int") +:
        logregLangs.map(l => lit(0.0).as(s"w_$l"))): _*)
      .localCheckpoint()
    for (_ <- 1 to LogregIters) {
      val z = (col("w_int") +: logregLangs.map(l => col(s"w_$l") * col(s"x_$l")))
        .reduce(_ + _)
      val resid = round(lit(1.0) / (lit(1.0) + exp(-z)), 10) - col("y")
      val aggs =
        sum(resid.cast("decimal(28,12)")).as("g_int") +:
          logregLangs.map(l =>
            sum((col(s"x_$l") * resid).cast("decimal(28,12)")).as(s"g_$l")) :+
          count(lit(1)).as("n")
      val g = feats.crossJoin(broadcast(w)).agg(aggs.head, aggs.tail: _*)
      w = w.crossJoin(broadcast(g))
        .select(((col("w_int") - lit(LogregEta) *
          (col("g_int").cast("double") / col("n"))).as("w_int") +:
          logregLangs.map(l => (col(s"w_$l") - lit(LogregEta) *
            (col(s"g_$l").cast("double") / col("n"))).as(s"w_$l"))): _*)
        .localCheckpoint()
    }
    w
  }

  /** #69h Logistic-regression CLASSIFICATION + accuracy report — the
    * apply face of [[logregTrain]] (the nb_train/nb_classify pair
    * repeated for the gradient tier): predict en iff z = w·x ≥ 0
    * (⇔ σ(z) ≥ 1/2 — the boundary compares a bit-equal double
    * against an exact constant, no sigmoid needed at apply time) and
    * report the exact-integer confusion counts + one-division
    * accuracy. One corpus pass against the broadcast 1-row weight
    * relation. */
  def logregClassify(s: SparkSession, dir: String): DataFrame = {
    val feats = logregFeatures(s, dir)
    val w = logregWeights(s, dir)
    val z = (col("w_int") +: logregLangs.map(l => col(s"w_$l") * col(s"x_$l")))
      .reduce(_ + _)
    feats.crossJoin(broadcast(w))
      .select(col("y"), (z >= 0.0).as("pred_en"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_en"), 1L).otherwise(0L)).as("n_pred_en"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_true_en"),
        sum(when(col("pred_en") === (col("y") === 1.0), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_docs"), col("n_pred_en"), col("n_true_en"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 4).as("accuracy"))
  }

  /** #70d CALIBRATION report (reliability diagram) for the logistic
    * model — the evaluation-family face that asks not "is the argmax
    * right" but "do the probabilities MEAN anything": bucket σ(w·x)
    * into deciles and compare each bucket's mean predicted
    * probability with its empirical positive rate. σ is the same
    * 10-decimal-rounded bit-equal double the trainer uses, so the
    * decile assignment (floor(10σ), clamped to 9) is exact
    * cross-engine; mean_pred accumulates the rounded σ in
    * DECIMAL(28,12) (order-free) and frac_pos is one division of
    * exact longs. One corpus pass against the broadcast weights;
    * output is ≤10 rows. */
  def logregCalibration(s: SparkSession, dir: String): DataFrame = {
    val feats = logregFeatures(s, dir)
    val w = logregWeights(s, dir)
    val z = (col("w_int") +: logregLangs.map(l => col(s"w_$l") * col(s"x_$l")))
      .reduce(_ + _)
    val sig = round(lit(1.0) / (lit(1.0) + exp(-z)), 10)
    feats.crossJoin(broadcast(w))
      .select(col("y"), sig.as("sig"))
      .select(col("y"), col("sig"),
        least(floor(col("sig") * 10).cast("int"), lit(9)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum(col("sig").cast("decimal(28,12)")).as("sp"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round((col("sp").cast("double") / col("n")), 4).as("mean_pred"),
        round(col("n_pos").cast("double") / col("n"), 4).as("frac_pos"))
  }

  /** Classify-chain calibration tail — same generated CTEs. */
  def logregCalibrationOracleSql(featureSqlByLang: Seq[(String, String)]): String = {
    val langs = featureSqlByLang.map(_._1)
    val z = (s"w.w_int" +: langs.map(l => s"w.w_$l * f.x_$l")).mkString(" + ")
    s"""WITH ${logregCtes(featureSqlByLang)},
sg AS (SELECT f.y, round(1.0 / (1.0 + exp(-($z))), 10) AS sig
  FROM f, w$LogregIters w),
b AS (SELECT y, sig,
  least(CAST(floor(sig * 10) AS INTEGER), 9) AS bucket FROM sg)
SELECT bucket, count(*) AS n,
 CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
 round(CAST(sum(CAST(sig AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS mean_pred,
 round(CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS frac_pos
FROM b GROUP BY bucket"""
  }

  /** Cross-validation fold count; fold = md5 hash mod folds. */
  val CvFolds = 5

  /** #70e K-FOLD CROSS-VALIDATION of the NB language classifier —
    * the evaluation-family face that measures GENERALIZATION (train
    * on k−1 folds, score the held-out fold) instead of training-set
    * fit (#70). The distributed trick is LEAVE-FOLD-OUT COUNT
    * ALGEBRA: because NB training is pure counting, every fold's
    * out-of-fold model is (global counts − fold counts) — ONE corpus
    * counting pass yields all k models, no per-fold retraining jobs
    * (the same global−part algebra as incremental aggregation).
    * Folds assign by deterministic md5 hash mod [[CvFolds]]
    * (reproducible, label-independent). Per-fold vocabulary V_f =
    * terms with out-of-fold support (so a fold-exclusive term is
    * genuinely unseen — coalesce(0) in its own smoothed
    * log-likelihood). Determinism follows nb_classify exactly:
    * every ln input is an exact integer ratio, per-doc loglik sums
    * accumulate in DECIMAL(28,12) (order-free under any
    * partitioning), scores round at 4 BEFORE the (score desc, lang
    * asc) argmax. Scale shape: the count grids ctG/ctF are
    * VOCAB-derived and unbounded, so they join on `term` as shuffled
    * hash/SMJ (the [[TextAnalysis.lmScore]] rule — never broadcast);
    * only the genuinely bounded relations broadcast (langs, the
    * folds×langs totals, the folds-sized V_f, the priors). The only
    * corpus-sized work is the counting pass and the fanned classify
    * pass. Output: per-fold n/correct/accuracy — 5 rows. */
  def evalCvNb(s: SparkSession, dir: String): DataFrame = {
    val fold = pmod(conv(substring(md5(concat(lit("cv|"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("int"), lit(CvFolds))
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), fold.as("fold"), tokens(col("text")).as("t"))
    // Round-17 bag-of-words compression: the memoized token relation
    // carries per-(doc, term) COUNTS instead of one row per token
    // occurrence — 2.33× fewer rows at sf0.1, more on real Zipfian
    // corpora — so the dominant scored pass joins, explodes, and
    // partially aggregates the compressed relation (grid derives
    // identically via sum(cnt); the decimal identity cnt·dec(ll) =
    // Σ_cnt dec(ll) keeps every score bit-equal — PROVIDED the
    // product type stays exact: DECIMAL(14,12)×DECIMAL(10,0)=(25,12),
    // where a (28,12)×BIGINT product would cap at (38,6) and round
    // mid-sum — the skill-book decimal-multiply trap). Costs one
    // corpus-sized counting exchange inside the memo build (census
    // 24 → 25) and shrinks every downstream corpus pass.
    val toks = Dedup.memo(s, "cvtoks", dir)(base.select(col("doc_id"), col("fold"), col("lang"), explode(col("t")).as("term"))
        .groupBy(col("doc_id"), col("fold"), col("lang"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val folds = s.range(CvFolds).select(col("id").cast("int").as("fold"))
    val langs = Tables.documents(s, dir).select(col("lang")).distinct()
      .select(col("lang").as("cand"))
    // Round-16 pass fusion (the r15 verdict's one eval_cv headroom):
    // the six count grids are all grouping sets of (fold, cand, term)
    // counts, so ONE corpus-sized pass builds the finest grid — which
    // IS ctF verbatim — and the five coarser grids are tiny
    // re-aggregations of the (distinct-triple) grid instead of five
    // more corpus-sized passes over toks: 6 corpus-sized aggregation
    // exchanges → 1 corpus-sized + 5 grid-sized. Each coarser grid
    // keeps its OWN aggregation so the agg exchange doubles as its
    // join-side partitioning (ctG on (cand,term), termF on
    // (fold,term), termG's (term) a ClusteredDistribution-satisfying
    // subset of vF's keys). Two rejected variants, both A/B'd at
    // sf0.1 (PLANS.md round 16): fusing coarser grids through a
    // PERSISTED groupingSets pass — the extra materialization cost
    // more than the saved grid-sized aggs (5.9/7.7/5.6 vs 4.7/5.4/5.4
    // interleaved) and the gid-filtered outputs lose the join
    // partitioning (census 22 with all five fused). The grid memo is
    // payload-free (ints, single terms, counts) — no cache-census
    // pin.
    val grid = Dedup.memo(s, "cvgrid", dir)(toks.groupBy(col("fold"), col("lang").as("cand"), col("term"))
        .agg(sum(col("cnt")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ctG = grid.groupBy(col("cand"), col("term")).agg(sum(col("n")).as("n_g"))
    val ctF = grid.select(col("fold"), col("cand"), col("term"), col("n").as("n_f"))
    val totG = grid.groupBy(col("cand")).agg(sum(col("n")).as("tok_g"))
    val totF = grid.groupBy(col("fold"), col("cand")).agg(sum(col("n")).as("tok_f"))
    val termG = grid.groupBy(col("term")).agg(sum(col("n")).as("tn_g"))
    val termF = grid.groupBy(col("fold"), col("term")).agg(sum(col("n")).as("tn_f"))
    val vF = termG.crossJoin(folds)
      .join(termF, Seq("fold", "term"), "left")
      .filter(col("tn_g") - coalesce(col("tn_f"), lit(0L)) > 0)
      .groupBy(col("fold")).agg(count(lit(1)).as("v"))
    val clsG = Tables.documents(s, dir).groupBy(col("lang").as("cand"))
      .agg(count(lit(1)).as("nd_g"))
    val clsF = Tables.documents(s, dir)
      .select(col("lang").as("cand"), fold.as("fold"))
      .groupBy(col("fold"), col("cand")).agg(count(lit(1)).as("nd_f"))
    val nnG = Tables.documents(s, dir).agg(count(lit(1)).as("n_all"))
    val nnF = Tables.documents(s, dir).select(fold.as("fold"))
      .groupBy(col("fold")).agg(count(lit(1)).as("n_fold"))
    val prior = clsG.crossJoin(folds)
      .join(clsF, Seq("fold", "cand"), "left")
      .join(nnF, "fold").crossJoin(broadcast(nnG))
      .select(col("fold"), col("cand"),
        log((col("nd_g") - coalesce(col("nd_f"), lit(0L))).cast("double") /
          (col("n_all") - col("n_fold"))).as("logprior"))
    // Round-16 second eval_cv restructure (the verdict's ≤3 s target —
    // the agg fusion alone couldn't reach it because THIS pass
    // dominates): the old plan fanned toks ×|langs| with a crossJoin
    // and threaded the 5×-corpus relation through TWO shuffled joins
    // (ctG, ctF). Now the per-(fold, term) loglik VECTOR over the
    // sorted candidate list is built once at VOCAB scale (entries =
    // ctG × folds, left-join grid, the same smoothed ratio; missing
    // (cand, term) cells take the per-(fold, cand) default
    // ln(1.0/den), which is the identical double — (0−0+1.0) IS 1.0),
    // the corpus joins it ONCE on (fold, term), and the ×|langs|
    // explosion happens after the join on 5-double rows. Every loglik
    // is computed by the same expression tree over the same exact
    // integer ratios, and the per-(doc, cand) DECIMAL(28,12) sums add
    // the same summands — decimal addition is exact and commutative —
    // so scores are bit-identical and the oracle is unchanged. The
    // candidate list rides the plan as a sorted literal array (langs
    // is a declared bounded relation; |langs| strings are the
    // centroid-literal contract, not a broadcast).
    val cands = langs.orderBy(col("cand")).collect().map(_.getString(0)).toSeq
    val candArr = array(cands.map(lit): _*)
    val den = totG.crossJoin(folds)
      .join(totF, Seq("fold", "cand"), "left")
      .join(vF, Seq("fold"))
      .select(col("fold"), col("cand"),
        ((col("tok_g") - coalesce(col("tok_f"), lit(0L))) + col("v")).as("den"))
    // COMPLETE (term × fold × cand) cells exploded off termG, whose
    // (term) hash partitioning subset-satisfies every join and the
    // final (fold, term) regroup — the whole vector build adds ZERO
    // exchanges beyond termG's own aggregation. The vector is an
    // UNORDERED (cand, ll) STRUCT list — self-describing, so the
    // corpus side reads the label from the cell itself rather than
    // recovering it positionally from the candArr literal (no sort
    // needed: the explode+regroup consumes cells by field, and the
    // per-(doc, cand) decimal sums are order-free). A cand dropped by
    // the den inner join (a lang with zero tokens corpus-wide has no
    // totG row) then simply scores no row — the old crossJoin plan's
    // graceful degradation — instead of silently shifting every later
    // candidate's label (the round-16 advice finding: positional
    // element_at over a shrunken vec).
    val termVecs = termG.select(col("term"),
        explode(sequence(lit(0), lit(CvFolds - 1))).as("fold"))
      .select(col("term"), col("fold"), explode(candArr).as("cand"))
      .join(ctG, Seq("cand", "term"), "left")
      .join(ctF, Seq("fold", "cand", "term"), "left")
      .join(broadcast(den), Seq("fold", "cand"))
      .select(col("fold"), col("term"), col("cand"),
        log((coalesce(col("n_g"), lit(0L)) - coalesce(col("n_f"), lit(0L)) + lit(1.0)) /
          col("den")).as("ll"))
      .groupBy(col("fold"), col("term"))
      .agg(expr("collect_list(struct(cand, ll))").as("vec"))
    val scored = toks.select(col("doc_id"), col("fold"),
        col("lang").as("true_lang"), col("term"), col("cnt"))
      .join(termVecs, Seq("fold", "term"))
      .select(col("doc_id"), col("fold"), col("true_lang"), col("cnt"),
        explode(col("vec")).as("cell"))
      .groupBy(col("doc_id"), col("fold"), col("true_lang"),
        col("cell.cand").as("cand"))
      .agg(sum(col("cell.ll").cast("decimal(14,12)") *
        col("cnt").cast("decimal(10,0)")).as("llsum"))
      .join(broadcast(prior), Seq("fold", "cand"))
      .select(col("doc_id"), col("fold"), col("true_lang"), col("cand"),
        round(col("llsum").cast("double") + col("logprior"), 4).as("score"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand").asc)
    scored.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") === 1)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cand") === col("true_lang"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("fold"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 4).as("accuracy"))
  }

  /** DuckDB mirror of [[evalCvNb]] — same fold hash, same
    * leave-fold-out count algebra. */
  def evalCvOracleSql(tokensSql: String): String =
    s"""WITH base AS MATERIALIZED (SELECT doc_id, lang,
  CAST(concat('0x', substr(md5('cv|' || doc_id), 1, 4)) AS INTEGER) % $CvFolds AS fold,
  $tokensSql AS t FROM documents),
toks AS MATERIALIZED (SELECT doc_id, fold, lang, unnest(t) AS term FROM base),
folds AS (SELECT unnest(generate_series(0, ${CvFolds - 1})) AS fold),
langs AS (SELECT DISTINCT lang AS cand FROM documents),
ct_g AS (SELECT lang AS cand, term, count(*) AS n_g FROM toks GROUP BY 1, 2),
ct_f AS (SELECT fold, lang AS cand, term, count(*) AS n_f FROM toks GROUP BY 1, 2, 3),
tot_g AS (SELECT lang AS cand, count(*) AS tok_g FROM toks GROUP BY 1),
tot_f AS (SELECT fold, lang AS cand, count(*) AS tok_f FROM toks GROUP BY 1, 2),
term_g AS (SELECT term, count(*) AS tn_g FROM toks GROUP BY 1),
term_f AS (SELECT fold, term, count(*) AS tn_f FROM toks GROUP BY 1, 2),
v_f AS (SELECT f.fold, count(*) AS v
  FROM folds f JOIN term_g g ON true
  LEFT JOIN term_f tf ON tf.fold = f.fold AND tf.term = g.term
  WHERE g.tn_g - coalesce(tf.tn_f, 0) > 0 GROUP BY 1),
cls_g AS (SELECT lang AS cand, count(*) AS nd_g FROM documents GROUP BY 1),
cls_f AS (SELECT fold, lang AS cand, count(*) AS nd_f FROM base GROUP BY 1, 2),
nn_g AS (SELECT count(*) AS n_all FROM documents),
nn_f AS (SELECT fold, count(*) AS n_fold FROM base GROUP BY 1),
prior AS (SELECT f.fold, c.cand,
  ln(CAST(c.nd_g - coalesce(cf.nd_f, 0) AS DOUBLE) / (g.n_all - nf.n_fold)) AS logprior
  FROM cls_g c JOIN folds f ON true
  LEFT JOIN cls_f cf ON cf.fold = f.fold AND cf.cand = c.cand
  JOIN nn_f nf ON nf.fold = f.fold, nn_g g),
sc AS (SELECT t.doc_id, t.fold, t.lang AS true_lang, l.cand,
  round(CAST(sum(CAST(ln((coalesce(cg.n_g, 0) - coalesce(cf.n_f, 0) + 1.0)
    / ((tg.tok_g - coalesce(tf2.tok_f, 0)) + v.v)) AS DECIMAL(28,12))) AS DOUBLE)
    + max(p.logprior), 4) AS score
  FROM toks t JOIN langs l ON true
  LEFT JOIN ct_g cg ON cg.cand = l.cand AND cg.term = t.term
  LEFT JOIN ct_f cf ON cf.fold = t.fold AND cf.cand = l.cand AND cf.term = t.term
  JOIN tot_g tg ON tg.cand = l.cand
  LEFT JOIN tot_f tf2 ON tf2.fold = t.fold AND tf2.cand = l.cand
  JOIN v_f v ON v.fold = t.fold
  JOIN prior p ON p.fold = t.fold AND p.cand = l.cand
  GROUP BY 1, 2, 3, 4),
r AS (SELECT doc_id, fold, true_lang, cand, score,
  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk FROM sc)
SELECT fold, count(*) AS n_docs,
 CAST(sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
 round(CAST(sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END) AS DOUBLE)
   / count(*), 4) AS accuracy
FROM r WHERE rk = 1 GROUP BY fold"""

  /** Generated unrolled-CTE mirror of [[logregTrain]] — same rounds,
    * same η, same σ rounding, same association order; the per-lang
    * feature SQL is injected by the caller so the marker-count
    * formula exists once. */
  def logregOracleSql(featureSqlByLang: Seq[(String, String)]): String = {
    val langs = featureSqlByLang.map(_._1)
    val finalSel = (s"SELECT 'intercept' AS feature, round(w_int, 8) AS weight FROM w$LogregIters" +:
      langs.map(l =>
        s"SELECT '$l', round(w_$l, 8) FROM w$LogregIters")).mkString("\nUNION ALL ")
    s"WITH ${logregCtes(featureSqlByLang)}\n$finalSel"
  }

  /** Same generated chain, classify tail: pred = (z ≥ 0). */
  def logregClassifyOracleSql(featureSqlByLang: Seq[(String, String)]): String = {
    val langs = featureSqlByLang.map(_._1)
    val z = (s"w.w_int" +: langs.map(l => s"w.w_$l * f.x_$l")).mkString(" + ")
    s"""WITH ${logregCtes(featureSqlByLang)},
c AS (SELECT f.y, ($z) >= 0.0 AS pred_en FROM f, w$LogregIters w)
SELECT count(*) AS n_docs,
 CAST(sum(CASE WHEN pred_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
 CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_en,
 CAST(sum(CASE WHEN pred_en = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
 round(CAST(sum(CASE WHEN pred_en = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
   / count(*), 4) AS accuracy
FROM c"""
  }

  /** Per-class output cap for [[featureChi2]] — top-k features per
    * label, the standard feature-selection readout. */
  val Chi2TopK = 25

  /** #69j CHI-SQUARE feature selection (Yang & Pedersen 1997's χ²
    * term-selection benchmark; Mahout shipped it as the count-based
    * companion job to its NB trainer): for every OBSERVED (lang,
    * term) pair, the χ² statistic of the doc-level 2×2 presence
    * table — a = docs of class c containing t, class size n_c,
    * document frequency n_t, corpus size N — then the top
    * [[Chi2TopK]] features per class. The NB faces learn WEIGHTS for
    * all terms; this face ranks WHICH terms carry class signal — the
    * selection step a production NB pipeline runs between them.
    *
    * χ² = N·(k11·k22 − k12·k21)² / ((k11+k12)(k21+k22)(k11+k21)(k12+k22)).
    * All eight cell/marginal values are exact integers; the statistic
    * is ONE fixed double expression over them (products can exceed
    * 2^53, but IEEE rounding of identical expression trees is
    * deterministic cross-engine — no libm at all here), rounded 4
    * BEFORE the per-class rank window, term asc breaking rounded
    * ties. No FP ever aggregates.
    *
    * Scale: doc-presence counts are ONE exploded array_distinct pass
    * with map-side partials into the |classes|·|vocab|-bounded `a`
    * relation, which PERSISTS (house cache rule — it feeds both the
    * scored join and everything derived below; exchange reuse does
    * NOT deduplicate the branches because each pushes different
    * isnotnull filters into the scan, measured round 14). The
    * document frequency n_t DERIVES from `a` — each doc has exactly
    * one lang, so n_t = Σ_c n_ct — a vocab-bounded re-aggregation,
    * NOT a second corpus scan; corpus size N likewise derives from
    * the class sizes (Σ n_c). The df relation joins on `term`
    * SHUFFLED (vocab-derived, the nb_classify rule); class sizes and
    * N broadcast (label-bounded / 1-row). The rank window partitions
    * by lang — |classes| groups of vocab-bounded size; its exchange
    * reuses nothing upstream but carries only (lang, term, 3 ints)
    * rows. Total corpus-sized work: the tokenize pass building `a`,
    * plus one lang-column-only scan for class sizes. */
  def featureChi2(s: SparkSession, dir: String): DataFrame = {
    val a = Dedup.memo(s, "chi2a", dir)(Tables.documents(s, dir)
        .select(col("lang"),
          explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n_ct"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // n_t from a, not a second pass over the corpus: the lang
    // partition is disjoint-and-total, so summing the per-class
    // presence counts over lang IS the document frequency (exact
    // integers); same law gives N from the class sizes.
    val df = a.groupBy(col("term")).agg(sum(col("n_ct")).as("n_t"))
    val cls = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_c"))
    val nn = cls.agg(sum(col("n_c")).as("n"))
    val k11 = col("n_ct").cast("double")
    val k12 = (col("n_c") - col("n_ct")).cast("double")
    val k21 = (col("n_t") - col("n_ct")).cast("double")
    val k22 = (col("n") - col("n_c") - col("n_t") + col("n_ct")).cast("double")
    val det = k11 * k22 - k12 * k21
    // a term present in EVERY doc (or a class spanning the corpus)
    // zeroes a marginal and the ratio is 0/0; such a feature carries
    // no signal, so its statistic is 0 by definition on both engines
    val chi2 = when(col("n_t") === col("n") || col("n_c") === col("n"), lit(0.0))
      .otherwise(col("n").cast("double") * det * det /
        ((k11 + k12) * (k21 + k22) * (k11 + k21) * (k12 + k22)))
    val scored = a
      .join(df, Seq("term"))
      .join(broadcast(cls), Seq("lang"))
      .crossJoin(broadcast(nn))
      .select(col("lang"), col("term"), col("n_ct"), col("n_t"),
        round(chi2, 4).as("chi2"))
    val byClass = Window.partitionBy(col("lang"))
      .orderBy(col("chi2").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(byClass))
      .filter(col("rk") <= Chi2TopK)
      .select(col("lang"), col("rk"), col("term"), col("n_ct"), col("n_t"),
        col("chi2"))
  }

  /** DuckDB mirror of [[featureChi2]] — identical χ² expression tree
    * (same cast points, same multiplication order). */
  def featureChi2OracleSql(tokensSql: String): String = {
    val k11 = "CAST(a.n_ct AS DOUBLE)"
    val k12 = "CAST(c.n_c - a.n_ct AS DOUBLE)"
    val k21 = "CAST(df.n_t - a.n_ct AS DOUBLE)"
    val k22 = "CAST(nn.n - c.n_c - df.n_t + a.n_ct AS DOUBLE)"
    s"""WITH dt AS MATERIALIZED (SELECT lang,
       |  unnest(list_distinct($tokensSql)) AS term FROM documents),
       |a AS (SELECT lang, term, count(*) AS n_ct FROM dt GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS n_t FROM dt GROUP BY 1),
       |c AS (SELECT lang, count(*) AS n_c FROM documents GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |scored AS (SELECT a.lang, a.term, a.n_ct, df.n_t,
       |  round(CASE WHEN df.n_t = nn.n OR c.n_c = nn.n THEN 0.0
       |    ELSE CAST(nn.n AS DOUBLE)
       |    * ($k11 * $k22 - $k12 * $k21) * ($k11 * $k22 - $k12 * $k21)
       |    / (($k11 + $k12) * ($k21 + $k22) * ($k11 + $k21) * ($k12 + $k22))
       |    END, 4) AS chi2
       |  FROM a JOIN df USING (term) JOIN c USING (lang), nn),
       |r AS (SELECT lang, term, n_ct, n_t, chi2,
       |  row_number() OVER (PARTITION BY lang ORDER BY chi2 DESC, term) AS rk
       |  FROM scored)
       |SELECT lang, CAST(rk AS INTEGER) AS rk, term, n_ct, n_t, chi2
       |FROM r WHERE rk <= $Chi2TopK""".stripMargin
  }

  private def logregCtes(featureSqlByLang: Seq[(String, String)]): String = {
    val langs = featureSqlByLang.map(_._1)
    require(langs == logregLangs, s"feature order must match: $langs")
    val featCols = featureSqlByLang
      .map { case (l, sql) => s"$sql AS x_$l" }.mkString(",\n  ")
    val zeroW = ("0.0 AS w_int" +: langs.map(l => s"0.0 AS w_$l")).mkString(", ")
    def zExpr(wAlias: String) =
      (s"$wAlias.w_int" +: langs.map(l => s"$wAlias.w_$l * f.x_$l")).mkString(" + ")
    val iters = (1 to LogregIters).map { i =>
      val sig = s"round(1.0 / (1.0 + exp(-(${zExpr("w")}))), 10)"
      val gCols = (s"sum(CAST($sig - f.y AS DECIMAL(28,12))) AS g_int" +:
        langs.map(l =>
          s"sum(CAST(f.x_$l * ($sig - f.y) AS DECIMAL(28,12))) AS g_$l"))
        .mkString(",\n    ") + ",\n    count(*) AS n"
      val wCols = (s"w.w_int - $LogregEta * (CAST(g.g_int AS DOUBLE) / g.n) AS w_int" +:
        langs.map(l =>
          s"w.w_$l - $LogregEta * (CAST(g.g_$l AS DOUBLE) / g.n) AS w_$l"))
        .mkString(",\n    ")
      s"""g$i AS MATERIALIZED (SELECT
  $gCols
  FROM f, w${i - 1} w),
w$i AS MATERIALIZED (SELECT
    $wCols
  FROM w${i - 1} w, g$i g)"""
    }.mkString(",\n")
    s"""f AS MATERIALIZED (SELECT
  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
  $featCols
  FROM documents),
w0 AS (SELECT $zeroW),
$iters"""
  }
}
