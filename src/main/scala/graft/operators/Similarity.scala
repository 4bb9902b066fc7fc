package graft.operators

import graft.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY §2.4 #45–46).
  *
  * Scale design: brute force is O(Q·N) with the query side broadcast
  * — correct baseline and fine for Q ≪ N. The LSH path buckets
  * vectors by random-hyperplane signs (deterministic hash-derived
  * planes, so nothing ships from the driver but the plan itself);
  * candidate generation becomes an equality join on the bucket key —
  * one shuffle, per-bucket candidate lists, the standard
  * sign-random-projection ANN layout. The IVF path swaps plane signs
  * for k-means centroid ids (deterministic Lloyd refinement,
  * map-only assignment) — same equality-join candidate shape.
  */
object Similarity {

  val NumQueries = 10
  val TopK = 5
  val NumPlanes = 8

  /** #45 Brute-force cosine top-k: exact baseline. Query side is
    * small → broadcast; candidates stream; window-ranked per query
    * with a total tie-break. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cands = Tables.spread(s, e, "vec_id")
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    broadcast(queries)
      .join(cands, col("q_id") =!= col("cand_id"))
      .withColumn("cos", GraftFunctions.cosine_sim(col("q_emb"), col("cand_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
  }

  val NumCentroids = 16
  val NumProbes = 2
  val NumLloyd = 2


  /** #46b IVF (inverted-file) ANN with a real k-means index: centroids
    * start as the first 16 vectors and are refined by [[NumLloyd]]
    * distributed Lloyd iterations; vectors are assigned to their
    * nearest centroid (argmax cosine, deterministic tie-break) and
    * each query probes its [[NumProbes]] nearest clusters (multi-probe
    * — single-probe missed every neighbor just across a boundary).
    * The candidate join stays an equality join on cluster id — one
    * shuffle; nprobe only multiplies the tiny query side.
    *
    * Determinism (the oracle must reproduce the index bit-for-bit):
    * each Lloyd mean is an exact DECIMAL(28,10) sum per (cluster,
    * dim) — order-independent, unlike a double sum — cast to double
    * and divided by the member count, mirrored term-for-term in the
    * DuckDB SQL. Per iteration only the 16×64 centroid matrix is
    * collected (the standard k-means driver loop — bounded by k·dim,
    * never by data). Measured recall@5 vs [[annBruteForce]]: ≥0.9 at
    * sf0.01 (spec-asserted ≥ 0.8 in ScaleOpsSpec). */
  /** Embeddings widened to double, spread for parallelism — the
    * input shape [[lloydCentroids]]/[[scored]] operate on.
    * Persisted (house cache rule): each Lloyd iteration plus the
    * final assignment re-scans it, so an IVF/SemDeDup build reads it
    * NumLloyd+1 times — the standard "prepared vectors" intermediate
    * an index build materializes. */
  private[graft] def embD(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "embd", dir)(
        Tables.spread(s, Tables.embeddings(s, dir), "vec_id")
          .select(col("vec_id"), col("embedding"),
            col("embedding").cast("array<double>").as("emb_d"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Per-centroid (cos, -c_id, c_id) struct array over `emb_d`:
    * `array_max` of it picks the nearest centroid (highest cosine,
    * lowest-c_id tie-break) — a MAP-ONLY argmax projection, no
    * shuffle per assignment pass. At larger k the literal array
    * becomes a broadcast variable; the shape stays map-only.
    * Per-centroid cosine via the codegen'd double-array kernel
    * (cosine_sim_d) — the HOF aggregate/zip_with formulation costs
    * three interpreted lambdas per centroid per row. */
  private[graft] def scored(cents: Seq[(Long, Array[Double])]) =
    array(cents.map { case (cid, v) =>
      val c = array(v.toIndexedSeq.map(lit(_)): _*)
      struct(
        GraftFunctions.cosine_sim_d(col("emb_d"), c).as("cos_c"),
        lit(-cid).as("neg_id"), lit(cid).as("c_id"))
    }: _*)

  /** [[NumLloyd]] distributed Lloyd refinements from the first `k`
    * vectors. Centroids live on the driver (bounded by k·dim, like
    * MLlib's k-means); each iteration's only shuffle is one
    * exact-DECIMAL per-(cluster,dim) mean aggregation —
    * order-independent, so the DuckDB oracle reproduces the index
    * bit-for-bit (see annIvf determinism notes). Above
    * [[BroadcastAssignK]] the per-iteration assignment, like the
    * final one, rides [[assignBroadcast]] — the k=128 index build
    * would otherwise inline 8k+ plan literals per iteration. */
  private[graft] def lloydCentroids(eD: DataFrame,
      k: Int = NumCentroids): Seq[(Long, Array[Double])] = {
    def collectCents(df: DataFrame): Seq[(Long, Array[Double])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq
    var cents = collectCents(eD.filter(col("vec_id") < k)
      .select(col("vec_id"), col("emb_d")))
    for (_ <- 0 until NumLloyd) {
      val assigned =
        if (k <= BroadcastAssignK)
          eD.select(col("emb_d"),
            array_max(scored(cents)).getField("c_id").as("cluster"))
        else
          assignBroadcast(eD.sparkSession, eD, cents, carry = Seq("emb_d"))
      cents = collectCents(
        assigned
          .select(col("cluster"), posexplode(col("emb_d")).as(Seq("pos", "v")))
          .groupBy(col("cluster"), col("pos"))
          .agg((sum(col("v").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("m"))
          .groupBy(col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("c_emb")))
    }
    cents
  }

  /** Above this k the per-centroid plan-literal argmax ([[scored]])
    * stops being reasonable (plan size and codegen grow O(k·dim));
    * [[assignBroadcast]] takes over. 64×64 literals ≈ 4k constants is
    * the comfortable ceiling observed for codegen'd plans. */
  val BroadcastAssignK = 64

  /** Production-k assignment path (the one the [[scored]] scaladoc
    * promises): centroids become a k-row RELATION, broadcast to every
    * task (BroadcastNestedLoopJoin — map-side, no shuffle of the
    * vector side), cosine per (vector, centroid) via the codegen'd
    * kernel, then a partial+final `max_by` arg-max per vector — the
    * exchange carries ONE row per vector, never the n·k cross
    * product. Identical semantics to `array_max(scored(...))`
    * including the lowest-c_id tie-break (spec-asserted equal at the
    * bench k); no plan literals, so k can be thousands.
    *
    * `carry` names vector columns to ride the arg-max as `first()`
    * payload (constant within a vec_id group, so value-deterministic):
    * consumers that need the vector NEXT TO its cluster id
    * (the Lloyd mean, the candidate relation) would otherwise join
    * the assignment back to the vector table — at 100 TB that
    * re-shuffles the wide vectors AGAIN for a join the one arg-max
    * exchange can absorb. */
  private[graft] def assignBroadcast(s: SparkSession, eD: DataFrame,
      cents: Seq[(Long, Array[Double])], carry: Seq[String] = Nil,
      withSim: Boolean = false): DataFrame = {
    import s.implicits._
    val c = broadcast(cents.toDF("c_id", "c_emb"))
    val extra = carry.distinct
    // withSim (round 20): also emit the assigned cluster's cosine —
    // max(cos_c) IS the winner's cosine (the arg-max tie-break picks
    // among equal maxima, so the value is tie-invariant) — for
    // consumers that need cent_sim next to the cluster id
    // (dedup_semdedup's keep priority) on the k >
    // [[BroadcastAssignK]] path, where the plan-literal
    // `array_max(scored(...))` struct is no longer reasonable.
    val simAgg = if (withSim) Seq(max(col("cos_c")).as("cent_sim")) else Nil
    eD.select(("vec_id" +: "emb_d" +: extra).distinct.map(col): _*)
      .join(c)
      .select(col("vec_id") +:
        GraftFunctions.cosine_sim_d(col("emb_d"), col("c_emb")).as("cos_c") +:
        col("c_id") +: extra.map(col): _*)
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"),
          struct(col("cos_c"), (-col("c_id")).as("neg_id"))).as("cluster"),
        simAgg ++ extra.map(n => first(col(n)).as(n)): _*)
  }

  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvf(s, dir, NumCentroids, NumProbes)

  /** Production-k bench/oracle point (`ann_ivf_big`): k past the
    * plan-literal ceiling so the whole index build — every Lloyd
    * assignment, the final assignment, and the query probe — runs
    * the broadcast-relation path a 100 TB deployment (k in the
    * thousands) would use. nprobe widened with k so per-query recall
    * doesn't collapse as clusters shrink. */
  val BigK = 128
  val BigNprobe = 4

  def annIvfBig(s: SparkSession, dir: String): DataFrame =
    annIvf(s, dir, BigK, BigNprobe)

  /** Parameterized IVF: `k` centroids, `nprobe` probed clusters per
    * query. k ≤ [[BroadcastAssignK]] assigns map-only via plan-literal
    * centroids; larger k switches to the broadcast-relation arg-max
    * ([[assignBroadcast]]). */
  def annIvf(s: SparkSession, dir: String, k: Int, nprobe: Int): DataFrame = {
    val eD = embD(s, dir)
    val cents = lloydCentroids(eD, k)
    val assigned =
      if (k <= BroadcastAssignK)
        eD.select(col("vec_id"), col("embedding"),
          array_max(scored(cents)).getField("c_id").as("cluster"))
      else
        assignBroadcast(s, eD, cents, carry = Seq("embedding"))
          .select(col("vec_id"), col("embedding"), col("cluster"))
    // Multi-probe: top-nprobe clusters per query. Small k: sorted
    // struct array, map-only (explode is the Generate boundary).
    // Large k: broadcast-relation cross + WindowGroupLimit rank over
    // the tiny q·k relation — same no-plan-literals rule as the
    // assignment side.
    val q =
      if (k <= BroadcastAssignK)
        eD.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            explode(slice(reverse(array_sort(scored(cents))), 1, nprobe)).as("sc"))
          .select(col("q_id"), col("q_emb"), col("sc.c_id").as("cluster"))
      else {
        import s.implicits._
        val c = broadcast(cents.toDF("c_id", "c_emb"))
        val pw = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_c").desc, col("c_id").asc)
        eD.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("emb_d"))
          .join(c)
          .withColumn("cos_c", GraftFunctions.cosine_sim_d(col("emb_d"), col("c_emb")))
          .withColumn("rk", row_number().over(pw))
          .filter(col("rk") <= nprobe)
          .select(col("q_id"), col("q_emb"), col("c_id").as("cluster"))
      }
    val cands = assigned
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"), col("cluster"))
    rankCandidates(q, cands)
  }

  /** Shared IVF query tail: equality join on cluster id (the one
    * candidate shuffle), exact cosine inside probed clusters, top-k
    * rank with a total tie-break. */
  private def rankCandidates(q: DataFrame, cands: DataFrame): DataFrame = {
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    q.join(cands, "cluster")
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("cos", GraftFunctions.cosine_sim(col("q_emb"), col("cand_emb")))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
  }

  private val ivfIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** #46c index BUILD: run the Lloyd refinement + final assignment
    * ONCE and persist the two index relations as parquet —
    * `centroids` (k rows: c_id, c_emb) and `assignments` (one row
    * per vector: vec_id, cluster, embedding). This is
    * TotalOrderPartitioner's `_partition.lst` contract
    * (`lib/partition/TotalOrderPartitioner.java`: InputSampler writes
    * the split points once, every task reuses the file) applied to
    * the IVF index: the 3 assignment passes over the corpus amortize
    * across every query batch served afterwards. Memoized per
    * (session, sf, k) so one process builds at most once; the parquet
    * layout is the handoff a separate serving job would read. */
  private[graft] def ivfIndexDir(s: SparkSession, dir: String, k: Int): String =
    Dedup.dirMemo(ivfIndexDirs, Dedup.cacheKey(s, s"ivfidx$k", dir)) {
      // freshScratch: every memo miss builds into a FRESH directory,
      // so a second session in this JVM can't overwrite an index the
      // first is still serving from.
      val idx = graft.sources.FileRoundTrips.freshScratch(s"ivfindex_k$k", dir)
      val eD = embD(s, dir)
      val cents = lloydCentroids(eD, k)
      import s.implicits._
      cents.toDF("c_id", "c_emb").coalesce(1)
        .write.mode("overwrite").parquet(s"$idx/centroids")
      val assigned =
        if (k <= BroadcastAssignK)
          eD.select(col("vec_id"), col("embedding"),
            array_max(scored(cents)).getField("c_id").as("cluster"))
        else
          assignBroadcast(s, eD, cents, carry = Seq("embedding"))
      assigned.select(col("vec_id"), col("cluster"), col("embedding"))
        .write.mode("overwrite").parquet(s"$idx/assignments")
      idx
    }

  def annIvfServe(s: SparkSession, dir: String): DataFrame =
    annIvfServe(s, dir, BigK, BigNprobe)

  /** #46g INCREMENTAL ANN ingest — the FAISS `add()` analogue
    * completing the incremental family across dedup AND ANN: a new
    * vector batch (the [[graft.operators.Dedup.IncrMod]] id split,
    * same harness rule as the dedup incrementals) is classified
    * against the PERSISTED k=[[BigK]] coarse index with ZERO Lloyd
    * passes — centroids read from parquet and broadcast, one
    * map-side cosine arg-max per vector (the
    * (cos DESC, lowest-c_id) tie-break every assignment path pins) —
    * and the batch-assignments relation is materialized as the
    * handoff a production ingest APPENDS to `$idx/assignments`
    * (the serve join then covers the new vectors with no other
    * change; nobody retrains on ingest). Spec: the ingest
    * classification is row-identical to the index build's own
    * assignments for the same ids, and constructing the plan
    * launches no Lloyd job once the index exists. */
  def annIvfIngest(s: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndexDir(s, dir, BigK)
    val cents = broadcast(s.read.schema("c_id BIGINT, c_emb ARRAY<DOUBLE>")
      .parquet(s"$idx/centroids"))
    val out = graft.sources.FileRoundTrips.freshScratch("ivfingest", dir)
    embD(s, dir).filter(col("vec_id") % Dedup.IncrMod === 0)
      .select(col("vec_id"), col("emb_d"))
      .join(cents)
      .withColumn("cos_c", GraftFunctions.cosine_sim_d(col("emb_d"), col("c_emb")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("c_id"),
          struct(col("cos_c"), (-col("c_id")).as("neg_id"))).as("cluster"),
        max(col("cos_c")).as("cent_sim"))
      .select(col("vec_id"), col("cluster"), round(col("cent_sim"), 4).as("cent_sim"))
      .write.mode("overwrite").parquet(out)
    s.read.schema("vec_id BIGINT, cluster BIGINT, cent_sim DOUBLE").parquet(out)
  }

  /** #46c SERVE path: answer IVF queries from the persisted index —
    * ZERO Lloyd passes, zero driver-side centroid state (spec-asserted:
    * constructing this plan launches no Spark job once the index
    * exists). The centroid relation (k rows) is read from parquet and
    * broadcast; probe selection is the WindowGroupLimit rank over the
    * tiny q×k cross; candidates come from the assignments relation
    * via the same cluster-equality join as the build-path query.
    * Explicit schemas on both reads keep even schema inference off
    * the job queue. At 100 TB this split is what a serving deployment
    * runs: the index build is a nightly job, query batches touch only
    * (k·dim centroids + the probed slice of assignments). */
  def annIvfServe(s: SparkSession, dir: String, k: Int, nprobe: Int): DataFrame = {
    val idx = ivfIndexDir(s, dir, k)
    val cents = broadcast(s.read.schema("c_id BIGINT, c_emb ARRAY<DOUBLE>")
      .parquet(s"$idx/centroids"))
    val assigned = s.read
      .schema("vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>")
      .parquet(s"$idx/assignments")
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("c_id").asc)
    // Query vectors: the capped id window of the corpus, read from the
    // index relation itself (filter pushes to the parquet scan). A
    // production batch arrives as its own relation and takes the same
    // broadcast-assign probe — the plan shape is identical.
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("embedding").cast("array<double>").as("emb_d"))
      .join(cents)
      .withColumn("cos_c", GraftFunctions.cosine_sim_d(col("emb_d"), col("c_emb")))
      .withColumn("rk", row_number().over(pw))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("c_id").as("cluster"))
    val cands = assigned
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"), col("cluster"))
    rankCandidates(q, cands)
  }

  /** #46 Sign-random-projection LSH bucketing: vectors → 8-bit bucket
    * signature (scale path for #45; rows-only check).
    *
    * The signature is one `srp_band_sigs` kernel call (1 band × 8
    * planes, plane coefficients derived inside the kernel from pure
    * integer arithmetic — see [[graft.plans.VectorOps.srpBandSigs]]);
    * the earlier per-plane `dot_d(cast(embedding), <plane literal>)`
    * fan-out walked the vector 8× and re-cast it per plane. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // Bucket size via a window over the bucket key: one shuffle, one
    // scan (the former groupBy+join-back computed the scan and the 8
    // dot products twice).
    e.withColumn("bucket",
        element_at(GraftFunctions.srp_band_sigs(col("embedding"), 1, NumPlanes), 1))
      .select(col("vec_id"), col("bucket"),
        count(lit(1)).over(Window.partitionBy(col("bucket"))).as("n_in_bucket"))
  }

  // -----------------------------------------------------------------
  // Product quantization (the IVF-PQ compression tier)
  // -----------------------------------------------------------------

  /** PQ layout: the 64-dim embedding splits into [[PqM]] contiguous
    * subspaces of [[PqSubDim]] dims; each subspace gets its own
    * [[PqK]]-centroid codebook, so a vector compresses to 4 bytes of
    * codes — 64× smaller than the float32 vector, the standard
    * memory-budget companion to an IVF index (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). */
  val PqM = 4
  val PqSubDim = 16
  val PqK = 16

  /** Melt a (vec_id, emb_d) relation to one row per (vector,
    * subspace): the [[PqM]] contiguous [[PqSubDim]]-dim slices, m as
    * a grouping key. Map-only (explode is the Generate boundary) —
    * shared by the training melt and the serve paths' query melt. */
  private def meltSubs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> " +
          s"struct(CAST(m AS INT) AS m, slice(emb_d, m * $PqSubDim + 1, $PqSubDim) AS sub))")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sub").as("sub"))

  /** Melted (vec_id, m, sub) subvector relation — one row per vector
    * per subspace, ALL subspaces trained in one dataflow (no per-m
    * driver loop: m is just another grouping key). Persisted under
    * the house cache rule: each Lloyd round plus the final coding
    * pass re-scans it. */
  private def pqMelted(s: SparkSession, dir: String): DataFrame =
    Dedup.memo(s, "pqmelt", dir)(meltSubs(embD(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Nearest-codebook-entry assignment under L2, expressed through
    * dot products only: argmin ‖x−c‖² = argmax (x·c − ½‖c‖²), so
    * every compared quantity is a [[GraftFunctions.dot_d]] kernel
    * call accumulating left-to-right — the DuckDB oracle's
    * `list_dot_product` reproduces each double bit-for-bit, and the
    * (score DESC, c_id) row_number makes ties deterministic. The
    * codebook relation (≤ [[PqM]]·[[PqK]] rows) broadcasts; the
    * assignment is map-side. */
  private def pqAssign(melted: DataFrame, cents: DataFrame): DataFrame =
    melted.join(broadcast(cents), Seq("m"))
      .withColumn("dot_sc", GraftFunctions.dot_d(col("sub"), col("c_emb")))
      .withColumn("css", GraftFunctions.dot_d(col("c_emb"), col("c_emb")))
      .withColumn("score", col("dot_sc") - lit(0.5) * col("css"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("score").desc, col("c_id"))))
      .filter(col("rn") === 1)

  /** Lloyd mean per (subspace, centroid, dim): exact DECIMAL(28,10)
    * accumulation → one double division — order-independent, the
    * same cross-engine determinism contract as [[lloydCentroids]]. */
  private def pqMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("c_id"), posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("c_id"), col("pos"))
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("mval"))
      .groupBy(col("m"), col("c_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mval))), p -> p.mval)")
        .as("c_emb"))

  /** Trained codebook relation (m, c_id, c_emb) after `rounds` Lloyd
    * refinements (init = the first [[PqK]] vectors' subvectors, the
    * [[lloydCentroids]] seeding rule). Persisted under the house
    * cache rule (the melted dependency resolves BEFORE the memoizer —
    * the no-nested-computeIfAbsent rule): the coding pass and the ADC
    * distance table both read it, and without the persist each
    * consumer replans the whole Lloyd chain. ≤ [[PqM]]·[[PqK]] rows. */
  private[graft] def pqCodebooks(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val melted = pqMelted(s, dir)
    Dedup.memo(s, s"pqcents$rounds", dir)({
      var cents = melted.filter(col("vec_id") < PqK)
        .select(col("m"), col("vec_id").cast("int").as("c_id"), col("sub").as("c_emb"))
      for (_ <- 0 until rounds)
        cents = pqMeans(pqAssign(melted, cents))
      cents.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Coded relation after `rounds` Lloyd refinements, with the
    * per-subspace reconstruction error ‖x−c‖² = x·x − 2(x·c) + c·c
    * carried per row. */
  private[graft] def pqCoded(s: SparkSession, dir: String, rounds: Int): DataFrame =
    pqAssign(pqMelted(s, dir), pqCodebooks(s, dir, rounds))
      .withColumn("dist2",
        GraftFunctions.dot_d(col("sub"), col("sub")) -
          lit(2.0) * col("dot_sc") + col("css"))

  /** #46b Product quantization codes + distortion. One row per
    * vector: the [[PqM]] codebook codes and the total reconstruction
    * error. Codes and distortion pivot to fixed columns so the
    * 4-term distortion sum adds in a FIXED order (a groupBy sum of
    * doubles would be partition-order-dependent). Fully
    * oracle-checked: the DuckDB mirror retrains the same codebooks
    * (decimal Lloyd means, dot-product scores, same tie-break) from
    * the same parquet. At 100 TB: training samples a bounded slice in
    * practice, but the plan itself scales — codebooks stay ≤ 64 rows
    * broadcast, assignment is map-side, and the only shuffles are the
    * (m, c_id, pos)-keyed mean aggregations. */
  def embeddingPq(s: SparkSession, dir: String): DataFrame = {
    val coded = pqCoded(s, dir, NumLloyd)
    // Persisted coded pivot (dependencies resolved above the
    // memoizer): the ADC serve reads the code columns again.
    Dedup.memo(s, "pqcodes", dir)({
      def codeAt(m: Int) = max(when(col("m") === m, col("c_id"))).as(s"code_$m")
      def distAt(m: Int) = max(when(col("m") === m, col("dist2"))).as(s"d_$m")
      coded.groupBy(col("vec_id"))
        .agg(codeAt(0), codeAt(1), codeAt(2), codeAt(3),
          distAt(0), distAt(1), distAt(2), distAt(3))
        .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"), col("code_3"),
          round(col("d_0") + col("d_1") + col("d_2") + col("d_3"), 6).as("distortion"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** ADC shortlist size ahead of the exact re-rank — the standard
    * IVF-PQ serving refinement (Jégou et al. 2011 §V): codes alone
    * rank a generous shortlist, exact distances on the shortlist's
    * FETCHED vectors pick the final top-k. 16-bit codes are too
    * coarse for direct top-5 (measured recall 0.18); shortlist-then-
    * re-rank restores it while still touching only
    * [[PqShortlist]]/N of the corpus vectors per query. */
  val PqShortlist = 50

  /** #46c PQ serving via ASYMMETRIC DISTANCE COMPUTATION + exact
    * re-rank (Jégou et al. 2011 §III/§V): the query stays
    * un-quantized; per query a [[PqM]]·[[PqK]]-row distance table
    * d²(q_m, codebook[m][c]) is computed once, every candidate's
    * approximate distance is FOUR table lookups + three additions (no
    * vector math per candidate — the memory shape that serves ANN
    * from 4-byte codes), the top [[PqShortlist]] by ADC form the
    * shortlist, and only the shortlist's vectors are fetched for the
    * exact-L2 re-rank that picks the final top-k. Here the lookups
    * are [[PqM]] broadcast equi-joins of the pivoted code columns
    * against the ≤640-row table (map-side, zero shuffle on the
    * corpus), and the vector fetch is a broadcast semi-join of the
    * Q·[[PqShortlist]]-row shortlist against the embedding scan.
    * Every compared double is a dot-product kernel and both sums add
    * in fixed order, so the DuckDB oracle retrains, re-codes,
    * rebuilds the table, and matches the final ranking bit-for-bit.
    * Recall vs exhaustive exact L2 is spec-pinned. */
  def annPqAdc(s: SparkSession, dir: String): DataFrame = {
    val coded = embeddingPq(s, dir)
    val cents = pqCodebooks(s, dir, NumLloyd)
    val dt = pqMelted(s, dir).filter(col("vec_id") < NumQueries)
      .join(broadcast(cents), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m"), col("c_id"),
        (GraftFunctions.dot_d(col("sub"), col("sub")) -
          lit(2.0) * GraftFunctions.dot_d(col("sub"), col("c_emb")) +
          GraftFunctions.dot_d(col("c_emb"), col("c_emb"))).as("d2"))
    def lookup(m: Int) = broadcast(dt.filter(col("m") === m)
      .select(col("q_id").as(s"q_$m"), col("c_id").as(s"c_$m"), col("d2").as(s"d2_$m")))
    val shortlist = coded
      .join(lookup(0), col("code_0") === col("c_0"))
      .join(lookup(1), col("code_1") === col("c_1") && col("q_1") === col("q_0"))
      .join(lookup(2), col("code_2") === col("c_2") && col("q_2") === col("q_0"))
      .join(lookup(3), col("code_3") === col("c_3") && col("q_3") === col("q_0"))
      .filter(col("q_0") =!= col("vec_id"))
      .select(col("q_0").as("q_id"), col("vec_id").as("cand_id"),
        (col("d2_0") + col("d2_1") + col("d2_2") + col("d2_3")).as("adc"))
      .withColumn("rk_adc", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("cand_id"))))
      .filter(col("rk_adc") <= PqShortlist)
      .select(col("q_id"), col("cand_id"))
    val eD = embD(s, dir).select(col("vec_id"), col("emb_d"))
    val qVecs = broadcast(eD.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb_d").as("q_emb")))
    shortlist
      .join(eD, col("cand_id") === col("vec_id"))
      .join(qVecs, Seq("q_id"))
      .select(col("q_id"), col("cand_id"),
        (GraftFunctions.dot_d(col("q_emb"), col("q_emb")) -
          lit(2.0) * GraftFunctions.dot_d(col("q_emb"), col("emb_d")) +
          GraftFunctions.dot_d(col("emb_d"), col("emb_d"))).as("l2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("l2"), col("cand_id"))))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"),
        col("cand_id"), round(col("l2"), 6).as("l2_dist"))
  }

  /** #46d Full IVF-PQ: the coarse IVF quantizer prunes the candidate
    * set to each query's [[NumProbes]] nearest clusters BEFORE any
    * ADC lookup — the composition the name "IVF-PQ" means (Jégou et
    * al. 2011 §V.A): cluster pruning cuts the scanned codes to
    * nprobe/k of the corpus, PQ codes make each scanned candidate 4
    * bytes, and the exact re-rank touches only the shortlist's
    * vectors. Plan shape: the coarse assignment is the map-only
    * plan-literal argmax the IVF tier already uses; codes⋈cluster is
    * a vec_id-keyed join; the probe relation (Q·nprobe rows) and the
    * distance table broadcast; everything downstream is
    * [[annPqAdc]]'s serve tail. Fully oracle-checked — the DuckDB
    * mirror runs BOTH training chains (cosine IVF k-means + L2 PQ
    * codebooks) from the same parquet and matches the final ranking
    * bit-for-bit. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eD = embD(s, dir)
    val coarse = lloydCentroids(eD, NumCentroids)
    // Coarse assignment/probes ride the broadcast-RELATION path
    // unconditionally (not the k-gated plan-literal argmax): a
    // production coarse quantizer runs k in the hundreds, and this
    // query is the production composition — it must never inline
    // k·dim plan literals (the ceiling rule at [[BroadcastAssignK]]).
    // assignBroadcast is spec-asserted value-identical to the literal
    // argmax, so the oracle is unchanged.
    val assigned = assignBroadcast(s, eD, coarse)
      .select(col("vec_id"), col("cluster"))
    val coarseRel = broadcast(coarse.toDF("c_id", "c_emb"))
    val cw = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("c_id").asc)
    val probes = eD.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb_d"))
      .join(coarseRel)
      .withColumn("cos_c", GraftFunctions.cosine_sim_d(col("emb_d"), col("c_emb")))
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= NumProbes)
      .select(col("q_id"), col("c_id").as("cluster"))
    val coded = embeddingPq(s, dir).join(assigned, Seq("vec_id"))
    val cents = pqCodebooks(s, dir, NumLloyd)
    val dt = pqMelted(s, dir).filter(col("vec_id") < NumQueries)
      .join(broadcast(cents), Seq("m"))
      .select(col("vec_id").as("dq_id"), col("m"), col("c_id"),
        (GraftFunctions.dot_d(col("sub"), col("sub")) -
          lit(2.0) * GraftFunctions.dot_d(col("sub"), col("c_emb")) +
          GraftFunctions.dot_d(col("c_emb"), col("c_emb"))).as("d2"))
    def lookup(m: Int) = broadcast(dt.filter(col("m") === m)
      .select(col("dq_id").as(s"q_$m"), col("c_id").as(s"c_$m"), col("d2").as(s"d2_$m")))
    val shortlist = coded
      .join(broadcast(probes), Seq("cluster"))
      .join(lookup(0), col("code_0") === col("c_0") && col("q_0") === col("q_id"))
      .join(lookup(1), col("code_1") === col("c_1") && col("q_1") === col("q_id"))
      .join(lookup(2), col("code_2") === col("c_2") && col("q_2") === col("q_id"))
      .join(lookup(3), col("code_3") === col("c_3") && col("q_3") === col("q_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (col("d2_0") + col("d2_1") + col("d2_2") + col("d2_3")).as("adc"))
      .withColumn("rk_adc", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("cand_id"))))
      .filter(col("rk_adc") <= PqShortlist)
      .select(col("q_id"), col("cand_id"))
    val eVecs = embD(s, dir).select(col("vec_id"), col("emb_d"))
    val qVecs = broadcast(eVecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb_d").as("q_emb")))
    shortlist
      .join(eVecs, col("cand_id") === col("vec_id"))
      .join(qVecs, Seq("q_id"))
      .select(col("q_id"), col("cand_id"),
        (GraftFunctions.dot_d(col("q_emb"), col("q_emb")) -
          lit(2.0) * GraftFunctions.dot_d(col("q_emb"), col("emb_d")) +
          GraftFunctions.dot_d(col("emb_d"), col("emb_d"))).as("l2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("l2"), col("cand_id"))))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"),
        col("cand_id"), round(col("l2"), 6).as("l2_dist"))
  }

  // -----------------------------------------------------------------
  // PQ SERVE tier: train once, persist, serve with zero Lloyd passes
  // -----------------------------------------------------------------

  private val PqCodebooksSchema = "m INT, c_id INT, c_emb ARRAY<DOUBLE>"
  private val PqCodesSchema =
    "vec_id BIGINT, code_0 INT, code_1 INT, code_2 INT, code_3 INT, " +
      "distortion DOUBLE, embedding ARRAY<FLOAT>"

  /** PQ index BUILD: train the codebooks + code the corpus ONCE and
    * persist both relations as parquet — `codebooks` (≤ [[PqM]]·
    * [[PqK]] rows: m, c_id, c_emb) and `codes` (one row per vector:
    * the 4 codes, the distortion, and the raw embedding so the serve
    * tier's re-rank fetch never leaves the index). The
    * [[ivfIndexDir]] / TotalOrderPartitioner `_partition.lst`
    * contract (`lib/partition/TotalOrderPartitioner.java`: sample
    * once, every consumer reuses the artifact) applied to the PQ
    * tier: the Lloyd rounds amortize across every query batch served
    * afterwards. Memoized per (session, sf); the parquet layout is
    * the handoff a separate serving job would read. */
  private[graft] def pqIndexDir(s: SparkSession, dir: String): String =
    Dedup.dirMemo(ivfIndexDirs, Dedup.cacheKey(s, "pqidx", dir)) {
      val idx = graft.sources.FileRoundTrips.freshScratch("pqindex", dir)
      pqCodebooks(s, dir, NumLloyd).coalesce(1)
        .write.mode("overwrite").parquet(s"$idx/codebooks")
      embeddingPq(s, dir)
        .join(embD(s, dir).select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .write.mode("overwrite").parquet(s"$idx/codes")
      idx
    }

  /** Shared ADC→top-k serve tail: rank candidates by the fixed-order
    * ADC sum, keep the [[PqShortlist]], fetch ONLY the shortlist's
    * vectors (broadcast of the Q·shortlist relation — the corpus
    * side never shuffles) and exact-L2 re-rank to the final top-k.
    * Identical arithmetic to the build paths' inline tails, so serve
    * output is bit-for-bit the build output. */
  private def adcServeTail(cand: DataFrame, vectors: DataFrame): DataFrame = {
    val shortlist = cand
      .withColumn("rk_adc", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("cand_id"))))
      .filter(col("rk_adc") <= PqShortlist)
      .select(col("q_id"), col("cand_id"))
    val qVecs = broadcast(vectors.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb_d").as("q_emb")))
    shortlist
      .join(vectors, col("cand_id") === col("vec_id"))
      .join(qVecs, Seq("q_id"))
      .select(col("q_id"), col("cand_id"),
        (GraftFunctions.dot_d(col("q_emb"), col("q_emb")) -
          lit(2.0) * GraftFunctions.dot_d(col("q_emb"), col("emb_d")) +
          GraftFunctions.dot_d(col("emb_d"), col("emb_d"))).as("l2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("l2"), col("cand_id"))))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"),
        col("cand_id"), round(col("l2"), 6).as("l2_dist"))
  }

  /** Per-query ADC distance table against the persisted codebooks:
    * d²(q_m, codebook[m][c]) for every (query, subspace, entry) —
    * ≤ Q·[[PqM]]·[[PqK]] rows, broadcast by every lookup join. The
    * query melt reads the codes relation's carried embedding (filter
    * pushes to the parquet scan), so the whole table derives from
    * the index alone. */
  private def adcDistTable(codes: DataFrame, cents: DataFrame): DataFrame =
    meltSubs(codes.filter(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb_d")))
      .join(broadcast(cents), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m"), col("c_id"),
        (GraftFunctions.dot_d(col("sub"), col("sub")) -
          lit(2.0) * GraftFunctions.dot_d(col("sub"), col("c_emb")) +
          GraftFunctions.dot_d(col("c_emb"), col("c_emb"))).as("d2"))

  /** [[adcDistTable]] PERSISTED (house cache rule, round 14): the
    * table is Q·[[PqM]]·[[PqK]]-bounded, but each of the four
    * per-subspace lookup broadcasts evaluates it independently —
    * without the memo every lookup re-scans the codes parquet for the
    * query rows (4 extra query-filtered scans per serve call). Both
    * serve faces read the same PQ index, so they share the entry. */
  private def adcDistTableCached(s: SparkSession, dir: String,
      codes: DataFrame, cents: DataFrame): DataFrame =
    Dedup.memo(s, "adcdt", dir)(adcDistTable(codes, cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** #46c PQ SERVE: answer the ADC workload from the persisted PQ
    * index — ZERO Lloyd passes, zero driver-side codebook state
    * (spec-asserted: with the index on disk, constructing this plan
    * launches no Spark job; explicit schemas keep even inference off
    * the job queue). Same serve shape as [[annPqAdc]] — distance
    * table broadcast, 4 lookup joins, shortlist, exact re-rank — and
    * bit-identical output (the index round-trips the trained doubles
    * exactly). At 100 TB this split is the deployment: codebook
    * training is a nightly job, query batches touch 4-byte codes +
    * the shortlist's vectors. */
  def annPqServe(s: SparkSession, dir: String): DataFrame = {
    val idx = pqIndexDir(s, dir)
    val cents = s.read.schema(PqCodebooksSchema).parquet(s"$idx/codebooks")
    val codes = s.read.schema(PqCodesSchema).parquet(s"$idx/codes")
    val dt = adcDistTableCached(s, dir, codes, cents)
    def lookup(m: Int) = broadcast(dt.filter(col("m") === m)
      .select(col("q_id").as(s"q_$m"), col("c_id").as(s"c_$m"), col("d2").as(s"d2_$m")))
    val cand = codes
      .join(lookup(0), col("code_0") === col("c_0"))
      .join(lookup(1), col("code_1") === col("c_1") && col("q_1") === col("q_0"))
      .join(lookup(2), col("code_2") === col("c_2") && col("q_2") === col("q_0"))
      .join(lookup(3), col("code_3") === col("c_3") && col("q_3") === col("q_0"))
      .filter(col("q_0") =!= col("vec_id"))
      .select(col("q_0").as("q_id"), col("vec_id").as("cand_id"),
        (col("d2_0") + col("d2_1") + col("d2_2") + col("d2_3")).as("adc"))
    adcServeTail(cand, codes.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb_d")))
  }

  /** #46d IVF-PQ SERVE: the full composition answered from BOTH
    * persisted indexes — the coarse IVF index ([[ivfIndexDir]] at the
    * bench k: centroids + cluster assignments) and the PQ index
    * ([[pqIndexDir]]: codebooks + codes). Coarse probes are the
    * WindowGroupLimit rank over the tiny q×k broadcast cross (the
    * [[annIvfServe]] probe), cluster pruning restricts the codes
    * scanned, then the ADC lookup/shortlist/re-rank tail. ZERO
    * training passes — the nightly-build/serve split a 100 TB ANN
    * deployment runs — and bit-identical to [[annIvfPq]]. */
  def annIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    val pqIdx = pqIndexDir(s, dir)
    val ivfIdx = ivfIndexDir(s, dir, NumCentroids)
    val coarse = broadcast(s.read.schema("c_id BIGINT, c_emb ARRAY<DOUBLE>")
      .parquet(s"$ivfIdx/centroids"))
    val assigned = s.read
      .schema("vec_id BIGINT, cluster BIGINT, embedding ARRAY<FLOAT>")
      .parquet(s"$ivfIdx/assignments")
      .select(col("vec_id"), col("cluster"))
    val cents = s.read.schema(PqCodebooksSchema).parquet(s"$pqIdx/codebooks")
    val codes = s.read.schema(PqCodesSchema).parquet(s"$pqIdx/codes")
    val cw = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("c_id").asc)
    val probes = codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("emb_d"))
      .join(coarse)
      .withColumn("cos_c", GraftFunctions.cosine_sim_d(col("emb_d"), col("c_emb")))
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= NumProbes)
      .select(col("q_id"), col("c_id").as("cluster"))
    val dt = adcDistTableCached(s, dir, codes, cents)
    def lookup(m: Int) = broadcast(dt.filter(col("m") === m)
      .select(col("q_id").as(s"q_$m"), col("c_id").as(s"c_$m"), col("d2").as(s"d2_$m")))
    val cand = codes.join(assigned, Seq("vec_id"))
      .join(broadcast(probes), Seq("cluster"))
      .join(lookup(0), col("code_0") === col("c_0") && col("q_0") === col("q_id"))
      .join(lookup(1), col("code_1") === col("c_1") && col("q_1") === col("q_id"))
      .join(lookup(2), col("code_2") === col("c_2") && col("q_2") === col("q_id"))
      .join(lookup(3), col("code_3") === col("c_3") && col("q_3") === col("q_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (col("d2_0") + col("d2_1") + col("d2_2") + col("d2_3")).as("adc"))
    adcServeTail(cand, codes.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb_d")))
  }

  /** SQ8 layout: one affine uint8 quantizer PER DIMENSION
    * (lo_d, hi_d from the corpus; code = round(255·(x−lo)/(hi−lo)))
    * — 4× compression at near-lossless recall, the light tier FAISS
    * pairs against PQ's 64× (`ScalarQuantizer` QT_8bit). Training is
    * one min/max aggregation; coding and decoding are map-side
    * arithmetic against a broadcast 64-value stats row. */
  val EmbDim: Int = PqM * PqSubDim
  val Sq8Levels = 255

  /** Per-dim (los, his) as ONE broadcastable row of two sorted
    * arrays. Exact float extrema — deterministic under any
    * partitioning, so the oracle reproduces codes bit-for-bit. */
  private def sq8Stats(eD: DataFrame): DataFrame =
    eD.select(posexplode(col("emb_d")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("lo")))),
          x => x.getField("lo")).as("los"),
        transform(array_sort(collect_list(struct(col("pos"), col("hi")))),
          x => x.getField("hi")).as("his"))

  /** (vec_id, codes, emb_d, los, his) — the coded corpus against the
    * broadcast stats row; shared by the report and the serve query. */
  private def sq8Coded(s: SparkSession, dir: String): DataFrame = {
    val eD = embD(s, dir)
    eD.crossJoin(broadcast(sq8Stats(eD)))
      .select(col("vec_id"), col("emb_d"), col("los"), col("his"),
        transform(sequence(lit(1), lit(EmbDim)), i => {
          val x = element_at(col("emb_d"), i)
          val lo = element_at(col("los"), i)
          val hi = element_at(col("his"), i)
          when(hi === lo, lit(0L))
            .otherwise(round(lit(Sq8Levels.toDouble) * (x - lo) / (hi - lo), 0)
              .cast("long"))
        }).as("codes"))
  }

  /** Dequantized double vector from codes + the stats arrays. */
  private def sq8Deq: Column =
    transform(sequence(lit(1), lit(EmbDim)), i => {
      val lo = element_at(col("los"), i)
      val hi = element_at(col("his"), i)
      element_at(col("codes"), i).cast("double") / Sq8Levels * (hi - lo) + lo
    })

  /** #46e SQ8 compression report: per vector, the exact code mass
    * (captures every one of the 64 codes — any coding drift moves
    * the sum) and the worst per-dim reconstruction error. All
    * arithmetic is element-local against broadcast stats; the only
    * shuffle in the whole tier is the 64-row min/max training agg. */
  def embeddingSq8(s: SparkSession, dir: String): DataFrame =
    sq8Coded(s, dir).select(
      col("vec_id"),
      aggregate(col("codes"), lit(0L), _ + _).as("code_sum"),
      round(array_max(transform(sequence(lit(1), lit(EmbDim)), i =>
        abs(element_at(col("emb_d"), i) -
          (element_at(col("codes"), i).cast("double") / Sq8Levels *
            (element_at(col("his"), i) - element_at(col("los"), i)) +
            element_at(col("los"), i))))), 6).as("max_abs_err"))

  /** #46f ANN over the SQ8-dequantized corpus: exact queries scored
    * against 1-byte-per-dim candidates — [[annBruteForce]]'s plan
    * with the candidate vectors reconstructed map-side from codes
    * (the corpus the scan reads is 4× smaller; at memory-bound scan
    * throughput that is 4× more vectors per second). Near-lossless:
    * recall@[[TopK]] vs the exact tier is spec-floored at 0.9. The
    * DuckDB mirror re-trains the quantizer, re-codes, dequantizes
    * and matches the final ranking bit-for-bit. */
  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val queries = embD(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb_d").as("q_emb"))
    val cands = sq8Coded(s, dir)
      .select(col("vec_id").as("cand_id"), sq8Deq.as("cand_deq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    broadcast(queries)
      .join(cands, col("q_id") =!= col("cand_id"))
      .withColumn("cos", GraftFunctions.cosine_sim_d(col("q_emb"), col("cand_deq")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
  }
}
