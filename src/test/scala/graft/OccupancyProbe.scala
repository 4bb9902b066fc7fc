package graft

import graft.operators.{Dedup, Similarity}
import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-occupancy probe for the two bucketed embedding-dedup paths,
  * the scaling-curve ledger's measurement (OPTIMIZATION_r19.md,
  * OPTIMIZATION_r20.md). Both quadratic stages are self-joins within a
  * bucket, so their candidate volume is Σ_bucket C(occ, 2): a FIXED
  * bucket space makes it grow quadratically with the corpus.
  *
  * Per SF dir given on the command line it prints
  * - the SRP band space of `dedup_embedding_lsh`:
  *   [[Dedup.EmbBands]] bands × 2^[[Dedup.embPlanes]] buckets (planes
  *   are corpus-derived, so the line shows the space the query uses);
  * - one line per k of `dedup_semdedup`'s clustering, the fixed
  *   [[Similarity.NumCentroids]] and the corpus-derived [[Dedup.semK]]:
  *   within-cluster pair volume, occupancy max/mean and the Lloyd work
  *   n·k·(NumLloyd+1), so the ledger shows both sides of the k trade
  *   (pair stage shrinks as 1/k, assignment work grows as k).
  *
  * Run: `sbt 'Test/runMain graft.OccupancyProbe <sf-dir> [<sf-dir> ...]'`,
  * e.g. an sf0.1 dir and a larger copy made by tools/synth_scale.py. */
object OccupancyProbe {
  /** Candidate pairs, max/mean occupancy and non-empty bucket count of
    * a relation with one row per (bucket key, member). */
  private def occupancy(members: DataFrame, keys: String*) =
    members.groupBy(keys.map(col): _*).agg(count(lit(1)).as("occ")).agg(
      sum(col("occ") * (col("occ") - 1) / 2).as("cand_pairs"),
      max(col("occ")).as("max_occ"),
      avg(col("occ")).as("mean_occ"),
      count(lit(1)).as("nonempty")).collect()(0)

  def main(args: Array[String]): Unit = {
    val spark = Session.local(4, "graft-occupancy-probe")
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- args) {
      val e = Tables.embeddings(spark, dir)
      val planes = Dedup.embPlanes(spark, dir)
      val bands = occupancy(e.select(col("vec_id"),
        posexplode(GraftFunctions.srp_band_sigs(col("embedding"), Dedup.EmbBands, planes))
          .as(Seq("band", "bucket"))), "band", "bucket")
      println(s"$dir: n_vectors=${e.count()} cand_pairs=${bands.get(0)} " +
        s"max_occ=${bands.get(1)} mean_occ=${bands.get(2)} " +
        s"nonempty_buckets=${bands.get(3)} " +
        s"(band space = ${Dedup.EmbBands} x ${1 << planes})")

      val eD = Similarity.embD(spark, dir)
      val n = eD.count()
      val derived = Dedup.semK(spark, dir)
      for (k <- Seq(Similarity.NumCentroids, derived).distinct) {
        val t0 = System.nanoTime()
        val cents = Similarity.lloydCentroids(eD, k)
        val assigned =
          if (k <= Similarity.BroadcastAssignK)
            eD.select(array_max(Similarity.scored(cents)).getField("c_id").as("cluster"))
          else
            Similarity.assignBroadcast(spark, eD, cents).select(col("cluster"))
        val clusters = occupancy(assigned, "cluster")
        val secs = (System.nanoTime() - t0) / 1e9
        val tag = if (k == derived && k != Similarity.NumCentroids) " (derived)" else ""
        println(s"$dir: n=$n k=$k$tag " +
          s"cand_pairs=${clusters.get(0)} max_occ=${clusters.get(1)} " +
          s"mean_occ=${clusters.get(2)} nonempty_clusters=${clusters.get(3)} " +
          s"lloyd_work=${n * k * (Similarity.NumLloyd + 1)} " +
          s"assign_probe_secs=${f"$secs%.1f"}")
      }
    }
    spark.stop()
  }
}
