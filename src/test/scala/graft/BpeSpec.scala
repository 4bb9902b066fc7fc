package graft

import graft.operators.Bpe
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpecBase {

  /** Naive reference: apply merges in rank order, one left-to-right
    * pass each, over codepoint symbols + "</w>". */
  private def naiveSegment(token: String, merges: Seq[(String, String)]): Vector[String] = {
    var syms = token.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp))) :+ "</w>"
    merges.foreach { case (l, r) =>
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
          out += (l + r); j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.result()
    }
    syms
  }

  /** Naive reference trainer over (word, freq) pairs — same arg-max
    * total order (weight DESC, left ASC, right ASC), stop below
    * weight 2. */
  private def naiveTrain(vocab: Map[String, Long], k: Int): Vector[(String, String, Long)] = {
    var merges = Vector.empty[(String, String, Long)]
    var done = false
    while (merges.length < k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (w, f) =>
        val syms = naiveSegment(w, merges.map(m => (m._1, m._2)))
        syms.zip(syms.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2 => merges = merges :+ ((l, r, c))
        case _ => done = true
      }
    }
    merges
  }

  test("bpe_segment kernel: randomized tokens and merge tables match the naive apply") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // Alphabet includes a multi-byte codepoint: symbol boundaries must
    // be codepoints, not UTF-16 units (house rule).
    val alpha = Vector("a", "b", "c", "é")
    (1 to 3).foreach { _ =>
      val tokens = (1 to 30).map(_ =>
        (1 to (1 + rnd.nextInt(8))).map(_ => alpha(rnd.nextInt(alpha.size))).mkString)
      // Random merge table: pairs of plausible symbols (singles and
      // doubled forms), some of which never occur — must be no-ops.
      val syms = alpha ++ alpha.map(c => c + c) :+ "</w>"
      val merges = (1 to 6).map(_ =>
        (syms(rnd.nextInt(syms.size)), syms(rnd.nextInt(syms.size))))
      val flat = merges.flatMap(m => Seq(m._1, m._2))
      val got = tokens.toDF("token")
        .select(col("token"), GraftFunctions.bpe_segment(col("token"), flat).as("sym"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
      tokens.foreach { t =>
        assert(got(t) == naiveSegment(t, merges), s"token '$t' merges $merges")
      }
    }
  }

  test("trainer matches the naive reference on the classic planted corpus") {
    import spark.implicits._
    // Sennrich-style toy corpus: shared stems and suffixes force
    // multi-symbol merges ("es", "est", "est</w>", "lo", "low"...).
    val freqs = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val v = freqs.toSeq.toDF("token", "freq")
    val got = Bpe.trainOn(v, 8)
    val ref = naiveTrain(freqs, 8)
    assert(got == ref, s"got $got\nref $ref")
    assert(got.length == 8, "the toy corpus supports ≥ 8 productive merges")
    // The learned table must actually compress: the top merge's weight
    // is the most frequent adjacent pair (e-s inside newest+widest = 9,
    // vs w-e 8 — sharp check that weights are corpus-frequency-weighted,
    // not distinct-word counts).
    assert(got.head._3 == 9L, s"top merge ${got.head}")
  }

  test("bpe_train and text_tokens_bpe: deterministic, consistent, compressive") {
    val t1 = SparkEntry.queries("bpe_train")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val t2 = SparkEntry.queries("bpe_train")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(t1.nonEmpty && t1.length <= Bpe.NumMerges)
    assert(t1.toSeq == t2.toSeq, "training must be deterministic run-to-run")
    assert(t1.map(_._1).toSeq == (1 to t1.length), "ranks are 1..k")
    val enc = SparkEntry.queries("text_tokens_bpe")(spark, sfDir).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val (ws, bpe) = (r.getInt(1), r.getInt(2))
      // Every word is at least one symbol (+ its </w> can merge away
      // entirely only into a full-word symbol), and segmentation never
      // yields more symbols than codepoints + end markers.
      assert(bpe >= ws, s"doc ${r.getLong(0)}: $bpe BPE symbols < $ws words")
    }
  }
}
