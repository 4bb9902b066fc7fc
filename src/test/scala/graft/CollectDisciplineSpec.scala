package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Seventh permanent discipline sweep — the DRIVER-MATERIALIZATION
  * census. The 100 TB design rule: no registered query may collect
  * its INPUT to the driver; a `.collect()` in src/main is legitimate
  * only against a provably BOUNDED relation. The round-16 verdict
  * adjudicated every site by hand ("anti-pattern scan otherwise
  * clean"); this sweep freezes that audit as an exact multiset so a
  * new collect site fails until it is consciously pinned here WITH
  * its boundedness argument — the memo-sweep contract applied to the
  * driver boundary.
  *
  * The pinned sites and why each is bounded:
  *  - EventStreams.scala ×7 — the `EventReplayCap`-bounded
  *    MemoryStream replay feeds (the one settled-sink read included):
  *    the streaming faces replay a DECLARED capped window of the
  *    batch table through a memory source; the cap is the operator's
  *    spec'd contract, not an accident of SF.
  *  - Graph.scala ×2 — per-iteration Σ-scalar collects (1-row
  *    aggregates: fixpoint/norm detection for pagerank + HITS).
  *  - Dedup.scala ×2 — the clusters fixpoint's Σ-label scalar, one
  *    read per round (1-row aggregate).
  *  - Similarity.scala ×1 — the k·dim-bounded centroid relation (the
  *    centroid-literal contract: k = IvfK clusters, never corpus).
  *  - Learn.scala ×1 — the label-bounded candidate-language list
  *    (distinct langs over documents — |langs| strings).
  *  - Bpe.scala ×1 — the k-row merge table (NumMerges rows by
  *    construction).
  *  - Bench.scala ×1 — the harness's own 1-row warmup aggregate
  *    (not a registered query).
  *
  * `collectAsList`/`toLocalIterator` are pinned at ZERO — there is no
  * bounded-use precedent in this repo, so any appearance is drift.
  * (Scala-collection `.take`/`.head` share names with Dataset methods
  * and are too noisy to census textually — a Dataset `.take(n)` that
  * matters shows up as the `.collect()` it replaces or in plan
  * sweeps.)
  */
class CollectDisciplineSpec extends SparkSpecBase {

  private val srcRoot = Paths.get("src/main/scala/graft")

  private def sources: Seq[(String, String)] =
    Files.walk(srcRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq

  test("driver .collect() sites are pinned to the audited bounded-relation set") {
    val pinned = Map(
      "EventStreams.scala" -> 7,
      "Graph.scala" -> 2,
      "Dedup.scala" -> 2,
      "Similarity.scala" -> 1,
      "Learn.scala" -> 1,
      "Bpe.scala" -> 1,
      "Bench.scala" -> 1)
    // Literal ".collect()" (quoted — a bare regex's dot and empty
    // group would match every `collect` token, including the harmless
    // Scala-collection and TreeNode `.collect { ... }` forms).
    val lit = java.util.regex.Pattern.quote(".collect()").r
    val observed = sources.flatMap { case (path, text) =>
      val base = Paths.get(path).getFileName.toString
      val n = lit.findAllMatchIn(text).size
      if (n > 0) Some(base -> n) else None
    }.toMap
    assert(observed == pinned,
      s"driver-collect census drifted.\n  extra/changed: " +
        s"${(observed.toSet -- pinned.toSet).toSeq.sorted}\n  missing: " +
        s"${(pinned.toSet -- observed.toSet).toSeq.sorted}\n" +
        "A new .collect() must be against a BOUNDED relation (scalar " +
        "aggregate, label/k-bounded list, declared replay cap) and " +
        "pinned here with that argument.")
  }

  test("unbounded driver-materialization forms are banned outright") {
    val banned = Seq(".collectAsList()", ".toLocalIterator()")
    val offenders = sources.flatMap { case (path, text) =>
      banned.filter(text.contains).map(b => s"$path: $b")
    }
    assert(offenders.isEmpty,
      s"banned driver-materialization form introduced: ${offenders.mkString(", ")}")
  }
}
