package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Sixth permanent discipline sweep — the MEMO LIFECYCLE census.
  *
  * Round 16's driver bench died with
  * `IllegalStateException("Recursive update")`: eval_confusion's
  * builder ran inside `liveCaches.computeIfAbsent` and (via
  * nbClassify → nbGrid) reached ANOTHER `computeIfAbsent` on the same
  * ConcurrentHashMap. CHM throws whenever the outer and inner keys
  * land in one hash bin, and bin placement depends on
  * `System.identityHashCode(session)` inside the cache key — so the
  * crash was per-JVM-run roulette: Verify, the full suite, and the
  * quiet bench all passed the same day the driver's bench died.
  *
  * The fix is structural, and this sweep pins it: every liveCaches
  * entry is CREATED through the one house helper
  * ([[graft.operators.Dedup.memo]] / `memoKeyed`: get → build →
  * putIfAbsent, which never holds a bin lock while a builder runs, so
  * builders may nest arbitrarily), and `computeIfAbsent` on
  * liveCaches is banned source-wide. Direct map access is pinned to
  * an exact (file, method) multiset — the helper's own internals plus
  * the three cleanup-REGISTRATION `put` sites (keys embed the
  * registered plan's identityHashCode; a plain put has no mapping
  * function and therefore no nesting hazard). Observed != pinned
  * fails in either direction, same contract as the other five sweeps.
  *
  * ROUND-18 EXTENSION: the same defense now covers the artifact-dir
  * memos (ivfIndexDirs, graphDirs, orderedCopies, tierDirs,
  * mergeCache, gramDirs, itemsimDirs, alsDirs, partEventsDirs,
  * bucketedNames, fragDirs, footers), which kept the identical
  * same-bin-nesting geometry and were safe only by review (verdict
  * r17 finding #1). All route through [[graft.operators.Dedup.dirMemo]];
  * `computeIfAbsent` is banned on EVERY receiver in src/main; the CHM
  * declaration census pins the set of maps the sweep must know about.
  */
class MemoDisciplineSpec extends SparkSpecBase {

  private val srcRoot = Paths.get("src/main/scala/graft")

  private def sources: Seq[(String, String)] =
    Files.walk(srcRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq

  test("liveCaches.computeIfAbsent is banned everywhere in src/main") {
    val offenders = sources.collect {
      case (path, text) if text.contains("liveCaches.computeIfAbsent") => path
    }
    assert(offenders.isEmpty,
      s"nested-capable computeIfAbsent on liveCaches (the Recursive-update " +
        s"crash class) reintroduced in: ${offenders.mkString(", ")} — " +
        "route the memo through Dedup.memo/memoKeyed instead")
  }

  test("computeIfAbsent is banned on EVERY map in src/main (round-18 extension)") {
    // Round 17 closed the crash class for liveCaches only; the ~14
    // artifact-dir memos (ivfIndexDirs, graphDirs, orderedCopies, …)
    // kept the identical same-bin-nesting geometry, safe only by
    // review. Round 18 routes them all through Dedup.dirMemo
    // (get → build → putIfAbsent), so a CALL to computeIfAbsent —
    // on any receiver — has no remaining legitimate use in src/main.
    val call = """\.computeIfAbsent\(""".r
    val offenders = sources.collect {
      case (path, text) if call.findFirstIn(text).isDefined => path
    }
    assert(offenders.isEmpty,
      s"computeIfAbsent call (nested-capable, Recursive-update crash class) " +
        s"found in: ${offenders.mkString(", ")} — route DataFrame memos " +
        "through Dedup.memo/memoKeyed and artifact memos through Dedup.dirMemo")
  }

  test("ConcurrentHashMap declarations in src/main are pinned per file") {
    // A NEW memo map must be added here deliberately, with its access
    // pattern covered by the census below — the sweep can't guard a
    // map it doesn't know exists.
    val pinned = Map(
      "EventStreams.scala" -> 1, // orderedCopies
      "Tables.scala" -> 1, // footers
      "Similarity.scala" -> 1, // ivfIndexDirs
      "Dedup.scala" -> 2, // liveCaches, embPlanesCounts (r20)
      "Curation.scala" -> 1, // tierDirs
      "Bpe.scala" -> 1, // mergeCache
      "Learn.scala" -> 3, // gramDirs, itemsimDirs, alsDirs
      "Graph.scala" -> 1, // graphDirs
      "FileRoundTrips.scala" -> 3) // partEventsDirs, bucketedNames, fragDirs
    // Bare `new ConcurrentHashMap` (via import) must trip the census
    // too — an unqualified declaration would otherwise escape all
    // three round-18 pins and reopen the unguarded-map gap (r18
    // advice). Word boundary so e.g. ConcurrentHashMapLike wouldn't
    // false-positive.
    val decl = """new (java\.util\.concurrent\.)?ConcurrentHashMap\b""".r
    val observed = sources.flatMap { case (path, text) =>
      val n = decl.findAllIn(text).size
      if (n > 0) Some(Paths.get(path).getFileName.toString -> n) else None
    }.toMap
    assert(observed == pinned,
      s"ConcurrentHashMap declaration census drifted.\n  extra/changed: " +
        s"${(observed.toSet -- pinned.toSet).toSeq.sorted}\n  missing: " +
        s"${(pinned.toSet -- observed.toSet).toSeq.sorted}\n" +
        "A new memo map must route its creation through Dedup.dirMemo " +
        "(or memo/memoKeyed for DataFrames) and be pinned here.")
  }

  test("direct artifact-map access is pinned (maps touched only via Dedup.dirMemo)") {
    // After the round-18 conversion the 12 artifact maps appear only
    // as declarations and as dirMemo's first argument — never with a
    // method call. One pinned exception: bpeTrain IS the build path
    // (it must always retrain to measure training) and then refreshes
    // the serve-side cache with a plain `put` — no mapping function,
    // no nesting hazard, same registration-put shape as the three
    // pinned liveCaches puts.
    val pinned = Map(("Bpe.scala", "mergeCache", "put") -> 1)
    val maps = Seq("footers", "orderedCopies", "ivfIndexDirs", "tierDirs",
      "mergeCache", "gramDirs", "itemsimDirs", "alsDirs", "graphDirs",
      "partEventsDirs", "bucketedNames", "fragDirs", "embPlanesCounts")
    val ref = (maps.mkString("(", "|", ")") + """\.(\w+)""").r
    val observed = sources.flatMap { case (path, text) =>
      val base = Paths.get(path).getFileName.toString
      ref.findAllMatchIn(text).map(m => (base, m.group(1), m.group(2)))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(observed == pinned,
      s"artifact-map access census drifted.\n  extra/changed: " +
        s"${(observed.toSet -- pinned.toSet).toSeq.sorted}\n  missing: " +
        s"${(pinned.toSet -- observed.toSet).toSeq.sorted}\n" +
        "Artifact memos are created only through Dedup.dirMemo; a new " +
        "registration put must be pinned here with its no-builder rationale.")
  }

  test("direct liveCaches access is pinned to the house helper + registration puts") {
    // (file basename, method) -> count. The helper's internals live in
    // Dedup.scala (memoKeyed's get/putIfAbsent, clearCaches's
    // values/clear); the three puts register already-persisted frames
    // under identity-unique keys purely so clearCaches can free them.
    val pinned = Map(
      ("Dedup.scala", "get") -> 1,
      ("Dedup.scala", "putIfAbsent") -> 1,
      ("Dedup.scala", "values") -> 1,
      ("Dedup.scala", "clear") -> 1,
      ("TextAnalysis.scala", "put") -> 1,
      ("JobControl.scala", "put") -> 1,
      ("Curation.scala", "put") -> 1)
    val ref = """liveCaches\.(\w+)""".r
    val observed = sources.flatMap { case (path, text) =>
      val base = Paths.get(path).getFileName.toString
      ref.findAllMatchIn(text).map(m => (base, m.group(1)))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(observed == pinned,
      s"liveCaches access census drifted.\n  extra/changed: " +
        s"${(observed.toSet -- pinned.toSet).toSeq.sorted}\n  missing: " +
        s"${(pinned.toSet -- observed.toSet).toSeq.sorted}\n" +
        "A NEW creation path must go through Dedup.memo/memoKeyed; a new " +
        "registration put must be pinned here with its no-builder rationale.")
  }

  // ---- forced-collision witnesses ------------------------------------
  // "Aa" and "BB" share a String.hashCode (2112), so both keys land in
  // one bin of any small ConcurrentHashMap — the exact geometry that
  // made the driver bench crash nondeterministic is made DETERMINISTIC
  // here, in both directions.

  test("witness: nested computeIfAbsent on same-bin keys throws Recursive update") {
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
    assert("Aa".hashCode == "BB".hashCode)
    val ex = intercept[IllegalStateException] {
      m.computeIfAbsent("Aa", _ => m.computeIfAbsent("BB", _ => "inner"))
    }
    assert(ex.getMessage.contains("Recursive update"))
  }

  test("witness: nested dirMemo on same-bin keys is safe (the artifact-map geometry)") {
    // The exact composition the round-17 verdict flagged as the one
    // unguarded path: a future composed index whose builder reaches
    // ANOTHER memo on the same artifact map (e.g. IVF-PQ building its
    // coarse index inside the pqidx builder — both keys live in
    // ivfIndexDirs). With computeIfAbsent that is the Recursive-update
    // roulette; with dirMemo it must simply work.
    import graft.operators.Dedup
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
    assert("Aa".hashCode == "BB".hashCode)
    val outer = Dedup.dirMemo(m, "Aa") {
      val inner = Dedup.dirMemo(m, "BB")("inner-dir")
      s"outer-of-$inner"
    }
    assert(outer == "outer-of-inner-dir")
    assert(Dedup.dirMemo(m, "BB")(sys.error("must not rebuild")) == "inner-dir")
    assert(Dedup.dirMemo(m, "Aa")(sys.error("must not rebuild")) == outer)
  }

  test("witness: racing dirMemo callers converge on one artifact") {
    // The helper's documented non-atomicity trade for artifacts: two
    // threads may both build (each into its own freshScratch path —
    // the loser's dir is orphaned scratch, reaped by the pid sweep),
    // but every caller must adopt ONE winning value or two consumers
    // would read different artifact copies of the same logical index.
    import graft.operators.Dedup
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val bothBuilt = new java.util.concurrent.CountDownLatch(2)
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        val r = Dedup.dirMemo(m, "race-dir") {
          bothBuilt.countDown()
          assert(bothBuilt.await(30, java.util.concurrent.TimeUnit.SECONDS),
            "peer builder never arrived — check for a builder throw")
          s"scratch-$i"
        }
        results.add(r)
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.get(0) == results.get(1),
      "racing callers must converge on one memoized artifact")
    assert(m.get("race-dir") == results.get(0))
  }

  test("witness: a throwing builder leaves the memo empty — the next caller retries") {
    // Failure semantics both helpers inherit from get -> build ->
    // putIfAbsent: the put only happens after a successful build, so
    // a transient builder failure (a flaky scratch write, an OOM'd
    // job) must never cache a poisoned entry — the next caller just
    // rebuilds. computeIfAbsent had the same property; this pins that
    // the conversion kept it.
    import graft.operators.Dedup
    val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
    intercept[RuntimeException] {
      Dedup.dirMemo(m, "flaky")(sys.error("transient build failure"))
    }
    assert(m.isEmpty, "a failed build must not leave a map entry")
    assert(Dedup.dirMemo(m, "flaky")("second-try") == "second-try")
    Dedup.clearCaches()
    try {
      intercept[RuntimeException] {
        Dedup.memoKeyed("flaky-frame")(sys.error("transient build failure"))
      }
      val rebuilt = Dedup.memoKeyed("flaky-frame")(spark.range(3).toDF("retry_id"))
      assert(rebuilt.columns.sameElements(Array("retry_id")))
    } finally Dedup.clearCaches()
  }

  test("witness: nested house memo on the same same-bin keys is safe") {
    import graft.operators.Dedup
    Dedup.clearCaches()
    try {
      val outer = Dedup.memoKeyed("Aa") {
        val inner = Dedup.memoKeyed("BB")(spark.range(1).toDF("inner_id"))
        inner.select(col("inner_id").as("outer_id"))
      }
      assert(outer.columns.sameElements(Array("outer_id")))
      // Both entries memoized: the second lookup returns the same frame.
      val again = Dedup.memoKeyed("BB")(sys.error("must not rebuild"))
      assert(again.columns.sameElements(Array("inner_id")))
    } finally Dedup.clearCaches()
  }

  test("full-surface construction leaves ZERO caches after clearCaches (no persist escapes liveCaches)") {
    // The runtime face of CLAUDE.md's bare-persist ban, previously
    // enforced only by review: every `.persist()` in src/main must
    // register its frame in liveCaches (via memo or a pinned put) or
    // clearCaches can't free it — the round-16 heavy_hitters leak let
    // bench reps 2+ silently reuse a materialized cache. Constructing
    // a query runs its builder (persists register in the CacheManager
    // at .persist() call time, not at materialization), so building
    // the whole surface then clearing must leave the manager EMPTY;
    // any survivor is a persist that escaped the registry. Scoped
    // try/finally persists (namedOutputsRoundTrip) release before the
    // builder returns and never reach this point. localCheckpoints
    // are RDD-level persists, not CacheManager entries — exempt by
    // construction, which is correct: they're lineage cuts, freed by
    // GC/ContextCleaner, not pipeline caches. The shared walk
    // ([[ShuffleCensus.surface]]) constructs the surface from an empty
    // cache manager and records what its closing clearCaches leaves.
    val walk = surface
    assert(walk.survivors.isEmpty,
      "a .persist() escaped liveCaches (clearCaches cannot free it); " +
        "caches still registered: " + walk.survivors.mkString("; "))
  }

  test("pin: only the shared walk iterates the registered surface in src/test") {
    // Every whole-surface check reads ShuffleCensus.surface, which
    // constructs each query twice per (JVM, sfDir): the artifact-warm
    // pass and the recorded pass. A spec that iterated the registry
    // itself would add a full construction pass (streaming replays,
    // scratch writes) to every suite run. Lookups of named queries
    // and `contains` checks are not walks. The declaration list the
    // registry is derived from counts too.
    val walkRef = """SparkEntry\.(queries|defs)\b(?!\s*\(|\.contains\b)""".r
    def walks(src: String): Int = walkRef.findAllIn(src).size
    val registry = "SparkEntry" + ".queries"
    val declared = "SparkEntry" + ".defs"
    assert(walks(s"$registry.keys.toSeq.sorted.foreach { n => () }") == 1)
    assert(walks(s"val all = $registry; all.keys") == 1)
    assert(walks(s"""$registry("eval_confusion")(spark, sfDir); $registry.contains(n)""") == 0)
    assert(walks(s"$declared.foreach(d => d.build(spark, sfDir))") == 1)
    val observed = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> walks(new String(Files.readAllBytes(p), "UTF-8")))
      .filter(_._2 > 0).toMap
    assert(observed == Map("ShuffleCensus.scala" -> 1),
      s"registry iterations in src/test outside the shared walk: $observed — " +
        "read ShuffleCensus.surface instead")
    val queries = surface.queries.size
    info(s"shared walk: ${ShuffleCensus.constructions} query constructions for " +
      s"$queries registered queries over ${ShuffleCensus.walked} sfDir(s)")
    assert(ShuffleCensus.constructions == 2 * queries * ShuffleCensus.walked)
  }

  test("witness: a memo race's loser unpersists its copy and adopts the winner") {
    // The helper's documented non-atomicity trade: two threads may
    // both run the builder, but the loser's persisted frame must be
    // freed (else clearCaches could never reach it — the orphaned-
    // cache variant of the heavy_hitters leak). A latch holds BOTH
    // builders open until each has produced its frame, forcing the
    // race deterministically.
    import graft.operators.Dedup
    import org.apache.spark.storage.StorageLevel
    Dedup.clearCaches()
    try {
      val bothBuilt = new java.util.concurrent.CountDownLatch(2)
      val built = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.DataFrame]())
      val results = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.DataFrame]())
      val threads = (1 to 2).map { i =>
        new Thread(() => {
          val r = Dedup.memoKeyed("race-witness") {
            val df = spark.range(i).toDF("race_id")
              .persist(StorageLevel.MEMORY_AND_DISK)
            built.add(df)
            bothBuilt.countDown()
            // Wait for the other builder so BOTH frames exist before
            // either putIfAbsent runs — guaranteeing a real loser.
            // Timed: a builder failure before countDown must fail the
            // test, not hang the whole suite in an un-countable await.
            assert(bothBuilt.await(30, java.util.concurrent.TimeUnit.SECONDS),
              "peer builder never arrived — check for a builder throw")
            df
          }
          results.add(r)
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(built.size == 2, "latch must force a double-build")
      // Both callers got the SAME winning frame...
      assert(results.get(0) eq results.get(1),
        "racing callers must converge on one memoized frame")
      val winner = results.get(0)
      val loser = if (built.get(0) eq winner) built.get(1) else built.get(0)
      // ...the winner stays persisted, the loser was freed.
      assert(winner.storageLevel != StorageLevel.NONE, "winner must stay persisted")
      assert(loser.storageLevel == StorageLevel.NONE, "loser must be unpersisted")
    } finally Dedup.clearCaches()
  }

  test("witness: a PLAN-EQUAL memo race must not de-materialize the winner") {
    // The realistic race: both threads run the SAME builder, so the
    // CacheManager holds ONE entry for both frames (the second
    // .persist() is a no-op against the first's by canonicalized plan
    // equality). A naive loser-unpersist would remove that shared
    // entry, leaving the memoized winner at StorageLevel.NONE and
    // every later consumer re-paying the pass the memo amortizes —
    // memoKeyed must detect plan equality and skip the unpersist.
    import graft.operators.Dedup
    import org.apache.spark.storage.StorageLevel
    Dedup.clearCaches()
    try {
      val bothBuilt = new java.util.concurrent.CountDownLatch(2)
      val results = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.DataFrame]())
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          val r = Dedup.memoKeyed("race-witness-eq") {
            val df = spark.range(7).toDF("race_id")
              .persist(StorageLevel.MEMORY_AND_DISK)
            bothBuilt.countDown()
            assert(bothBuilt.await(30, java.util.concurrent.TimeUnit.SECONDS),
              "peer builder never arrived — check for a builder throw")
            df
          }
          results.add(r)
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(results.get(0) eq results.get(1),
        "racing callers must converge on one memoized frame")
      assert(results.get(0).storageLevel != StorageLevel.NONE,
        "plan-equal loser unpersist de-materialized the shared cache entry")
    } finally Dedup.clearCaches()
  }

  test("witness: the round-16 crasher itself (eval_confusion) builds through nested memos") {
    graft.operators.Dedup.clearCaches()
    try {
      // Constructing the plan exercises confcells → nbClassify →
      // nbGrid's memo nesting; with computeIfAbsent this was the
      // per-JVM-roulette crash, with the house memo it cannot throw.
      val df = SparkEntry.queries("eval_confusion")(spark, sfDir)
      assert(df.queryExecution.executedPlan != null)
    } finally graft.operators.Dedup.clearCaches()
  }
}
