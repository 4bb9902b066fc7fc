package graft
import org.apache.spark.sql.SparkSession

/** Round benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Methodology (round-3 fix): queries run in a FIXED sorted order and
  * each is repeated REPS times with the per-query MEDIAN reported —
  * the round-2 harness ran once in `Map` iteration order, so JVM/JIT
  * warmth and the shared LSH-signature cache landed on whichever
  * query happened to run first, producing phantom 2-3× round-over-
  * round "regressions" on untouched queries. Median-of-3 in a fixed
  * order makes per-query deltas comparable across rounds. The shared
  * dedup caches are cleared between reps so every rep pays the same
  * (cold-cache) cost — rep times measure the query, not its position
  * in the run.
  */
object Bench {
  // Median-of-5: with 3 reps, sub-second queries (dominated by fixed
  // job-scheduling overhead) still showed >20% re-run deltas under
  // background load; 5 reps rejects transient spikes at ~+60% bench
  // wall time.
  val Reps = 5

  /** Local iteration aid (driver never sets it): SPARK_GRAFT_REPS
    * overrides the rep count — e.g. the r19 sf1 scaling probe runs
    * 10× data where per-rep compute dwarfs warmth and 5 reps would
    * burn an hour re-measuring it. The quiet-out artifact refuses a
    * sub-default rep count exactly like it refuses a filtered run: a
    * thin-rep total must never masquerade as the round record. */
  def repsFromEnv: Int =
    sys.env.get("SPARK_GRAFT_REPS").map(_.trim.toInt).getOrElse(Reps)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen spin-up and parquet footer reads
    // otherwise land entirely on whichever query happens to run first.
    // Best-effort: a table that fails to load here will fail again —
    // caught and recorded — in each query that reads it; an uncaught
    // warmup throw instead killed the whole run and left the round-9
    // driver artifact unparseable (rc=1, "parsed": null).
    spark.range(1000).selectExpr("sum(id)").collect()
    // NonFatal only: an OutOfMemoryError / linkage error here must
    // fail fast, not let the run continue in an undefined state.
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"warmup: $n failed to load: ${t.getMessage}") }
    }

    // HOST-CALIBRATION probe (round 17): two pure-JVM deterministic
    // workloads timed per run — single-thread (clock/steal) and
    // all-configured-cores (SMT/parallel contention) — because two
    // consecutive rounds explained bench inflation as box state
    // (+10% r15, +24% r16, both proven by interleaved A/B on
    // unchanged code). With the multiplier RECORDED in the artifact,
    // a future diff separates "host runs 2× slower" (calib moves with
    // the totals) from a real creep (totals move, calib doesn't)
    // without re-running the A/B protocol. FNV-1a over a counter:
    // data-independent, allocation-free, unJITtable-away (the hash
    // feeds a sink check). ~0.5 s/probe on a healthy core.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      var h = 1469598103934665603L
      var i = 0
      while (i < 200000000) { h ^= i; h *= 1099511628211L; i += 1 }
      if (h == 42L) System.err.println("calib sink")
      (System.nanoTime() - t0) / 1e9
    }
    def calibMedian(): Double = {
      calibOnce() // untimed JIT warm
      Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)
    }
    def calibParallel(): Double = {
      val n = cpus.toInt
      val t0 = System.nanoTime()
      val threads = (1 to n).map(_ => new Thread(() => { calibOnce(); () }))
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    // Memory-LATENCY probe: a 64 MB pointer chase (deterministic
    // LCG-permutation cycle, 10M dependent loads). The FNV probe runs
    // in registers and can sit flat while cache/memory-bound work
    // (DLX, sort, shuffle) degrades 2-3× — the round-17 sentinel
    // showed exactly that split — so host state needs BOTH axes.
    val memChase: Array[Int] = {
      val n = 1 << 24
      val next = new Array[Int](n)
      var seed = 88172645463325252L
      // Sattolo's algorithm: one n-cycle, so the chase can't short-loop.
      val perm = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) {
        seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
        val j = (((seed % i) + i) % i).toInt
        val t = perm(i); perm(i) = perm(j); perm(j) = t
        i -= 1
      }
      i = 0
      while (i < n) { next(perm(i)) = perm((i + 1) % n); i += 1 }
      next
    }
    def calibMemOnce(): Double = {
      val t0 = System.nanoTime()
      var p = 0
      var i = 0
      while (i < 10000000) { p = memChase(p); i += 1 }
      if (p == -1) System.err.println("calib sink")
      (System.nanoTime() - t0) / 1e9
    }
    def calibMemMedian(): Double = {
      calibMemOnce()
      Seq(calibMemOnce(), calibMemOnce(), calibMemOnce()).sorted.apply(1)
    }
    val calibPre = calibMedian()
    val calibPar = calibParallel()
    val calibMem = calibMemMedian()
    // INTERLEAVED calibration series (round-19 directive): the r18
    // adjudication (raw 1.05× → normalized 0.71×) rested on two
    // endpoint probes on a box that provably degrades mid-run (the
    // discarded r18 re-take degraded BETWEEN the endpoints). One
    // single-sample cpu+mem probe pair every CalibWindow queries
    // timestamps the host state next to the queries it landed on —
    // bench_diff normalizes with the series MEDIAN (robust to one bad
    // window) and flags mid-run regime changes from the series range.
    // Single samples, not median-of-3: the pre-probes above already
    // paid the JIT/allocation warmth. The window counts over the FULL
    // run surface (all ~257 registered queries — the ~85-95 figure is
    // only how many clear the 1 s REPORTING cutoff), so CalibWindow=32
    // fires 8 interior probe pairs (idx 32..256) plus the pre/end
    // pairs — 10 samples per axis, ~20 s of overhead on a ~20-min run
    // (the r20 quiet record shows exactly this series; an earlier
    // comment revision undercounted by sizing the window against the
    // reported-query count). bench_diff reads the count from the
    // record, so the density is visible, not assumed.
    val CalibWindow = 32
    val calibSeries = scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      // noop sink: materializes every output column (count() would let
      // Catalyst prune computed columns and under-report the work)
      val err = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case t: Throwable =>
          Some(Option(t.getMessage).getOrElse(t.getClass.getName)
            .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200))
        }
      ((System.nanoTime() - t0) / 1e9, err)
    }

    // Iteration aid: SPARK_GRAFT_ONLY="q1,q2" restricts the run to a
    // comma-separated subset (driver never sets it — full run).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Rep-order diagnostics (SPARK_GRAFT_REPDUMP=path): per-rep times
    // in EXECUTION order, one JSON line per query — the tool that
    // settles "is the first rep systematically the outlier?" (build
    // warmth) vs "random rep is" (box load) without re-instrumenting
    // each round. Local-only; the driver never sets it.
    val repDump = sys.env.get("SPARK_GRAFT_REPDUMP")
      .map(p => new java.io.PrintWriter(p))
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % CalibWindow == 0)
        calibSeries += ((idx, calibOnce(), calibMemOnce()))
      val reps = (1 to repsFromEnv).map { _ =>
        // Cold-cache per rep: the memoized LSH/trigram relations must
        // not let rep 2+ of a dedup query measure only the tail join.
        graft.operators.Dedup.clearCaches()
        runOnce(fn)
      }
      repDump.foreach { w =>
        w.println(s""""$name":[${reps.map(r =>
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(r._1)))
          .mkString(",")}]""")
        w.flush()
      }
      val times = reps.map(_._1).sorted
      val median = times(times.length / 2)
      // Steady-state reps (execution order, first dropped): rep 1
      // always pays per-query codegen/classload warmth, so including
      // it would make every sub-second query look "noisy". Swings
      // WITHIN reps 2..N are genuine run-to-run noise (load); a
      // ratio alone still trips on ~0.1 s scheduling jitter, so an
      // absolute floor rides along.
      val steady = reps.map(_._1).drop(1)
      // Floor shared with the trend flag via BenchStats.SwingFloorSec —
      // two copies of a "shared" constant drift silently (r18 advice).
      // steady.size guard (r19 advice): SPARK_GRAFT_REPS=1 — the
      // natural choice for a 10x-data scale probe, the env's primary
      // use case — leaves steady empty and steady.max threw after the
      // first query; a single rep has no spread to flag.
      val noisy = steady.size >= 2 && steady.max / steady.min > 2.0 &&
        steady.max - steady.min > graft.tools.BenchStats.SwingFloorSec
      (name, median, times.head, noisy, reps.flatMap(_._2).headOption,
        reps.map(_._1))
    }
    repDump.foreach(_.close())
    graft.operators.Dedup.clearCaches()
    // The driver keeps only the last ~2000 chars of stdout: with 69
    // queries, full-precision doubles made this line ~3.7k chars and
    // it was truncated mid-line every round (BENCH_r1..r3 all show
    // "parsed": null). ms precision keeps it ~1.8k at 79 queries;
    // if the query count ever pushes past the budget, per-query
    // precision steps down before the line can truncate again.
    // A failed query must not silently improve the total: errors are
    // reported per query (field omitted when clean — tail budget) and
    // the run exits nonzero if any exist.
    val errs = results.collect { case (k, _, _, _, Some(e), _) => s"\"$k\":\"$e\"" }
    val errField = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Sum of per-query MINS across reps: min-of-N is robust to
    // background load for cold-cache runs, so carrying this one number
    // in the stdout line makes the driver artifact self-adjudicating —
    // a median total far above qmin_total means the box was busy, not
    // the engine slow (r8's committed 73.8 s vs 45.1 s qmin needed
    // manual reconciliation from bench_local.json).
    val qminTotal = if (results.nonEmpty) results.map(_._3).sum else 0.0
    val sfName = new java.io.File(sfDir).getName
    // Locale.ROOT: the default-locale interpolators would render a
    // comma decimal separator on some machines — invalid JSON.
    // Trailing zeros are stripped ("0.400"→"0.4") — at 85 queries the
    // saved chars are the difference between 10 ms and 100 ms
    // granularity within the tail budget.
    def num(prec: Int, v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    // A filtered run must be visibly partial: if SPARK_GRAFT_ONLY is
    // active, the line carries an "only" field with the subset size so
    // a partial total can never masquerade as a full round number.
    val onlyField = if (only.isDefined) s""","only":${results.length}""" else ""
    def render(prec: Int): String = {
      val qs = results.map { case (k, v, _, _, _, _) => s"\"$k\":" + num(prec, v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(3, total)},"unit":"sec","qmin_total":${num(3, qminTotal)},"queries":$qs$errField$onlyField,"sf":"$sfName"}"""
    }
    // Full-precision copy for local round-over-round diffing
    // (tools/bench_diff.py) regardless of what the tail budget forces
    // the stdout line down to. Carries two load diagnostics the stdout
    // budget has no room for: per-query MIN across reps (min-of-N is
    // robust to background load for cold-cache runs — a median far
    // above its min means the box was busy, not the plan slow) and a
    // "spread" list of queries whose max/min across reps exceeded 2×,
    // so a loaded run is visibly noisy in the JSON itself. Three
    // rounds running, a headline bench number needed manual standalone
    // reconciliation that min/spread would have settled from the file.
    val qminJson = results.map { case (k, _, mn, _, _, _) => s"\"$k\":" + num(3, mn) }
      .mkString("{", ",", "}")
    val spreadJson = results
      .collect { case (k, _, _, true, _, _) => s"\"$k\"" }
      .mkString("[", ",", "]")
    // Monotone rep-TREND flag (round-18 directive): a query whose
    // steady reps drift predominantly one direction has a median that
    // misstates steady state — the Kendall-sign rule lives in
    // [[graft.tools.BenchStats.trendOf]] (unit-pinned against the r17
    // rep lists that motivated it).
    val trendJson = results.flatMap { case (k, _, _, _, _, rs) =>
      graft.tools.BenchStats.trendOf(rs).map(t => s"\"$k\":\"$t\"")
    }.mkString("{", ",", "}")
    // End-of-run calibration re-probe: a pre/post divergence flags a
    // box-state CHANGE mid-run (the rep lists then say which queries
    // it landed on). Runs after the timed reps so it can't warm them.
    val calibEnd = calibMedian()
    val calibMemEnd = calibMemMedian()
    val calibSeriesJson = calibSeries
      .map { case (at, c, m) =>
        s"""{"at":$at,"cpu":${num(3, c)},"mem":${num(3, m)}}""" }
      .mkString("[", ",", "]")
    val calibJson = s""""calib":${num(3, calibPre)},"calib_par":${num(3, calibPar)},"calib_mem":${num(3, calibMem)},"calib_end":${num(3, calibEnd)},"calib_mem_end":${num(3, calibMemEnd)},"calib_series":$calibSeriesJson"""
    try {
      val local = render(3).stripSuffix("}") +
        s""","qmin":$qminJson,"spread":$spreadJson,"trend":$trendJson,$calibJson}"""
      val w = new java.io.PrintWriter("bench_local.json")
      try w.println(local) finally w.close()
    } catch { case _: java.io.IOException => () }
    // Durable quiet-run record (round-15 directive — the evidence gap
    // three rounds of judges hit): SPARK_GRAFT_QUIET_OUT=path makes a
    // FULL run also write a committed-grade artifact — everything
    // bench_local.json carries PLUS the raw per-rep times in
    // execution order — at a round-stamped path the builder commits
    // (BENCH_quiet_r<N>.json), so the round's perf record reproduces
    // from `git show` with no /tmp archaeology. bench_local.json
    // stays a scratch file: gitignored and overwritten by ANY
    // invocation, including filtered ones. A filtered run REFUSES the
    // quiet write — a partial total must never masquerade as the
    // round record.
    sys.env.get("SPARK_GRAFT_QUIET_OUT").foreach { path =>
      if (only.isDefined)
        System.err.println(
          s"quiet-out REFUSED: SPARK_GRAFT_ONLY is set (${results.length} queries) — " +
            "the quiet artifact must be a full-surface run")
      else if (repsFromEnv < Reps)
        System.err.println(
          s"quiet-out REFUSED: SPARK_GRAFT_REPS=${repsFromEnv} < $Reps — " +
            "the quiet artifact must carry the full rep methodology")
      else {
        val repsJson = results.map { case (k, _, _, _, _, rs) =>
          s"\"$k\":[${rs.map(num(3, _)).mkString(",")}]"
        }.mkString("{", ",", "}")
        val quiet = render(3).stripSuffix("}") +
          s""","qmin":$qminJson,"spread":$spreadJson,"trend":$trendJson,$calibJson,"reps":$repsJson}"""
        val w = new java.io.PrintWriter(path)
        try w.println(quiet) finally w.close()
      }
    }
    // Budget: the driver keeps the LAST ~2000 stdout chars and the
    // JSON line is the final output (build.sbt suppresses sbt's
    // trailing "[success]" line), so the whole window is ours — the
    // r6 line parsed fine at 1944 chars, so the guard sits at 1950.
    // If even the 1-decimal render overflows, the last step drops the
    // CHEAPEST queries from the stdout map (keeping the expensive
    // ones perf grading needs) with a "qomitted" count —
    // bench_local.json always carries the complete full-precision map.
    def renderTop(keep: Int): String = {
      val kept = results.sortBy(-_._2).take(keep).map(_._1).toSet
      val qs = results.collect { case (k, v, _, _, _, _) if kept(k) =>
        s"\"$k\":" + num(1, v) }.mkString("{", ",", "}")
      val omitted = s""","qomitted":${results.length - keep}"""
      s"""{"metric":"total","value":${num(3, total)},"unit":"sec","qmin_total":${num(3, qminTotal)},"queries":$qs$omitted$errField$onlyField,"sf":"$sfName"}"""
    }
    val line = Seq(3, 2, 1).map(render).find(_.length <= 1950)
      .getOrElse((results.length to 1 by -1).view.map(renderTop)
        .find(_.length <= 1950).getOrElse(renderTop(1)))
    // Printed AFTER spark.stop() so nothing can land between the line
    // and the end of stdout — the driver parses only the final ~2000
    // chars.
    spark.stop()
    println(line)
    if (results.exists(_._5.isDefined)) sys.exit(1)
  }
}
