package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Whole-surface unpartitioned-window guard — third of the discipline
  * sweeps ([[BroadcastDisciplineSpec]], [[ScanDisciplineSpec]]): a
  * `Window.orderBy(...)` with no partition spec plans as a
  * single-partition sort — every input row funnels through ONE task,
  * which at 100 TB is the job. The house rule (the quantile-report
  * trade): a global window is legal ONLY over a relation whose size
  * is bounded by something other than the corpus — a post-`limit(k)`
  * top-k, a fixed bucket grid, a configuration-shaped duration range.
  * This spec enumerates every registered query's AQE-off plan and
  * collects Window/WindowGroupLimit nodes with an empty partition
  * spec; each whitelist entry pins the justification AND the exact
  * window-expression signature it is allowed (round-15 advice fix —
  * a boolean whitelist would let a whitelisted query grow a SECOND
  * global window undetected), so observed != pinned fails in either
  * direction.
  */
class GlobalWindowDisciplineSpec extends SparkSpecBase {
  import GlobalWindowDisciplineSpec._

  test("every unpartitioned window runs over a declared bounded relation, matching its pinned signature") {
    // Read from the plans with auto-broadcast at its default.
    def globals(plan: SparkPlan): Seq[String] =
      plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          w.windowExpression.map(_.name).mkString(",")
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          "group-limit"
      }.sorted
    val offenders = surface.autoBroadcast.flatMap { case (name, plan) =>
      val g = globals(plan)
      whitelist.get(name) match {
        case None if g.isEmpty => None
        case None => Some(s"$name: global window(s) [${g.mkString("; ")}] (not whitelisted)")
        case Some(PinnedWindows(_, sig)) if g == sig => None
        case Some(PinnedWindows(_, sig)) =>
          Some(s"$name window-signature drift: observed [${g.mkString("; ")}] " +
            s"!= pinned [${sig.mkString("; ")}]")
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned-window violations:\n${offenders.mkString("\n")}")
    val gone = whitelist.keys.toSeq.sorted.filterNot(SparkEntry.queries.contains)
    assert(gone.isEmpty,
      s"whitelist entries for unregistered queries:\n${gone.mkString("\n")}")
  }

  test("witness: a global window over a raw corpus relation is detected; a post-limit one is not") {
    // The sweep's detector exercised on deliberately-built plans: a
    // row_number with no partition over raw events must plan a
    // single-partition window node (or the TakeOrdered rewrite — both
    // count as caught); the same window AFTER a limit(k) is the
    // declared-bounded shape and must either vanish into the rewrite
    // or run over k rows.
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      def globalWindows(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }.size
      val bad = ev.withColumn("rn",
        row_number().over(W.orderBy(col("ts"), col("event_id"))))
      // LimitPushDownThroughWindow can rewrite rn<=k into
      // TakeOrderedAndProject; an UNfiltered global row_number cannot
      // be rewritten away, so the node must be present.
      assert(globalWindows(bad) >= 1,
        "unpartitioned window over raw events not visible to the detector")
      val bounded = ev.orderBy(col("ts"), col("event_id")).limit(20)
        .withColumn("rn", row_number().over(W.orderBy(col("ts"), col("event_id"))))
      // The bounded shape may still plan a WindowExec — over 20 rows.
      // What the whitelist rule checks is the INPUT boundedness; here
      // we assert the plan carries the limit below the window.
      val hasLimit = bounded.queryExecution.executedPlan.collect {
        case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => l
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      }.nonEmpty
      assert(hasLimit, "post-limit window lost its bounding limit in the plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved)
    }
  }
}

object GlobalWindowDisciplineSpec {
  /** A declared bounded global window: WHY the window's input cannot
    * grow with the corpus, and the PINNED sorted list of
    * window-expression signatures the plan is allowed. */
  final case class PinnedWindows(why: String, sig: Seq[String])

  val whitelist: Map[String, PinnedWindows] = Map(
    "search_bm25" -> PinnedWindows(
      "rank derives AFTER limit(TopK) — the window sees exactly k rows",
      Seq("rank")),
    "eval_rank" -> PinnedWindows(
      "inherits search_bm25's post-limit k-row rank window",
      Seq("rank")),
    "events_top_paths" -> PinnedWindows(
      "rank derives AFTER limit(PathTopK) — k rows",
      Seq("rank")),
    "tpch_q10" -> PinnedWindows(
      "row_number derives AFTER the global top-20 limit — 20 rows",
      Seq("rn")),
    "weighted_sample" -> PinnedWindows(
      "rank derives AFTER limit(WeightedK) — k rows",
      Seq("rank")),
    "sketch_kmv_merge" -> PinnedWindows(
      "the k-min rank window runs over kept sketch rows — bounded by " +
        "k per sketch, never the stream",
      Seq("rn")),
    "quantile_report_hist" -> PinnedWindows(
      "the cumulative window runs over the equi-width histogram — at " +
        "most HistBuckets (8192) rows regardless of input size, the " +
        "declared bounded-memory tier",
      Seq("cum")),
    "events_survival" -> PinnedWindows(
      "the running-risk/product windows run over the per-lifetime " +
        "relation — bounded by the observation window in DAYS " +
        "(configuration-shaped), the declared quantile-report trade",
      Seq("_we0", "_we0", "dead_all")),
    "eval_auc" -> PinnedWindows(
      "the running rank-sum window runs over DISTINCT integer score " +
        "values (the Mann-Whitney tie groups) — bounded by the " +
        "scorer's value range, not corpus cardinality",
      Seq("_we0")))
}
