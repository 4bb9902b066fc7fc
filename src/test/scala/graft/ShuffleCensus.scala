package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graft.TestCache
import org.apache.spark.sql.types.StructType

/** The shared walk of the registered surface and the census traversal
  * every whole-surface check counts with.
  *
  * The walk ([[surface]]) runs once per (JVM, sfDir) and records
  * what the checks read: the Scan, Broadcast, Shuffle and Cache
  * censuses, the GlobalWindow and CartesianProduct sweeps,
  * SchemaGuardSpec, MemoDisciplineSpec's zero-survivor check, the
  * narrow-decimal plan pin and both census dumps. Constructing a
  * query is not free (streaming entries replay to quiescence,
  * round-trip entries write scratch files), so the suite pays for
  * the walk's two passes over the surface instead of one per check.
  *
  * The shuffle census of a query = number of `ShuffleExchangeExec`
  * nodes in its AQE-off / auto-broadcast-off physical plan, INCLUDING
  * - subquery plans (a scalar subquery's aggregation shuffles are
  *   real network cost the main-tree walk never visits), and
  * - every DISTINCT cached relation's build plan (deduped by shared
  *   CachedRDDBuilder, recursively). The dedup is WITHIN one query's
  *   plan — four lookups of one cache in a single query count its
  *   build once — but a cache shared ACROSS queries appears in each
  *   consuming query's pinned count (the dump generator reads the
  *   same record, so pins and sweep agree; a re-pin diff therefore
  *   moves every consumer of a changed shared cache at once).
  *
  * Census config: AQE off so exchanges are concrete plan nodes (not
  * runtime stages), auto-broadcast OFF so every non-hinted join plans
  * as its shuffle shape — the count is a plan-shape FACT independent
  * of table statistics, and an upper bound on what any
  * statistics-driven plan would shuffle. */
object ShuffleCensus {

  val aqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"
  val broadcastOff: (String, String) = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** A reference-identity set of cache builders (see [[cacheBuilds]]). */
  def identitySet(): java.util.Set[AnyRef] =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  // subqueriesAll, not subqueries: the latter is this NODE's own
  // expression subqueries only — a scalar subquery under a child
  // Filter would escape the census (the witness pins this).
  private def trees(p: SparkPlan): Seq[SparkPlan] = p +: p.subqueriesAll

  /** Build plans of the cached relations reachable from `p` whose
    * builder is not yet in `seen`, depth-first in plan order,
    * recursing into each build. `seen` is a reference-identity set,
    * NOT a Set[Int] of identityHashCode: hash codes are not unique,
    * and a collision would silently drop a cache build. Pass one
    * `seen` across queries to count a shared cache only where it is
    * first built. */
  def cacheBuilds(p: SparkPlan,
      seen: java.util.Set[AnyRef] = identitySet()): Seq[SparkPlan] =
    trees(p).flatMap(_.collect { case c: InMemoryTableScanExec => c.relation })
      .flatMap { r =>
        if (seen.add(r.cacheBuilder)) r.cachedPlan +: cacheBuilds(r.cachedPlan, seen)
        else Nil
      }

  /** All plans reachable from `p`: itself, its subquery plans and each
    * distinct cache build once. */
  def reachable(p: SparkPlan): Seq[SparkPlan] =
    (p +: cacheBuilds(p)).flatMap(trees)

  /** Shuffle count of one physical plan under the census rules. */
  def countPlan(p: SparkPlan): Int =
    reachable(p).map(_.collect { case s: ShuffleExchangeExec => s }.size).sum

  /** One registered query as the walk recorded it: its output schema,
    * its executed plan under the census config, and its executed plan
    * with AQE off but auto-broadcast at the session's setting (the
    * GlobalWindow and CartesianProduct checks: auto-broadcast off
    * would turn size-broadcast nested-loop joins into Cartesians). */
  final case class Recorded(name: String, schema: StructType,
      censusPlan: SparkPlan, autoBroadcastPlan: SparkPlan)

  /** The walk's record, in sorted query order. `survivors` has one line
    * per DataFrame cache that survived the closing clearCaches: the
    * recorded queries whose census plan scans it, or else the cached
    * plan's tree. */
  final case class Surface(queries: Seq[Recorded], survivors: Seq[String]) {
    def census: Seq[(String, SparkPlan)] = queries.map(q => q.name -> q.censusPlan)
    def autoBroadcast: Seq[(String, SparkPlan)] = queries.map(q => q.name -> q.autoBroadcastPlan)
  }

  private val walks = new java.util.concurrent.ConcurrentHashMap[String, Surface]()
  private val built = new java.util.concurrent.atomic.AtomicInteger()

  /** Registered queries constructed by the walk so far in this JVM:
    * two passes per sfDir walked. */
  def constructions: Int = built.get
  def walked: Int = walks.size

  /** The registered surface at `sfDir`, walked once per JVM.
    *
    * Censuses are defined at the artifacts-WARM fixed point:
    * build-once artifact memos (Similarity.ivfIndexDirs,
    * Curation.dedupTierDir, the Learn/EventStreams dirs maps) survive
    * clearCaches BY DESIGN, and their builders side-effect-create
    * liveCaches memos — so a cold walk saw ann_pq_adc at 8 exchanges
    * (the PQ serve tier's build had just materialized the shared
    * melt/codebook/codes memos) where a warm one sees the build
    * skipped and adc plan cold at 9. The walk therefore
    * 1. constructs every query once, building all artifacts;
    * 2. clears the memo caches (and every other DataFrame cache, the
    *    zero-survivor check's clean slate);
    * 3. constructs every query again in sorted order and records it;
    * 4. clears the memo caches and records what survives.
    * Cache reuse during step 3 is what every census counts: query N
    * sees the memos queries before it built.
    *
    * The guard is BLOCKING (computeIfAbsent's mapping function runs
    * the walk): a late concurrent caller waits for the first caller's
    * walk instead of reading a half-built surface. (The liveCaches
    * nested-computeIfAbsent hazard does not apply: `walks` is a
    * dedicated map, and queries have no path back to it.) */
  def surface(spark: SparkSession, sfDir: String): Surface =
    walks.computeIfAbsent(sfDir, _ => walk(spark, sfDir))

  private def walk(spark: SparkSession, sfDir: String): Surface = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def build(name: String) = {
      built.incrementAndGet()
      SparkEntry.queries(name)(spark, sfDir)
    }
    val session = org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
    val autoBroadcast = broadcastOff._1 -> spark.conf.get(broadcastOff._1)
    val recorded = SparkSpecBase.withConf(spark, aqeOff, broadcastOff) {
      graft.operators.Dedup.clearCaches()
      names.foreach(build(_).queryExecution.executedPlan)
      graft.operators.Dedup.clearCaches()
      TestCache.clearAll(spark)
      names.map { name =>
        val df = build(name)
        val censusPlan = df.queryExecution.executedPlan
        val autoBroadcastPlan = SparkSpecBase.withConf(spark, autoBroadcast) {
          new QueryExecution(session, df.queryExecution.logical).executedPlan
        }
        Recorded(name, df.schema, censusPlan, autoBroadcastPlan)
      }
    }
    graft.operators.Dedup.clearCaches()
    Surface(recorded, TestCache.entries(spark).map { case (builder, plan) =>
      val scanners = recorded.filter(q => reachable(q.censusPlan).exists(_.exists {
        case scan: InMemoryTableScanExec => scan.relation.cacheBuilder eq builder
        case _ => false
      })).map(_.name)
      if (scanners.nonEmpty) scanners.mkString("scanned by ", ", ", "")
      else "scanned by no recorded query:\n" + plan.treeString
    })
  }

  /** Census of the whole registered surface, sorted query order —
    * the exact procedure whose output the pins freeze. */
  def sweep(spark: SparkSession, sfDir: String): Seq[(String, Int)] =
    surface(spark, sfDir).census.map { case (name, plan) => name -> countPlan(plan) }
}

/** Regenerates the [[ShuffleDisciplineSpec.pinned]] map after a
  * DELIBERATE plan change: `sbt 'Test/runMain graft.ShuffleCensusDump'`
  * prints the Scala source of the map; paste it over the old pins and
  * read the diff — every changed count is a shuffle consciously added
  * or removed, which is the whole point of pinning. */
object ShuffleCensusDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpecBase.session
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val rows = ShuffleCensus.sweep(spark, sfDir)
    val src = "  val pinned: Map[String, Int] = Map(\n" +
      rows.map { case (n, c) => s"""    "$n" -> $c""" }.mkString(",\n") +
      "\n  )\n"
    println(src)
    // Also land it in a file: pane scrollback is a lousy clipboard.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/shuffle_pins.scala"),
      src.getBytes("UTF-8"))
    spark.stop()
  }
}
