package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{SparkEntry, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The benchmark's JVM side. `run.py` starts one fresh JVM per run:
  *
  *   mode=run data=DIR out=FILE mix=q1,q2,.. seed=N seconds=S trace=0|1 cores=C
  *     sets the session up once, runs one cold pass over the mix, an
  *     untimed check pass that fingerprints every query's output, then
  *     steady passes for S seconds (at least [[MinSteady]]). Writes the
  *     raw measurements to FILE as JSON.
  *   mode=describe mix=q1,.. seeds=1,2 passes=P
  *     prints the registered query names and the pass orders the seeds
  *     give, for the self-test.
  *
  * A closed loop with one client: queries run one after another, each
  * into the `noop` sink (every output column is materialized), with
  * the operator memo caches cleared before each execution. */
object Harness {
  val MinSteady = 2
  /** USER_HZ, the unit of the CPU times in /proc/<pid>/task/<tid>/stat. */
  private val ClockTicks = 100.0

  final case class Exec(name: String, buildS: Double, execS: Double, wallS: Double,
      error: Option[String], counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    opts("mode") match {
      case "describe" => describe(opts)
      case "run" => run(opts)
    }
  }

  /** The order of pass `pass` of a run with seed `seed`: a permutation
    * of the mix, so the seed changes order but never membership. */
  def passOrder(mix: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  private def mixOf(opts: Map[String, String]): Seq[String] =
    opts("mix").split(",").toSeq.filter(_.nonEmpty)

  def describe(opts: Map[String, String]): Unit = {
    val mix = mixOf(opts)
    val passes = opts("passes").toInt
    val orders = opts("seeds").split(",").map { s =>
      Json.str(s) + ":" + Json.arr((0 until passes).map(p =>
        Json.arr(passOrder(mix, s.toLong, p).map(Json.str))))
    }
    println("{\"registered\":" + Json.arr(SparkEntry.queries.keys.toSeq.sorted.map(Json.str)) +
      ",\"orders\":{" + orders.mkString(",") + "}}")
  }

  private def newSession(cores: Int, scratch: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()

  /** Session creation plus table warm-up, as graft.Bench does it. */
  private def warm(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, data, n).count())
  }

  private def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** CPU seconds of the JIT compiler threads so far, from
    * /proc/self/task (run.py keeps these threads alive for the whole
    * run, so none of their time leaves the sum). */
  private def compilerCpuS: Double =
    Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty[java.io.File]).map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), StandardCharsets.UTF_8)
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) 0.0
        else {
          val f = stat.substring(close + 2).split(' ')
          (f(11).toLong + f(12).toLong) / ClockTicks
        }
      } catch { case NonFatal(_) => 0.0 }
    }.sum

  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** rchar/wchar of /proc/self/io: bytes through read/write calls. */
  private def procIo: Map[String, Double] =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toDouble)
        case _ => None
      }
    }.toMap
    catch { case NonFatal(_) => Map.empty }

  private def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    catch { case NonFatal(_) => Double.NaN }

  private def message(t: Throwable): String =
    (t.getClass.getName + ": " + Option(t.getMessage).getOrElse(""))
      .replaceAll("\\p{Cntrl}", " ").take(300)

  /** Row count plus an order-independent hash: xxhash64 of each row
    * with its columns sorted by name, summed exactly as a decimal. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = positional
      .select(xxhash64(byName.map(i => col(s"c$i")).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect()(0)
    (row.getLong(0), String.valueOf(row.get(1)))
  }

  def run(opts: Map[String, String]): Unit = {
    val data = opts("data")
    val mix = mixOf(opts)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val scratch = System.getProperty("java.io.tmpdir")

    val base = System.nanoTime()
    val baseEpoch = System.currentTimeMillis().toDouble
    def nowMs: Double = baseEpoch + (System.nanoTime() - base) / 1e6

    // Set-up: from JVM start to the end of table warm-up, once per JVM.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = newSession(cores, scratch)
    warm(spark, data)
    val setupS = (nowMs - jvmStart) / 1e3

    val tracer = new Tracer(spark)
    val runSpan = tracer.open("run", -1, nowMs)

    def runQuery(name: String, passSpan: Int, trace: Boolean): Exec = {
      Dedup.clearCaches()
      val q = if (trace) tracer.open("query", passSpan, nowMs) else -1
      if (trace) tracer.startQuery(q)
      val t0 = System.nanoTime()
      var t1 = t0
      val build = if (trace) tracer.open("entry.build", q, nowMs) else -1
      if (trace) tracer.startPhase(build, build = true)
      val error = try {
        val df = SparkEntry.queries(name)(spark, data)
        t1 = System.nanoTime()
        if (trace) {
          tracer.close(build, nowMs)
          val sink = tracer.open("sink", q, nowMs)
          tracer.startPhase(sink, build = false)
          try df.write.format("noop").mode("overwrite").save()
          finally tracer.close(sink, nowMs)
        } else df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case NonFatal(t) =>
          if (t1 == t0) {
            t1 = System.nanoTime()
            if (trace) tracer.close(build, nowMs)
          }
          Some(message(t))
      }
      val t2 = System.nanoTime()
      val counters = if (trace) {
        val c = tracer.endQuery()
        tracer.close(q, nowMs)
        c
      } else Map.empty[String, Double]
      error.foreach(e => System.err.println(s"perfbench: query $name failed: $e"))
      Exec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9, error, counters)
    }

    val passes = ArrayBuffer[String]()
    def runPass(index: Int, trace: Boolean): Double = {
      if (trace) tracer.attach()
      val passSpan = if (trace) tracer.open("pass", runSpan, nowMs) else -1
      heapPools.foreach(_.resetPeakUsage())
      val io0 = procIo
      val (cpu0, comp0, gc0, jit0) = (processCpuS, compilerCpuS, gcS, jitS)
      val t0 = System.nanoTime()
      val execs = passOrder(mix, seed, index).map(runQuery(_, passSpan, trace))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu1, comp1, gc1, jit1) = (processCpuS, compilerCpuS, gcS, jitS)
      val workCpu = (cpu1 - cpu0) - (comp1 - comp0)
      val io1 = procIo
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (trace) {
        tracer.close(passSpan, nowMs)
        tracer.detach()
      }
      System.err.println(f"perfbench: pass $index%d${if (trace) " (traced)" else ""} took $wall%.2f s, cpu $workCpu%.2f s + jit ${comp1 - comp0}%.2f s")
      def ioMb(k: String): Double = (io1.getOrElse(k, 0.0) - io0.getOrElse(k, 0.0)) / 1048576.0
      passes += Json.obj(
        "index" -> index.toString, "steady" -> (index > 0).toString,
        "traced" -> trace.toString,
        "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(workCpu),
        "gc_s" -> Json.num(gc1 - gc0), "jit_s" -> Json.num(jit1 - jit0),
        "heap_peak_mb" -> Json.num(heapPeak),
        "io_read_mb" -> Json.num(ioMb("rchar")), "io_write_mb" -> Json.num(ioMb("wchar")),
        "queries" -> Json.arr(execs.map { e =>
          Json.obj("name" -> Json.str(e.name), "build_s" -> Json.num(e.buildS),
            "exec_s" -> Json.num(e.execS), "wall_s" -> Json.num(e.wallS),
            "error" -> e.error.map(Json.str).getOrElse("null"),
            "counters" -> Json.obj(e.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
        }))
      wall
    }

    // Cold pass, check pass, then steady passes. JIT compilation still
    // speeds the first few passes over the mix up, so the untimed check
    // pass, which runs every query once more, doubles as warm-up, and
    // the steady metrics are medians over passes, which the slower
    // first steady pass does not move. In a traced run the steady
    // passes go untraced, traced, traced, untraced, ... so the tracer's overhead is an interleaved A/B in
    // one JVM that warm-up drift cancels out of. A further steady pass
    // starts only if one more pass of the last pass's length still ends
    // within `seconds`.
    runPass(0, trace = false)
    val prints = mix.sorted.map { name =>
      Dedup.clearCaches()
      val fp = try {
        val (rows, hash) = fingerprint(SparkEntry.queries(name)(spark, data))
        Json.obj("rows" -> rows.toString, "hash" -> Json.str(hash))
      } catch { case NonFatal(t) => Json.obj("error" -> Json.str(message(t))) }
      name -> fp
    }
    val steadyStart = System.nanoTime()
    val minSteady = if (traced) 2 * MinSteady else MinSteady
    var k = 0
    var last = 0.0
    while (k < minSteady || (System.nanoTime() - steadyStart) / 1e9 + last <= seconds) {
      last = runPass(1 + k, trace = traced && (k + 1) % 4 >= 2)
      k += 1
    }
    tracer.close(runSpan, nowMs)
    val rss = peakRssMb

    val env = Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "java" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0))
    val spans = tracer.spans.map(s => Json.arr(Seq(s.id.toString, s.parent.toString,
      Json.str(s.name), s.query.toString, Json.num(s.start), Json.num(s.end))))
    val out = Json.obj(
      "env" -> env,
      "setup_s" -> Json.num(setupS),
      "passes" -> Json.arr(passes.toSeq),
      "peak_rss_mb" -> Json.num(rss),
      "fingerprints" -> Json.obj(prints: _*),
      "spans" -> Json.arr(spans))
    Files.write(Paths.get(opts("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
