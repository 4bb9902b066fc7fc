package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the run tree run → pass → query → {entry.build,
  * sink} → job → stage, in epoch milliseconds. Spans of one query
  * share its `query` id (the id of the query span). */
final case class Span(id: Int, parent: Int, name: String, query: Int,
    start: Double, end: Double)

/** Records spans and per-query counters from Spark's public listener
  * interfaces only: `SparkListener` (jobs, stages, task metrics),
  * `QueryExecutionListener` (Catalyst phase times) and
  * `StreamingQueryListener` (micro-batch progress). Nothing inside the
  * engine is instrumented. Everything stays in memory until the run
  * writes its result file.
  *
  * The harness opens and closes the run/pass/query/phase spans on the
  * main thread; listener callbacks arrive on the bus threads and are
  * attributed to the query that is open. [[endQuery]] drains the bus
  * first, so no event of a query lands on the next one. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val openSpans = mutable.Map[Int, (Int, String, Int, Double)]()
  private var nextId = 0
  private var query = -1
  private var phase = -1
  private var inBuild = false
  private var counters = mutable.Map[String, Double]()
  private val jobs = mutable.Map[Int, (Int, Int, Double)]() // jobId -> (span, parent, start)
  private val stageJob = mutable.Map[Int, Int]()
  private val streamState = mutable.Map[java.util.UUID, (Double, Double)]()

  private def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v

  def spans: Seq[Span] = synchronized(spanBuf.toSeq)

  def open(name: String, parent: Int, start: Double): Int = synchronized {
    val id = nextId
    nextId += 1
    val q = if (name == "query") id else query
    openSpans(id) = (parent, name, q, start)
    id
  }

  def close(id: Int, end: Double): Unit = synchronized {
    val (parent, name, q, start) = openSpans.remove(id).get
    spanBuf += Span(id, parent, name, q, start, end)
  }

  def startQuery(id: Int): Unit = synchronized { query = id; counters = mutable.Map() }
  def startPhase(id: Int, build: Boolean): Unit = synchronized { phase = id; inBuild = build }

  /** Waits for the query's listener events, samples the Spark storage
    * (the memo layer's persisted relations, before they are cleared)
    * and returns the query's counters. */
  def endQuery(): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val cached = sc.getRDDStorageInfo
    synchronized {
      add("memo.relations", cached.length.toDouble)
      add("memo.cached_mb", cached.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      streamState.values.foreach { case (rows, bytes) =>
        add("stream.state_rows", rows)
        add("stream.state_mb", bytes / 1048576.0)
      }
      streamState.clear()
      val out = counters.toMap
      query = -1
      phase = -1
      out
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (query >= 0) {
        val id = nextId
        nextId += 1
        jobs(e.jobId) = (id, phase, e.time.toDouble)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
        add("exec.jobs", 1)
        if (inBuild) add("entry.build_jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach { case (id, parent, start) =>
        spanBuf += Span(id, parent, "job", query, start, e.time.toDouble)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      if (query >= 0) {
        add("exec.stages", 1)
        val parent = stageJob.get(info.stageId).flatMap(jobs.get).map(_._1).getOrElse(phase)
        val end = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble
        val start = info.submissionTime.map(_.toDouble).getOrElse(end)
        spanBuf += Span(nextId, parent, "stage", query, start, end)
        nextId += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (query >= 0) {
        add("exec.tasks", 1)
        if (e.reason != Success) add("exec.task_retries", 1)
        val m = e.taskMetrics
        if (m != null) {
          val wall = e.taskInfo.duration
          add("exec.run_s", m.executorRunTime / 1e3)
          add("exec.cpu_s", m.executorCpuTime / 1e9)
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.sched_s",
            math.max(0L, wall - m.executorRunTime - m.resultSerializationTime) / 1e3)
          add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
          add("scan.rows", m.inputMetrics.recordsRead.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add("spill.bytes", m.diskBytesSpilled.toDouble)
          add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
          add("sink.rows", m.outputMetrics.recordsWritten.toDouble)
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      if (query >= 0) qe.tracker.phases.foreach { case (name, p) =>
        add(s"catalyst.${name}_s", p.durationMs / 1e3)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (query >= 0) {
          val p = e.progress
          def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          add("stream.batches", 1)
          add("stream.input_rows", p.numInputRows.toDouble)
          add("stream.trigger_s", ms("triggerExecution") / 1e3)
          add("stream.commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
          streamState(p.runId) = (
            p.stateOperators.map(_.numRowsTotal.toDouble).sum,
            p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
        }
      }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
