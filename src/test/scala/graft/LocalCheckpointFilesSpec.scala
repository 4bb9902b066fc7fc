package graft

import graft.streaming.{EventStreams, LocalCheckpointFiles}
import graft.streaming.EventStreams.Event
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The NIO checkpoint file manager: the `CheckpointFileManager`
  * contract on `file:` paths, Spark's manager for other schemes, and a
  * replay that stops and resumes on its checkpoint. */
class LocalCheckpointFilesSpec extends SparkSpecBase {

  private def manager(dir: String): CheckpointFileManager =
    new LocalCheckpointFiles(new Path(dir), new Configuration())

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Every name in `dir`, hidden ones included. */
  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).fold(Set.empty[String])(_.toSet)

  /** Every file name under `dir`, at any depth. */
  private def allNames(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
  }

  test("atomic overwrite replaces the bytes and leaves no temp file") {
    withTempDir("graft_lcf_") { dir =>
      val m = manager(dir)
      val p = new Path(s"file:$dir/state/1.delta")
      write(m, p, "old", overwrite = true)
      write(m, p, "new", overwrite = true)
      assert(read(m, p) == "new")
      assert(names(s"$dir/state") == Set("1.delta"))
    }
  }

  test("no-overwrite onto an existing file throws Hadoop's FileAlreadyExistsException, old bytes kept") {
    withTempDir("graft_lcf_") { dir =>
      val m = manager(dir)
      val p = new Path(s"$dir/offsets/0")
      write(m, p, "first", overwrite = false)
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("second".getBytes("UTF-8"))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel()
      assert(read(m, p) == "first")
      assert(names(s"$dir/offsets") == Set("0"))
    }
  }

  test("cancel leaves neither the target nor the temp file") {
    withTempDir("graft_lcf_") { dir =>
      val m = manager(dir)
      val p = new Path(s"$dir/commits/0")
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes("UTF-8"))
      val pending = names(s"$dir/commits")
      assert(pending.size == 1 && pending.head.startsWith(".0.") && pending.head.endsWith(".tmp"),
        s"write-in-progress files: $pending")
      out.cancel()
      out.close()
      assert(!m.exists(p))
      assert(names(s"$dir/commits").isEmpty)
    }
  }

  test("open, list, exists, delete and mkdirs round-trip; checksum siblings hidden and dropped") {
    withTempDir("graft_lcf_") { dir =>
      val m = manager(dir)
      val offsets = new Path(s"$dir/offsets")
      m.mkdirs(offsets)
      assert(m.exists(offsets) && m.list(offsets).isEmpty)
      Seq("0", "1").foreach(n => write(m, new Path(offsets, n), s"batch $n", overwrite = false))
      // A sibling Spark's checksummed manager would have left.
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/offsets/.0.crc"), Array[Byte](1, 2))
      assert(m.list(offsets).map(_.getPath.getName).toSet == Set("0", "1"))
      val onlyOne: PathFilter = _.getName == "1"
      assert(m.list(offsets, onlyOne).map(_.getPath.getName).toSeq == Seq("1"))
      assert(read(m, new Path(offsets, "1")) == "batch 1")
      m.delete(new Path(offsets, "0"))
      m.delete(new Path(offsets, "missing"))
      assert(!m.exists(new Path(offsets, "0")))
      assert(names(s"$dir/offsets") == Set("1"))
      assert(m.isLocal)
      val root = new LocalCheckpointFiles(new Path(s"$dir/root"), new Configuration())
        .createCheckpointDirectory()
      assert(root.toUri.getScheme == "file" && new java.io.File(s"$dir/root").isDirectory)
    }
  }

  test("a non-file path reaches Spark's manager") {
    withTempDir("graft_lcf_") { dir =>
      // A viewfs mount onto the local directory: a non-`file` scheme
      // that resolves without a cluster.
      val conf = new Configuration()
      conf.set("fs.viewfs.mounttable.graft.link./ckpt", s"file://$dir")
      val m = new LocalCheckpointFiles(new Path("viewfs://graft/ckpt"), conf)
      assert(m.files.isInstanceOf[FileContextBasedCheckpointFileManager])
      assert(!manager(dir).asInstanceOf[LocalCheckpointFiles].files
        .isInstanceOf[FileContextBasedCheckpointFileManager])
      val p = new Path("viewfs://graft/ckpt/0")
      write(m, p, "via FileContext", overwrite = false)
      assert(read(m, p) == "via FileContext")
      assert(names(dir).contains("0"))
    }
  }

  private val funnelSfDir = s"${new java.io.File(sfDir).getParent}/sf0.01"

  /** The capped funnel replay in two runs over one explicit checkpoint:
    * the first takes batch 1 and stops, the second restarts from the
    * checkpoint under [[EventStreams.startReplay]] and takes batch 2.
    * `firstStart` starts the first run; `betweenRuns` runs after it
    * stops. Returns the funnel report over both runs' Update rows. */
  private def restartedFunnel(ckpt: String, betweenRuns: => Unit = ())(
      firstStart: (=> StreamingQuery) => StreamingQuery): Seq[(String, Long)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (b1, b2) = EventStreams.cappedHalves(spark, funnelSfDir)
    val input = MemoryStream[Event]
    val plan = EventStreams.funnelProgress(input.toDS()).toDF()
    // foreachBatch, not the memory sink: an Update-mode memory sink
    // refuses to recover from a checkpoint.
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    def run(batch: Seq[Event])(start: (=> StreamingQuery) => StreamingQuery): Long = {
      val q = start(plan.writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (rows: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          rows.collect().foreach(emitted.add)
        }.start())
      try { input.addData(batch); q.processAllAvailable() } finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    run(b1.toSeq)(firstStart)
    betweenRuns
    val resumedInput = run(b2.toSeq)(EventStreams.startReplay(spark, capped = true)(_))
    assert(resumedInput == b2.length, "the restarted run re-read batch 1")
    val settled = spark.createDataFrame(new java.util.ArrayList(emitted), plan.schema)
    EventStreams.funnelReport(settled).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  private val funnelAtSf001 = Seq("1_view" -> 111L, "2_click" -> 64L, "3_purchase" -> 35L)

  test("a capped funnel replay stopped after batch 1 resumes from its checkpoint: 111/64/35") {
    withTempDir("graft_lcf_ckpt_") { dir =>
      val ckpt = s"$dir/ckpt"
      val report = restartedFunnel(ckpt)(EventStreams.startReplay(spark, capped = true)(_))
      assert(report == funnelAtSf001)
      // Hadoop's hidden `.<name>.crc` siblings would show a FileContext
      // write (`<name>.crc` is Spark's own state-file checksum).
      val written = allNames(ckpt)
      assert(written.contains("1") && !written.exists(n => n.startsWith(".") && n.endsWith(".crc")),
        s"checkpoint files: $written")
    }
  }

  test("a checkpoint begun under Spark's default manager, .crc files and all, resumes under the NIO one") {
    withTempDir("graft_lcf_ckpt_") { dir =>
      val ckpt = s"$dir/ckpt"
      var crcAfterFirst = Seq.empty[String]
      val report = restartedFunnel(ckpt,
        { crcAfterFirst = allNames(ckpt).filter(_.endsWith(".crc")) })(start => start)
      assert(crcAfterFirst.contains(".0.crc"), s"first run's checksum files: $crcAfterFirst")
      assert(report == funnelAtSf001)
      assert(!names(s"$ckpt/offsets").contains(".1.crc"))
    }
  }
}
