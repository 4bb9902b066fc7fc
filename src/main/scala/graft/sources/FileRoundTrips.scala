package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side MapReduce analogues surfaced as oracle-checked queries
  * (SURVEY §2.1 #14/#17): each writes through the real sink, reads
  * its own output back, and aggregates — a hash match against the
  * source-table oracle proves the sink+source preserved every row.
  *
  * Reference contracts: `lib/output/MultipleOutputs.java` (named
  * outputs with distinct schemas from one job) and SequenceFile/
  * compressed output (columnar zstd parquet is the successor).
  * Outputs land under java.io.tmpdir, keyed by the sf dir name so
  * concurrent scale factors don't collide.
  */
object FileRoundTrips {

  private val rtRoot = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_rt")

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  // Pid keying prevents concurrent-run clobbering, but nothing else
  // ever deletes the trees — repeated bench/verify rounds would
  // accumulate parquet in tmp forever. Own pid dir goes on JVM exit;
  // stale dirs whose process died without the hook go at class load.
  private lazy val pidDir: java.io.File = {
    val pid = ProcessHandle.current().pid()
    Option(rtRoot.listFiles()).foreach(_.foreach { d =>
      val stale = d.getName.startsWith("p") &&
        d.getName.drop(1).toLongOption.exists(p =>
          p != pid && !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
      if (stale) deleteRecursively(d)
    })
    val own = new java.io.File(rtRoot, s"p$pid")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(own)))
    own
  }

  private[graft] def scratch(kind: String, dir: String): String = {
    val sf = new java.io.File(dir).getName
    // Keyed by pid as well as sf: two concurrent runs on the same
    // scale factor (Verify + Bench, or two checkouts) must not
    // overwrite each other's parquet mid-read.
    s"$pidDir/${kind}_$sf"
  }

  private val freshSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[scratch]] with a process-unique sequence number in the path:
    * for build-once artifacts memoized per session (streaming scratch
    * copies, IVF indexes, dedup tier indexes), every memo MISS must
    * write a FRESH directory so a second live session in this JVM can
    * never re-write a directory the first is still reading, and a
    * GC'd-session memo-key collision at worst HITS a complete
    * deterministic copy — it can never race a rewrite. One helper so
    * the race rule lives in one place. */
  private[graft] def freshScratch(kind: String, dir: String): String =
    scratch(s"${kind}_s${freshSeq.incrementAndGet()}", dir)

  /** #17 Compressed columnar round-trip: zstd parquet write → read →
    * aggregate. The parquet files ARE the check — corrupt encoding,
    * dropped rows, or lossy values would break the oracle hash. */
  def columnarRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("zstd", dir)
    // Profiled (round 5): write_zstd ~0.3 s + read_agg ~0.23 s; the
    // round-over-round delta vs r3 is tmpfs/load variance, not a code
    // path (a spread before the write was tried and LOST — the
    // shuffle + many tiny files cost more than parallel zstd saves at
    // this row count; at production scale the scan side is already
    // parallel so no repartition is wanted either).
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** #17b ORC round-trip, zlib-compressed: the OTHER Hadoop-native
    * columnar successor (Hive's default; `orc-mapreduce` ships in the
    * reference tree alongside SequenceFile). Same proof shape as
    * [[columnarRoundTrip]] — write through the real sink, read back,
    * aggregate; the oracle hash vs the source table catches corrupt
    * encoding, dropped rows, or lossy values. Exercises the `part`
    * table (no other round-trip covers it) and a second codec family
    * (zlib vs parquet's zstd). */
  def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("orc", dir)
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite").option("compression", "zlib").orc(out)
    s.read.orc(out)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice")), 2).as("sum_retail"))
  }

  /** #15/#16 Text source round-trip (TextInputFormat/TextOutputFormat
    * + the CombineFile small-files scenario): documents go out as
    * `id \t text` LINES across 16 deliberately small text files (the
    * many-small-map-inputs layout CombineFileInputFormat exists for),
    * come back through the text source — which packs small files
    * into splits by maxPartitionBytes/openCostInBytes, Spark's
    * CombineFile analogue (split-count behavior spec'd in
    * WriteSkewSpec) — and are parsed and aggregated. The oracle hash
    * vs the source table proves line framing, UTF-8, and the k\tv
    * parse survived the round trip. */
  def textRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("text", dir)
    Tables.documents(s, dir)
      .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
      .repartition(16)
      .write.mode("overwrite").text(out)
    textSummary(s, out)
  }

  /** Shared read side of the text round-trips: k\tv parse + summary
    * aggregate (the hash-checked proof that framing/UTF-8/parse
    * survived the trip). */
  private def textSummary(s: SparkSession, out: String): DataFrame =
    s.read.text(out)
      .select(split(col("value"), "\t", 2).as("kv"))
      .select(col("kv").getItem(0).cast("long").as("doc_id"),
        col("kv").getItem(1).as("text"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))

  /** #16c/#17 Compressed TEXT round-trip (TextOutputFormat's codec
    * contract — `mapreduce.output.fileoutputformat.compress.codec`,
    * GzipCodec being the Hadoop default): the same `id \t text` lines
    * written gzip-compressed, read back through the text source, same
    * oracle hash as [[textRoundTrip]]. Gzip is NON-SPLITTABLE — each
    * .gz file is consumed whole by one task regardless of split
    * tuning, so at scale the FILE COUNT is the read-parallelism knob
    * (why Hadoop pipelines write many medium gz files, or a
    * splittable codec, never one giant archive). WriteSkewSpec
    * asserts that seam: partitions == files even under a tiny
    * maxPartitionBytes that fractures the plain-text layout. */
  def gzipTextRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("gztext", dir)
    Tables.documents(s, dir)
      .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
      .repartition(4)
      .write.mode("overwrite").option("compression", "gzip").text(out)
    textSummary(s, out)
  }

  /** #17c The reference's OWN container: a real Hadoop SequenceFile
    * round-trip (`SequenceFileOutputFormat`/`SequenceFileInputFormat`
    * — the canonical MapReduce intermediate format), gzip-compressed
    * records. Docs go out as (LongWritable, Text) key/value records
    * via `saveAsSequenceFile` and come back through
    * `sc.sequenceFile`, then the same summary aggregate the text
    * trips hash-check. This is the one deliberate RDD seam in the
    * sources tier — SequenceFile is a K/V record container with no
    * DataFrame reader, and the RDD here is a thin I/O adapter: all
    * query logic stays in the DataFrame tail. */
  def sequenceFileRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("seqfile", dir)
    deleteRecursively(new java.io.File(out))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).rdd
      .map(r => (r.getLong(0), r.getString(1)))
      .saveAsSequenceFile(out,
        Some(classOf[org.apache.hadoop.io.compress.GzipCodec]))
    import s.implicits._
    s.sparkContext.sequenceFile[Long, String](out)
      .toDF("doc_id", "text")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** #17d Avro container-file round-trip through the REFERENCE's own
    * MapReduce Avro surface (`avro-mapred`'s `AvroKeyOutputFormat` /
    * `AvroKeyInputFormat` + `AvroJob` schema wiring — the classes a
    * Hadoop job uses for `examples`-style Avro I/O; the jar ships
    * with the Spark image). Docs go out as GenericRecord
    * (doc_id long, text string) in a deflate-compressed Avro object
    * container, come back through `newAPIHadoopFile`, and the same
    * summary aggregate the other container trips use hash-checks the
    * round-trip. Same deliberate-RDD-seam rule as the SequenceFile
    * trip: Avro K/V container I/O has no bundled DataFrame reader
    * here, so the RDD is a thin adapter — records are unwrapped to
    * primitives INSIDE the reading map (the record reader reuses its
    * datum; nothing Avro-typed survives past the seam or rides a
    * shuffle) and all query logic stays in the DataFrame tail. The
    * schema crosses to executors as its canonical JSON string
    * (parsed once per partition), never as a serialized object. */
  def avroRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    val out = scratch("avro", dir)
    deleteRecursively(new java.io.File(out))
    val schemaJson =
      """{"type":"record","name":"doc","fields":[
        |{"name":"doc_id","type":"long"},{"name":"text","type":"string"}]}"""
        .stripMargin.replace("\n", "")
    val job = org.apache.hadoop.mapreduce.Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(schemaJson))
    job.getConfiguration.set("mapreduce.output.fileoutputformat.compress", "true")
    job.getConfiguration.set("avro.output.codec", "deflate")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).rdd
      .mapPartitions { it =>
        val schema = new Schema.Parser().parse(schemaJson)
        it.map { r =>
          val rec: GenericRecord = new GenericData.Record(schema)
          rec.put("doc_id", r.getLong(0))
          rec.put("text", r.getString(1))
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }
      .saveAsNewAPIHadoopFile(out, classOf[AvroKey[GenericRecord]],
        classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
        job.getConfiguration)
    import s.implicits._
    s.sparkContext.newAPIHadoopFile(out,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable])
      .map { case (k, _) =>
        val rec = k.datum()
        (rec.get("doc_id").asInstanceOf[Long], rec.get("text").toString)
      }
      .toDF("doc_id", "text")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** #14 Named MultipleOutputs round-trip: ONE persisted pass over
    * orders fans out into two differently-schema'd named outputs
    * (MultipleOutputs.write(name, ...) analogue); both are read back
    * and summarized per output name. */
  def namedOutputsRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val base = scratch("named", dir)
    val src = Tables.orders(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      src.filter(col("o_totalprice") > 200000)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/big")
      src.filter(col("o_totalprice") <= 200000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/small")
      def summary(name: String): DataFrame =
        s.read.parquet(s"$base/$name")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(name).as("output_name"), col("n_rows"), col("sum_price"))
      summary("big").unionByName(summary("small"))
    } finally { src.unpersist(); () }
  }

  /** #16b CSV source/sink round-trip (the TextInputFormat sibling
    * every export pipeline still speaks): documents written as
    * header'd CSV with explicit no-trim options (Spark's WRITE-side
    * `ignoreLeadingWhiteSpace` default silently trims payload!) and
    * read back under an explicit schema — no inference pass, which at
    * 100 TB would be a full extra scan. The corpus has no newlines,
    * so the read stays splittable; newline-bearing text would need
    * `multiLine=true`, which (like gzip) forfeits intra-file split
    * parallelism — the spec's hostile-string cases stop at quotes,
    * commas, and edge whitespace for exactly that reason. */
  def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("csvrt", dir)
    csvRoundTripOf(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), out)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        count_distinct(md5(col("text"))).as("n_uniq"))
  }

  /** Write → read-back core (exact row fidelity is the spec's job;
    * the query hashes an aggregate of it against the parquet oracle). */
  private[graft] def csvRoundTripOf(df: DataFrame, out: String): DataFrame = {
    val opts = Map(
      "header" -> "true",
      "ignoreLeadingWhiteSpace" -> "false",
      "ignoreTrailingWhiteSpace" -> "false")
    df.write.mode("overwrite").options(opts).csv(out)
    df.sparkSession.read.options(opts)
      .schema("doc_id BIGINT, text STRING")
      .csv(out)
  }

  private val partEventsDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Hive-style PARTITIONED copy of events (partition column =
    * event_type), built once per (session, sf) into a fresh scratch
    * dir — the on-disk layout a 100 TB event store actually uses
    * (the reference's multi-dir `MultipleOutputs`/custom
    * `OutputFormat` partition trees, formalized). Partition values
    * become directories, so a reader's partition-column predicate
    * prunes whole directories at FILE LISTING time — zero bytes of
    * excluded partitions are read, the single highest-leverage scan
    * optimization at 100 TB. */
  private[graft] def partitionedEventsDir(s: SparkSession, dir: String): String =
    graft.operators.Dedup.dirMemo(partEventsDirs,
      s"partevents|${System.identityHashCode(s)}|$dir") {
        import s.implicits._
        val out = freshScratch("partevents", dir)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(s"$out/fact")
        // The event-type tier dimension is file-based on purpose: a
        // LocalRelation dim constant-folds its filter away before the
        // DPP rule looks for a selective predicate, and real star
        // schemas read their dims from storage anyway.
        Seq(("click", "hot"), ("purchase", "hot"), ("view", "cold"),
            ("signup", "cold"), ("error", "cold"))
          .toDF("event_type", "tier")
          .write.mode("overwrite").parquet(s"$out/dim")
        out
      }

  /** #15b Dynamic partition pruning: join the partitioned fact copy
    * to a FILTERED dimension on the partition column. Catalyst plants
    * a `dynamicpruningexpression` in the fact scan's
    * PartitionFilters — the dim-side filter result (reused from the
    * join's broadcast) prunes fact partitions at RUNTIME, before any
    * fact bytes are read. This is the star-schema scan killer at
    * 100 TB: the static twin (literal predicate pruning at plan
    * time) and this dynamic face are both spec-asserted on the
    * physical plan. Oracle: the same join over the unpartitioned
    * events table. */
  def partitionPruneJoin(s: SparkSession, dir: String): DataFrame = {
    val root = partitionedEventsDir(s, dir)
    val fact = s.read.parquet(s"$root/fact")
    val dim = s.read.parquet(s"$root/dim")
    fact.join(broadcast(dim.filter(col("tier") === "hot")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  private val bucketedNames =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Bucketed orders+lineitem catalog tables (8 buckets on the join
    * key, parquet, in-session catalog), built once per (session, sf).
    * Bucketing is the "repartition once, join many" contract: every
    * subsequent join or aggregation keyed on the bucket column reads
    * co-located buckets and plans NO exchange — at 100 TB this
    * converts the recurring orderkey shuffle (the one fact-fact
    * exchange in the Q3/Q5 plans) into a one-time write-side cost.
    * Table names carry a process-unique sequence so a second live
    * session can never overwrite tables the first is reading, and the
    * table DATA lives at explicit pid-scoped scratch paths (external
    * tables), not the shared spark-warehouse dir — a managed-table
    * location would outlive its in-memory catalog entry and collide
    * with the next JVM's name sequence (the pid sweep reclaims the
    * scratch; nothing reclaims spark-warehouse). Known dirMemo-race
    * residue (r18 advice): if two threads double-build, the loser's
    * two catalog ENTRIES stay registered for the session — harmless
    * (unique names, external data scratch-reaped, in-memory catalog
    * dies with the JVM) but not "only orphaned scratch". */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    graft.operators.Dedup.dirMemo(bucketedNames,
      s"bucketed|${System.identityHashCode(s)}|$dir") {
        val n = freshSeq.incrementAndGet()
        val pid = ProcessHandle.current().pid()
        val (ot, lt) = (s"graft_bkt_orders_p${pid}_$n", s"graft_bkt_lineitem_p${pid}_$n")
        val root = freshScratch("bktTables", dir)
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .write.mode("overwrite").format("parquet")
          .option("path", s"$root/orders")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .write.mode("overwrite").format("parquet")
          .option("path", s"$root/lineitem")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
        (ot, lt)
      }

  /** #15c Bucketed co-located join: the lineitem↔orders join over the
    * bucketed tables — with broadcast disabled the sort-merge join
    * consumes both sides' bucket layout directly (zero join-side
    * exchanges, spec-asserted); the only shuffle in the plan is the
    * final small aggregation on a different key. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = bucketedTables(s, dir)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** Compaction target file size. Real deployments use 128 MB–1 GB;
    * the test corpus is ~100 KB of selected columns, so the constant
    * is sized to still yield >1 output file — the size-driven split
    * math is what's under test, not the constant. */
  val CompactTargetBytes: Long = 64L * 1024

  /** How fragmented the "before" layout is. 64 writers over ~60 K
    * rows ≈ 1 K rows/file — the classic streaming-ingest debris a
    * nightly compaction job exists to clean up. */
  val CompactFragments = 64

  /** #14b Small-file compaction — the table-maintenance operator
    * every long-lived ingest pipeline runs. Reference analogue: the
    * `CombineFileInputFormat` problem attacked at the SOURCE — where
    * CombineFile packs small files into splits at READ time (paying
    * the listing + open cost on every job forever), compaction
    * rewrites them ONCE into target-size files and every later scan
    * is cheap. At 100 TB the read side lists millions of files per
    * query without this; it is the single most common operational
    * job on a large lake.
    *
    * Shape: a deliberately fragmented copy ([[CompactFragments]]
    * tiny files) is rewritten with a partition count computed from
    * the ACTUAL listed bytes / [[CompactTargetBytes]] — not a guess —
    * via `repartitionByRange` on the natural sort key, so the
    * compacted files are also range-clustered: each file covers a
    * narrow l_orderkey span, and parquet min/max footer stats prune
    * key-range scans to one file (spec-asserted). The read-back
    * aggregation closes the loop: the oracle hash against the source
    * table proves the rewrite lost/duplicated nothing. */
  private val fragDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The deliberately fragmented "before" layout, written ONCE per
    * process ([[freshScratch]] dirs-map — the orderedCopies /
    * ivfIndexDir contract): the debris is harness scaffolding
    * standing in for a pre-existing ingest mess (production
    * compaction reads an EXISTING fragmented table), so the bench
    * measures the COMPACTION, not the debris synthesis. Content is
    * deterministic, so a memo hit from any live session reads a
    * complete identical copy. */
  private[graft] def compactFragDir(s: SparkSession, dir: String): String =
    graft.operators.Dedup.dirMemo(fragDirs, s"frag|$dir") {
      val d = freshScratch("frag", dir)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
        .repartition(CompactFragments)
        .write.mode("overwrite").parquet(d)
      d
    }

  def compactionRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val fragDir = compactFragDir(s, dir)
    val outDir = scratch("compact", dir)
    val parts = compactedPartitionCount(fragDir)
    s.read.parquet(fragDir)
      .repartitionByRange(parts, col("l_orderkey"))
      .write.mode("overwrite").parquet(outDir)
    s.read.parquet(outDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count_distinct(col("l_orderkey")).as("n_orders"))
  }

  /** Size-driven output partition count: ceil(listed bytes / target).
    * Local-FS listing matches the scratch layout; a deployment swaps
    * in the Hadoop FileSystem listing with the same arithmetic. */
  private[graft] def compactedPartitionCount(fragDir: String): Int = {
    val bytes = Option(new java.io.File(fragDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    math.max(1, math.ceil(bytes.toDouble / CompactTargetBytes).toInt)
  }

  /** #16c Parquet SCHEMA EVOLUTION read: history written under an old
    * schema + new batches under a widened one, read as ONE table via
    * `mergeSchema` — old rows come back NULL in the added column, no
    * history rewrite. The operational contract every long-lived table
    * depends on (the reference-era equivalent was Writable versioning
    * inside SequenceFiles — readFields tolerating old layouts; the
    * columnar successor does it structurally). Schema merging is a
    * footer-only operation — at 100 TB the read cost is unchanged,
    * and production fixes the merged schema in the metastore instead
    * of re-inferring per query (`mergeSchema` here stands in for that
    * declaration). The read-back splits counts by column presence, so
    * the oracle checks both the union schema and the NULL backfill. */
  def schemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("evolve", dir)
    val orders = Tables.orders(s, dir)
    // History: even keys, original 3-column schema.
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/v1")
    // New batches: odd keys, schema widened by o_orderpriority.
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/v2")
    s.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_orderpriority")).as("n_evolved"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** Z-curve resolution: [[ZBits]] bits per dimension (256 buckets),
    * interleaved into a 2·ZBits-bit curve key. */
  val ZBits = 8

  /** Z-ordered output file count. */
  val ZFiles = 16

  /** #15d Z-ORDER layout — the third physical-layout strategy next to
    * hive partitioning (#15b) and bucketing (#15c), for the case
    * neither handles: selective predicates on TWO independent columns.
    * A partition tree serves one column; a linear sort serves one
    * column; a bit-interleaved space-filling curve bounds BOTH — each
    * output file covers a small rectangle of (partkey, suppkey) space,
    * so parquet min/max footer stats prune scans for EITHER predicate
    * (the Delta/Iceberg OPTIMIZE ZORDER idea, built from public
    * first principles on the plain parquet sink).
    *
    * Shape: min/max of both columns (one broadcast row) normalize
    * each to [[ZBits]]-bit bucket ids; the curve key interleaves the
    * bits (codegen'd shift/mask fold — no UDF); `repartitionByRange`
    * + `sortWithinPartitions` on the key cluster the write. The
    * read-back runs a 2-D box predicate and aggregates — oracle-hashed
    * against the same box on the source table, proving the rewrite
    * preserved content. The layout payoff (per-file spans of BOTH
    * columns narrow vs a linear sort, where the secondary column
    * spans ~full range in every file) is spec-asserted
    * quantitatively. */
  def zorderRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("zorder", dir)
    val src = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val mm = src.agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
    def bucket(x: org.apache.spark.sql.Column,
        lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column) =
      ((x - lo).cast("bigint") * (1 << ZBits) / (hi - lo + 1)).cast("int")
    val bx = bucket(col("l_partkey"), col("pmin"), col("pmax"))
    val by = bucket(col("l_suppkey"), col("smin"), col("smax"))
    val z = (0 until ZBits).foldLeft(lit(0)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(bx, i).bitwiseAND(lit(1)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(by, i).bitwiseAND(lit(1)), 2 * i))
    }
    src.crossJoin(broadcast(mm))
      .withColumn("z", z)
      .repartitionByRange(ZFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .write.mode("overwrite").parquet(out)
    // 2-D box predicate over the z-ordered copy: bottom-quarter of
    // each dimension (integer-div bounds mirror the oracle's `//`).
    s.read.parquet(out)
      .crossJoin(broadcast(mm))
      .where(col("l_partkey") <= expr("pmax div 4") &&
        col("l_suppkey") <= expr("smax div 4"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
  }

  /** Atomically publish snapshot `v` as the table's current version:
    * write the pointer to a temp file in the SAME directory, then
    * rename over `_CURRENT` — a same-directory rename is atomic on
    * POSIX (and a single-object PUT on object stores), so a reader
    * resolving the pointer sees the old version or the new one,
    * never a torn write. */
  private[graft] def commitSnapshot(root: String, v: Int): Unit = {
    val tmp = new java.io.File(root,
      s"_CURRENT.tmp${ProcessHandle.current().pid()}")
    val p = java.nio.file.Files.write(tmp.toPath,
      v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(p, new java.io.File(root, "_CURRENT").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def currentSnapshot(root: String): Int =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "_CURRENT").toPath), "UTF-8").trim.toInt

  /** Read snapshot `v` of a versioned table (time travel). */
  private[graft] def readSnapshot(s: SparkSession, root: String, v: Int): DataFrame =
    s.read.schema("doc_id BIGINT, n_chars INT, source STRING")
      .parquet(s"$root/snap_$v")

  /** #15e Versioned table layout — snapshot isolation + time travel
    * on plain parquet, the mechanism (not the jar) behind
    * Iceberg/Delta: each write lands in an immutable `snap_N`
    * directory and becomes visible ONLY when the `_CURRENT` pointer
    * atomically swaps to it (temp-file + same-dir rename). Readers
    * resolve the pointer once and then scan an immutable directory,
    * so an in-flight writer can never tear a read; an uncommitted
    * snapshot (crashed writer) is invisible forever; and any
    * committed version remains readable by number — time travel.
    * This is the reader-isolation upgrade the
    * [[graft.streaming.EventStreams.windowedCountsParquetSink]]
    * scaladoc defers to ("writes each batch to a temp dir and
    * renames"): overwrite-in-place is replaced by publish-by-pointer.
    * Reference analogue: `FileOutputCommitter`'s temp-dir + rename
    * commit protocol, promoted from per-job output to whole-table
    * versions.
    *
    * The registered query commits v1 (full corpus), commits v2 (a
    * retention delete), writes an ORPHAN v3 without committing, then
    * reports the rollup of the CURRENT read next to the time-travel
    * v1 read — the oracle recomputes both from the base table, so
    * pointer resolution, snapshot immutability, and orphan
    * invisibility are all value-checked. */
  def versionedRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val root = freshScratch("versioned", dir)
    new java.io.File(root).mkdirs()
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"), col("source"))
    docs.write.mode("overwrite").parquet(s"$root/snap_1")
    commitSnapshot(root, 1)
    // v2: retention delete — drop every third doc
    docs.filter(col("doc_id") % 3 =!= 0)
      .write.mode("overwrite").parquet(s"$root/snap_2")
    commitSnapshot(root, 2)
    // v3 written but NEVER committed: a crashed writer's debris,
    // invisible to every pointer-resolving reader.
    docs.filter(col("doc_id") === 0)
      .write.mode("overwrite").parquet(s"$root/snap_3")
    val cur = currentSnapshot(root)
    def rollup(v: Int) = readSnapshot(s, root, v)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
    rollup(cur).unionAll(rollup(1))
  }

  /** #16d JSON-LINES round-trip — the data-exchange staple format
    * (gzipped jsonl is how corpora actually arrive): write through
    * the real JSON sink with gzip codec, read back with an EXPLICIT
    * schema (no inference job — the production rule; inference
    * re-scans the corpus), aggregate, hash vs the source-table
    * oracle. Jackson emits shortest-round-trip doubles, so
    * o_totalprice survives the text round-trip bit-exactly — which
    * the hash proves rather than assumes. Reference analogue:
    * TextInputFormat + per-line JSON parse in the mapper, the
    * de-facto Hadoop JSON path. */
  def jsonRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("jsonl", dir)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("compression", "gzip").json(out)
    s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** #16e XML round-trip — Spark 4's BUILT-IN XML source (the
    * spark-xml donation), covering the enterprise-exchange format
    * tier next to jsonl/csv/text: write with row/root tags, read
    * back with an explicit schema + the same rowTag, aggregate,
    * hash vs the source table. The 2-decimal c_acctbal sum rounds
    * at 2 (exact by the plain-2-dec-column rule). Reference
    * analogue: StreamXmlRecordReader in Hadoop streaming — the
    * rowTag-scoped record split is the same contract. */
  def xmlRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("xml", dir)
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .write.format("xml").mode("overwrite")
      .option("rootTag", "customers").option("rowTag", "customer")
      .save(out)
    s.read.format("xml")
      .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
      .option("rowTag", "customer")
      .load(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
  }

  /** [[currentSnapshot]] tolerating a table with no committed version
    * yet (a brand-new root before the first pointer swap). */
  private[graft] def currentSnapshotOpt(root: String): Option[Int] = {
    val p = new java.io.File(root, "_CURRENT")
    if (p.isFile) Some(currentSnapshot(root)) else None
  }

  /** VACUUM for the versioned layout (#15g): expire snapshots older
    * than the last `keep` committed versions and GC crashed-writer
    * debris — orphan `snap_N` dirs above `_CURRENT` (written, never
    * committed, invisible to every reader forever) and stray
    * `_CURRENT.tmp*` pointer temps. Commits are sequential, so the
    * committed set is exactly `1..current`; the retain window is
    * `[current-keep+1, current]` and the CURRENT version is never
    * deletable (keep ≥ 1 enforced). Pure driver-side metadata walk —
    * the data files are never read, so vacuum cost is O(#snapshots),
    * not data size; at 100 TB this is the property that matters
    * (Iceberg/Delta VACUUM has the same contract). Returns
    * (expired, orphans, tmps) deletion counts for the spec. */
  private[graft] def vacuumSnapshots(root: String, keep: Int): (Int, Int, Int) = {
    require(keep >= 1, "vacuum must retain at least the current version")
    val cur = currentSnapshot(root)
    val floor = cur - keep + 1
    val files = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
    val snaps = files.filter(f => f.isDirectory && f.getName.startsWith("snap_"))
      .flatMap(f => f.getName.stripPrefix("snap_").toIntOption.map((f, _)))
    val expired = snaps.filter { case (_, v) => v < floor }
    val orphans = snaps.filter { case (_, v) => v > cur }
    val tmps = files.filter(f => f.isFile && f.getName.startsWith("_CURRENT.tmp"))
    (expired ++ orphans).foreach { case (f, _) => deleteRecursively(f) }
    tmps.foreach(_.delete())
    (expired.length, orphans.length, tmps.length)
  }

  /** #15g VACUUM on the versioned layout — the retention half of the
    * table-format story (#15e isolation, #15f mutation, this one
    * cleanup): without expiry every snapshot lives forever and a
    * 100 TB table's history dominates its live data. The registered
    * query commits v1 (full corpus), v2 (retention delete), v3
    * (derived by READING committed v2 — time travel inside the write
    * chain — and re-pricing every row +7 chars), then plants
    * crashed-writer debris (an orphan `snap_5` plus a stray pointer
    * temp) and vacuums with keep=2. Vacuum must remove exactly
    * {snap_1, snap_5, tmp} and leave {v3 current, v2 time-travelable}
    * — the query reports both retained rollups, which the oracle
    * recomputes from the base table, so a vacuum that deleted too
    * much (dangling pointer, missing retained version) or published
    * the wrong current fails the hash. Filesystem mechanics
    * (exact deletion set, idempotence, keep=1 floor) are
    * spec-asserted. Reference analogue: the done-file/_SUCCESS
    * cleanup discipline around FileOutputCommitter output, promoted
    * to whole-table retention. */
  def versionedVacuum(s: SparkSession, dir: String): DataFrame = {
    val root = freshScratch("vervac", dir)
    new java.io.File(root).mkdirs()
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"), col("source"))
    docs.write.mode("overwrite").parquet(s"$root/snap_1")
    commitSnapshot(root, 1)
    docs.filter(col("doc_id") % 3 =!= 0)
      .write.mode("overwrite").parquet(s"$root/snap_2")
    commitSnapshot(root, 2)
    readSnapshot(s, root, 2)
      .withColumn("n_chars", col("n_chars") + 7)
      .write.mode("overwrite").parquet(s"$root/snap_3")
    commitSnapshot(root, 3)
    // crashed-writer debris: orphan snapshot + stray pointer temp
    docs.filter(col("doc_id") === 0)
      .write.mode("overwrite").parquet(s"$root/snap_5")
    java.nio.file.Files.write(
      new java.io.File(root, "_CURRENT.tmp99999").toPath, "9".getBytes("UTF-8"))
    vacuumSnapshots(root, keep = 2)
    def rollup(v: Int) = readSnapshot(s, root, v)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
    rollup(currentSnapshot(root)).unionAll(rollup(2))
  }

  /** #15h CHANGE DATA FEED between snapshots — the inverse of MERGE
    * (#15f applies a change batch; this RECOVERS one): diff two
    * committed versions of a versioned table into tagged
    * insert/update/delete rows, computed purely FROM THE SNAPSHOTS
    * via one doc_id-keyed full-outer join (left-only → delete,
    * right-only → insert, both-and-different → update with the new
    * image; both-and-equal rows vanish — the diff is proportional to
    * real change). This is what downstream incremental consumers
    * subscribe to instead of re-reading 100 TB (the Delta CDF /
    * Iceberg changelog idea on the plain-parquet layout); at scale
    * the join keys on the layout key so only touched files pair.
    * The registered query replays #15f's id-derived merge to build
    * v2, then diffs v1→v2 — so the oracle can state the expected
    * feed from the base table alone, and the round-trip law
    * "diff(v1, merge(v1, batch)) ≡ batch" is what the hash verifies;
    * diff(v, v) ≡ ∅ is spec-pinned. Reference analogue: the
    * before/after file-list diff a done-file-driven nightly chain
    * used to hand the next job. */
  def versionedDiff(s: SparkSession, dir: String): DataFrame = {
    val root = freshScratch("verdiff", dir)
    new java.io.File(root).mkdirs()
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"), col("source"))
    base.write.mode("overwrite").parquet(s"$root/snap_1")
    commitSnapshot(root, 1)
    // v2 = exactly #15f's merge semantics (delete %7, patch %10
    // +1000 chars deletes-win, insert per %13)
    val merged = base.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, col("n_chars") + 1000)
          .otherwise(col("n_chars")).as("n_chars"),
        when(col("doc_id") % 10 === 0, lit("patched"))
          .otherwise(col("source")).as("source"))
      .unionAll(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          (col("doc_id") % 100).cast("int").as("n_chars"), lit("new").as("source")))
    merged.write.mode("overwrite").parquet(s"$root/snap_2")
    commitSnapshot(root, 2)
    diffSnapshots(s, root, 1, 2)
  }

  /** The diff operator itself: change feed from snapshot `v1` to
    * `v2`, computed from the stored snapshots only. */
  private[graft] def diffSnapshots(s: SparkSession, root: String,
      v1: Int, v2: Int): DataFrame = {
    val a = readSnapshot(s, root, v1)
      .select(col("doc_id"), col("n_chars").as("a_chars"),
        col("source").as("a_source"), lit(true).as("in_a"))
    val b = readSnapshot(s, root, v2)
      .select(col("doc_id"), col("n_chars").as("b_chars"),
        col("source").as("b_source"), lit(true).as("in_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("op",
        when(col("in_b").isNull, "delete")
          .when(col("in_a").isNull, "insert")
          // null-safe inequality so a NULL column can never hide a change
          .when(!(col("a_chars") <=> col("b_chars"))
            || !(col("a_source") <=> col("b_source")), "update"))
      .filter(col("op").isNotNull)
      .select(col("op"), col("doc_id"),
        when(col("op") === "delete", col("a_chars")).otherwise(col("b_chars"))
          .as("n_chars"),
        when(col("op") === "delete", col("a_source")).otherwise(col("b_source"))
          .as("source"))
  }

  /** #15i OPTIMIZE (compaction) as a committed version — the fourth
    * member of the table-format story (#15e isolation, #15f
    * mutation, #15g retention, this one layout maintenance): a
    * fragmented current snapshot (32 shards of a dim-sized table —
    * the classic too-many-reducers debris) is rewritten into few
    * large files and published as the NEXT version through the same
    * atomic pointer swap — readers never see a half-compacted
    * directory, and the pre-compaction version stays readable
    * (rollback if the rewrite misbehaved). Content must be
    * UNCHANGED: the query reports both versions' rollups and the
    * oracle states them identically from the base table, so a
    * compaction that dropped or duplicated a row fails the hash;
    * the file-count collapse (≥32 → ≤2) is spec-asserted. Composes
    * #14b's small-file compaction with #15e's commit protocol —
    * the Iceberg/Delta OPTIMIZE contract. Reference analogue: the
    * identity-MR compaction job over yesterday's part files,
    * promoted to a committed version. */
  def versionedOptimize(s: SparkSession, dir: String): DataFrame = {
    val root = freshScratch("veropt", dir)
    new java.io.File(root).mkdirs()
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"), col("source"))
    docs.repartition(32).write.mode("overwrite").parquet(s"$root/snap_1")
    commitSnapshot(root, 1)
    readSnapshot(s, root, 1).coalesce(2)
      .write.mode("overwrite").parquet(s"$root/snap_2")
    commitSnapshot(root, 2)
    def rollup(v: Int) = readSnapshot(s, root, v)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
    rollup(2).unionAll(rollup(1))
  }

  /** #15j DYNAMIC partition overwrite — the INSERT OVERWRITE
    * semantics a partitioned warehouse table needs for idempotent
    * per-partition reloads: with
    * `partitionOverwriteMode=dynamic`, a write that contains only
    * `lang=en` rows replaces ONLY the en partition directory and
    * leaves every other partition untouched (static mode would wipe
    * the whole table first — the failure mode that forced Hive's
    * dynamic-partition INSERT OVERWRITE in the first place, and the
    * reference analogue: MultipleOutputs jobs re-running one day's
    * named output without clobbering the siblings). The query
    * reloads the en partition with a +1-char patched copy and reads
    * the whole table back — the oracle expects OTHER languages at
    * their original values, so a static wipe OR a non-replaced en
    * partition both fail the hash. */
  def dynamicPartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = freshScratch("dynpart", dir)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"), col("lang"))
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = s.conf.getOption(key)
    try {
      s.conf.set(key, "dynamic")
      docs.filter(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") + 1)
        .write.partitionBy("lang").mode("overwrite").parquet(out)
    } finally saved match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.read.schema("doc_id BIGINT, n_chars INT, lang STRING").parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
  }

  /** #15f MERGE INTO on the versioned layout — the CDC/upsert half of
    * the table-format story (#15e supplies isolation; this supplies
    * mutation): a change batch of tagged rows (`delete` / `update` /
    * `insert`) merges into the current snapshot through ONE
    * doc_id-keyed full-outer join — the canonical copy-on-write MERGE
    * shape: matched+delete drops, matched+update takes the change's
    * columns, unmatched-change inserts, unmatched-base carries over —
    * and the result publishes as the NEXT snapshot via the same
    * atomic pointer swap, leaving the old version readable. At
    * 100 TB the join keys on the table's layout key so only touched
    * files rewrite (copy-on-write); the snapshot protocol is
    * unchanged. Reference analogue: the reduce-side "override" join
    * (#6's `ReduceSideJoinOverride`) promoted to a committed table
    * write. Change batch here: delete every 7th doc, patch every
    * 10th (+1000 chars, source `patched`; deletes win on overlap),
    * insert a synthetic doc per 13th — all id-derived so the oracle
    * replays the merge exactly. */
  def versionedMerge(s: SparkSession, dir: String): DataFrame = {
    val root = freshScratch("vermerge", dir)
    new java.io.File(root).mkdirs()
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"), col("source"))
    base.write.mode("overwrite").parquet(s"$root/snap_1")
    commitSnapshot(root, 1)
    val changes =
      base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit("delete").as("op"),
          lit(null).cast("int").as("c_chars"), lit(null).cast("string").as("c_source"))
      .unionAll(base.filter(col("doc_id") % 10 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), lit("update").as("op"),
          (col("n_chars") + 1000).as("c_chars"), lit("patched").as("c_source")))
      .unionAll(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), lit("insert").as("op"),
          (col("doc_id") % 100).cast("int").as("c_chars"), lit("new").as("c_source")))
    val merged = readSnapshot(s, root, currentSnapshot(root))
      .join(changes, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("doc_id"),
        when(col("op").isNotNull, col("c_chars")).otherwise(col("n_chars"))
          .as("n_chars"),
        when(col("op").isNotNull, col("c_source")).otherwise(col("source"))
          .as("source"))
    merged.write.mode("overwrite").parquet(s"$root/snap_2")
    commitSnapshot(root, 2)
    def rollup(v: Int) = readSnapshot(s, root, v)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        count(when(col("source") === "patched", 1)).as("n_patched"),
        count(when(col("source") === "new", 1)).as("n_inserted"))
      .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
        col("n_patched"), col("n_inserted"))
    rollup(currentSnapshot(root)).unionAll(rollup(1))
  }
}
