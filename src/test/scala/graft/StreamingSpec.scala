package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, UserSessions}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSpecBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowedCounts aggregates per hour/type with a watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(20), 2, "click", 2.0),
      Event(3, ts(65), 1, "error", 3.0))
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", "click", 2L),
        ("2024-01-01 01:00:00.0", "error", 1L)))
    } finally q.stop()
  }

  test("versioned sink: multi-batch snapshots, monotone pointer, current = settled state") {
    import graft.sources.FileRoundTrips
    import org.apache.spark.sql.functions._
    withTempDir("graft_versink_") { root =>
      val out = EventStreams.windowedCountsVersionedSinkAt(spark, sfDir, root)
      val snaps = new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("snap_"))
        .map(_.getName.stripPrefix("snap_").toInt).sorted
      // maxFilesPerTrigger=2 over 4 range files ⇒ ≥2 real micro-batches,
      // each published as its own immutable snapshot
      assert(snaps.length >= 2, s"expected >=2 snapshots, got ${snaps.toSeq}")
      // the pointer lands on the LAST batch (monotone swap), with no
      // temp debris left behind
      assert(FileRoundTrips.currentSnapshot(root) == snaps.max)
      assert(!new java.io.File(root).listFiles()
        .exists(_.getName.startsWith("_CURRENT.tmp")))
      // the published current snapshot is the settled Complete state =
      // the batch aggregation over all events
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("window_start").cast("long"), col("event_type"),
          col("n_events"), col("sum_value"))
        .collect().map(_.toSeq).toSet
      val batch = EventStreams.windowedCounts(
        Tables.events(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      assert(key(out) == key(batch))
      // an EARLIER snapshot is still readable (time travel) and holds a
      // subset of the final state's windows — cross-batch growth is real
      val first = spark.read.parquet(s"$root/snap_${snaps.min}")
      assert(first.count() <= out.count())
    }
  }

  test("file-source stream: windowedCounts over readStream parquet equals the batch agg") {
    // The distributed-source path: NO collect() feeds the source (the
    // parquet copy is a distributed write, readStream ingests files
    // one per micro-batch). Settled Complete-mode state must equal
    // the batch events_windowed aggregation exactly.
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.windowedCountsFileStream(spark, sfDir)
      .orderBy(col("window_start"), col("event_type")).collect().toSeq
    val batch = Tables.events(spark, sfDir)
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type")).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("MemoryStream replay and the file source settle to the same windowed state") {
    // Two ingest harnesses, one plan: the one-batch MemoryStream
    // replay and the multi-micro-batch file source must agree row for
    // row (Complete mode keeps window state past the watermark, so
    // batch boundaries cannot change the settled result).
    import org.apache.spark.sql.functions.col
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy(col("window_start"), col("event_type")).collect().toSeq
    assert(key(EventStreams.windowedCountsReplay(spark, sfDir)) ==
      key(EventStreams.windowedCountsFileStream(spark, sfDir)))
  }

  test("MemoryStream replay and the file source settle to the same sliding-window state") {
    // The sliding plan's two ingest harnesses: one-batch MemoryStream
    // replay and the multi-micro-batch file source (the registered
    // streaming_sliding entry) must agree row for row, as above.
    import org.apache.spark.sql.functions.col
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq
    val replay = key(EventStreams.slidingCountsReplay(spark, sfDir))
    assert(replay.nonEmpty)
    assert(replay == key(EventStreams.slidingCountsFileStream(spark, sfDir)))
  }

  test("append-mode file stream: watermark evicts closed windows exactly once and bounds state") {
    // The 100 TB deployment output mode: Append emits a window ONCE,
    // when the watermark passes its end, and drops its state — unlike
    // the Complete-mode oracle harness, which keeps every window
    // resident. Two files with a controlled modification-time order
    // straddle the watermark: file A (hours 0-2), then file B (hour
    // 10) advances the watermark to 08:05, closing A's windows.
    import spark.implicits._
    withTempDir("graft_append_") { root =>
      val srcDir = s"$root/in"
      new java.io.File(srcDir).mkdirs()
      def writeFile(name: String, modTime: Long, rows: Seq[Event]): Unit = {
        val tmp = s"$root/tmp_$name"
        rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        assert(dest.setLastModified(modTime))
      }
      val t0 = System.currentTimeMillis() - 120000
      writeFile("a", t0, Seq(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(10), 2, "click", 2.0),
        Event(3, ts(65), 1, "click", 3.0),
        Event(4, ts(125), 1, "view", 4.0)))
      writeFile("b", t0 + 60000, Seq(Event(5, ts(605), 1, "click", 5.0)))
      val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EventStreams.windowedCounts(stream).writeStream
        .format("memory").queryName("append_evict")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        // Eviction rides the no-data batch AFTER the watermark
        // advances; poll briefly for the settled sink.
        val expected = Set(
          ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
          ("2024-01-01 01:00:00.0", "click", 1L, 3.0),
          ("2024-01-01 02:00:00.0", "view", 1L, 4.0))
        def sink() = spark.table("append_evict").collect()
          .map(r => (r.getTimestamp(0).toString, r.getString(1),
            r.getLong(2), r.getDouble(3)))
        val deadline = System.currentTimeMillis() + 15000
        while (sink().length < expected.size && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        val rows = sink()
        // Emit-once: no (window, type) group appears twice, and the
        // emitted set is exactly the windows the final watermark
        // (10:05 - 2h) closed — hour 10 itself must NOT emit.
        val keys = rows.map(t => (t._1, t._2)).toSeq
        assert(keys.distinct.length == keys.length, s"a window emitted twice: ${rows.toSeq}")
        assert(rows.toSet == expected, s"got ${rows.toSeq}")
        // State bounded by the horizon: only the one un-closed hour-10
        // group may remain in the state store.
        val st = q.lastProgress.stateOperators
        assert(st.nonEmpty)
        assert(st.head.numRowsTotal == 1,
          s"state rows ${st.head.numRowsTotal}, expected 1 (the open window)")
      } finally q.stop()
    }
  }

  test("append-mode eviction boundary: watermark exactly ON a window end closes that window") {
    // Pins the <=/< choice the streaming_windowed_append oracle
    // encodes (`window_end <= max(ts) - 2h` ⇒ emitted): an event at
    // exactly 03:00:00 puts the watermark at exactly 01:00:00 — the
    // end of window [00:00, 01:00). Spark must emit that window (the
    // boundary is inclusive); if a future Spark flipped to strict <,
    // this fails and the oracle's WHERE clause must flip with it.
    import spark.implicits._
    withTempDir("graft_boundary_") { root =>
      val srcDir = s"$root/in"
      new java.io.File(srcDir).mkdirs()
      def writeFile(name: String, modTime: Long, rows: Seq[Event]): Unit = {
        val tmp = s"$root/tmp_$name"
        rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        assert(dest.setLastModified(modTime))
      }
      val t0 = System.currentTimeMillis() - 120000
      writeFile("a", t0, Seq(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(70), 1, "click", 2.0)))
      // max ts = 03:00:00 exactly → watermark = 01:00:00 exactly.
      writeFile("b", t0 + 60000, Seq(Event(3, ts(180), 1, "click", 3.0)))
      val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EventStreams.windowedCounts(stream).writeStream
        .format("memory").queryName("append_boundary")
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        def sink() = spark.table("append_boundary").collect()
          .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        val deadline = System.currentTimeMillis() + 15000
        while (sink().isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        // Exactly the hour-0 window: hour 1 (end 02:00 > watermark)
        // and hour 3 (open) must stay in state.
        assert(sink().toSet == Set(("2024-01-01 00:00:00.0", "click", 1L)),
          s"watermark==window_end eviction surprised us: ${sink().toSeq}")
      } finally q.stop()
    }
  }

  test("session_window: exact-30min gap splits, closed sessions emit once, open tail withheld") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = EventStreams.sessionWindows(input.toDS().toDF())
      .writeStream.format("memory").queryName("sess_win")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 00:00 and 00:29 (gap < 30), then 00:59 —
      // exactly 30:00 after 00:29: Spark's merge is INCLUSIVE at the
      // gap, so all three stay in ONE session (splitting needs
      // gap > 30 min, the same rule the batch query uses). Then 01:45
      // (gap 46 min → genuinely new session). user 2: one event.
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(29), 1, "click", 1.0),
        Event(3, ts(59), 1, "click", 1.0),
        Event(6, ts(105), 1, "click", 1.0),
        Event(4, ts(5), 2, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_win").count() == 0, "nothing may emit before the watermark moves")
      // Far-future event: watermark = 10:00 - 2h = 08:00, closing
      // everything above; its own session stays open.
      input.addData(Event(5, ts(600), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_win").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def ms(minute: Int): Long = ts(minute).getTime
      assert(rows == Set(
        (1L, ms(0), 3L),    // 00:00, 00:29, 00:59 — inclusive merge
        (1L, ms(105), 1L),  // 46-min gap → new session
        (2L, ms(5), 1L)), s"got $rows")
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal == 1,
        s"state rows ${st.head.numRowsTotal}, expected only the open session")
    } finally q.stop()
  }

  test("checkpoint recovery: restarted query resumes from state, does not re-read old input") {
    // The operational half of exactly-once: a windowed-count query
    // runs over file A, stops, RESTARTS from its checkpoint, ingests
    // file B — the settled counts must cover A+B (aggregation state
    // recovered), while the restarted run's input rows must be B only
    // (source offsets recovered; A is never re-read). This is the
    // recovery contract a 100 TB ingest pipeline leans on after every
    // executor loss or planned redeploy.
    import spark.implicits._
    withTempDir("graft_ckpt_") { root =>
      val srcDir = s"$root/in"
      new java.io.File(srcDir).mkdirs()
      val ckpt = s"$root/ckpt"
      def writeFile(name: String, rows: Seq[Event]): Unit = {
        val tmp = s"$root/tmp_$name"
        rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          new java.io.File(srcDir, s"$name.parquet").toPath)
      }
      val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
      def start() = EventStreams.windowedCounts(
          spark.readStream.schema(schema).parquet(srcDir))
        .writeStream.format("memory").queryName("ckpt_q")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt).start()
      writeFile("a", Seq(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(10), 2, "click", 2.0)))
      val q1 = start()
      try {
        q1.processAllAvailable()
        assert(spark.table("ckpt_q").collect()
          .map(r => (r.getString(1), r.getLong(2))).toSet == Set(("click", 2L)))
      } finally q1.stop()
      writeFile("b", Seq(
        Event(3, ts(20), 1, "click", 3.0),
        Event(4, ts(70), 1, "view", 4.0)))
      val q2 = start()
      try {
        q2.processAllAvailable()
        // State recovered: hour-0 click count is 3 (2 from A + 1 from
        // B) even though this run never saw A's rows...
        val rows = spark.table("ckpt_q").collect()
          .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
        assert(rows == Set(
          ("2024-01-01 00:00:00.0", "click", 3L),
          ("2024-01-01 01:00:00.0", "view", 1L)), s"got $rows")
        // ...which the source offsets prove: the restarted run's total
        // input is exactly file B's 2 rows.
        val inputRows = q2.recentProgress.map(_.numInputRows).sum
        assert(inputRows == 2, s"restart re-read old input: $inputRows rows")
      } finally q2.stop()
      spark.catalog.dropTempView("ckpt_q")
    }
  }

  test("stream-stream attribution join: view state held across batches, time bound enforced") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val vIn = MemoryStream[Event]
    val cIn = MemoryStream[Event]
    val q = EventStreams.attributionJoin(vIn.toDS().toDF(), cIn.toDS().toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: two views, no clicks — nothing can emit yet; the
      // views go into join state.
      vIn.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(30), 2, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("attrib").count() == 0)
      // Batch 2: user 1 clicks 45 min after the view (inside the
      // horizon — must match the batch-1 view, proving the state
      // crossed the batch boundary); user 2 "clicks" 25 h after
      // (outside the 24 h bound — must NOT match).
      cIn.addData(Event(3, ts(45), 1, "click", 1.0),
        Event(4, ts(30 + 25 * 60), 2, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSet == Set((1L, 1L, 3L, 45L)), s"got ${rows.toSeq}")
      // The join keeps state on both sides; the out-of-window click
      // also advanced the click watermark past view_ts + 24h for the
      // user-2 view, so state stays bounded by the horizon rather
      // than growing with stream lifetime.
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal <= 4,
        s"state rows ${st.head.numRowsTotal}")
    } finally q.stop()
  }

  test("outer attribution join: cross-batch match, null row only after watermark eviction") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val vIn = MemoryStream[Event]
    val cIn = MemoryStream[Event]
    val q = EventStreams.attributionJoinOuter(vIn.toDS().toDF(), cIn.toDS().toDF())
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: two views, no clicks. Nothing emits — crucially not
      // the null-padded rows either: "no conversion YET" is not a
      // result in outer semantics, only eviction finalizes it.
      vIn.addData(Event(1, ts(0), 1, "view", 1.0), Event(2, ts(30), 2, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("attrib_outer").count() == 0)
      // Batch 2: user 1 converts inside the horizon (must match the
      // batch-1 view); a far-future click (> horizon + delay past
      // both views) drags the click-side watermark far enough that
      // BOTH unmatched windows close.
      cIn.addData(Event(3, ts(45), 1, "click", 1.0),
        Event(4, ts(80 * 60), 9, "click", 1.0))
      q.processAllAvailable()
      // The view watermark must also advance (global wm = min of the
      // two sides) before eviction can emit the user-2 null row.
      vIn.addData(Event(5, ts(80 * 60), 8, "view", 1.0))
      q.processAllAvailable()
      // Eviction emits in the watermark-advancing (possibly no-data)
      // batch AFTER the one that saw the data; poll briefly.
      def rows() = spark.table("attrib_outer").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
      val deadline = System.currentTimeMillis() + 15000
      while (rows().length < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(rows().toSet == Set((1L, 1L, 3L), (2L, 2L, -1L)), s"got ${rows().toSeq}")
    } finally q.stop()
  }

  test("streaming CMS fold: settled multi-batch grid estimates equal the batch sketch exactly") {
    // CMS linearity: cell increments commute, so the grid folded
    // across >= 2 real micro-batches must equal the one-shot batch
    // grid cell-wise — and therefore every point estimate matches.
    val streamed = EventStreams.sketchCmsStreamReplay(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.operators.Aggregators.sketchCms(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    streamed.values.foreach { case (_, _, overshoot) => assert(overshoot >= 0) }
  }

  test("stream-static join: per-batch dim enrichment, stateless join, Complete state = batch result") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dimCustomer = Seq((1L, 10L), (2L, 20L)).toDF("c_custkey", "c_nationkey")
    val dimNation = Seq((10L, "ALPHA"), (20L, "BETA"), (30L, "GAMMA"))
      .toDF("n_nationkey", "n_name")
    val in = MemoryStream[Event]
    val q = EventStreams.enrichedNationRollup(in.toDS().toDF(), dimCustomer, dimNation)
      .writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Complete).start()
    try {
      // Batch 1: one event for each dim user, one with no dim match
      // (inner join drops it).
      in.addData(Event(1, ts(0), 1, "view", 2.0), Event(2, ts(1), 2, "view", 3.0),
        Event(3, ts(2), 99, "view", 5.0))
      q.processAllAvailable()
      val b1 = spark.table("enrich").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(b1 == Set(("ALPHA", "view", 1L, 2.0), ("BETA", "view", 1L, 3.0)))
      // Batch 2: a later event for user 1 must see the SAME static dim
      // (re-joined per micro-batch) and fold into the Complete state.
      in.addData(Event(4, ts(10), 1, "click", 4.0))
      q.processAllAvailable()
      val b2 = spark.table("enrich").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(b2 == Set(("ALPHA", "view", 1L, 2.0), ("BETA", "view", 1L, 3.0),
        ("ALPHA", "click", 1L, 4.0)))
      // The JOIN itself keeps no state — the only stateful operator is
      // the downstream aggregation (3 group rows), not a join buffer
      // scaling with stream lifetime.
      val st = q.lastProgress.stateOperators
      assert(st.length == 1, s"expected only the aggregation state op, got ${st.length}")
      assert(st.head.numRowsTotal == 3, s"state rows ${st.head.numRowsTotal}")
    } finally q.stop()
  }

  test("stateful sessionize counts 30-min-gap sessions per user") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // user 1: two events 10 min apart (1 session), then one 40 min
    // later (2nd session). user 2: single event.
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 1.0),
      Event(3, ts(50), 1, "click", 1.0),
      Event(4, ts(0), 2, "view", 1.0))
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sess").as[UserSessions].collect()
        .map(u => u.user_id -> ((u.n_sessions, u.n_events))).toMap
      assert(rows(1L) == ((2L, 3L)))
      assert(rows(2L) == ((1L, 1L)))
    } finally q.stop()
  }

  test("streaming attribution: cross-batch carry, emit-once, direct purchases") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = EventStreams.attribute(input.toDS())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 views then buys (view credit); user 2 buys
      // cold (direct); user 3 views only (carry must survive)
      input.addData(
        Event(1, ts(0), 1, "view", 1.0),
        Event(2, ts(5), 1, "purchase", 10.0),
        Event(3, ts(0), 2, "purchase", 7.0),
        Event(4, ts(0), 3, "view", 1.0))
      q.processAllAvailable()
      // batch 2: user 3's purchase credits the batch-1 view; user 1
      // buys again — credit is STILL the old view (no touch between)
      input.addData(
        Event(5, ts(60), 3, "purchase", 5.0),
        Event(6, ts(60), 1, "click", 1.0),
        Event(7, ts(65), 1, "purchase", 3.0))
      q.processAllAvailable()
      val rows = spark.table("attr").collect()
        .map(r => (r.getLong(1), (r.getString(2), r.getDouble(3))))
      // emit-once: exactly one row per purchase event
      assert(rows.map(_._1).sorted.toSeq == Seq(2L, 3L, 5L, 7L))
      val byId = rows.toMap
      assert(byId(2L) == (("view", 10.0)))
      assert(byId(3L) == (("(direct)", 7.0)))
      assert(byId(5L) == (("view", 5.0)), "cross-batch carry lost")
      assert(byId(7L) == (("click", 3.0)), "later touch must supersede")
    } finally q.stop()
  }

  test("TTL attribution: horizon refusal, post-eviction direct credit, state actually evicts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // Day-rollover-safe minutes (the shared ts() helper renders hour
    // 25 as an invalid literal; the TTL horizon is 24 h so this test
    // must cross a day).
    def tm(minute: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + minute * 60000L)
    val input = MemoryStream[Event]
    val q = EventStreams.attributeTtl(input.toDS())
      .writeStream.format("memory").queryName("attr_ttl")
      .outputMode(OutputMode.Append).start()
    try {
      // b1: user 1 views at t0 (the carry that will expire); user 2
      // clicks at t5 (the control credit)
      input.addData(
        Event(1, tm(0), 1, "view", 0.0),
        Event(2, tm(5), 2, "click", 0.0))
      q.processAllAvailable()
      // b2: user 2 buys inside the horizon — credited to the click
      input.addData(Event(3, tm(10), 2, "purchase", 4.0))
      q.processAllAvailable()
      // b3: user 1 buys 25 h after its view — the horizon check must
      // refuse the credit even though the state still holds the carry
      // (watermark was only at t10 when this batch planned)
      input.addData(Event(4, tm(25 * 60), 1, "purchase", 9.0))
      q.processAllAvailable()
      // b4: unrelated user advances processing past the watermark set
      // by b3 (25 h) — both stale carries (view@0, click@5) are now
      // past touch + 24 h and must EVICT via EventTimeTimeout
      input.addData(Event(5, tm(25 * 60 + 5), 3, "view", 0.0))
      q.processAllAvailable()
      // b5: user 1 buys again — state was REMOVED, not just refused:
      // still "(direct)", and the state store must be down to user 3
      input.addData(Event(6, tm(25 * 60 + 10), 1, "purchase", 2.0))
      q.processAllAvailable()
      val byId = spark.table("attr_ttl").collect()
        .map(r => (r.getLong(1), (r.getString(2), r.getDouble(3)))).toMap
      assert(byId(3L) == (("click", 4.0)), "in-horizon purchase must credit the touch")
      assert(byId(4L) == (("(direct)", 9.0)), "out-of-horizon purchase must report (direct)")
      assert(byId(6L) == (("(direct)", 2.0)), "post-eviction purchase must report (direct)")
      // Eviction witness: poll the state-operator row count down to 1
      // (user 3 only) — the timeout fires in a no-data batch that
      // processAllAvailable does not wait for (the settleWith race).
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def stateRows(): Long = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .lastOption.getOrElse(-1L)
      var rows = stateRows()
      while (rows != 1L && System.nanoTime() < deadline) {
        Thread.sleep(100); rows = stateRows()
      }
      assert(rows == 1L,
        s"expected TTL eviction down to 1 state row (user 3), found $rows")
    } finally q.stop()
  }

  test("TTL attribution replay surface equals the horizon-checked batch face on the capped corpus") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.attributionTtlStreamReplay(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val cap = EventStreams.EventReplayCap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val horizonUs = EventStreams.AttributionTtlMicros
    val expect = Tables.events(spark, sfDir)
      .filter(col("event_id") < cap)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(col("event_type") =!= "purchase", unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(when(col("touch").isNotNull &&
          unix_micros(col("ts")) - col("touch_us") <= horizonUs, col("touch"))
        .otherwise(lit("(direct)")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("value")), 2).as("attributed_value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect, s"got $got\nexp $expect")
    assert(got.values.map(_._1).sum > 0, "capped window must contain purchases")
  }

  test("streaming funnel: cross-batch step qualification, strict ordering, early clicks ignored") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = EventStreams.funnelProgress(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: user 1 views; user 2 clicks COLD (no view — must be
      // ignored); user 3 views and clicks at the SAME timestamp
      // (strict > excludes the click); user 4 views+clicks cleanly
      input.addData(
        Event(1, ts(0), 1, "view", 0.0),
        Event(2, ts(0), 2, "click", 0.0),
        Event(3, ts(0), 3, "view", 0.0),
        Event(4, ts(0), 3, "click", 0.0),
        Event(5, ts(0), 4, "view", 0.0),
        Event(6, ts(5), 4, "click", 0.0))
      q.processAllAvailable()
      // batch 2: user 1's click qualifies against the batch-1 view
      // (cross-batch state); user 4 completes with a purchase; user 2
      // finally views — but its old click must NOT retro-qualify
      input.addData(
        Event(7, ts(30), 1, "click", 0.0),
        Event(8, ts(30), 4, "purchase", 9.0),
        Event(9, ts(30), 2, "view", 0.0))
      q.processAllAvailable()
      val fin = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(fin(1L) == 2, "cross-batch click must qualify")
      assert(fin(2L) == 1, "pre-view click must not retro-qualify")
      assert(fin(3L) == 1, "same-timestamp click must not qualify (strict >)")
      assert(fin(4L) == 3, "full traversal")
    } finally q.stop()
  }

  /** The funnel checks run at sf0.01, whose capped window has three
    * distinct step counts (111/64/35). At sf0.001 every user reaches
    * step 3 (15/15/15), so a report that mixed up its step thresholds
    * would still agree with any reference. */
  private val funnelSfDir = s"${new java.io.File(sfDir).getParent}/sf0.01"

  /** A funnel report has its three steps in order with three distinct,
    * strictly nested counts, so the fixture tells the thresholds apart. */
  private def assertNestedSteps(rows: Seq[(String, Long)]): Unit = {
    assert(rows.map(_._1) == Seq("1_view", "2_click", "3_purchase"))
    val counts = rows.map(_._2)
    assert(counts(0) > counts(1) && counts(1) > counts(2) && counts(2) > 0,
      s"step counts $counts are not strictly nested")
  }

  test("funnel replay surface equals the batch step chain on the capped corpus") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.funnelStreamReplay(spark, funnelSfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    assertNestedSteps(got)
    val cap = EventStreams.EventReplayCap
    val ev = Tables.events(spark, funnelSfDir).filter(col("event_id") < cap)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val expect = Seq(
      "1_view" -> s1.count(), "2_click" -> s2.count(), "3_purchase" -> s3.count())
    assert(got == expect, s"got $got\nexp $expect")
  }

  /** The funnel report as three filtered aggregations joined by
    * `unionAll`: the reference the one-aggregation report must equal. */
  private def funnelUnionReport(settled: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val per = settled.groupBy(col("user_id")).agg(max(col("step")).as("step"))
    def stepCount(k: Int, label: String) =
      per.filter(col("step") >= k)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(label).as("step"), col("n_users"))
    stepCount(1, "1_view")
      .unionAll(stepCount(2, "2_click"))
      .unionAll(stepCount(3, "3_purchase"))
  }

  private def funnelSettled() =
    EventStreams.twoBatchReplay(spark, funnelSfDir, OutputMode.Update)(
      EventStreams.funnelProgress(_).toDF())

  test("funnel report: one aggregation equals the three-branch union on the settled replay") {
    val settled = funnelSettled()
    val got = EventStreams.funnelReport(settled)
    val want = funnelUnionReport(settled)
    assert(got.schema == want.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows(got) == rows(want))
    assertNestedSteps(rows(got))
  }

  test("funnel report: an empty settled relation reports three zero rows, same schema") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.Encoders.product[EventStreams.FunnelProgress].schema)
    val got = EventStreams.funnelReport(empty)
    val want = funnelUnionReport(empty)
    assert(got.schema == want.schema)
    assert(got.schema.fields.map(f => (f.name, f.nullable)).toSeq ==
      Seq("step" -> false, "n_users" -> false))
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq("1_view" -> 0L, "2_click" -> 0L, "3_purchase" -> 0L))
    assert(rows == want.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("replay state partitions: 1 for a capped replay, min(4, slots) for a whole-table one") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => seen.add(op.numShufflePartitions.toInt))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    def partitionsOf(query: String): Set[Int] = {
      seen.clear()
      SparkEntry.queries(query)(spark, sfDir).collect()
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSet
    }
    spark.streams.addListener(listener)
    try {
      assert(partitionsOf("streaming_funnel") == Set(1))
      val slots = spark.sparkContext.defaultParallelism
      assert(partitionsOf("streaming_windowed") == Set(math.min(4, slots)))
    } finally spark.streams.removeListener(listener)
  }

  test("a repeated replay compiles no generated classes: its session keeps the default class loader") {
    // Spark's codegen cache is keyed by class loader: a per-session
    // loader would make every replay recompile its classes.
    import org.apache.spark.metrics.source.CodegenMetrics
    def replay() = EventStreams.funnelStreamReplay(spark, sfDir).collect()
    replay()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    replay()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
  }

  test("startReplay sets its three session settings for start and restores them, also when start throws") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.artifact.isolation.enabled",
      "spark.sql.streaming.checkpointFileManagerClass")
    def settings = keys.map(spark.conf.getOption)
    val during = Seq(Some("1"), Some("false"), Some(classOf[graft.streaming.LocalCheckpointFiles].getName))
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val before = settings
      assert(before(2).isEmpty)
      var seen = Seq.empty[Option[String]]
      EventStreams.startReplay(spark, capped = true) { seen = settings; null }
      assert(seen == during)
      assert(settings == before)
      seen = Nil
      intercept[IllegalStateException] {
        EventStreams.startReplay(spark, capped = true) {
          seen = settings
          throw new IllegalStateException("start failed")
        }
      }
      assert(seen == during)
      assert(settings == before)
    }
  }

  test("attribution replay surface equals the batch window face on the capped corpus") {
    val got = EventStreams.attributionStreamReplay(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val cap = EventStreams.EventReplayCap
    val batch = graft.operators.Analytics.eventsAttribution(
      spark, sfDir) // structure only; the capped equality is below
    assert(batch.columns.toSeq == Seq("channel", "n_conversions", "attributed_value"))
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expect = Tables.events(spark, sfDir)
      .filter(col("event_id") < cap)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(direct)")).as("channel"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect, s"got $got\nexp $expect")
    assert(got.values.map(_._1).sum > 0, "no purchases inside the replay cap")
  }

  test("foreachBatch sink: windowed counts land in parquet") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(20), 2, "click", 2.0))
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(s"$dir/batch")
      }
      .start()
    try {
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/batch")
      assert(back.count() >= 1)
      assert(back.columns.toSet ==
        Set("window_start", "event_type", "n_events", "sum_value"))
    } finally q.stop()
  }

  test("AvailableNow: self-terminating run equals the continuous face batch for batch") {
    // The trigger is pure deployment config: the settled state must
    // equal the continuous (processAllAvailable) face exactly, and
    // the run must have terminated ITSELF (no stop() call anywhere
    // in windowedCountsAvailableNow).
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val avnow = keyed(EventStreams.windowedCountsAvailableNow(spark, sfDir))
    val continuous = keyed(EventStreams.windowedCountsFileStream(spark, sfDir))
    assert(avnow == continuous)
    assert(avnow.nonEmpty)
  }

  test("dedup-index maintenance: first arrival wins across batches, replayed batch is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    val idxSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "h STRING, dup_of BIGINT")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], idxSchema)
      .write.mode("overwrite").parquet(dir)
    def index(): Map[String, Long] =
      spark.read.schema(idxSchema).parquet(dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def h(t: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val batchA = Seq((10L, "x"), (11L, "x"), (12L, "y")).toDF("doc_id", "text")
    val batchB = Seq((13L, "x"), (14L, "z")).toDF("doc_id", "text")
    EventStreams.maintainDedupIndex(batchA, dir)
    assert(index() == Map(h("x") -> 10L, h("y") -> 12L),
      "within-batch dedup keeps the min doc_id")
    EventStreams.maintainDedupIndex(batchB, dir)
    assert(index() == Map(h("x") -> 10L, h("y") -> 12L, h("z") -> 14L),
      "later arrival of a known hash must not displace the keeper")
    // at-least-once delivery: a replayed batch appends nothing
    EventStreams.maintainDedupIndex(batchA, dir)
    val after = spark.read.schema(idxSchema).parquet(dir)
    assert(after.count() == 3 && index().size == 3,
      "replayed batch must be idempotent (no duplicate index rows)")
  }

  test("band-index maintenance: bucket keeper survives later arrivals, replay is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bidx_").toString
    val idxSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "band INT, sig STRING, near_of BIGINT")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], idxSchema)
      .write.mode("overwrite").parquet(dir)
    def index(): Map[(Int, String), Long] =
      spark.read.schema(idxSchema).parquet(dir).collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    // identical text ⇒ identical band signatures ⇒ same 4 buckets
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "a completely different document with other shingle content entirely"
    EventStreams.maintainBandIndex(
      Seq((20L, textA), (21L, textA)).toDF("doc_id", "text"), dir)
    val after1 = index()
    assert(after1.size == graft.operators.Dedup.NumBands,
      s"two identical docs share all ${graft.operators.Dedup.NumBands} buckets: $after1")
    assert(after1.values.forall(_ == 20L), "within-batch min doc_id wins")
    // later batch: known buckets keep their keeper, new doc adds its own
    EventStreams.maintainBandIndex(
      Seq((22L, textA), (23L, textB)).toDF("doc_id", "text"), dir)
    val after2 = index()
    assert(after2.size == 2 * graft.operators.Dedup.NumBands)
    assert(after2.count(_._2 == 20L) == graft.operators.Dedup.NumBands,
      "textA buckets must keep doc 20 as keeper")
    assert(after2.count(_._2 == 23L) == graft.operators.Dedup.NumBands)
    // replayed batch appends nothing
    EventStreams.maintainBandIndex(
      Seq((22L, textA), (23L, textB)).toDF("doc_id", "text"), dir)
    assert(spark.read.schema(idxSchema).parquet(dir).count() ==
      2L * graft.operators.Dedup.NumBands)
  }

  test("streaming exact-dedup keeps one row per content hash within the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams.Doc
    val input = MemoryStream[Doc]
    input.addData(
      Doc(1, ts(0), "alpha beta"),
      Doc(2, ts(1), "gamma delta"),
      Doc(3, ts(2), "alpha beta"),   // dup of 1 inside the horizon
      Doc(4, ts(3), "epsilon"),
      Doc(5, ts(4), "gamma delta"))  // dup of 2
    val q = EventStreams.dedupExactStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").as[Doc].collect().map(_.doc_id).toSet
      assert(kept == Set(1L, 2L, 4L), s"kept $kept")
      // Agrees with the batch semantics: same distinct-hash count.
      val batchDistinct = Seq("alpha beta", "gamma delta", "alpha beta",
        "epsilon", "gamma delta").distinct.size
      assert(kept.size == batchDistinct)
    } finally q.stop()
  }

  test("streaming sessionize agrees with the batch gaps-and-islands query") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, sfDir).as[Event].collect().toSeq
    val input = MemoryStream[Event]
    input.addData(events)
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess_batch")
      .outputMode(OutputMode.Update).start()
    val batch = graft.operators.Analytics.eventsSessionize(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_batch").as[UserSessions].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          // Update mode emits one row per (user, microbatch); the last
          // row carries the final state.
          u -> { val last = rows.last; (last.n_sessions, last.n_events) }
        }
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sessionize replay surface: two micro-batches, cross-batch sessions, equals batch SQL") {
    // The registered streaming_sessionize entry: drive it directly and
    // pin (a) result == batch gaps-and-islands over the capped window,
    // (b) the capped window is non-degenerate (≥1 multi-session user —
    // a sessionizer that never sees a 30-min gap proves nothing).
    // Cross-batch statefulness is inherent to the construction: the
    // time-ordered midpoint split puts every user active on both sides
    // of the boundary into two updates, and "latest wins" would
    // double-count sessions if batch 2 restarted state.
    val streamed = EventStreams.sessionizeStreamReplay(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.operators.Analytics.eventsSessionize(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // sf0.001 has event_id < 1000 everywhere, so the cap is the whole
    // table and the batch query needs no extra filter here.
    assert(streamed == batch)
    assert(streamed.values.exists(_._1 >= 2L), "expected ≥1 multi-session user")
    assert(streamed.values.forall { case (ns, ne) => ns >= 1L && ne >= ns })
  }

  test("RocksDB state store: provider actually engages and state survives batches") {
    // The deployment state tier (SURVEY's gap note claimed rocksdbjni
    // was out of reach; it ships in /opt/spark/jars). Witness REAL
    // engagement, not just a conf set: the state operator's progress
    // must expose rocksdb* custom metrics (only the RocksDB provider
    // emits them) and the stateful agg must carry counts across ≥2
    // micro-batches.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 2, "click", 2.0))
    val q = EventStreams.withRocksDbState(spark) {
      EventStreams.windowedCounts(input.toDF())
        .writeStream.format("memory").queryName("wc_rocks")
        .outputMode(OutputMode.Update).start()
    }
    try {
      q.processAllAvailable()
      input.addData(Event(3, ts(40), 3, "click", 3.0)) // same hour window
      q.processAllAvailable()
      val metricKeys = q.lastProgress.stateOperators.flatMap { op =>
        import scala.jdk.CollectionConverters._
        op.customMetrics.keySet().asScala
      }.toSet
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb custom metrics on the state operator: $metricKeys")
      val clicks = spark.table("wc_rocks").collect()
        .filter(r => r.getString(1) == "click" && r.getTimestamp(0).toString.startsWith("2024-01-01 00"))
        .map(_.getLong(2)).max
      assert(clicks == 3L, "cross-batch state did not accumulate under RocksDB")
    } finally { q.stop(); spark.catalog.dropTempView("wc_rocks") }
    // Scoped restore: the session must be back on the default provider.
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("transformWithState sessionize equals the fMGWS face and the batch SQL") {
    // One fold, two state APIs: the StatefulProcessor (typed
    // ValueState, RocksDB-mandated) must produce exactly the fMGWS
    // result, which is itself pinned to the batch gaps-and-islands
    // query — so tws lands on the fully oracle-checked surface.
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val tws = key(EventStreams.sessionizeTwsStreamReplay(spark, sfDir))
    val fmgws = key(EventStreams.sessionizeStreamReplay(spark, sfDir))
    assert(tws == fmgws)
    assert(tws.nonEmpty && tws.values.exists(_._1 >= 2L))
  }

  test("streaming_join_outer: inner matches preserved verbatim, null rows final and disjoint") {
    val outer = EventStreams.attributionJoinOuterReplay(spark, sfDir).collect()
    val inner = EventStreams.attributionJoinReplay(spark, sfDir).collect()
    val matched = outer.filterNot(_.isNullAt(2))
    // outer ⊇ inner on the matched subset, row-for-row
    assert(matched.map(_.toString).sorted.toSeq ==
      inner.map(_.toString).sorted.toSeq)
    // the genuinely-new machinery fired: evicted-and-closed views
    val nulls = outer.filter(_.isNullAt(2))
    assert(nulls.nonEmpty, "no null-padded non-conversions emitted")
    assert(nulls.forall(_.isNullAt(3)), "lag must be NULL on non-conversions")
    // a view is matched XOR finally-unmatched, never both
    val matchedViews = matched.map(_.getLong(1)).toSet
    assert(nulls.forall(r => !matchedViews(r.getLong(1))))
    // null rows are unique per view (one final verdict per view)
    val nv = nulls.map(_.getLong(1))
    assert(nv.distinct.length == nv.length)
  }

  test("streaming_dedup_rocksdb: output is provider-independent (equals the default-provider twin)") {
    val rocks = EventStreams.dedupExactStreamReplayRocksDb(spark, sfDir).collect().toSeq
    val hdfs  = EventStreams.dedupExactStreamReplay(spark, sfDir).collect().toSeq
    assert(rocks == hdfs)
    assert(rocks.head.getLong(0) > 0)
  }

  test("streaming_funnel_rocksdb: output is provider-independent (equals the default-provider twin)") {
    // Same contract one state shape up: the funnel's three-timestamp
    // fMGWS state (set-only, cross-batch) must fold identically on
    // RocksDB.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val rocks = rows(EventStreams.funnelStreamReplayRocksDb(spark, funnelSfDir))
    val hdfs  = rows(EventStreams.funnelStreamReplay(spark, funnelSfDir))
    assert(rocks == hdfs)
    assertNestedSteps(rocks)
  }

  test("streaming_attribution_ttl_rocksdb: output is provider-independent (equals the default-provider twin)") {
    // TTL eviction (EventTimeTimeout) and the RocksDB store compose:
    // timeouts must fire identically on both providers — the same
    // settled channel report, horizon refusals included.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
        .sortBy(_._1).toSeq
    val rocks = rows(EventStreams.attributionTtlStreamReplayRocksDb(spark, sfDir))
    val hdfs  = rows(EventStreams.attributionTtlStreamReplay(spark, sfDir))
    assert(rocks == hdfs)
    assert(rocks.map(_._2._1).sum > 0, "capped window must contain purchases")
  }

  test("conversion-window funnel: attempt machine, boundary rules, TTL eviction, post-eviction reopen") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // Minutes from epoch-of-corpus; the conversion window is 2 days
    // = 2880 min, so an attempt opened at minute m owns (m, m+2880].
    def tm(minute: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + minute * 60000L)
    def us(minute: Int): Long = {
      val t = tm(minute)
      java.util.concurrent.TimeUnit.MILLISECONDS.toMicros(t.getTime / 1000 * 1000) +
        t.getNanos / 1000
    }
    val input = MemoryStream[Event]
    val q = EventStreams.funnelConv(input.toDS())
      .writeStream.format("memory").queryName("fc_ttl")
      .outputMode(OutputMode.Update).start()
    try {
      // b1: u1 opens + clicks (step 2); u2 opens (step 1, window ends
      // at minute 30+2880 = 2910)
      input.addData(
        Event(1, tm(0), 1, "view", 0.0),
        Event(2, tm(10), 1, "click", 0.0),
        Event(3, tm(30), 2, "view", 0.0))
      q.processAllAvailable()
      // b2: u1 purchases (cross-batch step 3); u2 clicks at EXACTLY
      // t1 + W — inclusive boundary, must qualify (step 2)
      input.addData(
        Event(4, tm(40), 1, "purchase", 1.0),
        Event(5, tm(2910), 2, "click", 0.0))
      q.processAllAvailable()
      // b3: u2 views STRICTLY past its window — closes attempt A
      // (final step 2) and opens attempt B keyed by its own ts; u3
      // opens far ahead, driving the watermark to minute 5000 so u1's
      // attempt (expired at 2880) must EVICT via EventTimeTimeout
      input.addData(
        Event(6, tm(2911), 2, "view", 0.0),
        Event(7, tm(5000), 3, "view", 0.0))
      q.processAllAvailable()
      // Eviction witness: poll state rows down to 2 (u2's attempt B,
      // expiring 2911+2880=5791, and u3's) — the timeout fires in a
      // no-data batch processAllAvailable does not wait for.
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def stateRows(): Long = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .lastOption.getOrElse(-1L)
      var rows = stateRows()
      while (rows != 2L && System.nanoTime() < deadline) {
        Thread.sleep(100); rows = stateRows()
      }
      assert(rows == 2L,
        s"expected TTL eviction down to 2 state rows (u2 B, u3), found $rows")
      // b4: u1 returns after eviction — a FRESH attempt keyed by its
      // own opening view (no counter state to have forgotten), and
      // steps advance in it normally
      input.addData(
        Event(8, tm(5100), 1, "view", 0.0),
        Event(9, tm(5200), 1, "click", 0.0))
      q.processAllAvailable()
      val settled = spark.table("fc_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(settled == Map(
        (1L, us(0)) -> 3,      // view+click+purchase, all inside W
        (1L, us(5100)) -> 2,   // post-eviction reopen, view+click
        (2L, us(30)) -> 2,     // boundary click at exactly t1+W counted
        (2L, us(2911)) -> 1,   // the view that closed A opened B
        (3L, us(5000)) -> 1),
        s"settled attempt map mismatch: $settled")
    } finally q.stop()
  }

  test("conversion-window funnel: RocksDB and tws-timer twins equal the default-provider fMGWS face") {
    // Three stateful runtimes, one operator: fMGWS+HDFS-store,
    // fMGWS+RocksDB, and transformWithState with explicit event-time
    // timers (register/delete/handleExpiredTimer) — the settled
    // report must be identical across all three (and all three share
    // the recursive-CTE oracle through the registry).
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val fmgws = rows(EventStreams.funnelConvStreamReplay(spark, sfDir))
    val rocks = rows(EventStreams.funnelConvStreamReplayRocksDb(spark, sfDir))
    val tws   = rows(EventStreams.funnelConvTwsStreamReplay(spark, sfDir))
    assert(rocks == fmgws, "RocksDB twin diverged from the default provider")
    assert(tws == fmgws, "tws timer face diverged from the fMGWS face")
    assert(fmgws.map(_._2).sum > 0, "capped window must contain attempts")
  }

  test("conversion-window funnel: batch face report is nested and both faces agree at the report level") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .sortBy(_._1).toSeq
    val batch = rows(EventStreams.eventsFunnelConv(spark, sfDir))
    assert(batch.map(_._1) == Seq("1_view", "2_click", "3_purchase"))
    // Nested counts: attempts and users both non-increasing by step.
    assert(batch.map(_._2._1) == batch.map(_._2._1).sorted.reverse)
    assert(batch.map(_._2._2) == batch.map(_._2._2).sorted.reverse)
    assert(batch.head._2._1 > 0, "corpus must contain attempts")
    val stream = rows(EventStreams.funnelConvStreamReplay(spark, sfDir))
    assert(stream.map(_._1) == Seq("1_view", "2_click", "3_purchase"))
    assert(stream.map(_._2._1) == stream.map(_._2._1).sorted.reverse)
  }

  test("conversion-window funnel batch face is a secondary sort, not a per-group buffer") {
    // The round-16 advice finding: a groupByKey ⇒ it.toSeq.sortBy face
    // buffers one user's ENTIRE history in a task's heap — a hot bot
    // key at 100 TB OOMs the executor. The reference's SecondarySort
    // contract is the fix, so the plan must show repartition +
    // sort-within-partitions(user_id, ts, event_id) + mapPartitions,
    // and NO object-grouping node (whose interface hands the fold an
    // unordered per-key iterator and forces the in-heap sort).
    import org.apache.spark.sql.catalyst.plans.logical.{MapGroups, MapPartitions, Sort}
    val plan = streaming.EventStreams.eventsFunnelConv(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(plan.collect { case m: MapGroups => m }.isEmpty,
      "per-group materialization (MapGroups) reintroduced in the batch conv funnel")
    assert(plan.collect { case m: MapPartitions => m }.nonEmpty,
      "streaming per-partition fold (MapPartitions) missing")
    val secondary = plan.collect { case s: Sort if !s.global => s }
      .map(_.order.flatMap(_.child.references.toSeq).map(_.name))
    assert(secondary.contains(Seq("user_id", "ts", "event_id")),
      s"expected a partition-local sort on (user_id, ts, event_id); saw $secondary")
  }
}
