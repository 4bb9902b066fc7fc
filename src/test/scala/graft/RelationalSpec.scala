package graft

import graft.operators.{Analytics, Relational}
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpecBase {

  test("reduceAgg aggregates every (returnflag, linestatus) group") {
    val rows = Relational.reduceAgg(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_rows"))).sum == 6000L)
  }

  test("secondarySort first/last respect shipdate order within each order") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_shipdate").collect()
      .groupBy(_.getLong(0))
    val got = Relational.secondarySort(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    li.foreach { case (ok, rows) =>
      val sorted = rows.sortBy(r => (r.getTimestamp(2).getTime, r.getInt(1)))
      val (first, last, n) = got(ok)
      assert(first == sorted.head.getInt(1), s"order $ok first")
      assert(last == sorted.last.getInt(1), s"order $ok last")
      assert(n == rows.size.toLong)
    }
  }

  test("join semi + anti partition the customer table") {
    val semi = Relational.joinSemi(spark, sfDir).count()
    val anti = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(semi + anti == Tables.customer(spark, sfDir).count())
  }

  test("joinOverride falls back to acctbal only for customers with no orders") {
    val rows = Relational.joinOverride(spark, sfDir)
    assert(rows.count() == Tables.customer(spark, sfDir).count())
    assert(rows.filter(col("effective_total").isNull).count() == 0)
  }

  test("joinBroadcast plans a BroadcastHashJoin (map-side join analogue)") {
    val plan = explainString(Relational.joinBroadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("tpch_q6 filters are pushed to the parquet scan") {
    val plan = explainString(Analytics.tpchQ6(spark, sfDir))
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("l_discount"), "discount filter should reach the scan")
  }

  test("column pruning reaches the scan: mr_map_project reads exactly its 6 columns") {
    // lineitem has 16 columns; the projection + filter need 6. A scan
    // whose ReadSchema carries more is re-reading bytes a 100 TB scan
    // cannot afford — assert the pruned schema column-for-column.
    val plan = explainString(Relational.mapProject(spark, sfDir))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(rs.nonEmpty, plan.take(1500))
    val cols = rs.get.split(",").map(_.trim.split(":").head).toSet
    assert(cols == Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag"),
      s"scan reads $cols")
    // ...and the quantity filter is pushed alongside.
    assert(plan.contains("PushedFilters:") && plan.contains("l_quantity"),
      plan.take(1500))
  }

  test("tpch_q1 plans partial + final hash aggregation (combiner analogue)") {
    val plan = explainString(Analytics.tpchQ1(spark, sfDir))
    // map-side combine: partial agg before the exchange, final after
    assert(plan.contains("partial_sum"), plan.take(2000))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
    assert(plan.contains("Exchange"))
  }

  test("tpch_q4 plans a LEFT-SEMI join (EXISTS without row multiplication)") {
    val df = Analytics.tpchQ4(spark, sfDir)
    val plan = explainString(df)
    assert(plan.contains("LeftSemi"), plan.take(2000))
    // Semantics vs a naive driver-side EXISTS at this tiny SF: each
    // qualifying order counted exactly once, however many late lines.
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_shipdate").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getTimestamp(1).getTime).max)
    val lo = java.sql.Timestamp.valueOf("1996-07-01 00:00:00").getTime
    val hi = java.sql.Timestamp.valueOf("1996-10-01 00:00:00").getTime
    val expect = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority").collect()
      .filter { r =>
        val d = r.getTimestamp(1).getTime
        d >= lo && d < hi && li.get(r.getLong(0)).exists(_ > d)
      }
      .groupBy(_.getString(2)).view.mapValues(_.length.toLong).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("tpch_q13 keeps zero-order customers and reuses the join partitioning") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Analytics.tpchQ13(spark, sfDir)
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Every customer lands in exactly one bucket — the LEFT join's
      // ON-clause filter must not drop the zero-order customers.
      val nCust = Tables.customer(spark, sfDir).count()
      assert(rows.values.sum == nCust, s"$rows should cover $nCust customers")
      val nonUrgentCusts = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey").distinct().count()
      assert(rows.getOrElse(0L, 0L) == nCust - nonUrgentCusts,
        s"c_count=0 bucket should be the no-non-urgent-order customers")
      // Shuffle audit under sort-merge: join shuffles each side on its
      // custkey, the per-customer aggregate REUSES that partitioning
      // (no exchange of its own), the distribution agg shuffles the
      // tiny (custkey → count) relation: exactly 3 exchanges.
      // Count tree-form nodes only ("Exchange (n)") — the formatted
      // details section repeats each node as "(n) Exchange".
      val plan = explainString(Analytics.tpchQ13(spark, sfDir))
      val n = """Exchange \(\d+\)""".r.findAllIn(plan).size
      assert(n == 3, s"expected 3 exchanges, saw $n\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("tpch_q22 threshold + anti-join semantics match a naive reference") {
    val df = Analytics.tpchQ22(spark, sfDir)
    val plan = explainString(df)
    // The 1-row threshold relation rides a broadcast nested-loop
    // cross join; the no-orders test is a LeftAnti.
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey", "c_acctbal").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getDouble(2)))
    val cutoff = java.sql.Timestamp.valueOf(Analytics.Q22Cutoff).getTime
    val withOrders = Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderdate").collect()
      .filter(_.getTimestamp(1).getTime >= cutoff)
      .map(_.getAs[Number](0).longValue).toSet
    // Exact-decimal threshold, same arithmetic as both engines.
    val pos = cust.filter(_._3 > 0.0)
    val thr = pos.map(c => BigDecimal(c._3).setScale(2)).sum.toDouble / pos.length
    val keep = cust.filter(c => c._3 > thr && !withOrders.contains(c._1))
    val expect = keep.groupBy(_._2).map { case (nk, cs) =>
      nk -> (cs.length.toLong,
        BigDecimal(cs.map(c => BigDecimal(c._3).setScale(2)).sum.toDouble)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = df.collect()
      .map(r => r.getAs[Number](0).longValue -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("window_range_frame: trailing-7-day frames match a naive reference (inclusive boundary)") {
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getTimestamp(2).getTime, r.getDouble(3)))
    val byCust = orders.groupBy(_._2)
    val expect = orders.map { case (ok, ck, d, _) =>
      val frame = byCust(ck).filter(o =>
        o._3 <= d && o._3 >= d - 6L * 86400 * 1000)
      val sum = BigDecimal(frame.map(o => BigDecimal(o._4).setScale(2)).sum.toDouble)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      ok -> ((sum, frame.length.toLong))
    }.toMap
    val got = Analytics.windowRangeFrame(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    assert(got == expect,
      s"first diff: ${got.find { case (k, v) => expect(k) != v }}")
  }

  test("topk_per_group gets Spark's WindowGroupLimit top-k pruning") {
    // The declarative window+filter pattern triggers partial+final
    // WindowGroupLimit — map-side top-k pruning before the shuffle,
    // so at scale each task ships at most k rows per group.
    val df = Analytics.topkPerGroup(spark, sfDir)
    df.collect()
    val plan = explainString(df)
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("events_anomaly flags exactly the hours beyond 2 sigma, per type") {
    val rows = Analytics.eventsAnomaly(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val ns = rs.map(_._2.toDouble)
      val mean = ns.sum / ns.length
      val sd = math.sqrt(ns.map(n => (n - mean) * (n - mean)).sum / ns.length)
      rs.foreach { case (_, n, z, flag) =>
        if (sd > 0) {
          // z in the output is rounded to 4 decimals.
          assert(math.abs(z - (n - mean) / sd) <= 5.001e-5, s"z $z for n=$n")
          assert(flag == (math.abs((n - mean) / sd) >= 2.0))
        } else assert(z == 0.0 && !flag)
      }
    }
  }

  test("totalOrderSort is globally sorted (TeraValidate contract)") {
    val vals = Relational.totalOrderSort(spark, sfDir)
      .select("l_extendedprice").collect().map(_.getDouble(0))
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b })
  }

  test("TeraValidate proper: every partition sorted AND boundaries monotone") {
    // The reference TeraValidate asserts each record >= its
    // predecessor INCLUDING across partition boundaries — a
    // distributed proof, not a collect-and-scan. Per partition only
    // (first, last, sorted?, n) reach the driver, so the check itself
    // scales. AQE's small-data coalescing is disabled for the test so
    // the range shuffle actually yields multiple partitions to prove
    // boundaries over (at real scale there are thousands).
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      type K = (Double, Long, Int)
      val ord: Ordering[K] =
        Ordering.Tuple3(Ordering[Double].reverse, Ordering.Long, Ordering.Int)
      val df = Relational.totalOrderSort(spark, sfDir)
        .select("l_extendedprice", "l_orderkey", "l_linenumber")
      val stats = df.rdd.mapPartitionsWithIndex { (idx, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          def key(r: org.apache.spark.sql.Row): K =
            (r.getDouble(0), r.getLong(1), r.getInt(2))
          var prev = key(it.next()); val first = prev
          var sorted = true; var n = 1L
          while (it.hasNext) {
            val k = key(it.next())
            if (ord.gt(prev, k)) sorted = false
            prev = k; n += 1
          }
          Iterator((idx, first, prev, sorted, n))
        }
      }.collect().sortBy(_._1)
      assert(stats.length > 1, s"need >1 partition for a boundary proof, got ${stats.length}")
      assert(stats.forall(_._4), "a partition is not internally sorted")
      stats.sliding(2).foreach {
        case Array(a, b) =>
          assert(ord.lteq(a._3, b._2),
            s"boundary violation: partition ${a._1} last=${a._3} > partition ${b._1} first=${b._2}")
        case _ => ()
      }
      assert(stats.map(_._5).sum == df.count(), "validate saw every record")
    } finally spark.conf.set(coalesceKey, saved)
  }

  test("HashPartitioner contract: repartition(n, key) places rows at pmod(hash(key), n)") {
    // §2 #3: the reference's default partitioner
    // (HashPartitioner.getPartition = key.hashCode % numPartitions) is
    // implicit in every keyed exchange here — this pins its Spark
    // form declaratively: HashPartitioning routes each row to
    // pmod(murmur3_hash(key), n), which is exactly what the SQL
    // hash() function computes, so placement is asserted row-for-row
    // against spark_partition_id(). Co-location (the property joins
    // and aggs rely on) follows: equal keys → equal partition.
    import org.apache.spark.sql.functions.{col, expr, spark_partition_id}
    val n = 7 // not the session shuffle-partition count — proves the
              // modulus follows the repartition argument
    val placed = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"))
      .repartition(n, col("l_partkey"))
      .select(col("l_partkey"), spark_partition_id().as("pid"),
        expr(s"pmod(hash(l_partkey), $n)").as("expect"))
      .collect()
    assert(placed.nonEmpty)
    placed.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"key ${r.getLong(0)} landed in partition ${r.getInt(1)}, " +
          s"HashPartitioning promises ${r.getInt(2)}")
    }
  }

  test("key_field_partition: partition-exclusive key fields, numeric order within partitions") {
    // The KeyFieldBasedPartitioner/Comparator contract, proven on the
    // physical layout like TeraValidate: repartition on the extracted
    // key bucket + sortWithinPartitions on the numeric field, then
    // per-partition streaming checks (only bounded stats reach the
    // driver).
    val df = Relational.keyFieldPartition(spark, sfDir)
      .select("part_id", "sort_key", "key_field")
    val stats = df
      .repartition(Relational.KeyFieldParts, col("part_id"))
      .sortWithinPartitions(col("part_id"), col("sort_key"))
      .rdd.mapPartitionsWithIndex { (idx, it) =>
        var prev = (Int.MinValue, Long.MinValue)
        var sorted = true; var n = 0L
        val partIds = scala.collection.mutable.Set[Int]()
        it.foreach { r =>
          val k = (r.getInt(0), r.getLong(1))
          if (Ordering.Tuple2[Int, Long].gt(prev, k)) sorted = false
          partIds += r.getInt(0); prev = k; n += 1
        }
        if (n == 0) Iterator.empty else Iterator((idx, partIds.toSet, sorted, n))
      }.collect()
    assert(stats.map(_._4).sum == df.count(), "saw every record")
    assert(stats.forall(_._3), "a partition is not sorted by (part_id, numeric key)")
    // Every reducer id lands in exactly one physical partition — the
    // partitioner contract (all records of a key field meet in one
    // task).
    val placements = stats.flatMap { case (idx, ids, _, _) => ids.map(_ -> idx) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    placements.foreach { case (pid, where) =>
      assert(where.length == 1, s"part_id $pid split across partitions $where")
    }
    // The comparator point: ordering the same field as TEXT disagrees
    // with the numeric order somewhere (e.g. "10" < "9"), so the query
    // provably sorts numerically, not lexicographically.
    val rows = Relational.keyFieldPartition(spark, sfDir)
      .select("part_id", "sort_key").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val byPart = rows.groupBy(_._1).values
    assert(byPart.exists { ps =>
      val numeric = ps.map(_._2).sorted
      numeric.map(_.toString) != numeric.map(_.toString).sorted
    }, "test data never distinguishes numeric from text ordering")
  }

  test("join_bloom: bloom pre-filter result equals the plain join, reduction is real") {
    import graft.plans.GraftFunctions.{bloom_filter_agg, bloom_might_contain}
    val got = Relational.joinBloom(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("rev"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == plain)

    // The map-side reduction: probable matches are ~selectivity of the
    // fact table (urgent ≈ 1/5 of orders) + the small FP tail — far
    // below a full scan reaching the join.
    val dimKeys = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloom = dimKeys.agg(bloom_filter_agg(col("o_orderkey"),
      Relational.JoinBloomItems, Relational.JoinBloomBits)).scalar()
    val factTotal = Tables.lineitem(spark, sfDir).count()
    val factPassing = Tables.lineitem(spark, sfDir)
      .filter(bloom_might_contain(bloom, col("l_orderkey"))).count()
    assert(factPassing < factTotal * 0.4,
      s"bloom passed $factPassing of $factTotal fact rows — no reduction")
    // No false negatives: every true match passes the probe.
    val trueMatches = Tables.lineitem(spark, sfDir)
      .join(dimKeys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(factPassing >= trueMatches)
  }

  test("events_sliding: 1h/30min windows — every event counted in exactly two windows") {
    val events = Tables.events(spark, sfDir)
    val slid = Analytics.eventsSliding(spark, sfDir)
    // duration/slide = 2 ⇒ the window explosion exactly doubles the
    // event mass; a wrong slide or boundary rule breaks this sum.
    val total = slid.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == 2 * events.count())
    // Window starts sit on 30-min boundaries, and each window's count
    // equals the raw events inside its [start, start+1h) span.
    val rows = slid.collect()
    assert(rows.nonEmpty)
    rows.take(5).foreach { r =>
      val start = r.getTimestamp(0)
      assert(start.getTime % (30L * 60 * 1000) == 0, s"unaligned window $start")
      val expect = events.filter(
        col("ts") >= lit(start) &&
        col("ts") < lit(new java.sql.Timestamp(start.getTime + 3600L * 1000)) &&
        col("event_type") === r.getString(1)).count()
      assert(r.getLong(2) == expect, s"window $start/${r.getString(1)}")
    }
  }

  test("counters via observe() collect distributed metrics") {
    val observed = Tables.events(spark, sfDir)
      .observe("counters", count(lit(1)).as("n"),
        count(when(col("event_type") === "error", 1)).as("n_err"))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Option[org.apache.spark.sql.Row] = None
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        metrics = qe.observedMetrics.get("counters")
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val total = observed.count()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.metrics.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.metrics.exists(_.getAs[Long]("n") == total))
    } finally spark.listenerManager.unregister(listener)
  }

  test("counters_observe emits the CollectMetrics payload of a real observed run") {
    // The query's one result row IS the observation payload; it must
    // equal the direct distributed aggregation of the same counters.
    val got = Relational.countersObserve(spark, sfDir).collect()
    assert(got.length == 1)
    val direct = Tables.events(spark, sfDir)
      .agg(count(lit(1)), count(when(col("event_type") === "error", 1)),
        count(when(col("event_type") === "click", 1)), round(sum(col("value")), 2))
      .collect().head
    assert(got.head.getLong(0) == direct.getLong(0))
    assert(got.head.getLong(1) == direct.getLong(1))
    assert(got.head.getLong(2) == direct.getLong(2))
    assert(got.head.getDouble(3) == direct.getDouble(3))
  }

  test("pivot_report: explicit value list keeps it one agg pass; cells conserve the corpus") {
    val df = Analytics.pivotReport(spark, sfDir)
    assert(df.columns.toSeq == "window_start" +: Analytics.PivotTypes)
    // The explicit value list means no distinct-values pre-job: the
    // plan is exactly the two-stage pivot rewrite — a partial+final
    // count keyed on (hour, type) over the fact table, then the
    // PivotFirst agg whose exchange carries only the reduced
    // hours×types relation. An INFERRED pivot would add a third full
    // pass over the fact table to discover the column values.
    val plan = explainString(df)
    val exchanges = "\\(\\d+\\) Exchange\\b".r.findAllIn(plan).size
    assert(exchanges == 2, s"pivot planned $exchanges exchanges:\n" + plan.take(2000))
    // Conservation: every event lands in exactly one cell (absent
    // combos are NULL, never dropped rows).
    val cells = df.collect().map(r =>
      (1 to Analytics.PivotTypes.size).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum).sum
    assert(cells == Tables.events(spark, sfDir).count())
  }

  test("join_editdist: deletion-neighborhood blocking misses nothing vs brute force") {
    import spark.implicits._
    // real corpus: blocked result == the n-squared truth, exactly
    val blocked = Relational.joinEditDistance(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sup = Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ka, na) <- sup; (kb, nb) <- sup if ka < kb
      d = lev(na, nb) if d <= 1
    } yield (ka, kb, d)).toSet
    assert(blocked == brute, s"blocked=${blocked.size} brute=${brute.size}")
    assert(brute.nonEmpty)
    // synthetic shapes: substitution, insertion, deletion all caught;
    // distance-2 shared-variant false candidates verified away
    val df = Seq((1L, "abc"), (2L, "abcd"), (3L, "abd"), (4L, "xbd"),
      (5L, "xyz")).toDF("s_suppkey", "s_name")
    val pairs = Relational.editDistancePairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1), (3L, 4L, 1)))
  }

  test("join_interval_overlap: banded result equals naive nested-loop over sessions") {
    val got = Relational.joinIntervalOverlap(spark, sfDir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    // naive: rebuild sessions driver-side, test every cross-user pair
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val pad = 30L * 60 * 1000
    val sessions = purchases.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ts = es.map(_._2).sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var s = ts.head; var last = ts.head
      ts.tail.foreach { t =>
        if (t - last > pad) { spans += ((u, s, last + pad)); s = t }
        last = t
      }
      spans += ((u, s, last + pad))
      spans.toSeq
    }
    val naive = (for {
      (u1, s1, e1) <- sessions; (u2, s2, e2) <- sessions
      if u1 < u2 && s1 <= e2 && s2 <= e1
    } yield math.max(s1, s2) / 3600000L * 3600000L)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got == naive, s"got ${got.size} hours, naive ${naive.size}")
    assert(got.values.sum > 0)
  }

  test("join_nearest: nearest-signup matches naive two-direction lookup, one exchange") {
    val df = Relational.joinNearest(spark, sfDir)
    // both window frames share one user sort: a single exchange
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(explainString(df)).length == 1)
    val got = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).getTime * 1000 +
          r.getTimestamp(3).getNanos / 1000 % 1000))
    events.foreach { case (id, user, _, tsUs) =>
      val sigs = events.filter(e => e._2 == user && e._3 == "signup").map(_._4)
      val expected =
        if (sigs.isEmpty) None
        else {
          val prior = sigs.filter(_ <= tsUs).maxOption
          val next = sigs.filter(_ >= tsUs).minOption
          (prior, next) match {
            case (Some(p), Some(nx)) =>
              Some(if (tsUs - p <= nx - tsUs) p else nx)
            case (p, nx) => p.orElse(nx)
          }
        }
      assert(got(id) == expected.map(_ / 1000), s"event $id")
    }
    // both directions genuinely used: some events precede their
    // user's first signup (prior null -> next wins)
    val firstSig = events.filter(_._3 == "signup").groupBy(_._2)
      .view.mapValues(_.map(_._4).min).toMap
    assert(events.exists(e => firstSig.get(e._2).exists(e._4 < _)))
  }
}
