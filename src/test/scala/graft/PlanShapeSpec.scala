package graft

import org.apache.spark.sql.functions._

/** Pins scale-critical PHYSICAL plan shapes — the properties PLANS.md
  * documents, asserted so a regression fails a test instead of only
  * drifting a doc. Executed plans are inspected AFTER an action so AQE
  * has finalized them. */
class PlanShapeSpec extends SparkSpec {

  /** Final-plan text only (AdaptiveSparkPlan.toString appends the
    * pre-AQE Initial Plan, which double-counts node occurrences). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  private def docs = {
    val s = spark; import s.implicits._
    Seq((0L, "the cat sat"), (1L, "a dog ran fast today"))
      .toDF("doc_id", "text")
  }

  test("sim_quantize is one shuffle-free narrow map") {
    val s = spark; import s.implicits._
    val e = Seq((0L, Array(1f, 2f)), (1L, Array(3f, 0f)))
      .toDF("vec_id", "embedding")
    val q = ops.Similarity.quantizeInt8(e)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("tx_chunks is one shuffle-free narrow map") {
    val q = ops.TextOps.chunks(docs, 4, 3)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("distributed tfidf ranks via WindowGroupLimit, no cartesian join") {
    spark.conf.set("spark.graft.localDedupMaxDocs", "0")
    try {
      val q = ops.TextOps.tfidf(docs, 3)
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      // rank<=k must push into the sort (top-k per group, not full sort)
      assert(plan.contains("WindowGroupLimit"), plan)
      // the only nested-loop is the broadcast of the 1-row corpus count
      assert(!plan.contains("CartesianProduct"), plan)
    } finally spark.conf.unset("spark.graft.localDedupMaxDocs")
  }

  test("ev_gaps median carries no per-type rank window") {
    val s = spark; import s.implicits._
    val d = (0 until 40).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"),
        (i % 4).toLong, s"t${i % 2}", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = streaming.Events.gapStats(d)
    q.count()
    // exact median = range-partitioned sort + two-phase prefix offsets;
    // a row_number window partitioned by event_type alone would sort a
    // whole type in one task — pin its absence (the surviving lag window
    // is keyed by (user_id, event_type): high cardinality, safe)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), plan)
  }

  test("tx_quality_pcts selects order statistics, never buffers a stratum") {
    val s = spark; import s.implicits._
    val d = (0L until 30L).map(i =>
      (i, s"tok$i " * 12 + "the and of to is it")).toDF("doc_id", "text")
    val strata = (0L until 30L).map(i => (i, s"s${i % 2}"))
      .toDF("doc_id", "stratum")
    val q = ops.TextOps.qualityPercentiles(d, strata)
    q.count()
    // Spark's percentile aggregate buffers every value of a group in one
    // aggregation buffer — pin its absence (quartiles come from
    // OrderStats.selectRanks instead)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"), plan)
  }

  test("ev_latest is one partial-aggregating groupBy (no window rank)") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "b", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    spark.conf.set("spark.graft.localEventsMaxRows", "0")
    val q = try streaming.Events.latestRecord(d)
    finally spark.conf.unset("spark.graft.localEventsMaxRows")
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // exactly one exchange: the groupBy(user_id) hash partitioning
    assert(plan.split("Exchange").length - 1 === 1, plan)
    // partial aggregation runs map-side before it
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      plan)
  }

  test("knnGraph LSH path plans no cartesian / nested-loop join") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val e = (0 until 40).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.localAnnMaxVecs", "0")
    spark.conf.set("spark.graft.embeddingBlockMaxVecs", "0")
    try {
      val q = ops.Similarity.knnGraph(e, 3)
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally {
      spark.conf.unset("spark.graft.localAnnMaxVecs")
      spark.conf.unset("spark.graft.embeddingBlockMaxVecs")
    }
  }

  test("FD embedding plans run the band-key equi-join, not a corpus " +
    "collect or all-pairs join") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val e = (0 until 50).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    Gates.forceDistributed(spark)
    try {
      // embeddingDedup LSH branch: band-key join present, no cartesian,
      // no broadcast nested loop (= no all-pairs), no local ship of a
      // collected corpus
      val dd = ops.Dedup.embeddingDedup(e, 0.3)
      dd.count()
      val ddPlan = finalPlan(dd)
      assert(ddPlan.contains("bk"), ddPlan)
      assert(!ddPlan.contains("CartesianProduct"), ddPlan)
      assert(!ddPlan.contains("BroadcastNestedLoopJoin"), ddPlan)

      // knnGraph LSH branch: same shape
      val knn = ops.Similarity.knnGraph(e, 3)
      knn.count()
      val knnPlan = finalPlan(knn)
      assert(knnPlan.contains("bk"), knnPlan)
      assert(!knnPlan.contains("CartesianProduct"), knnPlan)
      assert(!knnPlan.contains("BroadcastNestedLoopJoin"), knnPlan)

      // serving path (batch run of the stream-legal plan): the band-key
      // join replaces the broadcast-block udf — a Generate (band-key
      // explode) feeds a join keyed on bk; the block path has neither
      val q = e.filter(col("vec_id") < 5)
      val ann = ops.Similarity.topKForQueryStream(q, e, 3)
      ann.count()
      val annPlan = finalPlan(ann)
      assert(annPlan.contains("bk"), annPlan)
      assert(annPlan.contains("Generate"), annPlan)
      assert(!annPlan.contains("CartesianProduct"), annPlan)
      assert(!annPlan.contains("BroadcastNestedLoopJoin"), annPlan)
    } finally Gates.all.foreach(g => spark.conf.unset(g.conf))
  }

  test("oracleSql swaps in the LSH-replay oracles exactly when the " +
    "session forces the LSH path (the conf the dispatch reads)") {
    assert(SparkEntry.oracleSql("st_ann") !== LshOracleSql.stAnn)
    assert(SparkEntry.oracleSql("sim_knn") !== LshOracleSql.simKnn)
    spark.conf.set("spark.graft.embeddingBlockMaxVecs", "0")
    try {
      assert(SparkEntry.oracleSql("st_ann") === LshOracleSql.stAnn)
      assert(SparkEntry.oracleSql("sim_knn") === LshOracleSql.simKnn)
      assert(SparkEntry.oracleSql("dd_embedding") === LshOracleSql.ddEmbedding)
      assert(SparkEntry.oracleSql("sim_semdedup") === LshOracleSql.simSemdedup)
    } finally spark.conf.unset("spark.graft.embeddingBlockMaxVecs")
    assert(SparkEntry.oracleSql("st_ann") !== LshOracleSql.stAnn)
  }

  test("RangeJoinRewrite bands the naive interval join automatically") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val hourUs = 3600L * 1000000
    val ev = (0 until 400).map { i =>
      (i.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        1700000000L + rnd.nextInt(40000))),
        rnd.nextInt(12).toLong,
        if (i % 3 == 0) "purchase" else "click", rnd.nextDouble())
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val naive = streaming.Events.rangeJoinCountsNaive(ev)
    naive.count()
    val plan = naive.queryExecution.executedPlan.toString
    // the injected rule must have banded the join: generator-replicated
    // right side, bin equi-key, and NO nested-loop anywhere
    assert(plan.contains("__graft_range_bin"), plan)
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // and the rewrite is semantics-preserving vs the hand-banded op
    val banded = streaming.Events.rangeJoinCounts(ev)
    val a = naive.collect().map(_.toSeq.toVector).sortBy(_.mkString("|"))
    val b = banded.collect().map(_.toSeq.toVector).sortBy(_.mkString("|"))
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("RangeJoinRewrite leaves the hand-banded plan alone (idempotent)") {
    val s = spark; import s.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "purchase", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 09:30:00"), 1L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    spark.conf.set("spark.graft.localEventsMaxRows", "0")
    val q = try streaming.Events.rangeJoinCounts(ev)
    finally spark.conf.unset("spark.graft.localEventsMaxRows")
    q.count()
    // the hand-banded plan already joins on a key named `bin` — the
    // rule must not re-band it (no marker column appears)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_range_bin"), plan)
  }

  test("rel_latesupplier: one aggregation pass, no window, bounded top-k") {
    val s = spark; import s.implicits._
    val li = Seq((1L, 100L, java.sql.Timestamp.valueOf("1997-01-01 00:00:00")),
      (1L, 200L, java.sql.Timestamp.valueOf("1997-02-01 00:00:00")))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val ord = Seq((1L, "F")).toDF("o_orderkey", "o_orderstatus")
    val supp = Seq((200L, "S")).toDF("s_suppkey", "s_name")
    val q = ops.Relational.lateSuppliers(li, ord, supp, "F", 10)
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly TWO hash exchanges — the one per-order aggregation pass
    // and the per-supplier rollup; the join-back-at-max formulation
    // this replaced planned three plus a shuffled join
    assert(plan.split("Exchange hashpartitioning").length - 1 == 2, plan)
  }

  test("rel_rollup: one Expand aggregation, not a union of scans") {
    val s = spark; import s.implicits._
    val ord = Seq((1L, 10L, 5.0)).toDF("o_orderkey", "o_custkey",
      "o_totalprice")
    val cust = Seq((10L, 100)).toDF("c_custkey", "c_nationkey")
    val nat = Seq((100, 1, "FRANCE")).toDF("n_nationkey", "n_regionkey",
      "n_name")
    val reg = Seq((1, "EUROPE")).toDF("r_regionkey", "r_name")
    val q = ops.Relational.revenueRollup(ord, cust, nat, reg)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Union"), plan)
  }

  test("rel_pivot: one aggregation of conditional sums, no join") {
    val s = spark; import s.implicits._
    val ord = Seq((1L, "F", 5.0,
        java.sql.Timestamp.valueOf("1997-01-05 00:00:00")))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val q = ops.Relational.revenuePivotByStatus(ord, Seq("F", "O", "P"))
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Join"), plan)
    // ONE hash exchange (the groupBy(month)); Dataset.pivot would plan
    // a second (month, status) aggregation stage
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
    assert(!plan.contains("pivotfirst"), plan)
  }

  test("tx_pmi: single corpus lineage, bounded top-k, no cartesian") {
    val q = ops.TextOps.pmiCollocations(docs, 1L, 5)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the one-row total rides a broadcast; the marginal joins must stay
    // equi-joins — no cartesian anywhere
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("ev_sessionwin: one user-keyed exchange into the merge aggregate") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 1L, "a", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = streaming.Events.sessionWindows(d)
    q.collect()
    val plan = finalPlan(q)
    // the session merge runs inside the aggregation operator — no
    // window rank, no self-join; exactly one hash exchange (user key)
    assert(!plan.contains("Window ") && !plan.contains("Join"), plan)
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
    assert(plan.toLowerCase.contains("session"), plan)
  }

  test("distributed pack plans exactly one range exchange") {
    val s = spark; import s.implicits._
    val d = (0L until 100L).map(i => (i, s"s${i % 2}", i % 7 + 1))
      .toDF("doc_id", "source", "n_tokens")
    val q = ops.Mix.pack(d, col("source"), 10L)
    q.count()
    // the output plan scans the prefix-sum RDD; the single range
    // exchange lives in the persisted upstream — assert the OUTPUT
    // adds no further shuffle
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("gr_diameter forced distributed: the second sweep persists no new " +
    "edge exchange, it reuses the handle's prepared graph") {
    val ns = spark.newSession()
    Gates.localBfsMaxEdges.set(ns, 0L)
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries("q7_bfs")(ns, dir).count()
    val sc = ns.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val row = SparkEntry.queries("gr_diameter")(ns, dir).head()
    assert(row.getLong(3) >= 1L)
    // the sweep's level loop checkpoints its levels serialized; a second
    // construction would persist its edges and vertex set deserialized
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      .values.map(_.getStorageLevel).toSeq
    assert(added.nonEmpty, "the second sweep ran the level loop")
    assert(added.forall(_ == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
      s"storage levels persisted by the second sweep: $added")
  }

  test("q2_clean_edges forced distributed: the prepared graph's edges, no new " +
    "job or shuffle of the raw edges") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val ns = spark.newSession()
    Gates.localBfsMaxEdges.set(ns, 0L)
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries("q7_bfs")(ns, dir).count()
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    def inGroup[A](g: String)(body: => A): A = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val (q2, rows) = try {
      val q2 = inGroup("q2-build")(SparkEntry.queries("q2_clean_edges")(ns, dir))
      val rows = q2.collect()
      // listener events arrive in order: once the sentinel job's start is
      // seen, every task of the query's jobs has been seen too
      inGroup("q2-sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("q2-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("q2-sentinel"))
      (q2, rows)
    } finally sc.removeSparkListener(listener)
    // no second copy of the relation (the checkpoint of a re-planned
    // cleanEdges), and nothing shuffled to read it
    assert(!groups.contains("q2-build"), s"jobs started building q2: $groups")
    assert(shuffled.get === 0L, "records shuffled by q2_clean_edges")
    assert(finalPlan(q2).contains("InMemoryTableScan"), finalPlan(q2))
    // the same relation the kernel path emits from its CSR
    val kernel = SparkEntry.queries("q2_clean_edges")(spark.newSession(), dir)
      .collect()
    assert(rows.length === kernel.length && rows.toSet === kernel.toSet)
  }
}
