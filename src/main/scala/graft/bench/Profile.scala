package graft.bench

import org.apache.spark.sql.SparkSession
import graft.bfs.{Bfs, LocalCsr}
import graft.gen.Kronecker

/** Throwaway construction profiler (dev tool). */
object Profile {
  private def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  /** `runMain graft.bench.Profile queries <sfDir> <q1,q2,...>`: run each
    * named SparkEntry query 3× and print per-iteration times —
    * steady-state vs first-touch attribution. */
  def profileQueries(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names = if (args.length > 2) args(2).split(",").toSeq
      else Seq("ev_sessions", "ev_window", "ev_topusers", "cc_components",
        "dd_ngram", "dd_minhash", "dd_simhash", "q10_level_sizes")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      graft.Gates.forceDistributed(spark)
    Main.applyConfOverrides(spark)
    // job/stage/task counters: attributes an iterative loop's floor to
    // scheduling (many tiny stages) vs compute (task time)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        }
      })
    for (n <- names; i <- 1 to 3) {
      val (j0, s0, m0) = (jobs.get, stages.get, taskMs.get)
      t(s"$n#$i")(graft.SparkEntry.queries(n)(spark, sfDir).count())
      println(s"    jobs=${jobs.get - j0} stages=${stages.get - s0} " +
        s"taskTime=${(taskMs.get - m0) / 1e3}s")
    }
    spark.stop()
  }

  /** `runMain graft.bench.Profile triangles <sfDir>`: stage breakdown of
    * the co-purchase triangle count (join+collect vs CSR build vs
    * kernel). */
  def profileTriangles(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      graft.Gates.forceDistributed(spark)
    import org.apache.spark.sql.functions.col
    for (i <- 1 to 3) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      val flat = t(s"#$i join+collectPairs")(LocalCsr.collectPairs(pairs))
      println(s"    pairs = ${flat.length / 2}")
      val csr = t(s"#$i buildFromRawPairs")(LocalCsr.buildFromRawPairs(flat))
      val (w, tr) = t(s"#$i countCsr")(graft.bfs.Triangles.countCsr(csr))
      println(s"    wedges=$w triangles=$tr")
    }
    spark.stop()
  }

  /** `runMain graft.bench.Profile relscale [sfDir] [K]`: the heaviest
    * relational plans on a K×-replicated lineitem (key-shifted copies,
    * so group/join cardinalities scale with the data) — scale-smoke
    * evidence that the shapes hold past the provided tiers, not a
    * correctness tier (oracles stay at sf0.01). */
  def profileRelScale(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val k = if (args.length > 2) args(2).toInt else 20
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val maxOk = li0.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val li = li0
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOk)
      .drop("rep")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = t(s"materialize ${k}x lineitem")(li.count())
    println(s"    rows = $n")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val supp = spark.read.parquet(s"$sfDir/supplier.parquet")
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    // orders replicated the same way so the fact-fact joins scale too
    val maxOk2 = maxOk
    val ordK = ord.crossJoin(spark.range(k).select(col("id").as("rep")))
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxOk2)
      .drop("rep")
    for (i <- 1 to 2) {
      t(s"#$i rel_pricing")(graft.ops.Relational
        .pricingSummary(li, "1998-09-02").count())
      t(s"#$i rel_toporders")(graft.ops.Relational
        .topOrdersPerSegment(li, ordK, cust, 10).count())
      t(s"#$i rel_latesupplier")(graft.ops.Relational
        .lateSuppliers(li, ordK, supp, "F", 100).count())
      t(s"#$i rel_colprofile")(graft.ops.Relational
        .columnProfile(li,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .count())
      t(s"#$i rel_smallqty")(graft.ops.Relational
        .smallQuantityRevenue(li, part, "Brand#3", 1, 5).count())
    }
    li.unpersist()
    spark.stop()
  }

  /** `runMain graft.bench.Profile batched [scale]`: per-run times inside
    * the batched kernel loop vs the sequential protocol's interleaved
    * bfs/validate pattern — attributes the batched-throughput gap — then
    * per root the kernel's level trace: (level, direction, frontier
    * size, frontier out-edges m_f, unvisited edges m_u). */
  def profileBatched(args: Array[String]): Unit = {
    val scale = if (args.length > 1) args(1).toInt else 18
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw = Kronecker.generate(spark, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRaw = raw.count()
    val g = Bfs.prepareRaw(raw, knownCount = nRaw)
    val csr = g.csr
    val roots = Kronecker.sampleRoots(16, csr.ids.last + 1,
      v => java.util.Arrays.binarySearch(csr.ids, v) >= 0)
    // warm-up (PRE_EXEC)
    val w0 = System.nanoTime()
    var wi = 0
    while (wi < 8 && System.nanoTime() - w0 < 1000000000L) {
      csr.bfs(roots.head); wi += 1
    }
    System.gc()
    for (round <- 1 to 3) {
      println(s"== round $round ==")
      // batched shape: back-to-back, hold all outputs
      val b0 = System.nanoTime()
      val times = roots.map { r =>
        val t0 = System.nanoTime()
        val out = csr.bfs(r)
        ((System.nanoTime() - t0) / 1e6, out)
      }
      val bw = (System.nanoTime() - b0) / 1e9
      println(f"  batched wall $bw%.3f s; per-run ms: " +
        times.map(t => f"${t._1}%.1f").mkString(" "))
      // sequential-protocol shape: drop output each run, System.gc between
      val s0 = System.nanoTime()
      val times2 = roots.map { r =>
        val t0 = System.nanoTime()
        csr.bfs(r)
        (System.nanoTime() - t0) / 1e6
      }
      val sw = (System.nanoTime() - s0) / 1e9
      println(f"  drop-out  wall $sw%.3f s; per-run ms: " +
        times2.map(t => f"$t%.1f").mkString(" "))
    }
    println("== level trace: (level, direction, frontier, m_f, m_u) ==")
    roots.foreach { r =>
      val (_, depth, _) = csr.bfs(r)
      println(s"  root $r: " + csr.levelTrace(depth).map { t =>
        s"(${t.level}, ${if (t.bottomUp) "BU" else "TD"}, ${t.nf}, ${t.mf}, ${t.mu})"
      }.mkString(" "))
    }
    spark.stop()
  }

  /** `runMain graft.bench.Profile gen [scale]`: the Kronecker generator
    * three ways, 3 rounds each — alone on one thread (edges/s), as
    * `generate().count()`, and as `generate().persist().count()` — so
    * that generator CPU and the cache build inside a protocol's
    * generation stage can be told apart. */
  def profileGen(args: Array[String]): Unit = {
    val scale = if (args.length > 1) args(1).toInt else 16
    val nEdges = Kronecker.DefaultEdgeFactor << scale
    val cores = Runtime.getRuntime.availableProcessors()
    val (v0, v1) = Kronecker.scrambleVals(Kronecker.DefaultSeed1, Kronecker.DefaultSeed2)
    for (round <- 1 to 3) {
      val src = new Kronecker.Source(scale, Kronecker.DefaultSeed1,
        Kronecker.DefaultSeed2, v0, v1)
      val t0 = System.nanoTime()
      var check = 0L
      var i = 0L
      while (i < nEdges) { val (a, b) = src.edge(i); check += a ^ b; i += 1 }
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[profile] gen one thread #$round%-12s $s%.3f s " +
        f"${nEdges / s / 1e6}%.2f M edges/s (checksum $check)")
    }
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (round <- 1 to 3)
      t(s"generate().count() #$round")(Kronecker.generate(spark, scale).count())
    for (round <- 1 to 3) {
      val df = Kronecker.generate(spark, scale)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t(s"persist().count() #$round")(df.count())
      df.unpersist(blocking = true)
    }
    spark.stop()
  }

  /** `runMain graft.bench.Profile pagerank <sfDir>`: per-variant timing
    * of the distributed PageRank loop — attributes the FD floor to AQE
    * scheduling vs checkpoint cadence vs partition count. */
  def profilePagerank(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Gates.forceDistributed(spark)
    import org.apache.spark.sql.functions._
    val clean = graft.etl.EdgeOps.cleanEdges(
      graft.etl.EdgeOps.edgesFromLineitem(spark, sfDir))
      .localCheckpoint(eager = true)
    println(s"edges = ${clean.count()}")
    for (i <- 1 to 2) {
      t(s"#$i current")(
        graft.bfs.PageRank.pagerank(spark, clean).count())
    }
    // per-iteration instrumented replica of the loop
    val edges = clean.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val od = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nV = od.count()
    val base = (graft.bfs.PageRank.Scale * 15L / 100L) / nV
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
          gcMs.addAndGet(s.stageInfo.taskMetrics.jvmGCTime)
        }
      })
    def loop(label: String)(step: (org.apache.spark.sql.DataFrame, Int)
        => org.apache.spark.sql.DataFrame): Unit = {
      var ranks = od.select(col("v"), col("outdeg"),
        lit(graft.bfs.PageRank.Scale / nV).as("r"))
      t(label) {
        for (it <- 1 to 10) {
          val (m0, g0) = (taskMs.get, gcMs.get)
          val i0 = System.nanoTime()
          val contrib = edges
            .join(ranks.select(col("v").as("src"),
              expr("(r * 85) div (100 * outdeg)").as("c")), "src")
            .groupBy(col("dst").as("v")).agg(sum(col("c")).as("s"))
          ranks = step(od.join(contrib, "v")
            .select(col("v"), col("outdeg"), (lit(base) + col("s")).as("r")), it)
          println(f"    it$it ${(System.nanoTime() - i0) / 1e9}%.2fs " +
            f"task=${(taskMs.get - m0) / 1e3}%.1fs gc=${(gcMs.get - g0) / 1e3}%.1fs")
        }
        ranks.localCheckpoint(eager = true).count()
      }
    }
    def cleanup(): Unit = {
      val keep = Set(edges.rdd.id, od.rdd.id)
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep(r.id)).foreach(_.unpersist(true))
      System.gc(); Thread.sleep(300)
    }
    for (i <- 1 to 3) {
      loop(s"#$i lazy-every")((df, _) =>
        { val c = df.localCheckpoint(eager = false); c.count(); c })
      cleanup()
      loop(s"#$i eager-every3")((df, it) =>
        if (it % 3 == 0 && it < 10) df.localCheckpoint(eager = true) else df)
      cleanup()
      loop(s"#$i lazy-every3")((df, it) =>
        if (it % 3 == 0 && it < 10)
          { val c = df.localCheckpoint(eager = false); c.count(); c }
        else df)
      cleanup()
    }
    spark.stop()
  }

  /** `runMain graft.bench.Profile annscale [nVecs] [dim] [nQueries] [k]`:
    * scale-proof of the above-block-limit streaming-ANN serving path —
    * a synthetic clustered corpus well past the broadcast-block limit is
    * served through the hyperplane-LSH band join (the exact plan
    * `st_ann`/`topKForQueryStream` dispatches to at corpus scale), and
    * the same query sample is answered exactly by the broadcast-block
    * path to measure wall time AND recall@k of the LSH plan. */
  def profileAnnScale(args: Array[String]): Unit = {
    val n = if (args.length > 1) args(1).toInt else 500000
    val dim = if (args.length > 2) args(2).toInt else 64
    val nQ = if (args.length > 3) args(3).toInt else 100
    val k = if (args.length > 4) args(4).toInt else 5
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    // Deterministic clustered corpus: 1024 unit-ish centers, each point
    // = its center + bounded hash noise — cluster-mates are the true
    // near neighbors, the regime LSH banding is built for. splitmix64
    // finalizer for all pseudo-randomness (no RNG, fully replayable).
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(seed: Long): Array[Double] = {
      val v = Array.tabulate(dim)(j =>
        (mix(seed * 8191 + j).toDouble / Long.MaxValue))
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val mkVec = udf { (id: Long) =>
      val c = unit(id % 1024)
      val noise = unit(mix(id) | 1L)
      Array.tabulate(dim)(j => (c(j) + 0.15 * noise(j)).toFloat)
    }
    val corpus = spark.range(n)
      .select(col("id").as("vec_id"), mkVec(col("id")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"corpus = ${corpus.count()} vectors, dim $dim")
    val queries = corpus.filter(col("vec_id") % (n / nQ) === 0)
      .localCheckpoint(eager = true)
    println(s"queries = ${queries.count()}")
    for (i <- 1 to 2) {
      graft.Gates.embeddingBlockMaxVecs.set(spark, 0L)
      val lsh = t(s"#$i LSH band-join serve") {
        val r = graft.ops.Similarity
          .topKForQueryStream(queries, corpus, k)
          .localCheckpoint(eager = true)
        r.count(); r
      }
      graft.Gates.embeddingBlockMaxVecs.set(spark, n + 1L)
      val exact = t(s"#$i broadcast exact serve") {
        val r = graft.ops.Similarity
          .topKForQueryStream(queries, corpus, k)
          .localCheckpoint(eager = true)
        r.count(); r
      }
      val rec = graft.ops.Similarity.recallAtK(lsh, exact)
        .agg(avg(col("recall"))).head().getDouble(0)
      println(f"    recall@$k vs exact = $rec%.4f")
    }
    spark.stop()
  }

  /** `runMain graft.bench.Profile construction [scale]`: stage-by-stage
    * timing of the DISTRIBUTED construction path (the one SCALE 24 takes
    * above the 64M-edge gate) vs a single-exchange alternative that
    * repartitions the symmetrized stream by src FIRST and dedups within
    * that layout — HashPartitioning(src) satisfies the (src,dst)
    * clustering requirement, so the dedup aggregate runs without a
    * second exchange and the result is already in the layout the level
    * loop wants. Prints counts from both paths (must match). */
  def profileConstruction(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val scale = if (args.length > 1) args(1).toInt else 22
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Work-based metrics alongside wall time: this box's wall numbers
    // swing 2-5x run-to-run, but spill/GC/shuffle bytes are a property
    // of the plan, not the neighbors.
    val mSpill = new java.util.concurrent.atomic.AtomicLong
    val mDisk = new java.util.concurrent.atomic.AtomicLong
    val mGc = new java.util.concurrent.atomic.AtomicLong
    val mShuf = new java.util.concurrent.atomic.AtomicLong
    val mCpu = new java.util.concurrent.atomic.AtomicLong
    // per-task run times within the current phase: the window dedup
    // partitions by src, so the hottest hub's adjacency sorts in ONE
    // task — max/median is the skew evidence (a ratio near 1 means hub
    // locality is inside task-size noise; >> 1 would argue for a salted
    // two-pass dedup)
    val taskTimes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, java.lang.Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            mSpill.addAndGet(m.memoryBytesSpilled)
            mDisk.addAndGet(m.diskBytesSpilled)
            mGc.addAndGet(m.jvmGCTime)
            mShuf.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mCpu.addAndGet(m.executorCpuTime)
            taskTimes.add((e.stageId, m.executorRunTime))
          }
        }
      })
    def metrics(tag: String): Unit = {
      Thread.sleep(2000) // listener bus is async — let task-end events drain
      val byStage = {
        val a = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var v = taskTimes.poll()
        while (v != null) { a += ((v._1, v._2.longValue)); v = taskTimes.poll() }
        a.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      }
      println(f"[metrics] $tag%-10s spillMem=${mSpill.getAndSet(0) / 1e9}%.2f GB" +
        f" spillDisk=${mDisk.getAndSet(0) / 1e9}%.2f GB" +
        f" shufWrite=${mShuf.getAndSet(0) / 1e9}%.2f GB" +
        f" gc=${mGc.getAndSet(0) / 1e3}%.1f s" +
        f" cpu=${mCpu.getAndSet(0) / 1e9}%.1f s")
      // PER-STAGE skew (the hub-partition question is about one stage's
      // task spread, not a phase mixing map and reduce profiles): the 3
      // heaviest stages of the phase, each with max/median task time.
      byStage.toSeq.sortBy(-_._2.sum).take(3).foreach { case (sid, tt) =>
        val med = tt(tt.length / 2).toDouble.max(1.0)
        println(f"    stage $sid: tasks=${tt.length} total=${tt.sum / 1e3}%.1fs" +
          f" max=${tt.last / 1e3}%.1fs med=${med / 1e3}%.1fs" +
          f" maxOverMed=${tt.last / med}%.1f")
      }
    }
    val raw = t("generate+persist+count") {
      val r = Kronecker.generate(spark, scale)
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    metrics("gen")
    // ---- pre-round-7 path (inlined for comparison): partial-agg'd
    // distinct() on (src,dst) then a second full exchange onto src.
    // SPARK_GRAFT_CONS_SKIP_A=1 skips it (B-only iteration). ----
    if (sys.env.getOrElse("SPARK_GRAFT_CONS_SKIP_A", "0") != "1") {
    val clean = t("A1 distinct(src,dst)") {
      val noLoops = raw.filter(col("src") =!= col("dst"))
      val c = noLoops
        .union(noLoops.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      println(s"  nClean=${c.count()}")
      c
    }
    val edges = t("A2 repartition(src)+persist") {
      val e = clean.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    val nvA = t("A3 vertex distinct") {
      edges.select(col("src").as("vertex")).distinct().count()
    }
    println(s"  nVerts(A)=$nvA")
    metrics("pathA")
    edges.unpersist(blocking = true)
    clean.unpersist(blocking = true)
    }
    // ---- shipped path (EdgeOps.cleanEdges): ONE exchange on src,
    // dedup inside the layout. SPARK_GRAFT_CONS_PARTS overrides the
    // exchange's partition count (dedup hash-map size per task =
    // rows/partition — the spill knob). ----
    sys.env.get("SPARK_GRAFT_CONS_PARTS").foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
    }
    if (sys.env.getOrElse("SPARK_GRAFT_CONS_ONLY_D", "0") != "1") {
    if (sys.env.getOrElse("SPARK_GRAFT_CONS_SKIP_B", "0") != "1") {
    val cleanB = t("B1 hash dedup (src-part)") {
      val noLoops = raw.filter(col("src") =!= col("dst"))
      val c = noLoops
        .union(noLoops.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      println(s"  nClean=${c.count()}")
      c
    }
    val nvB = t("B2 vertex distinct") {
      cleanB.select(col("src").as("vertex")).distinct().count()
    }
    println(s"  nVerts(B)=$nvB")
    metrics("pathB")
    cleanB.unpersist(blocking = true)
    }
    // ---- path C: same single exchange, but STREAMING dedup — sort
    // within partitions by (src,dst) (radix on two longs), then keep a
    // row iff it differs from its predecessor (lag window). No hash
    // map at all: the dedup is O(1) memory over the sorted stream. ----
    val cleanC = t("C1 cleanEdges sort+lag dedup") {
      val c = graft.etl.EdgeOps.cleanEdges(raw)
        .persist(StorageLevel.MEMORY_AND_DISK)
      println(s"  nClean=${c.count()}")
      c
    }
    val nvC = t("C2 vertex distinct") {
      cleanC.select(col("src").as("vertex")).distinct().count()
    }
    println(s"  nVerts(C)=$nvC")
    metrics("pathC")
    cleanC.unpersist(blocking = true)
    }
    // ---- path D: the protocol's actual construction call ----
    val gD = t("D prepareRaw(knownCount)") {
      Bfs.prepareRaw(raw, knownCount = edgeFactorOf(scale))
    }
    println(s"  nVerts(D)=${gD.totalVerts} nE=${gD.totalEdges}")
    metrics("pathD")
    spark.stop()
  }

  private def edgeFactorOf(scale: Int): Long =
    graft.gen.Kronecker.DefaultEdgeFactor << scale

  /** `runMain graft.bench.Profile validation [scale]`: distributed
    * 5-predicate validation stage timings + work metrics at a scale
    * above the kernel gate — generate, construct, one BFS, then the
    * validate call the protocol pays per run. */
  def profileValidation(args: Array[String]): Unit = {
    import org.apache.spark.storage.StorageLevel
    val scale = if (args.length > 1) args(1).toInt else 24
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mSpill = new java.util.concurrent.atomic.AtomicLong
    val mDisk = new java.util.concurrent.atomic.AtomicLong
    val mShuf = new java.util.concurrent.atomic.AtomicLong
    val mCpu = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            mSpill.addAndGet(m.memoryBytesSpilled)
            mDisk.addAndGet(m.diskBytesSpilled)
            mShuf.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mCpu.addAndGet(m.executorCpuTime)
          }
        }
      })
    def metrics(tag: String): Unit = {
      Thread.sleep(2000)
      println(f"[metrics] $tag%-12s spillMem=${mSpill.getAndSet(0) / 1e9}%.2f GB" +
        f" spillDisk=${mDisk.getAndSet(0) / 1e9}%.2f GB" +
        f" shufWrite=${mShuf.getAndSet(0) / 1e9}%.2f GB" +
        f" cpu=${mCpu.getAndSet(0) / 1e9}%.1f s")
    }
    val raw = t("generate") {
      val r = Kronecker.generate(spark, scale)
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count(); r
    }
    val g = t("construct")(Bfs.prepareRaw(raw, knownCount = edgeFactorOf(scale)))
    metrics("setup")
    val root = t("root")(raw.agg(org.apache.spark.sql.functions.min(
      org.apache.spark.sql.functions.col("src"))).head().getLong(0))
    val tree = t("bfs") {
      val tr = Bfs.bfsMinParent(spark, g, root).tree
        .persist(StorageLevel.MEMORY_AND_DISK)
      tr.count(); tr
    }
    metrics("bfs")
    for (round <- 1 to 2) {
      val res = t(s"validate r$round") {
        graft.validate.Validator.validate(
          spark, raw, tree, root, 1L << scale).head()
      }
      println(s"  $res")
      metrics(s"validate r$round")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("validation")) { profileValidation(args); return }
    if (args.headOption.contains("construction")) { profileConstruction(args); return }
    if (args.headOption.contains("queries")) { profileQueries(args); return }
    if (args.headOption.contains("pagerank")) { profilePagerank(args); return }
    if (args.headOption.contains("annscale")) { profileAnnScale(args); return }
    if (args.headOption.contains("triangles")) { profileTriangles(args); return }
    if (args.headOption.contains("batched")) { profileBatched(args); return }
    if (args.headOption.contains("relscale")) { profileRelScale(args); return }
    if (args.headOption.contains("gen")) { profileGen(args); return }
    val scale = if (args.nonEmpty) args(0).toInt else 18
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      graft.Gates.forceDistributed(spark)

    // ---- graph500 construction at SCALE ----
    for (round <- 1 to 3) {
      println(s"== scale $scale round $round ==")
      val raw = t("generate+persist+count") {
        val r = Kronecker.generate(spark, scale)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }
      val nRaw = t("count-cached")(raw.count())
      val flat = t("collectPairs")(LocalCsr.collectPairs(raw))
      println(s"  nRaw=$nRaw flatLen=${flat.length}")
      val csr = t("buildFromRawPairs")(LocalCsr.buildFromRawPairs(flat))
      println(s"  nV=${csr.nVerts} nE=${csr.nbrs.length}")
      val g = t("prepareRaw-total")(Bfs.prepareRaw(raw))
      t("first-bfs")(g.csr.bfs(csr.ids(0)))
      raw.unpersist(blocking = true)
      g.unpersist()
    }

    // ---- sf0.1 handle build ----
    for (round <- 1 to 3) {
      println(s"== sf0.1 handle round $round ==")
      val raw2 = t("rawEdges(sf0.1)") {
        graft.etl.EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.1")
      }
      val n2 = t("raw.count")(raw2.count())
      println(s"  nRaw=$n2")
      val flat2 = t("collectPairs")(LocalCsr.collectPairs(raw2))
      val csr2 = t("buildFromRawPairs")(LocalCsr.buildFromRawPairs(flat2))
      val (g2, root) = t("prepareRawWithRoot")(Bfs.prepareRawWithRoot(raw2))
      t("bfsMinParentWithArrays")(Bfs.bfsMinParentWithArrays(spark, g2, root))
      println(s"  nV=${csr2.nVerts}")
      g2.unpersist()
    }
    spark.stop()
  }
}
