package graft.bfs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.etl.EdgeOps

/** The hybrid executor's two paths must produce identical canonical
  * min-parent trees — the local CSR kernel is an optimization, never a
  * semantics change. The distributed side is the same entry point with
  * the kernel gate at 0. */
class LocalCsrSpec extends SparkSpec {

  /** Kernel vs level loop from `root`: equal trees and `levelSizes`. */
  private def kernelEqualsLoop(g: Bfs.PreparedGraph, root: Long,
                               label: String): Unit = {
    assert(g.totalEdges <= graft.Gates.localBfsMaxEdges.limit(spark),
      s"$label: test graph should take the local path")
    val local = Bfs.bfsMinParent(spark, g, root)
    assert(local.dense.isDefined, s"$label: the kernel ran")
    val dist = graft.Gates.localBfsMaxEdges.withLimit(spark, 0L) {
      Bfs.bfsMinParent(spark, g, root)
    }
    assert(local.levelSizes === dist.levelSizes, s"$label: levelSizes")
    assert(local.tree.exceptAll(dist.tree).isEmpty &&
      dist.tree.exceptAll(local.tree).isEmpty,
      s"$label: local CSR tree must equal the distributed loop's tree")
  }

  private def treesEqual(scale: String): Unit = {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, s"/root/testdata/$scale"))
    val root = clean.agg(min(col("src"))).head().getLong(0)
    val g = Bfs.prepareRaw(clean)
    try kernelEqualsLoop(g, root, scale)
    finally g.unpersist()
  }

  test("local CSR BFS equals distributed BFS on sf0.001 lineitem graph") {
    treesEqual("sf0.001")
  }

  test("local CSR BFS equals distributed BFS on random graphs (5 seeds)") {
    val s = spark
    import s.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 60 + rnd.nextInt(60)
      val raw = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .toDF("src", "dst")
      val clean = EdgeOps.cleanEdges(raw)
      if (clean.count() > 0) {
        val root = clean.agg(min(col("src"))).head().getLong(0)
        val g = Bfs.prepareRaw(clean)
        try kernelEqualsLoop(g, root, s"seed $seed")
        finally g.unpersist()
      }
    }
  }

  test("in-kernel dedup CSR equals CSR from DataFrame-distinct edges") {
    val s = spark
    import s.implicits._
    for (seed <- 40 to 42) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .toDF("src", "dst")
      val a = LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(EdgeOps.cleanEdges(raw)))
      val b = LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(raw))
      assert(a.ids.toSeq === b.ids.toSeq, s"seed=$seed ids")
      assert(a.rowStarts.toSeq === b.rowStarts.toSeq, s"seed=$seed rowStarts")
      assert(a.nbrs.toSeq === b.nbrs.toSeq, s"seed=$seed nbrs")
    }
  }

  test("parallel kernels produce the sequential min-parent tree") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
    val csr = LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(clean))
    val root = csr.ids(0)
    val (pSeq, dSeq, sSeq) = csr.bfs(root)
    val saved = csr.parallelWork
    csr.parallelWork = 0L // force every level through the parallel path
    try {
      for (_ <- 1 to 3) { // racy code: repeat for confidence
        val (pPar, dPar, sPar) = csr.bfs(root)
        assert(pPar.toSeq === pSeq.toSeq)
        assert(dPar.toSeq === dSeq.toSeq)
        assert(sPar === sSeq)
      }
    } finally csr.parallelWork = saved
  }

  test("direction switch: Beamer's edge-count rule at its thresholds") {
    // (case, wasBottomUp, m_f, m_u, n_f, prev n_f, nV, expected bottomUp)
    val nV = 2400L
    val table = Seq(
      ("m_f·14 == m_u stays top-down", false, 10L, 140L, 5L, 1L, nV, false),
      ("m_f·14 one above m_u goes bottom-up", false, 10L, 139L, 5L, 1L, nV, true),
      ("top-down ignores frontier sizes", false, 1L, 100L, 2000L, 1L, nV, false),
      ("n_f·24 == nV, shrinking, stays bottom-up", true, 0L, 0L, 100L, 200L, nV, true),
      ("n_f·24 < nV, shrinking, returns top-down", true, 0L, 0L, 99L, 200L, nV, false),
      ("n_f·24 < nV, growing, stays bottom-up", true, 0L, 0L, 99L, 50L, nV, true),
      ("n_f·24 < nV, flat, stays bottom-up", true, 0L, 0L, 99L, 99L, nV, true),
      ("bottom-up ignores edge counts", true, 1L, 1000L, 2000L, 1L, nV, true))
    for ((label, was, mf, mu, nf, prevNf, n, want) <- table)
      assert(LocalCsr.nextBottomUp(was, mf, mu, nf, prevNf, n) === want, label)
  }

  test("kernel equals the distributed loop on Kronecker graphs (SCALE 10, 12)") {
    for (scale <- Seq(10, 12)) {
      val raw = graft.gen.Kronecker.generate(spark, scale).persist()
      try {
        val csr = LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(raw))
        val nV = csr.nVerts
        def dense(r: Long) = java.util.Arrays.binarySearch(csr.ids, r)
        // the giant component is the one holding the max-degree vertex
        val hub = (0 until nV).maxBy(v => csr.rowStarts(v + 1) - csr.rowStarts(v))
        val (_, giant, _) = csr.bfs(csr.ids(hub))
        val sampled = graft.gen.Kronecker.sampleRoots(16, csr.ids.last + 1,
          v => dense(v) >= 0).toSeq
        val outside = (0 until nV).find(giant(_) < 0).map(csr.ids(_))
        val roots =
          if (outside.isEmpty || sampled.exists(r => giant(dense(r)) < 0)) sampled
          else sampled.init :+ outside.get
        assert(roots.size === 16)
        // the distributed level loop: one loop for all 16 roots, and at
        // SCALE 10 the single-source search from the root outside the
        // giant component (trees and levelSizes against the kernel's)
        val g = Bfs.prepareRaw(raw)
        val dist = try {
          if (scale == 10) outside.foreach(r => kernelEqualsLoop(g, r,
            s"SCALE 10 root $r outside the giant component"))
          graft.Gates.localBfsMaxEdges.withLimit(spark, 0L) {
            Bfs.bfsMinParentMulti(spark, g, roots).collect()
          }.groupBy(_.getLong(0)).map { case (run, rows) =>
            run.toInt -> rows.map(r => (r.getLong(1), r.getLong(2),
              if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
          }
        } finally g.unpersist()
        val pred = new Array[Int](nV)
        val depth = new Array[Int](nV)
        val saved = csr.parallelWork
        roots.zipWithIndex.foreach { case (r, run) =>
          val label = s"SCALE $scale root $r"
          val (p, d, sizes) = csr.bfs(r)
          val rows = (0 until nV).map { v =>
            (csr.ids(v), if (p(v) < 0) -1L else csr.ids(p(v)), d(v).toLong)
          }.toSet
          assert(rows === dist(run), s"$label: tree")
          val distSizes = dist(run).toSeq.filter(_._3 >= 0)
            .groupBy(_._3.toInt).map { case (l, vs) => (l, vs.size.toLong) }
            .toSeq.sorted
          assert(sizes === distSizes, s"$label: levelSizes")
          csr.parallelWork = 0L
          val (pPar, dPar, sPar) = try csr.bfs(r) finally csr.parallelWork = saved
          assert(pPar.toSeq === p.toSeq && dPar.toSeq === d.toSeq &&
            sPar === sizes, s"$label: parallel kernels")
          // reused work arrays: the second run must not see the first
          for (_ <- 1 to 2) {
            val (pIn, dIn, sIn) = csr.bfsInto(r, pred, depth)
            assert(pIn.toSeq === p.toSeq && dIn.toSeq === d.toSeq &&
              sIn === sizes, s"$label: bfsInto on reused arrays")
          }
          val trace = csr.levelTrace(d)
          assert(trace.map(t => (t.level - 1, t.nf)) === sizes,
            s"$label: levelTrace frontiers")
        }
        if (outside.nonEmpty)
          assert(roots.exists(r => giant(dense(r)) < 0),
            s"SCALE $scale: a root outside the giant component")
      } finally raw.unpersist()
    }
  }

  test("csr-derived relational views equal the distributed operators") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
      .persist()
    try {
      val csr = LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(clean))
      def same(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame, label: String): Unit =
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, label)
      same(csr.toCleanDf(spark), clean, "toCleanDf")
      same(csr.degreesDf(spark), EdgeOps.degrees(clean), "degreesDf")
      for (mode <- 0 to 2)
        same(csr.reorderDf(spark, mode), EdgeOps.reorderMap(clean, mode),
          s"reorderDf mode $mode")
      same(csr.graphCountsDf(spark), EdgeOps.graphCounts(clean),
        "graphCountsDf")
      // k larger than the distinct-degree plateau so the k-th slot has
      // degree ties — pins the (degree desc, id asc) tie-break.
      for (k <- Seq(3, 20, 1000))
        same(csr.twoHopReachDf(spark, k), EdgeOps.twoHopReach(clean, k),
          s"twoHopReachDf k=$k")
      same(csr.assortMomentsDf(spark), EdgeOps.assortativityMoments(clean),
        "assortMomentsDf")
    } finally clean.unpersist()
  }

  test("multi-root distributed loop: serialized level checkpoints, kernel-equal trees") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
    val g = Bfs.prepareRaw(clean)
    try {
      val roots = clean.select("src").distinct().orderBy("src")
        .limit(2).collect().map(_.getLong(0)).toSeq
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val multi = graft.Gates.localBfsMaxEdges.withLimit(spark, 0L) {
        Bfs.bfsMinParentMulti(spark, g, roots)
      }
      multi.count()
      // the per-level checkpoints must store SERIALIZED — the
      // deserialized default OOMed the 16-root SCALE-26 capacity run
      // (round-10 finding). Before the fix the loop registered ZERO
      // serialized persists (every checkpoint was the deserialized
      // default); after it, every level (root level + one per BFS
      // depth) is MEMORY_AND_DISK_SER. g.all's lazily-registered
      // InMemoryRelation cache stays deserialized — fine, |V|-bounded.
      val serLevels = spark.sparkContext.getPersistentRDDs
        .count { case (id, r) => !before(id) && r.getStorageLevel ==
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER }
      assert(serLevels >= 2,
        s"expected the loop's level checkpoints serialized, saw $serLevels")
      roots.zipWithIndex.foreach { case (r, i) =>
        val single = Bfs.bfsMinParent(spark, g, r).tree
        val slice = multi.filter(col("run") === i.toLong)
          .select("vertex", "pred", "depth")
        assert(slice.exceptAll(single).isEmpty &&
          single.exceptAll(slice).isEmpty, s"run $i root $r")
      }
    } finally g.unpersist()
  }

  test("multi-root local path equals per-root local trees") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
    val g = Bfs.prepareRaw(clean)
    try {
      val roots = clean.select("src").distinct().orderBy("src")
        .limit(3).collect().map(_.getLong(0)).toSeq
      val multi = Bfs.bfsMinParentMulti(spark, g, roots)
      roots.zipWithIndex.foreach { case (r, i) =>
        val single = Bfs.bfsMinParent(spark, g, r).tree
        val slice = multi.filter(col("run") === i.toLong)
          .select("vertex", "pred", "depth")
        assert(slice.exceptAll(single).isEmpty &&
          single.exceptAll(slice).isEmpty, s"run $i root $r")
      }
    } finally g.unpersist()
  }

  test("a raw row with a NULL endpoint is dropped, as cleanEdges drops it") {
    val s = spark
    import s.implicits._
    val raw = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), Some(3L)), (None, Some(5L)), (Some(4L), None)).toDF("src", "dst")
    val flat = LocalCsr.collectPairs(raw)
    assert(flat.toSeq === Seq(1L, 2L, 2L, 3L))
    val csr = LocalCsr.buildFromRawPairs(flat)
    assert(csr.ids.toSeq === Seq(1L, 2L, 3L))
    val clean = EdgeOps.cleanEdges(raw)
    val kernel = csr.toCleanDf(spark)
    assert(kernel.exceptAll(clean).isEmpty && clean.exceptAll(kernel).isEmpty)
    // the validator's collecting constructor skips them too
    new graft.validate.LocalValidator(csr.ids, raw)
  }

  test("the dense id map answers as a binary search over its ids") {
    val rnd = new scala.util.Random(7)
    val dense = (0L until 3000L).filter(_ => rnd.nextInt(3) == 0).toArray
    val cases = Seq(
      "dense" -> dense,
      "sparse (v << 40)" -> dense.map(_ << 40),
      "negative" -> (dense.map(-_) ++ dense).distinct.sorted,
      "Long.MaxValue" -> (dense :+ Long.MaxValue),
      "empty" -> Array.emptyLongArray)
    // the bitmap's size in longs for the dense ids, and one less: both
    // sides of the density rule
    val words = (dense.last >>> 6) + 1
    for ((label, ids) <- cases; budget <- Seq(words, words - 1)) {
      val map = LocalCsr.IdMap.ofSorted(ids, budget)
      assert(map.ids eq ids)
      val probes = ids.iterator ++ ids.iterator.map(_ + 1) ++
        ids.iterator.map(_ - 1) ++ Iterator(Long.MinValue, Long.MaxValue, -1L, 0L,
          dense.last + 64, dense.last << 40)
      for (x <- probes) {
        val i = java.util.Arrays.binarySearch(ids, x)
        assert(map(x) === math.max(i, -1), s"$label budget $budget: id $x")
      }
    }
    def kind(ids: Array[Long], budget: Long) =
      LocalCsr.IdMap.ofSorted(ids, budget).getClass.getSimpleName
    assert(kind(dense, words) === "Ranked")
    assert(kind(dense, words - 1) === "Hashed")
    assert(kind(dense.map(_ << 40), Int.MaxValue) === "Hashed")
    assert(kind(dense :+ -1L, Int.MaxValue) === "Hashed")
    // the construction's map over a pair array: the same ids either way
    val flat = dense.flatMap(v => Seq(v, (v * 7) % 3000)) ++ Array(5000L, 5000L)
    for ((pairs, want) <- Seq(flat -> "Ranked", flat.map(_ << 40) -> "Hashed")) {
      val map = LocalCsr.IdMap.ofPairs(pairs)
      assert(map.getClass.getSimpleName === want)
      val endpoints = pairs.grouped(2).filter(p => p(0) != p(1)).flatten
        .toArray.distinct.sorted
      assert(map.ids.toSeq === endpoints.toSeq, want)
    }
  }

  test("a graph and its relabeling v -> v << 40 build the same rows") {
    val raw = graft.gen.Kronecker.generate(spark, 10).persist()
    try {
      val flat = LocalCsr.collectPairs(raw)
      val a = LocalCsr.buildFromRawPairs(flat)
      val b = LocalCsr.buildFromRawPairs(flat.map(_ << 40))
      assert(b.ids.toSeq === a.ids.toSeq.map(_ << 40))
      assert(b.rowStarts.toSeq === a.rowStarts.toSeq)
      assert(b.nbrs.toSeq === a.nbrs.toSeq)
      // a cleaned (symmetric) input takes the same two maps
      val shifted = raw.select((col("src") * (1L << 40)).as("src"),
        (col("dst") * (1L << 40)).as("dst"))
      def fromClean(df: org.apache.spark.sql.DataFrame) =
        LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(EdgeOps.cleanEdges(df)))
      val c = fromClean(raw)
      val d = fromClean(shifted)
      assert(c.ids.toSeq === a.ids.toSeq && d.ids.toSeq === b.ids.toSeq)
      assert(c.rowStarts.toSeq === a.rowStarts.toSeq && c.nbrs.toSeq === a.nbrs.toSeq)
      assert(d.rowStarts.toSeq === a.rowStarts.toSeq && d.nbrs.toSeq === a.nbrs.toSeq)
    } finally raw.unpersist()
  }

  test("kernel-path prepareRaw runs one Spark job, the collect, and builds " +
    "its relational frames on first use only") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val raw = graft.gen.Kronecker.generate(spark, 10).persist()
    try {
      val n = raw.count()
      val groups = new ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      val g = try {
        val g = Bfs.prepareRaw(raw, knownCount = n)
        // listener events arrive in order: once the sentinel job's start
        // is seen, every job prepareRaw started has been seen too
        sc.setJobGroup("prepare-sentinel", "sentinel")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30e9.toLong
        while (!groups.contains("prepare-sentinel") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(groups.contains("prepare-sentinel"))
        assert(groups.size === 2, s"jobs started: $groups")
        g
      } finally sc.removeSparkListener(listener)
      assert(g.csrIfBuilt.isDefined)
      assert(g.framesBuilt === ((false, false)))
      g.unpersist()
      assert(g.framesBuilt === ((false, false)), "unpersist built a frame")
      // read on demand: the same relations the eager frames held
      val clean = EdgeOps.cleanEdges(raw)
      assert(g.edges.exceptAll(clean).isEmpty && clean.exceptAll(g.edges).isEmpty)
      assert(g.all.count() === g.totalVerts)
      assert(g.framesBuilt === ((true, true)))
      g.unpersist()
    } finally raw.unpersist()
  }

  test("kernel bfsMinParentMulti reads the tree by dense position: no " +
    "frame of the prepared graph is built") {
    val raw = graft.gen.Kronecker.generate(spark, 10).persist()
    try {
      val g = Bfs.prepareRaw(raw)
      try {
        val csr = g.csrIfBuilt.get
        val roots = Seq(csr.ids(0), csr.ids(csr.nVerts / 2), csr.ids.last)
        val rows = Bfs.bfsMinParentMulti(spark, g, roots).collect()
        assert(g.framesBuilt === ((false, false)))
        assert(rows.length === roots.size * csr.nVerts)
        // run-major rows: run i / nV, vertex ids(i % nV), the kernel's tree
        roots.zipWithIndex.foreach { case (r, run) =>
          val (p, d, _) = csr.bfs(r)
          val want = (0 until csr.nVerts).map { v =>
            (run.toLong, csr.ids(v), if (p(v) < 0) -1L else csr.ids(p(v)),
              if (d(v) < 0) None else Some(d(v).toLong))
          }
          val got = rows.filter(_.getLong(0) == run).map(x => (x.getLong(0),
            x.getLong(1), x.getLong(2),
            if (x.isNullAt(3)) None else Some(x.getLong(3)))).toSeq.sortBy(_._2)
          assert(got === want, s"run $run root $r")
        }
      } finally g.unpersist()
    } finally raw.unpersist()
  }

  test("one gate decision per graph: prepared at gate 0 and searched at " +
    "the default gate, the search runs the level loop and builds no CSR") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
    val root = clean.agg(min(col("src"))).head().getLong(0)
    val g = graft.Gates.localBfsMaxEdges.withLimit(spark, 0L)(Bfs.prepareRaw(clean))
    try {
      assert(g.csrIfBuilt.isEmpty)
      assert(g.totalEdges <= graft.Gates.localBfsMaxEdges.limit(spark))
      val r = Bfs.bfsMinParent(spark, g, root)
      assert(r.dense.isEmpty, "the kernel ran on a distributed-path graph")
      assert(g.csrIfBuilt.isEmpty)
      val kernel = Bfs.prepareRaw(clean)
      try {
        val k = Bfs.bfsMinParent(spark, kernel, root)
        assert(k.dense.isDefined)
        assert(k.levelSizes === r.levelSizes)
        assert(k.tree.exceptAll(r.tree).isEmpty && r.tree.exceptAll(k.tree).isEmpty)
      } finally kernel.unpersist()
    } finally g.unpersist()
  }
}
