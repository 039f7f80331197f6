package graft.bfs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.etl.EdgeOps

/** The hybrid executor's two paths must produce identical canonical
  * min-parent trees — the local CSR kernel is an optimization, never a
  * semantics change. */
class LocalCsrSpec extends SparkSpec {

  private def treesEqual(scale: String): Unit = {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, s"/root/testdata/$scale"))
    val root = clean.agg(min(col("src"))).head().getLong(0)
    val g = Bfs.prepare(clean)
    try {
      val local = Bfs.bfsMinParent(spark, g, root)
      val dist = Bfs.bfsMinParentDistributed(spark, g, root)
      assert(g.totalEdges <= graft.Gates.localBfsMaxEdges.limit(spark),
        "test graph should take the local path")
      assert(local.levelSizes === dist.levelSizes)
      assert(local.tree.exceptAll(dist.tree).isEmpty &&
        dist.tree.exceptAll(local.tree).isEmpty,
        "local CSR tree must equal the distributed loop's tree")
    } finally g.unpersist()
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
        val g = Bfs.prepare(clean)
        try {
          val local = Bfs.bfsMinParent(spark, g, root)
          val dist = Bfs.bfsMinParentDistributed(spark, g, root)
          assert(local.tree.exceptAll(dist.tree).isEmpty &&
            dist.tree.exceptAll(local.tree).isEmpty, s"seed $seed")
        } finally g.unpersist()
      }
    }
  }

  test("in-kernel dedup CSR equals CSR from DataFrame-distinct edges") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- 40 to 42) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .toDF("src", "dst")
      val noLoops = raw.filter(col("src") =!= col("dst"))
      val sym = noLoops.union(
        noLoops.select(col("dst").as("src"), col("src").as("dst")))
      val a = LocalCsr.build(EdgeOps.cleanEdges(raw))
      val b = LocalCsr.build(sym, dedupAdjacent = true)
      assert(a.ids.toSeq === b.ids.toSeq, s"seed=$seed ids")
      assert(a.rowStarts.toSeq === b.rowStarts.toSeq, s"seed=$seed rowStarts")
      assert(a.nbrs.toSeq === b.nbrs.toSeq, s"seed=$seed nbrs")
    }
  }

  test("parallel kernels produce the sequential min-parent tree") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
    val csr = LocalCsr.build(clean)
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
        // the multi-root distributed loop: one level loop for all 16
        // roots, per run the same tree as bfsMinParentDistributed (see
        // "multi-root distributed loop" above)
        val g = Bfs.prepare(EdgeOps.cleanEdges(raw))
        val dist = try {
          Bfs.bfsMinParentMultiDistributed(spark, g, roots).collect()
            .groupBy(_.getLong(0)).map { case (run, rows) =>
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
      val csr = LocalCsr.build(clean)
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
    val g = Bfs.prepare(clean)
    try {
      val roots = clean.select("src").distinct().orderBy("src")
        .limit(2).collect().map(_.getLong(0)).toSeq
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val multi = Bfs.bfsMinParentMultiDistributed(spark, g, roots)
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
    val g = Bfs.prepare(clean)
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
}
