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

  test("2D-grid distributed BFS equals 1D distributed BFS (toggle on)") {
    val clean = EdgeOps.cleanEdges(
      EdgeOps.edgesFromLineitem(spark, "/root/testdata/sf0.001"))
      .persist()
    try {
      val root = clean.agg(min(col("src"))).head().getLong(0)
      // force prepare's DISTRIBUTED branch so both layouts are the real
      // cluster-scale ones (the local gate skips pre-partitioning)
      spark.conf.set("spark.graft.localBfsMaxEdges", "0")
      try {
        val g1 = Bfs.prepare(clean)
        val oneD = Bfs.bfsMinParentDistributed(spark, g1, root)
        val oneDRows = oneD.tree.collect().map(_.toSeq).toSet
        val oneDSizes = oneD.levelSizes
        g1.unpersist()
        spark.conf.set("spark.graft.bfs2dGrid", "3x4")
        try {
          val g2 = Bfs.prepare(clean)
          try {
            assert(g2.edges.columns.contains("sb"), "2D layout expected")
            val twoD = Bfs.bfsMinParentDistributed(spark, g2, root)
            assert(twoD.levelSizes === oneDSizes)
            assert(twoD.tree.collect().map(_.toSeq).toSet === oneDRows)
          } finally g2.unpersist()
        } finally spark.conf.unset("spark.graft.bfs2dGrid")
      } finally spark.conf.unset("spark.graft.localBfsMaxEdges")
    } finally clean.unpersist()
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
    csr.parallelWork = 0L // force every level through the parallel path
    try {
      for (_ <- 1 to 3) { // racy code: repeat for confidence
        val (pPar, dPar, sPar) = csr.bfs(root)
        assert(pPar.toSeq === pSeq.toSeq)
        assert(dPar.toSeq === dSeq.toSeq)
        assert(sPar === sSeq)
      }
    } finally csr.parallelWork = 65536L
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
