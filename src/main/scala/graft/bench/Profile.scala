package graft.bench

import org.apache.spark.sql.SparkSession
import graft.bfs.{Bfs, LocalCsr}
import graft.gen.Kronecker

/** Dev profiler: `runMain graft.bench.Profile <mode> [args]`. Each mode
  * runs on one session built from SPARK_GRAFT_CONF and
  * SPARK_GRAFT_FORCE_DISTRIBUTED, times its steps as spans and ends with
  * one work line per span (tasks, task time, CPU, GC, spill, shuffle). */
object Profile {
  /** `queries <sfDir> <q1,q2,...>`: run each named SparkEntry query 3×
    * — steady-state vs first-touch attribution; the work lines split an
    * iterative loop's floor into scheduling (many tiny tasks) vs compute
    * (task time). */
  def profileQueries(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names = if (args.length > 2) args(2).split(",").toSeq
      else Seq("ev_sessions", "ev_window", "ev_topusers", "cc_components",
        "dd_ngram", "dd_minhash", "dd_simhash", "q10_level_sizes")
    val r = new Run()
    for (n <- names; i <- 1 to 3)
      r.t(s"$n#$i")(graft.SparkEntry.queries(n)(r.spark, sfDir).count())
    r.done()
  }

  /** `triangles <sfDir>`: stage breakdown of the co-purchase triangle
    * count (join+collect vs CSR build vs kernel). */
  def profileTriangles(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val r = new Run()
    import org.apache.spark.sql.functions.col
    for (i <- 1 to 3) {
      val li = r.spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      val flat = r.t(s"#$i join+collectPairs")(LocalCsr.collectPairs(pairs))
      println(s"    pairs = ${flat.length / 2}")
      val csr = r.t(s"#$i buildFromRawPairs")(LocalCsr.buildFromRawPairs(flat))
      val (w, tr) = r.t(s"#$i countCsr")(graft.bfs.Triangles.countCsr(csr))
      println(s"    wedges=$w triangles=$tr")
    }
    r.done()
  }

  /** `relscale [sfDir] [K]`: the heaviest relational plans on a
    * K×-replicated lineitem (key-shifted copies, so group/join
    * cardinalities scale with the data) — scale-smoke evidence that the
    * shapes hold past the provided tiers, not a correctness tier (oracles
    * stay at sf0.01). */
  def profileRelScale(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val k = if (args.length > 2) args(2).toInt else 20
    val r = new Run(partitions = 64)
    val spark = r.spark
    import org.apache.spark.sql.functions._
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val maxOk = li0.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val li = li0
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOk)
      .drop("rep")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = r.t(s"materialize ${k}x lineitem")(li.count())
    println(s"    rows = $n")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val supp = spark.read.parquet(s"$sfDir/supplier.parquet")
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    // orders replicated the same way so the fact-fact joins scale too
    val ordK = ord.crossJoin(spark.range(k).select(col("id").as("rep")))
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxOk)
      .drop("rep")
    for (i <- 1 to 2) {
      r.t(s"#$i rel_pricing")(graft.ops.Relational
        .pricingSummary(li, "1998-09-02").count())
      r.t(s"#$i rel_toporders")(graft.ops.Relational
        .topOrdersPerSegment(li, ordK, cust, 10).count())
      r.t(s"#$i rel_latesupplier")(graft.ops.Relational
        .lateSuppliers(li, ordK, supp, "F", 100).count())
      r.t(s"#$i rel_colprofile")(graft.ops.Relational
        .columnProfile(li,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .count())
      r.t(s"#$i rel_smallqty")(graft.ops.Relational
        .smallQuantityRevenue(li, part, "Brand#3", 1, 5).count())
    }
    li.unpersist()
    r.done()
  }

  /** `batched [scale]`: per-run times inside the batched kernel loop vs
    * the sequential protocol's interleaved bfs/validate pattern —
    * attributes the batched-throughput gap — then per root the kernel's
    * level trace: (level, direction, frontier size, frontier out-edges
    * m_f, unvisited edges m_u). */
  def profileBatched(args: Array[String]): Unit = {
    val scale = if (args.length > 1) args(1).toInt else 18
    val r = new Run()
    val raw = r.t("generate+persist+count") {
      val df = Kronecker.generate(r.spark, scale)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    val g = r.t("prepareRaw")(Bfs.prepareRaw(raw,
      knownCount = Kronecker.DefaultEdgeFactor << scale))
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
    def perRun(label: String, keep: Boolean): Unit = {
      val b0 = System.nanoTime()
      val held = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
      val times = roots.map { root =>
        val t0 = System.nanoTime()
        val out = csr.bfs(root)
        if (keep) held += out
        (System.nanoTime() - t0) / 1e6
      }
      println(f"  $label%-9s wall ${(System.nanoTime() - b0) / 1e9}%.3f s;" +
        " per-run ms: " + times.map(t => f"$t%.1f").mkString(" "))
    }
    for (round <- 1 to 3) {
      println(s"== round $round ==")
      perRun("batched", keep = true)   // back-to-back, hold all outputs
      perRun("drop-out", keep = false) // the sequential protocol's shape
    }
    println("== level trace: (level, direction, frontier, m_f, m_u) ==")
    roots.foreach { root =>
      val (_, depth, _) = csr.bfs(root)
      println(s"  root $root: " + csr.levelTrace(depth).map { t =>
        s"(${t.level}, ${if (t.bottomUp) "BU" else "TD"}, ${t.nf}, ${t.mf}, ${t.mu})"
      }.mkString(" "))
    }
    r.done()
  }

  /** `gen [scale]`: the Kronecker generator three ways, 3 rounds each —
    * alone on one thread (edges/s), as `generate().count()`, and as
    * `generate().persist().count()` — so that generator CPU and the cache
    * build inside a protocol's generation stage can be told apart. */
  def profileGen(args: Array[String]): Unit = {
    val scale = if (args.length > 1) args(1).toInt else 16
    val nEdges = Kronecker.DefaultEdgeFactor << scale
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
    val cores = Runtime.getRuntime.availableProcessors()
    val r = new Run(cpus = cores, partitions = cores)
    for (round <- 1 to 3)
      r.t(s"generate().count() #$round")(Kronecker.generate(r.spark, scale).count())
    for (round <- 1 to 3) {
      val df = Kronecker.generate(r.spark, scale)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.t(s"persist().count() #$round")(df.count())
      df.unpersist(blocking = true)
    }
    r.done()
  }

  /** `annscale [nVecs] [dim] [nQueries] [k]`: scale-proof of the
    * above-block-limit streaming-ANN serving path — a synthetic clustered
    * corpus well past the broadcast-block limit is served through the
    * hyperplane-LSH band join (the exact plan `st_ann`/`topKForQueryStream`
    * dispatches to at corpus scale), and the same query sample is answered
    * exactly by the broadcast-block path to measure wall time AND
    * recall@k of the LSH plan. */
  def profileAnnScale(args: Array[String]): Unit = {
    val n = if (args.length > 1) args(1).toInt else 500000
    val dim = if (args.length > 2) args(2).toInt else 64
    val nQ = if (args.length > 3) args(3).toInt else 100
    val k = if (args.length > 4) args(4).toInt else 5
    val r = new Run()
    val spark = r.spark
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
    def serve(label: String, blockMax: Long) = {
      graft.Gates.embeddingBlockMaxVecs.set(spark, blockMax)
      r.t(label) {
        val out = graft.ops.Similarity.topKForQueryStream(queries, corpus, k)
          .localCheckpoint(eager = true)
        out.count(); out
      }
    }
    for (i <- 1 to 2) {
      val lsh = serve(s"#$i LSH band-join serve", 0L)
      val exact = serve(s"#$i broadcast exact serve", n + 1L)
      val rec = graft.ops.Similarity.recallAtK(lsh, exact)
        .agg(avg(col("recall"))).head().getDouble(0)
      println(f"    recall@$k vs exact = $rec%.4f")
    }
    r.done()
  }

  /** `construction [scale]`: stage-by-stage timing of the DISTRIBUTED
    * construction path (the one SCALE 24 takes above the 64M-edge gate):
    * `EdgeOps.cleanEdges` (one exchange on src, then a sort-based
    * duplicate merge inside that layout — O(1) dedup memory) and then the
    * protocol's own construction call. The work lines carry spill, GC and
    * shuffle bytes, which are a property of the plan where wall time
    * swings with the host. */
  def profileConstruction(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val scale = if (args.length > 1) args(1).toInt else 22
    val r = new Run()
    val raw = r.t("generate+persist+count") {
      val df = Kronecker.generate(r.spark, scale)
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    val clean = r.t("cleanEdges sort+merge dedup") {
      val c = graft.etl.EdgeOps.cleanEdges(raw)
        .persist(StorageLevel.MEMORY_AND_DISK)
      println(s"  nClean=${c.count()}")
      c
    }
    val nv = r.t("vertex distinct") {
      clean.select(col("src").as("vertex")).distinct().count()
    }
    println(s"  nVerts=$nv")
    clean.unpersist(blocking = true)
    val g = r.t("prepareRaw(knownCount)") {
      Bfs.prepareRaw(raw, knownCount = Kronecker.DefaultEdgeFactor << scale)
    }
    println(s"  nVerts=${g.totalVerts} nE=${g.totalEdges}")
    r.done()
  }

  /** `validation [scale]`: distributed 5-predicate validation stage
    * timings + work metrics at a scale above the kernel gate — generate,
    * construct, one BFS, then the validate call the protocol pays per
    * run. */
  def profileValidation(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions.{col, min}
    import org.apache.spark.storage.StorageLevel
    val scale = if (args.length > 1) args(1).toInt else 24
    val r = new Run()
    val raw = r.t("generate") {
      val df = Kronecker.generate(r.spark, scale)
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    val g = r.t("construct")(Bfs.prepareRaw(raw,
      knownCount = Kronecker.DefaultEdgeFactor << scale))
    val root = r.t("root")(raw.agg(min(col("src"))).head().getLong(0))
    val tree = r.t("bfs") {
      val tr = Bfs.bfsMinParent(r.spark, g, root).tree
        .persist(StorageLevel.MEMORY_AND_DISK)
      tr.count(); tr
    }
    for (round <- 1 to 2) {
      val res = r.t(s"validate r$round") {
        graft.validate.Validator.validate(
          r.spark, raw, tree, root, 1L << scale).head()
      }
      println(s"  $res")
    }
    r.done()
  }

  /** `[scale]` (no mode): graph500 construction at SCALE, then the sf0.1
    * handle build, 3 rounds each. */
  def profileHandles(args: Array[String]): Unit = {
    val scale = if (args.nonEmpty) args(0).toInt else 18
    val run = new Run()
    import run.t
    val spark = run.spark

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
      t("bfsMinParent")(Bfs.bfsMinParent(spark, g2, root))
      println(s"  nV=${csr2.nVerts}")
      g2.unpersist()
    }
    run.done()
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("validation") => profileValidation(args)
    case Some("construction") => profileConstruction(args)
    case Some("queries") => profileQueries(args)
    case Some("annscale") => profileAnnScale(args)
    case Some("triangles") => profileTriangles(args)
    case Some("batched") => profileBatched(args)
    case Some("relscale") => profileRelScale(args)
    case Some("gen") => profileGen(args)
    case _ => profileHandles(args)
  }

  /** One mode's session and span recorder. */
  private final class Run(cpus: Int = 32, partitions: Int = 32) {
    val spark: SparkSession = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      graft.Gates.forceDistributed(spark)
    Main.applyConfOverrides(spark)
    private val rec = new Recorder(spark.sparkContext)

    /** Time `f` as a span and print its wall. */
    def t[A](name: String)(f: => A): A = rec.span(name) {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    /** Print each span's work, then stop the session. */
    def done(): Unit = {
      rec.finish()
      val depth = scala.collection.mutable.Map(-1 -> -1)
      rec.spans.foreach { s =>
        depth(s.id) = depth(s.parent) + 1
        val w = rec.work(s)
        println(f"[work] ${"  " * depth(s.id)}${s.name}%-28s tasks=${w.tasks}" +
          f" task=${w.taskMs / 1e3}%.1fs cpu=${w.cpuNs / 1e9}%.1fs" +
          f" gc=${w.gcMs / 1e3}%.1fs spillMem=${w.spillMem / 1e9}%.2fGB" +
          f" spillDisk=${w.spillDisk / 1e9}%.2fGB" +
          f" shufWrite=${w.shufWrite / 1e9}%.2fGB")
      }
      spark.stop()
    }
  }
}
