package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Direction-optimizing min-parent BFS — the core query of the reference
 * (mpi/bfs.hpp:2651-2940) — as a HYBRID executor: graphs at or under
 * [[graft.Gates.localBfsMaxEdges]] run on the in-memory parallel CSR
 * kernel ([[LocalCsr]] — what the single-node reference itself is at
 * such sizes); larger graphs run the iterative DataFrame level loop
 * below.
 * Both paths produce the identical canonical tree (LocalCsrSpec).
 *
 * The distributed loop, relationally:
 *
 *   top-down:   frontier ⋈ edges ON vertex = src → anti-join visited
 *               (reference J1/J2, bfs.hpp:962-1364)
 *   bottom-up:  unvisited ⋈ edges ON vertex = dst → semi-join frontier
 *               (reference J3/J4, bfs.hpp:1839-2157)
 *
 * Both produce the same rows (min parent among frontier neighbors of each
 * newly reached vertex); the Beamer-style switch (reference C1,
 * bfs.hpp:2799-2829) picks the formulation whose small side can be
 * BROADCAST. The edge table is shuffled ONCE up front (hash-partitioned by
 * src) and every top-down level reuses that layout; in the bottom-up phase
 * the unvisited set is small by construction, so it broadcasts and the edge
 * scan stays narrow. This mirrors the reference's bitmap-frontier switch:
 * what it bought with bitmaps we buy by never reshuffling the big table.
 *
 * Parent selection is min(parent) — deterministic, canonical, oracle-
 * checkable. The reference's tree is any-parent (CAS race, bfs.hpp:1232);
 * a min-parent tree is also a valid any-parent tree, so spec validation
 * (graft.validate.Validator) accepts it.
 *
 * Scale design: per-level results are localCheckpoint()ed to cut lineage
 * (otherwise plans grow superlinearly with depth). Visited checks touch
 * only the last two levels (undirected depth property — the reference's
 * new/old-visited double buffer). At 100 TB the edge table dominates and
 * is touched once per level through a co-partitioned or broadcast join;
 * locally each level has a ~0.5 s fixed multi-job latency floor, which
 * is precisely what the local-kernel path removes for gate-sized graphs.
 */
object Bfs {

  /** Max rows we are willing to broadcast (frontier or unvisited side). */
  val BroadcastLimit = 4000000L

  /** The distributed level loops switch to bottom-up when |frontier| >
    * |unvisited| / Beta — the reference's DEMON_BOTTOMUP_TO_TOPDOWN-style
    * ratio (parameters.h:88). Only the DataFrame loops use it: the
    * [[LocalCsr]] kernel switches on edge counts
    * ([[LocalCsr.nextBottomUp]]). */
  val Beta = 8L

  /** Edge count above which the multi-root level loop GCs the driver
    * after each level so the ContextCleaner can delete the previous
    * level's (lineage-truncated) shuffle files before the next level
    * writes its own — a peak SCALE-26 level's shuffle is tens of GB
    * and a handful of uncollected levels disk-fill a one-box scratch
    * volume. Below this the per-level GC is pure overhead. */
  val GcPerLevelEdgeThreshold = 1L << 30

  final case class Result(tree: DataFrame, levelSizes: Seq[(Int, Long)])

  /** Optional 2D edge-grid layout for the distributed loop — the Spark
    * analogue of the reference's EdgePartition2D
    * (mpi/graph_constructor.hpp:18-22). `spark.graft.bfs2dGrid = "RxC"`
    * partitions edges by (src-block, dst-block); each top-down level then
    * replicates the frontier C ways (the row allgather) instead of
    * broadcasting it everywhere, and the edge table never re-shuffles.
    * Wins when frontiers exceed the broadcast cap on wide clusters —
    * replication cost C·|frontier| vs executors·|frontier|; at local[32]
    * scale the 1D broadcast path is faster, which is why this is a
    * toggle, not the default. */
  def grid2d(spark: SparkSession): Option[(Int, Int)] =
    spark.conf.getOption("spark.graft.bfs2dGrid").flatMap { s =>
      val parsed = scala.util.Try {
        s.split("x") match {
          case Array(r, c) if r.trim.toInt > 0 && c.trim.toInt > 0 =>
            Some((r.trim.toInt, c.trim.toInt))
          case _ => None
        }
      }.toOption.flatten
      // warn instead of silently running 1D — an operator who set the
      // knob must not read 1D numbers believing they measured 2D
      if (parsed.isEmpty)
        System.err.println(s"[graft] ignoring unparseable " +
          s"spark.graft.bfs2dGrid='$s' (want RxC, e.g. 4x8); running 1D")
      parsed
    }

  /** The reference's cached CSR analogue: the big table shuffled ONCE
    * (hash-partitioned by src) + the vertex set, both persisted and shared
    * by every BFS run of a benchmark (reference builds Graph2DCSR once,
    * mpi/main.cc:58-61, then runs 64 BFS over it). When the graph fits
    * under the local-kernel gate, the CSR itself is materialized once too
    * (memoized) — the construction stage of the hybrid executor. */
  final case class PreparedGraph(edges: DataFrame, all: DataFrame,
                                 totalVerts: Long, totalEdges: Long) {
    @transient private var csrCache: LocalCsr = _
    /** Raw flat pair array retained by prepareRaw's local path so the
      * benchmark validator can dense-map the list without re-collecting
      * it; cleared by takeRawPairs. */
    @transient private[graft] var rawPairs: Option[Array[Long]] = None
    /** Hand off (and release) the retained raw pair array. */
    private[graft] def takeRawPairs(): Option[Array[Long]] = {
      val r = rawPairs; rawPairs = None; r
    }
    private[graft] def csr: LocalCsr = synchronized {
      if (csrCache == null) csrCache = LocalCsr.build(edges)
      csrCache
    }
    private[graft] def presetCsr(c: LocalCsr): Unit = synchronized {
      csrCache = c
    }
    /** The kernel CSR if this graph took the local path — without
      * triggering a build on distributed-path graphs. */
    private[graft] def csrIfBuilt: Option[LocalCsr] = synchronized {
      Option(csrCache)
    }
    def unpersist(): Unit = {
      edges.unpersist(blocking = false)
      all.unpersist(blocking = false)
    }
  }

  def prepare(clean: DataFrame, bySrc: Boolean = false): PreparedGraph = {
    val spark = clean.sparkSession
    val cached = clean.persist(StorageLevel.MEMORY_AND_DISK)
    val nE = cached.count()
    val local = nE <= graft.Gates.localBfsMaxEdges.limit(spark)
    // Local path skips the src-hash shuffle + second cache: the CSR is the
    // physical layout there, so pre-partitioning the DataFrame buys nothing.
    val edges =
      if (local) cached
      else grid2d(spark) match {
        case Some((r, c)) =>
          // 2D grid layout (see grid2d): one shuffle onto (src-block,
          // dst-block); the level loop joins on the block keys + src, so
          // this exchange is the only one the edge table ever pays.
          cached
            .withColumn("sb", pmod(hash(col("src")), lit(r)))
            .withColumn("db", pmod(hash(col("dst")), lit(c)))
            .repartition(r * c, col("sb"), col("db"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        case None if bySrc =>
          // Caller guarantees `clean` is already hash-partitioned by src
          // (EdgeOps.cleanEdges' output layout): reuse the one cache —
          // re-exchanging 2·nE rows into the identical layout is the
          // single most expensive no-op in the construction stage.
          cached
        case None =>
          cached.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
      }
    if (local) {
      // Hybrid-executor construction: build the local CSR up front (like
      // the reference's construction stage) so per-run timings measure BFS
      // only — and derive the vertex table from its sorted ids instead of
      // paying a distinct() shuffle.
      val csr = LocalCsr.build(edges)
      val g = PreparedGraph(edges, vertexTableOf(spark, csr.ids),
        csr.nVerts.toLong, nE)
      g.presetCsr(csr)
      g
    } else {
      val all = edges.select(col("src").as("vertex")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val g = PreparedGraph(edges, all, all.count(), nE)
      if (edges ne cached) cached.unpersist(blocking = false)
      g
    }
  }

  /** Distributed (vertex BIGINT) table from a driver-resident sorted id
    * array: broadcast + range lookup. NEVER a LocalRelation /
    * parallelize of boxed rows — those re-serialize the whole array into
    * every job that scans the table. */
  private def vertexTableOf(spark: SparkSession, ids: Array[Long]): DataFrame = {
    val bcIds = spark.sparkContext.broadcast(ids)
    val idOf = udf((i: Long) => bcIds.value(i.toInt))
    spark.range(ids.length.toLong).select(idOf(col("id")).as("vertex"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[prepare]] from a RAW edge list (loops/duplicates allowed). Under
    * the local gate the DataFrame `distinct()` shuffle is skipped
    * entirely: edges are symmetrized narrowly and the kernel build's
    * sort-and-merge does the dedup (the reference's own construction
    * order — sortEdges then duplicate merge, graph_constructor.hpp:
    * 1363-1412). The distributed path falls back to the full
    * [[graft.etl.EdgeOps.cleanEdges]] + [[prepare]]. */
  def prepareRaw(raw: DataFrame, knownCount: Long = -1L): PreparedGraph =
    prepareRawInternal(raw, knownCount = knownCount)._1

  /** [[prepareRaw]] + the benchmark query surface's canonical root
    * (min raw src, self-loop-only vertices included). Under the gate the
    * root falls out of the one collected array — no separate agg job. */
  def prepareRawWithRoot(raw: DataFrame,
                         knownCount: Long = -1L): (PreparedGraph, Long) = {
    val (g, root) = prepareRawInternal(raw, needRoot = true,
      knownCount = knownCount)
    (g, root.get)
  }

  private def prepareRawInternal(raw: DataFrame, needRoot: Boolean = false,
                                 knownCount: Long = -1L)
      : (PreparedGraph, Option[Long]) = {
    val spark = raw.sparkSession
    val gate = graft.Gates.localBfsMaxEdges.limit(spark)
    // Gate probe WITHOUT a dedicated count job where possible: callers
    // that already counted (benchmark stage 1 counts the persisted raw
    // list) pass the count; otherwise a Catalyst stats estimate small
    // enough to collect directly skips the probe — the count then falls
    // out of the collected array, and a post-collect re-check falls back
    // to the distributed path on a mis-estimate. The estimate is
    // compressed SOURCE bytes, which sorted/dictionary-encoded parquet
    // can push far below 4 B/row — so the shortcut additionally requires
    // a small ABSOLUTE estimate (64 MB): even at a pathological 1 B/row
    // the mis-estimated collect is bounded by ~64M rows (~1 GB flat,
    // inside the gate's documented kernel budget) before the re-check
    // rejects it. Anything estimating larger keeps the cheap count
    // probe — nothing corpus-sized is ever collected.
    val nRawKnown: Long =
      if (knownCount >= 0L) knownCount
      else {
        val est = raw.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= BigInt(gate) * 4 && est <= BigInt(64L << 20)) -1L
        else raw.count()
      }
    def distributed(nRawForGate: Long): (PreparedGraph, Option[Long]) = {
      // pre-flight: the construction sort's transient spill at large
      // scales can exceed the scratch volume (SCALE 26 peaked at 99% of
      // 252 GB) — fail fast with the measured requirement instead of an
      // opaque mid-sort disk-full crash (no-op when the count is
      // unknown or the need is small)
      graft.etl.ScratchGate.check(spark, nRawForGate)
      val g = prepare(graft.etl.EdgeOps.cleanEdges(raw), bySrc = true)
      val root =
        if (needRoot) Some(raw.agg(min(col("src"))).head().getLong(0)) else None
      (g, root)
    }
    if (nRawKnown >= 0L && nRawKnown * 2 > gate) distributed(nRawKnown)
    else {
      // ONE primitive collect of the raw list; loop-drop, symmetrize and
      // duplicate-merge happen in-kernel (the reference's construction
      // order — sortEdges then merge, graph_constructor.hpp:1363-1412)
      val flat = LocalCsr.collectPairs(raw)
      // stats under-estimated: the raw count is now KNOWN (flat holds
      // src,dst pairs) — exactly the borderline graphs that surprised
      // the estimator must still get the scratch pre-flight
      if (flat.length > gate) distributed(flat.length / 2L)
      else {
        val csr = LocalCsr.buildFromRawPairs(flat)
        val root =
          if (!needRoot) None
          else {
            var m = Long.MaxValue
            var i = 0
            while (i < flat.length) { if (flat(i) < m) m = flat(i); i += 2 }
            Some(m)
          }
        val g = PreparedGraph(graft.etl.EdgeOps.cleanEdges(raw),
          vertexTableOf(spark, csr.ids),
          csr.nVerts.toLong, csr.nbrs.length.toLong)
        g.presetCsr(csr)
        g.rawPairs = Some(flat)
        (g, root)
      }
    }
  }

  /**
   * BFS from `root` over `clean` (symmetric, deduped, loop-free edges).
   * Returns (vertex, pred, depth BIGINT) for every vertex appearing in
   * `clean`; unreached vertices have pred = -1, depth = NULL — the
   * reference's convention (pred initialized to -1, mpi/bfs.hpp:241-276).
   */
  def bfsMinParent(spark: SparkSession, clean: DataFrame, root: Long): Result = {
    val g = prepare(clean)
    try {
      val r = bfsMinParent(spark, g, root)
      // checkpoint the tree while the prepared caches are alive — the
      // caller's first action would otherwise recompute clean + vertex set
      Result(r.tree.localCheckpoint(eager = true), r.levelSizes)
    } finally g.unpersist()
  }

  /** One-shot BFS from a RAW edge list (loops/duplicates allowed) —
    * [[prepareRaw]]'s in-kernel construction under the gate. */
  def bfsMinParentRaw(spark: SparkSession, raw: DataFrame, root: Long): Result = {
    val g = prepareRaw(raw)
    try {
      val r = bfsMinParent(spark, g, root)
      Result(r.tree.localCheckpoint(eager = true), r.levelSizes)
    } finally g.unpersist()
  }

  /** Hybrid gate: in-memory CSR kernel when the graph fits, distributed
    * level loop otherwise. Identical min-parent trees either way. */
  def bfsMinParent(spark: SparkSession, g: PreparedGraph, root: Long): Result =
    bfsMinParentWithArrays(spark, g, root)._1

  /** [[bfsMinParent]] also returning the kernel's dense (pred, depth)
    * arrays when the local path ran them — downstream consumers (e.g.
    * one-shot validation) can then work on the arrays without collecting
    * the tree DataFrame. None on the distributed path and on the
    * absent-root fallback. */
  def bfsMinParentWithArrays(spark: SparkSession, g: PreparedGraph,
                             root: Long)
      : (Result, Option[(Array[Int], Array[Int])]) =
    if (g.totalEdges <= graft.Gates.localBfsMaxEdges.limit(spark)) {
      val csr = g.csr
      if (java.util.Arrays.binarySearch(csr.ids, root) < 0) {
        // Root absent from the CLEANED graph (e.g. its only edges were
        // self-loops). The distributed loop discovers nothing from such a
        // root and reports every non-isolated vertex unreached — return
        // exactly that instead of letting the kernel throw, so the gate
        // never changes behavior.
        val tree = g.all.select(col("vertex"), lit(-1L).as("pred"),
          lit(null).cast("long").as("depth"))
        (Result(tree, Seq((0, 1L))), None)
      } else {
        val (pred, depth, sizes) = csr.bfs(root)
        (Result(localTreeDf(spark, g, pred, depth), sizes),
          Some((pred, depth)))
      }
    } else (bfsMinParentDistributed(spark, g, root), None)

  /** Dense kernel output → (vertex, pred, depth BIGINT) DataFrame, same
    * contract as the distributed loop. The kernel's arrays ship to
    * executors as ONE compact broadcast and the rows materialize
    * DISTRIBUTED, from the cached vertex table — never a driver-side
    * row collection (a parallelize of millions of boxed rows costs
    * seconds per downstream scan). */
  private def localTreeDf(spark: SparkSession, g: PreparedGraph,
                          pred: Array[Int], depth: Array[Int]): DataFrame = {
    val csr = g.csr
    val bcIds = spark.sparkContext.broadcast(csr.ids)
    val bcPred = spark.sparkContext.broadcast(pred)
    val bcDepth = spark.sparkContext.broadcast(depth)
    val predOf = udf { (vertex: Long) =>
      val i = java.util.Arrays.binarySearch(bcIds.value, vertex)
      val p = bcPred.value(i)
      if (p < 0) -1L else bcIds.value(p)
    }
    val depthOf = udf { (vertex: Long) =>
      val i = java.util.Arrays.binarySearch(bcIds.value, vertex)
      val d = bcDepth.value(i)
      if (d < 0) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(d.toLong)
    }
    g.all.select(col("vertex"), predOf(col("vertex")).as("pred"),
      depthOf(col("vertex")).as("depth"))
  }

  /** The distributed level loop (the scale path of the hybrid executor). */
  def bfsMinParentDistributed(spark: SparkSession, g: PreparedGraph,
                              root: Long): Result = {
    import spark.implicits._
    val edges = g.edges
    val all = g.all
    val totalVerts = g.totalVerts

    // Visited state = the list of per-level frontiers, each a small
    // localCheckpoint()ed DataFrame. Anti-joins read their lazy union —
    // same data volume as a materialized visited table, but without
    // re-caching O(|visited|) rows every level.
    val levels0 = Seq((root, root, 0)).toDF("vertex", "pred", "depth")
      .localCheckpoint(eager = true)
    val levelDfs = scala.collection.mutable.ArrayBuffer(levels0)
    def visited: DataFrame = levelDfs.reduce(_ union _)
    var visitedCount = 1L
    var frontier = levels0.select("vertex")
    var frontierSize = 1L
    var level = 0
    val sizes = scala.collection.mutable.ArrayBuffer((0, 1L))

    while (frontierSize > 0) {
      level += 1
      val unvisitedCount = totalVerts - visitedCount
      val bottomUp =
        frontierSize * Beta > unvisitedCount && unvisitedCount <= BroadcastLimit
      // Visited-check build sides, broadcast while they fit so the
      // anti-join is a map-side hash probe (the reference's
      // shared_visited bitmap, bfs.hpp:2584-2615); past the limit, fall
      // back to a shuffle anti-join — the same bitmap↔list switch.
      //
      // Top-down needs only the LAST TWO levels: on an undirected graph a
      // neighbor of a depth-(l−1) vertex sits at depth l−2, l−1, or l, so
      // older levels can never reappear among candidates. This is the
      // relational form of the reference's new/old-visited double buffer
      // (bfs.hpp:1411-1439) — the anti-join build side is O(two
      // frontiers), not O(|visited|).
      val recentTwo = levelDfs.takeRight(2)
      val recentCount = sizes.takeRight(2).map(_._2).sum
      def recentSide(name: String): DataFrame = {
        val v = recentTwo.map(_.select(col("vertex").as(name)))
          .reduce(_ union _)
        if (recentCount <= BroadcastLimit) broadcast(v) else v
      }
      def visitedSide(name: String): DataFrame = {
        val v = visited.select(col("vertex").as(name))
        if (visitedCount <= BroadcastLimit) broadcast(v) else v
      }

      val discovered =
        if (bottomUp) {
          // Small unvisited side: broadcast it, scan edges once, keep only
          // parents that are in the current frontier. (Unvisited = all
          // minus FULL visited — only this rare branch touches the whole
          // set.)
          val unvisited = all.join(visitedSide("vertex"), Seq("vertex"), "left_anti")
          edges
            .join(broadcast(unvisited), edges("dst") === unvisited("vertex"))
            .select(edges("dst").as("vertex"), edges("src").as("pred"))
            .join(
              if (frontierSize <= BroadcastLimit)
                broadcast(frontier.select(col("vertex").as("f")))
              else frontier.select(col("vertex").as("f")),
              col("pred") === col("f"), "left_semi")
        } else grid2d(spark)
          // the 2D branch needs the grid LAYOUT, not just the conf — a
          // graph prepared under the local gate (or before the conf was
          // set) has no block columns and takes the 1D join
          .filter(_ => edges.columns.contains("sb") &&
            edges.columns.contains("db")) match {
          case Some((r, c)) =>
            // 2D top-down: replicate each frontier vertex to the C
            // dst-blocks of its src-row (the row-wise allgather,
            // replication factor C — not one copy per executor as
            // broadcast would), then equi-join on (sb, db, src): the
            // grid-partitioned edge table satisfies the join's
            // distribution on its (sb, db) subset, so it never
            // re-shuffles; only the C·|frontier| replica set moves.
            val fRep = frontier
              .withColumn("sb", pmod(hash(col("vertex")), lit(r)))
              .select(col("vertex"), col("sb"),
                explode(sequence(lit(0), lit(c - 1))).as("db"))
            edges
              .join(fRep, Seq("sb", "db").map(k => edges(k) === fRep(k))
                .reduce(_ && _) && edges("src") === fRep("vertex"))
              .select(edges("dst").as("vertex"), edges("src").as("pred"))
              .join(recentSide("v"), col("vertex") === col("v"), "left_anti")
          case None =>
            val frontierSide =
              if (frontierSize <= BroadcastLimit) broadcast(frontier) else frontier
            edges
              .join(frontierSide, edges("src") === frontierSide("vertex"))
              .select(edges("dst").as("vertex"), edges("src").as("pred"))
              .join(recentSide("v"), col("vertex") === col("v"), "left_anti")
        }

      // LAZY checkpoint + count = ONE job per level: the count is the
      // materializing action (it computes and caches every partition at
      // the checkpoint's storage level), after which the post-job
      // LocalRDDCheckpointData pass finds nothing left to recompute. An
      // eager checkpoint would submit a separate materialization job and
      // the count a second one — at high SCALE the loop's floor is this
      // fixed per-job latency × levels, not data volume.
      val next = discovered
        .groupBy("vertex").agg(min("pred").as("pred"))
        .withColumn("depth", lit(level))
        .localCheckpoint(eager = false)
      frontierSize = next.count()
      if (frontierSize > 0) {
        sizes += ((level, frontierSize))
        visitedCount += frontierSize
        levelDfs += next
        frontier = next.select("vertex")
      }
    }

    val tree = all.join(visited, Seq("vertex"), "left_outer")
      .select(
        col("vertex"),
        coalesce(col("pred"), lit(-1L)).as("pred"),
        col("depth").cast("long").as("depth"))
    Result(tree, sizes.toSeq)
  }

  /** Byte-compat packed predecessor view (reference P5: depth in the high
    * 16 bits, parent in the low 48 — mpi/validate.hpp:809-819, written at
    * bfs.hpp:1203,2470-2481; unreached = all-ones = −1). Our engine keeps
    * (pred, depth) as separate columns; this view exists for golden-output
    * compatibility with the reference's pred array. */
  def packedPred(tree: DataFrame): DataFrame =
    tree.select(
      col("vertex"),
      when(col("pred") === -1L, lit(-1L))
        .otherwise(shiftleft(col("depth"), 48).bitwiseOR(col("pred")))
        .as("packed"))

  /** Per-level frontier sizes (reference Q10 — the per-level NQ telemetry,
    * mpi/bfs.hpp:2836-2882) as a DataFrame, computed from a finished tree. */
  def levelSizes(tree: DataFrame): DataFrame =
    tree.filter(col("depth").isNotNull)
      .groupBy(col("depth").as("level")).agg(count(lit(1)).as("frontier_size"))

  /**
   * Multi-source batched BFS: all `roots` traversed in ONE level-
   * synchronous loop over state keyed by (run, vertex). Each level's
   * frontier⋈edges join carries every run at once, so the per-level fixed
   * cost (shuffle setup, action latency) is amortized across the whole
   * benchmark — a set-oriented multi-query optimization the reference's
   * sequential 64-run driver (mpi/main.cc:105-117) cannot express. Levels
   * run until ALL runs are exhausted; total level count is the max depth
   * over runs, not the sum.
   *
   * Returns (run, vertex, pred, depth) — per run, the same tree
   * bfsMinParent produces.
   */
  def bfsMinParentMulti(spark: SparkSession, g: PreparedGraph,
                        roots: Seq[Long]): DataFrame =
    if (g.totalEdges <= graft.Gates.localBfsMaxEdges.limit(spark) &&
        // run-major flat arrays must fit Int indexing, and every root must
        // exist in the cleaned graph (kernel precondition); otherwise use
        // the distributed loop, which handles both
        roots.size.toLong * g.csr.nVerts <= Int.MaxValue &&
        roots.forall(r => java.util.Arrays.binarySearch(g.csr.ids, r) >= 0)) {
      val csr = g.csr
      val nV = csr.nVerts
      val nRuns = roots.size
      // run-major packed kernel outputs, shipped once as broadcasts
      val predFlat = new Array[Int](nRuns * nV)
      val depthFlat = new Array[Int](nRuns * nV)
      roots.zipWithIndex.foreach { case (root, run) =>
        val (pred, depth, _) = csr.bfs(root)
        System.arraycopy(pred, 0, predFlat, run * nV, nV)
        System.arraycopy(depth, 0, depthFlat, run * nV, nV)
      }
      val bcIds = spark.sparkContext.broadcast(csr.ids)
      val bcPred = spark.sparkContext.broadcast(predFlat)
      val bcDepth = spark.sparkContext.broadcast(depthFlat)
      val predOf = udf { (run: Long, vertex: Long) =>
        val i = java.util.Arrays.binarySearch(bcIds.value, vertex)
        val p = bcPred.value(run.toInt * nV + i)
        if (p < 0) -1L else bcIds.value(p)
      }
      val depthOf = udf { (run: Long, vertex: Long) =>
        val d = bcDepth.value(run.toInt * nV +
          java.util.Arrays.binarySearch(bcIds.value, vertex))
        if (d < 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(d.toLong)
      }
      val runsDf = spark.range(nRuns).toDF("run")
      g.all.crossJoin(broadcast(runsDf))
        .select(col("run"), col("vertex"),
          predOf(col("run"), col("vertex")).as("pred"),
          depthOf(col("run"), col("vertex")).as("depth"))
    } else bfsMinParentMultiDistributed(spark, g, roots)

  /** Distributed multi-source loop (see [[bfsMinParentMulti]]). */
  def bfsMinParentMultiDistributed(spark: SparkSession, g: PreparedGraph,
                                   roots: Seq[Long]): DataFrame = {
    import spark.implicits._
    val edges = g.edges

    // Per-level checkpoints store SERIALIZED (MEMORY_AND_DISK_SER):
    // the default deserialized level keeps every level's UnsafeRow
    // OBJECTS live across the whole loop (the final tree assembly
    // unions all levels), and at 16 roots × SCALE 26 the concurrent
    // 32-task deserialized unroll of a peak level OOMed an 80 GB heap
    // (GCLocker retry storm → exit 52) while 422 GB spilled. Serialized
    // blocks unroll incrementally as compact buffers, evict to disk
    // cleanly, and the ser/deser cost is per-level-linear — the
    // multi-root loop is the capacity protocol, so it takes the
    // capacity-safe storage; the single-source loop keeps the
    // deserialized default that its S26 sequential runs are proven on.
    val levelStorage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val runsDf0 = roots.indices.map(_.toLong).toDF("run")
    val levels0 = roots.zipWithIndex
      .map { case (r, i) => (i.toLong, r, r, 0) }
      .toDF("run", "vertex", "pred", "depth")
      .localCheckpoint(true, levelStorage)
    val levelDfs = scala.collection.mutable.ArrayBuffer(levels0)
    val levelCounts = scala.collection.mutable.ArrayBuffer(roots.size.toLong)
    def visited: DataFrame = levelDfs.reduce(_ union _)
    def recentSizes: Seq[Long] = levelCounts.takeRight(2).toSeq
    var frontier = levels0.select("run", "vertex")
    var frontierSize = roots.size.toLong
    var visitedTotal = frontierSize
    val stateTotal = roots.size.toLong * g.totalVerts
    var level = 0

    while (frontierSize > 0) {
      level += 1
      // Beamer-style direction switch across the whole batch: once the
      // summed frontier outweighs the summed unvisited sets, scan from
      // the unvisited side (symmetric edges ⇒ the same src-partitioned
      // cached layout serves both directions — no second shuffle of the
      // big table, the reference's CSR/CSC duality for free).
      val unvisitedTotal = stateTotal - visitedTotal
      val bottomUp = frontierSize * Beta > unvisitedTotal
      // Visited-check build sides (see bfsMinParent): top-down anti-joins
      // only the last two levels (undirected depth property, per run);
      // the rare bottom-up branch uses the full set.
      val recentTwo = levelDfs.takeRight(2)
      val recentCount = recentSizes.sum
      def recentSide: DataFrame = {
        val v = recentTwo.map(_.select(col("run"), col("vertex")))
          .reduce(_ union _)
        if (recentCount <= BroadcastLimit) broadcast(v) else v
      }
      def visitedSide: DataFrame = {
        val v = visited.select("run", "vertex")
        if (visitedTotal <= BroadcastLimit) broadcast(v) else v
      }

      val discovered =
        if (bottomUp) {
          val unvisited = g.all.crossJoin(broadcast(runsDf0))
            .join(visitedSide, Seq("run", "vertex"), "left_anti")
          edges
            .join(unvisited, edges("src") === unvisited("vertex"))
            .select(col("run"), col("vertex"), edges("dst").as("pred"))
            .join(
              if (frontierSize <= BroadcastLimit)
                broadcast(frontier.select(col("run"), col("vertex").as("pred")))
              else frontier.select(col("run"), col("vertex").as("pred")),
              Seq("run", "pred"), "left_semi")
        } else {
          val frontierSide =
            if (frontierSize <= BroadcastLimit) broadcast(frontier) else frontier
          edges
            .join(frontierSide, edges("src") === frontierSide("vertex"))
            .select(col("run"), edges("dst").as("vertex"),
              edges("src").as("pred"))
            .join(recentSide, Seq("run", "vertex"), "left_anti")
        }

      // Lazy checkpoint + count = one job per level (see the
      // single-source loop above for why this halves the latency floor).
      val next = discovered
        .groupBy("run", "vertex").agg(min("pred").as("pred"))
        .withColumn("depth", lit(level))
        .localCheckpoint(false, levelStorage)
      frontierSize = next.count()
      if (frontierSize > 0) {
        visitedTotal += frontierSize
        levelDfs += next
        levelCounts += frontierSize
        frontier = next.select("run", "vertex")
      }
      // Capacity-scale disk lifecycle: the count() above truncates the
      // level's lineage (checkpoint materialized), so the level's
      // groupBy shuffle files are garbage — but the ContextCleaner only
      // deletes them after a driver GC. At SCALE 26 × 16 roots a peak
      // level writes tens of GB of shuffle; 2-3 uncollected levels
      // disk-filled the 252 GB scratch volume (round-10 finding, same
      // failure mode the r9 BETWEEN-ROOT GC fixed for the sequential
      // protocol). Gated to capacity graphs so small-scale level loops
      // don't pay a GC per level.
      if (g.totalEdges > GcPerLevelEdgeThreshold) System.gc()
    }

    val runsDf = runsDf0
    g.all.crossJoin(broadcast(runsDf))
      .join(visited, Seq("run", "vertex"), "left_outer")
      .select(col("run"), col("vertex"),
        coalesce(col("pred"), lit(-1L)).as("pred"),
        col("depth").cast("long").as("depth"))
  }
}
