package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Direction-optimizing min-parent BFS — the core query of the reference
 * (mpi/bfs.hpp:2651-2940) — as a HYBRID executor: graphs at or under
 * [[graft.Gates.localBfsMaxEdges]] run on the in-memory parallel CSR
 * kernel ([[LocalCsr]] — what the single-node reference itself is at
 * such sizes); larger graphs run ONE iterative DataFrame level loop.
 * A single-source search is the batched search ([[bfsMinParentMulti]])
 * at one run, so both entry points share the gate, the kernel path and
 * the loop. Both paths produce the identical canonical tree
 * (LocalCsrSpec).
 *
 * The level loop, relationally, over state keyed by (run, vertex):
 *
 *   top-down:   frontier ⋈ edges ON vertex = src → anti-join the last
 *               two levels   (reference J1/J2, bfs.hpp:962-1364)
 *   bottom-up:  unvisited ⋈ edges ON vertex = src → semi-join frontier
 *               on pred = dst (reference J3/J4, bfs.hpp:1839-2157)
 *
 * Both produce the same rows (min parent among frontier neighbors of each
 * newly reached vertex); the Beamer-style switch (reference C1,
 * bfs.hpp:2799-2829) goes bottom-up once the frontier outweighs the
 * unvisited set by [[Beta]]. The edge table is shuffled ONCE up front
 * (hash-partitioned by src) and both directions join on src, so every
 * level reuses that layout: top-down broadcasts the frontier, bottom-up
 * moves only the unvisited side. This mirrors the reference's
 * bitmap-frontier switch: what it bought with bitmaps we buy by never
 * reshuffling the big table.
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

  /** Max rows the level loop broadcasts (frontier or visited side). */
  val BroadcastLimit = 4000000L

  /** The distributed level loop switches to bottom-up when |frontier| >
    * |unvisited| / Beta — the reference's DEMON_BOTTOMUP_TO_TOPDOWN-style
    * ratio (parameters.h:88). Only the DataFrame loop uses it: the
    * [[LocalCsr]] kernel switches on edge counts
    * ([[LocalCsr.nextBottomUp]]). */
  val Beta = 8L

  /** Edge count above which the level loop GCs the driver
    * after each level so the ContextCleaner can delete the previous
    * level's (lineage-truncated) shuffle files before the next level
    * writes its own — a peak SCALE-26 level's shuffle is tens of GB
    * and a handful of uncollected levels disk-fill a one-box scratch
    * volume. Below this the per-level GC is pure overhead. */
  val GcPerLevelEdgeThreshold = 1L << 30

  /** A search's tree, its per-level frontier sizes (summed over runs)
    * and, when the kernel ran, its run-major dense (pred, depth) arrays —
    * downstream consumers (e.g. one-shot validation) can then work on the
    * arrays without collecting the tree DataFrame. */
  final case class Result(tree: DataFrame, levelSizes: Seq[(Int, Long)],
                          dense: Option[(Array[Int], Array[Int])] = None)

  /** The reference's cached CSR analogue, built ONCE and shared by every
    * BFS run of a benchmark (reference builds Graph2DCSR once,
    * mpi/main.cc:58-61, then runs 64 BFS over it). [[prepareRaw]] builds
    * every one and makes the gate decision for it: under the gate the
    * kernel CSR (`csrIfBuilt`) and frames built on first use; above it
    * the cleaned edges hash-partitioned by src and the vertex set, both
    * persisted, and no CSR.
    *
    * `edges`: the cleaned symmetric edge relation. `all`: the vertex
    * table (vertex BIGINT), persisted. */
  final class PreparedGraph private (edgesFrame: Frame, allFrame: Frame,
                                     val totalVerts: Long, val totalEdges: Long,
                                     private[graft] val csrIfBuilt: Option[LocalCsr]) {
    def edges: DataFrame = edgesFrame.get
    def all: DataFrame = allFrame.get
    /** Which of (edges, all) have been built. */
    private[bfs] def framesBuilt: (Boolean, Boolean) =
      (edgesFrame.ifBuilt.isDefined, allFrame.ifBuilt.isDefined)
    /** Raw flat pair array retained by prepareRaw's local path so the
      * benchmark validator can dense-map the list without re-collecting
      * it; cleared by takeRawPairs. */
    private[graft] var rawPairs: Option[Array[Long]] = None
    /** Hand off (and release) the retained raw pair array. */
    private[graft] def takeRawPairs(): Option[Array[Long]] = {
      val r = rawPairs; rawPairs = None; r
    }
    /** The kernel CSR; fails on a graph that took the distributed path. */
    private[graft] def csr: LocalCsr = csrIfBuilt.getOrElse(throw
      new IllegalStateException("no kernel CSR: the graph took the distributed path"))
    /** Drops the caches of the frames that were built. */
    def unpersist(): Unit = {
      edgesFrame.ifBuilt.foreach(_.unpersist(blocking = false))
      allFrame.ifBuilt.foreach(_.unpersist(blocking = false))
    }
  }

  private object PreparedGraph {
    /** The distributed path: both frames built by the caller. */
    def apply(edges: DataFrame, all: DataFrame, totalVerts: Long,
              totalEdges: Long): PreparedGraph =
      new PreparedGraph(Frame.of(edges), Frame.of(all), totalVerts, totalEdges, None)

    /** A kernel-path graph over `csr`: `edges` and `all` (derived from
      * its ids) are built on first use. */
    def kernel(edges: () => DataFrame, csr: LocalCsr,
               spark: SparkSession): PreparedGraph =
      new PreparedGraph(Frame.lazily(edges), Frame.lazily(() =>
        graft.functions.Ship.df(spark, "vertex" -> csr.ids)
          .persist(StorageLevel.MEMORY_AND_DISK)),
        csr.nVerts.toLong, csr.nbrs.length.toLong, Some(csr))
  }

  /** A DataFrame that is either given or built on first use. */
  private final class Frame private (build: () => DataFrame) {
    private var df: DataFrame = _
    def get: DataFrame = synchronized {
      if (df == null) df = build()
      df
    }
    def ifBuilt: Option[DataFrame] = synchronized(Option(df))
  }

  private object Frame {
    def of(df: DataFrame): Frame = { val f = new Frame(() => df); f.get; f }
    def lazily(build: () => DataFrame): Frame = new Frame(build)
  }

  /** The one construction of an unweighted graph, and its one gate
    * decision, from a RAW edge list (loops/duplicates allowed; a cleaned
    * relation is a valid raw list). Under the local gate the DataFrame
    * `distinct()` shuffle is skipped entirely: the raw list is collected
    * once and the kernel build symmetrizes and merges duplicates (the
    * reference's own construction order — sortEdges then duplicate
    * merge, graph_constructor.hpp:1363-1412). Above it the graph is
    * [[graft.etl.EdgeOps.cleanEdges]]' relation, persisted, plus its
    * vertex set. */
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
      // cleanEdges' output is already hash-partitioned by src, the
      // layout every level of the loop joins on: cache it as it is
      val edges = graft.etl.EdgeOps.cleanEdges(raw)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nE = edges.count()
      val all = edges.select(col("src").as("vertex")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val g = PreparedGraph(edges, all, all.count(), nE)
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
        // the relational frames are built on first use: the kernel path
        // reads neither
        val g = PreparedGraph.kernel(() => graft.etl.EdgeOps.cleanEdges(raw),
          csr, spark)
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
    val g = prepareRaw(clean)
    try {
      val r = bfsMinParent(spark, g, root)
      // checkpoint the tree while the prepared caches are alive — the
      // caller's first action would otherwise recompute clean + vertex set
      r.copy(tree = r.tree.localCheckpoint(eager = true))
    } finally g.unpersist()
  }

  /** Hybrid gate: in-memory CSR kernel when the graph fits, distributed
    * level loop otherwise — the batched search ([[bfsMinParentMulti]])
    * at one run, with `run` dropped. Identical min-parent trees either
    * way; `levelSizes` are the search's per-level frontier counts. */
  def bfsMinParent(spark: SparkSession, g: PreparedGraph, root: Long): Result = {
    val r = search(spark, g, Seq(root))
    r.copy(tree = r.tree.drop("run"))
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
   * Returns (run, vertex, pred, depth) — per run, the tree
   * [[bfsMinParent]] returns for that root.
   */
  def bfsMinParentMulti(spark: SparkSession, g: PreparedGraph,
                        roots: Seq[Long]): DataFrame =
    search(spark, g, roots).tree

  /** The kernel when [[prepareRaw]] built a CSR, the gate still admits
    * the graph (a gate lowered since, such as `withLimit(0)`, forces the
    * loop) and the run-major arrays fit Int indexing; the level loop
    * otherwise. The tree has a leading `run` column. */
  private def search(spark: SparkSession, g: PreparedGraph,
                     roots: Seq[Long]): Result = g.csrIfBuilt match {
    case Some(csr) if g.totalEdges <= graft.Gates.localBfsMaxEdges.limit(spark) &&
        roots.size.toLong * csr.nVerts <= Int.MaxValue => kernelSearch(spark, csr, roots)
    case _ => levelLoop(spark, g, roots)
  }

  /** `df` with a leading `run` column: each row once per run, by a
    * projection (one generator above one run) — no join, no Spark job. */
  private def withRuns(df: DataFrame, nRuns: Int): DataFrame = {
    val run =
      if (nRuns == 1) lit(0L)
      else explode(sequence(lit(0L), lit(nRuns - 1L)))
    df.select(run.as("run"), col("*"))
  }

  /** Every root through the CSR kernel. A root absent from the cleaned
    * graph (its only edges were self-loops) reaches nothing, exactly as
    * in the level loop: every vertex unreached, sizes (0, 1). The dense
    * outputs ship to executors as ONE compact broadcast each and the
    * rows materialize DISTRIBUTED over `range(runs · nV)`, row i being
    * run i / nV, vertex i % nV, read by position — never a driver-side
    * row collection (a parallelize of millions of boxed rows costs
    * seconds per downstream scan) and no vertex table. */
  private def kernelSearch(spark: SparkSession, csr: LocalCsr,
                           roots: Seq[Long]): Result = {
    val nV = csr.nVerts
    val runs = roots.map { root =>
      if (java.util.Arrays.binarySearch(csr.ids, root) >= 0) csr.bfs(root)
      else (Array.fill(nV)(-1), Array.fill(nV)(-1), Seq((0, 1L)))
    }
    // run-major
    val predFlat = Array.concat(runs.map(_._1): _*)
    val depthFlat = Array.concat(runs.map(_._2): _*)
    val bcIds = spark.sparkContext.broadcast(csr.ids)
    val bcPred = spark.sparkContext.broadcast(predFlat)
    val bcDepth = spark.sparkContext.broadcast(depthFlat)
    val runOf = udf((i: Long) => i / nV)
    val vertexOf = udf((i: Long) => bcIds.value((i % nV).toInt))
    val predOf = udf { (i: Long) =>
      val p = bcPred.value(i.toInt)
      if (p < 0) -1L else bcIds.value(p)
    }
    val depthOf = udf { (i: Long) =>
      val d = bcDepth.value(i.toInt)
      if (d < 0) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(d.toLong)
    }
    val trees = spark.range(roots.size.toLong * nV)
      .select(runOf(col("id")).as("run"), vertexOf(col("id")).as("vertex"),
        predOf(col("id")).as("pred"), depthOf(col("id")).as("depth"))
    val sizes = runs.flatMap(_._3).groupMapReduce(_._1)(_._2)(_ + _)
    Result(trees, sizes.toSeq.sorted, Some((predFlat, depthFlat)))
  }

  /** The distributed level loop (the scale path of the hybrid executor). */
  private def levelLoop(spark: SparkSession, g: PreparedGraph,
                        roots: Seq[Long]): Result = {
    import spark.implicits._
    val edges = g.edges
    val nRuns = roots.size

    // Per-level checkpoints store SERIALIZED (MEMORY_AND_DISK_SER):
    // the default deserialized level keeps every level's UnsafeRow
    // OBJECTS live across the whole loop (the final tree assembly
    // unions all levels), and at 16 roots × SCALE 26 the concurrent
    // 32-task deserialized unroll of a peak level OOMed an 80 GB heap
    // (GCLocker retry storm → exit 52) while 422 GB spilled. Serialized
    // blocks unroll incrementally as compact buffers, evict to disk
    // cleanly, and the ser/deser cost is per-level-linear.
    //
    // Visited state = the list of per-level frontiers, each a
    // checkpointed DataFrame. Anti-joins read their lazy union — same
    // data volume as a materialized visited table, but without
    // re-caching O(|visited|) rows every level.
    val levelStorage = StorageLevel.MEMORY_AND_DISK_SER
    val levels0 = roots.zipWithIndex
      .map { case (r, i) => (i.toLong, r, r, 0) }
      .toDF("run", "vertex", "pred", "depth")
      .localCheckpoint(true, levelStorage)
    val levelDfs = scala.collection.mutable.ArrayBuffer(levels0)
    val sizes = scala.collection.mutable.ArrayBuffer((0, nRuns.toLong))
    def visited: DataFrame = levelDfs.reduce(_ union _)
    var frontier = levels0.select("run", "vertex")
    var frontierSize = nRuns.toLong
    var visitedTotal = frontierSize
    val stateTotal = nRuns.toLong * g.totalVerts
    var level = 0

    while (frontierSize > 0) {
      level += 1
      // Beamer-style direction switch across the whole batch: once the
      // summed frontier outweighs the summed unvisited sets, scan from
      // the unvisited side (symmetric edges ⇒ the same src-partitioned
      // cached layout serves both directions — no second shuffle of the
      // big table, the reference's CSR/CSC duality for free).
      val bottomUp = frontierSize * Beta > stateTotal - visitedTotal
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
      // frontiers), not O(|visited|). The bottom-up branch uses the full
      // set.
      def recentSide: DataFrame = {
        val v = levelDfs.takeRight(2).map(_.select(col("run"), col("vertex")))
          .reduce(_ union _)
        if (sizes.takeRight(2).map(_._2).sum <= BroadcastLimit) broadcast(v) else v
      }
      def visitedSide: DataFrame = {
        val v = visited.select("run", "vertex")
        if (visitedTotal <= BroadcastLimit) broadcast(v) else v
      }

      val discovered =
        if (bottomUp) {
          // unvisited ⋈ edges ON vertex = src: only the unvisited side
          // moves, the edges stay in their src layout
          val unvisited = withRuns(g.all, nRuns)
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

      // LAZY checkpoint + count = ONE job per level: the count is the
      // materializing action (it computes and caches every partition at
      // the checkpoint's storage level), after which the post-job
      // LocalRDDCheckpointData pass finds nothing left to recompute. An
      // eager checkpoint would submit a separate materialization job and
      // the count a second one — at high SCALE the loop's floor is this
      // fixed per-job latency × levels, not data volume.
      val next = discovered
        .groupBy("run", "vertex").agg(min("pred").as("pred"))
        .withColumn("depth", lit(level))
        .localCheckpoint(false, levelStorage)
      frontierSize = next.count()
      if (frontierSize > 0) {
        sizes += ((level, frontierSize))
        visitedTotal += frontierSize
        levelDfs += next
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

    val trees = withRuns(g.all, nRuns)
      .join(visited, Seq("run", "vertex"), "left_outer")
      .select(col("run"), col("vertex"),
        coalesce(col("pred"), lit(-1L)).as("pred"),
        col("depth").cast("long").as("depth"))
    Result(trees, sizes.toSeq)
  }
}
