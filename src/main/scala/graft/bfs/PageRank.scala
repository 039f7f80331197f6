package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Fixed-iteration PageRank over the cleaned symmetric graph — the
 * canonical iterative-analytics operator the reference engine's BFS
 * loop machinery (SURVEY §2 C1-C4) generalizes to.
 *
 * All arithmetic is FIXED-POINT INTEGER: ranks are scaled by 10^12 and
 * every per-edge contribution is the floor division
 * (r(u) * 85) div (100 * outdeg(u)), so the result is a deterministic
 * function of the graph — independent of partitioning, aggregation
 * order, and engine (long sums are associative/commutative; float sums
 * are not). That is what makes a cross-engine oracle comparison exact
 * over 10 chained aggregations: the same computation in DuckDB SQL
 * (integer `//`) reproduces every bit. The floor losses (< 1 unit in
 * 10^12 per edge per iteration) are far below any analytic use of the
 * scores.
 *
 * Distributed shape per iteration: one join of the (|V|-sized) rank
 * table against the edge list on src, one groupBy dst with map-side
 * partial sums — the edge table is shuffled on src ONCE up front and
 * the exchange is reused every iteration (AQE cannot move it: the key
 * never changes); each iteration materializes through a lazy
 * localCheckpoint + count (one job per iteration, lineage one
 * iteration deep) exactly like the BFS level loop. The symmetric clean
 * graph has no dangling vertices (every vertex has out-edges), so no
 * dangling-mass redistribution term is needed.
 *
 * Under the BFS gate the iteration runs on the [[LocalCsr]] kernel —
 * identical integer math, hence identical output (spec-pinned).
 */
object PageRank {

  /** Rank scale: 1.0 == 10^12. */
  val Scale = 1000000000000L
  /** Damping 0.85 as the exact pair (85, 100). */
  val DampNum = 85L
  val DampDen = 100L
  /** Floor for the auto-sized driver-state cap (see
    * [[autoIterBroadcastVerts]]): 2M vertices ≈ ~50 MB of (v, outdeg, r)
    * longs hashed — dimension-broadcast territory on any sane driver.
    * Long sums are associative/commutative, so the driver-state and
    * shuffle plans produce identical bits either side of the cap. */
  val IterBroadcastVertsFloor = 2000000L

  /** Hard ceiling for the auto-sized cap: past ~32M vertices the
    * per-round collect() (|V| Rows) and the boxed-HashMap index
    * broadcast (~1.5 GB at 32M) stop being "dimension-sized" on any
    * heap — the shuffle loop is the right plan regardless of driver
    * headroom. */
  val IterBroadcastVertsCeil = 32000000L

  /** Driver-side budget per vertex in the driver-state loops: four long
    * arrays (ids/degs/r/next = 32 B) + the boxed java HashMap index
    * (~48 B/entry) + the broadcast copies of index+degs (~48 B) ≈
    * 128 B/vertex. */
  val IterBroadcastBytesPerVertex = 128L

  /** Auto-sized driver-state cap (the validation-broadcast-cap pattern,
    * Validator.broadcastVerts): the vertex count whose driver-state
    * footprint fits in 1/32 of the given heap, floored at
    * [[IterBroadcastVertsFloor]] and ceiled at [[IterBroadcastVertsCeil]]
    * — a 2 GB driver gets the floor, a 128 GB bench box gets ~32M, and
    * no heap admits a collect the shuffle loop should own. Conf
    * `spark.graft.iterBroadcastVerts` remains the override. */
  private[graft] def autoIterBroadcastVerts(heapBytes: Long): Long =
    math.min(IterBroadcastVertsCeil,
      math.max(IterBroadcastVertsFloor,
        heapBytes / 32 / IterBroadcastBytesPerVertex))

  /** The live cap: `spark.graft.iterBroadcastVerts` when set, else
    * auto-sized from the driver JVM heap (local-mode assumption: driver
    * == executor; in cluster mode the collect lands on the driver and
    * the broadcasts on executors, so driver heap is the binding side for
    * the |V|-state pattern either way). */
  private[bfs] def iterBroadcastVerts(spark: SparkSession): Long =
    graft.Gates.longConf(spark, "spark.graft.iterBroadcastVerts",
      autoIterBroadcastVerts(Runtime.getRuntime.maxMemory))

  /** Run `body` with AQE off, restoring the prior setting after. The
    * driver-state iteration loops plan the SAME tiny fixed shape every
    * round (one scan + partial agg + one small exchange); AQE's
    * per-query-stage materialization doubles the job count for zero
    * re-planning value there (measured FD sf0.1: PageRank 7.1 → 5.7 s,
    * k-core 1.7 → 1.1 s with identical results). AQE stays ON for the
    * above-cap shuffle loops, where runtime re-planning (skew, coalesce)
    * is worth the stages. Physical-only toggle — results are identical.
    * Caveat: session confs are session-global, so a concurrently
    * PLANNING query in the same session during `body` would also plan
    * without AQE — a performance nuance only (Bench's concurrent phase
    * is the untimed warm-up; Verify and the timed passes run
    * sequentially). */
  private[bfs] def withoutAqe[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Distributed fixed-point PageRank: (vertex, rank_fp) after `iters`
    * synchronous iterations from the uniform start floor(Scale / |V|).
    *
    * Two strategies on one contract (bit-identical outputs, spec-pinned;
    * the k-core survivor-set precedent):
    *  - **Driver-state path** (|V| at or under
    *    `spark.graft.iterBroadcastVerts`, default auto-sized from the
    *    driver heap — [[autoIterBroadcastVerts]]):
    *    the |V|-sized rank vector rides the driver (the BFS
    *    frontier-allgather pattern, SURVEY X6); one iteration is a single
    *    job — narrow per-edge contribution lookup against the broadcast
    *    vector over the ONE persisted edge cache, partial-aggregated
    *    groupBy(dst) (the only exchange carries (dst, partial-sum) rows,
    *    never edges), collect of |V| sums. No per-iteration checkpoint,
    *    no join, nothing resorted.
    *  - **Shuffle path** (|V| above the cap — cluster scale): the rank
    *    table is a distributed relation; per iteration one SMJ against
    *    the src-partitioned edges + the partial-agg'd groupBy(dst),
    *    materialized through a lazy localCheckpoint + count (one job per
    *    iteration, lineage one iteration deep). */
  /** Contract: `clean` must be SYMMETRIC (every (u,v) paired with (v,u)
    * — [[graft.etl.EdgeOps.cleanEdges]] output). Only then are the two
    * strategies bit-identical: on an asymmetric input the shuffle path's
    * inner joins OMIT sink vertices (dst never seen as src) and
    * source-only vertices, while the driver-state path keeps every src
    * vertex — so asymmetric inputs get strategy-dependent row sets. */
  def pagerank(spark: SparkSession, clean: DataFrame, iters: Int = 10): DataFrame = {
    val edges = clean.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val od = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both strategies fully materialize their result (Ship.df driver
    // arrays / eager checkpoint) before returning, so the caches can be
    // dropped unconditionally — including when a job thrown mid-loop
    // (cancellation, executor loss) would previously have leaked them
    try {
      val nV = od.count() // one scalar agg job, also materializes od
      if (nV == 0) {
        import spark.implicits._
        return Seq.empty[(Long, Long)].toDF("vertex", "rank_fp")
      }
      if (nV <= iterBroadcastVerts(spark))
        pagerankDriverState(spark, edges, od, nV, iters)
      else pagerankShuffle(spark, edges, od, nV, iters)
    } finally {
      edges.unpersist(blocking = false)
      od.unpersist(blocking = false)
    }
  }

  /** Driver-state iteration (see [[pagerank]]): broadcast rank vector,
    * one exchange-free-until-the-partial-agg job per iteration. The
    * per-edge contribution lookup and the long sums are the exact
    * arithmetic of the shuffle path (associative/commutative long adds),
    * so outputs are bit-identical. */
  private def pagerankDriverState(spark: SparkSession, edges: DataFrame,
                                  od: DataFrame, nV: Long,
                                  iters: Int): DataFrame = withoutAqe(spark) {
    // DENSE-ID REMAP, once: the per-edge id→index lookup is the hot
    // operation (|E| × iters evaluations), and both a HashMap probe
    // (boxes the key, ~60M transient Longs per invocation) and a
    // binarySearch (~19 cache-missing probes over a |V|-sized array —
    // measured SLOWER than the map at sf0.1) pay per evaluation.
    // Instead the edges are rewritten to (srcIdx, dstIdx) ints in ONE
    // pass (two searches per edge, once), cached for the loop; every
    // iteration then reads a precomputed per-vertex contribution by
    // DIRECT array index — zero search, zero boxing in the hot loop.
    val odRows = od.select(col("v"), col("outdeg")).collect()
    val order = odRows.indices.sortBy(odRows(_).getLong(0))
    val ids = order.map(odRows(_).getLong(0)).toArray
    val degs = order.map(odRows(_).getLong(1)).toArray
    val bcIds = spark.sparkContext.broadcast(ids)
    val idxOf = udf { (v: Long) =>
      java.util.Arrays.binarySearch(bcIds.value, v)
    }
    // dstIdx < 0 = dst never seen as src (sink vertex of an asymmetric
    // input, outside the documented contract): kept through the agg and
    // skipped at the driver, matching the shuffle path's inner-join omit
    val eIdx = edges
      .select(idxOf(col("src")).as("si"), idxOf(col("dst")).as("di"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val base = (Scale * 15L / 100L) / nV
      var r = Array.fill(ids.length)(Scale / nV)
      var it = 1
      while (it <= iters) {
        // per-VERTEX contribution computed on the driver (|V| divisions,
        // free next to the |E|-sized scan) — identical floor division to
        // the shuffle path's join projection, so outputs stay bit-equal
        val contrib = new Array[Long](ids.length)
        var j = 0
        while (j < contrib.length) {
          contrib(j) = r(j) * DampNum / (DampDen * degs(j)); j += 1
        }
        val bcC = spark.sparkContext.broadcast(contrib)
        try {
          val cOf = udf { (si: Int) => bcC.value(si) }
          val sums = eIdx.select(col("di"), cOf(col("si")).as("c"))
            .groupBy(col("di")).agg(sum(col("c")).as("s"))
            .collect()
          val next = new Array[Long](ids.length)
          // symmetric graph: every vertex has in-edges, so `sums` covers
          // all of them (negative di = out-of-contract sink, skipped)
          sums.foreach { row =>
            val i = row.getInt(0)
            if (i >= 0) next(i) = base + row.getLong(1)
          }
          r = next
        } finally bcC.destroy() // per-iteration |V|-bounded: no driver copy left to GC
        it += 1
      }
      graft.functions.Ship.df(spark, "vertex" -> ids, "rank_fp" -> r)
    } finally {
      eIdx.unpersist(blocking = false)
      // per-invocation |V|-bounded broadcast: destroy, don't leak one
      // per pagerank() call into a long-lived session
      bcIds.destroy()
    }
  }

  /** Above-cap shuffle iteration (see [[pagerank]]). */
  private def pagerankShuffle(spark: SparkSession, edges: DataFrame,
                              od: DataFrame, nV: Long,
                              iters: Int): DataFrame = {
    val base = (Scale * 15L / 100L) / nV
    var ranks = od.select(col("v"), col("outdeg"), lit(Scale / nV).as("r"))
    var i = 1
    while (i <= iters) {
      val contrib = edges
        .join(ranks.select(col("v").as("src"),
          expr(s"(r * $DampNum) div ($DampDen * outdeg)").as("c")), "src")
        .groupBy(col("dst").as("v")).agg(sum(col("c")).as("s"))
      // inner join: symmetric graph ⇒ every vertex has in-edges.
      // LAZY checkpoint + count = ONE job per iteration (the BFS level
      // loop's pattern, Bfs.scala:449): the count materializes and caches
      // every partition, the post-job checkpoint pass finds nothing left
      // to recompute, and the next iteration's plan starts from the
      // cached RDD — lineage stays one iteration deep, and AQE never
      // re-plans (or re-executes) a multi-iteration chain. Superseded
      // checkpoints (|V|-row tables) are reclaimed by the ContextCleaner
      // once unreferenced. CAVEAT: local checkpoints truncate lineage
      // onto non-replicated blocks — losing an EXECUTOR after
      // materialization fails the job instead of recomputing (the
      // fault-tolerance trade every local checkpoint makes; acceptable
      // on local[n], conscious choice on a cluster). The storage level
      // is pinned to MEMORY_AND_DISK so mere cache-pressure EVICTION
      // can never drop the only copy — an evicted partition goes to
      // disk, not away.
      ranks = od.join(contrib, "v")
        .select(col("v"), col("outdeg"), (lit(base) + col("s")).as("r"))
        .localCheckpoint(eager = false,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ranks.count()
      i += 1
    }
    // eager checkpoint: the result must not depend on the edges/od
    // caches, which pagerank()'s finally drops as soon as we return
    ranks.select(col("v").as("vertex"), col("r").as("rank_fp"))
      .localCheckpoint(eager = true)
  }

  /** In-kernel fixed-point PageRank on a symmetric CSR: dense gather
    * per iteration (r'(v) = base + Σ_{u ∈ N(v)} contrib(u)) — exactly
    * the distributed recurrence, exactly the same longs. */
  def pagerankCsr(csr: LocalCsr, iters: Int = 10): Array[Long] = {
    val nV = csr.nVerts
    if (nV == 0) return Array.emptyLongArray
    val rs = csr.rowStarts
    val nbrs = csr.nbrs
    val base = (Scale * 15L / 100L) / nV
    var r = new Array[Long](nV)
    java.util.Arrays.fill(r, Scale / nV)
    val contrib = new Array[Long](nV)
    var next = new Array[Long](nV)
    var it = 0
    while (it < iters) {
      var v = 0
      while (v < nV) {
        contrib(v) = r(v) * DampNum / (DampDen * (rs(v + 1) - rs(v)))
        v += 1
      }
      java.util.stream.IntStream.range(0, nV).parallel().forEach { u =>
        var s = 0L
        var k = rs(u)
        while (k < rs(u + 1)) { s += contrib(nbrs(k)); k += 1 }
        next(u) = base + s
      }
      val t = r; r = next; next = t
      it += 1
    }
    r
  }

  /** Kernel result as a DataFrame (vertex, rank_fp) via broadcast
    * range-lookup ship. */
  def pagerankCsrDf(spark: SparkSession, csr: LocalCsr, iters: Int = 10): DataFrame = {
    val r = pagerankCsr(csr, iters)
    graft.functions.Ship.df(spark, "vertex" -> csr.ids, "rank_fp" -> r)
  }
}
