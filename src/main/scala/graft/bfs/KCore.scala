package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * k-core decomposition by fixed-round peeling: each round drops
 * vertices whose degree in the surviving induced subgraph is below k.
 * A FIXED round count (not run-to-fixpoint) keeps the semantics
 * engine-independent and SQL-expressible — the DuckDB oracle unrolls
 * the same rounds as CTEs, exactly the `gr_pagerank` fixed-iteration
 * contract — and the spec asserts the default round count has
 * converged on the test graphs (extra rounds change nothing).
 *
 * Output: (vertex, degree) — round-R survivors with their round-R
 * induced degree (= the k-core with core degrees once converged).
 *
 * Graph analytics beyond the reference (no counterpart to cite); the
 * execution profile is the BFS family's: an iterative loop over a
 * once-shuffled edge table, with a driver-local CSR kernel under the
 * same gate serving the benchmark sizes.
 */
object KCore {

  /** Distributed peeling loop — two strategies on one contract:
    *
    *  - **Survivor-set path** (|V| at or under
    *    `spark.graft.iterBroadcastVerts`, default auto-sized from the
    *    driver heap — [[PageRank.autoIterBroadcastVerts]]): the keep set
    *    is a |V|-bounded
    *    (vertex, degree) table collected to the driver each round and
    *    shipped back as a broadcast range-lookup ([[graft.functions
    *    .Ship]]) — the BFS frontier-allgather pattern (SURVEY X6). One
    *    round = two broadcast-hash prune joins streaming the ONE
    *    persisted src-partitioned edge cache + a groupBy(src) that
    *    reuses that partitioning: ZERO exchanges and one job per round.
    *    The degree aggregation stays fully distributed; only the
    *    (small) survivor set rides the driver. Because keep sets are
    *    nested (keepᵣ ⊆ keepᵣ₋₁ — a dropped vertex's edges stay
    *    dropped), pruning edges₀ by the latest keep set alone is
    *    identical to pruning progressively.
    *  - **Checkpoint path** (|V| above the cap — cluster scale): the
    *    prior per-round prune loop; degree exchange + two AQE-planned
    *    equi-joins per round, each round's edge set materialized
    *    through a lazy localCheckpoint + count (lineage cut at the
    *    round boundary). An |E|-sized relation never ships anywhere.
    *
    * Both produce bit-identical results (long counts; spec-pinned). */
  def kcore(spark: SparkSession, clean: DataFrame, k: Int = 3,
            rounds: Int = 5): DataFrame = {
    require(k > 0 && rounds > 0, s"kcore: need k, rounds > 0, got ($k, $rounds)")
    val cap = PageRank.iterBroadcastVerts(spark)
    val edges = clean.select("src", "dst")
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both paths fully materialize their result (Ship.df / eager
    // checkpoint), so the edge cache drops unconditionally — including
    // when a job thrown mid-round would previously have leaked it
    try {
      val deg1 = edges.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("degree"))
      // |V| probe: partial+final agg over the persisted src layout — no
      // exchange — then a count; also warms the edge cache.
      val nV = deg1.count()
      if (nV <= cap) kcoreSurvivorSet(spark, edges, deg1, k, rounds)
      else kcoreCheckpoint(spark, edges, k, rounds)
    } finally edges.unpersist(blocking = false)
  }

  /** Survivor-set path (see [[kcore]]): driver-held keep set, one
    * exchange-free distributed degree job per round. */
  private def kcoreSurvivorSet(spark: SparkSession, edges: DataFrame,
                               deg1: DataFrame, k: Int,
                               rounds: Int): DataFrame =
      PageRank.withoutAqe(spark) {
    var keepIds: Array[Long] = null // null = round 1, nothing pruned yet
    var keptDegs: Array[Long] = Array.emptyLongArray
    var r = 1
    while (r <= rounds && (keepIds == null || keepIds.nonEmpty)) {
      val degR =
        if (keepIds == null) deg1
        else {
          val kt = graft.functions.Ship.df(spark, "kv" -> keepIds)
          edges
            .join(broadcast(kt.select(col("kv").as("src"))), "src")
            .join(broadcast(kt.select(col("kv").as("dst"))), "dst")
            .groupBy(col("src").as("v")).agg(count(lit(1)).as("degree"))
        }
      val rows = degR.where(col("degree") >= k)
        .select(col("v"), col("degree")).collect()
      keepIds = rows.map(_.getLong(0))
      keptDegs = rows.map(_.getLong(1))
      r += 1
    }
    graft.functions.Ship.df(spark,
      "vertex" -> (if (keepIds == null) Array.emptyLongArray else keepIds),
      "degree" -> keptDegs)
  }

  /** Above-cap checkpoint path (see [[kcore]]). */
  private def kcoreCheckpoint(spark: SparkSession, edges0: DataFrame,
                              k: Int, rounds: Int): DataFrame = {
    var edges = edges0
    var r = 1
    var result: DataFrame = null
    while (r <= rounds && result == null) {
      val deg = edges.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("degree"))
      if (r == rounds) {
        // |core| rows ≤ |V|: checkpoint the answer eagerly so the
        // per-round persisted edge sets can all drop (PageRank's
        // result pattern)
        result = deg.where(col("degree") >= k)
          .select(col("v").as("vertex"), col("degree"))
          .localCheckpoint(eager = true)
      } else {
        val keep = deg.where(col("degree") >= k).select("v")
        // LAZY checkpoint + count = one job per round with lineage cut
        // at the round boundary (the BFS level loop's pattern) — a
        // persisted-but-uncheckpointed round would re-plan the whole
        // prior-round chain under AQE. MEMORY_AND_DISK pinned so cache
        // eviction spills rather than drops the only (non-replicated)
        // copy; executor loss still fails the job instead of
        // recomputing — the local-checkpoint trade (see PageRank).
        val next = edges
          .join(keep.withColumnRenamed("v", "src"), "src")
          .join(keep.withColumnRenamed("v", "dst"), "dst")
          .select("src", "dst")
          .localCheckpoint(eager = false,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        // intermediate round checkpoints only — the ORIGINAL edge cache
        // is dropped by kcore()'s finally (unpersist is idempotent, so
        // the round-1 call here overlapping it is harmless)
        edges.unpersist(blocking = false)
        edges = next
      }
      r += 1
    }
    edges.unpersist(blocking = false)
    result
  }

  /** CSR peeling kernel ≡ [[kcore]]: parallel per-vertex alive-neighbor
    * counts per round over the shared-gate CSR. Returns the surviving
    * (global id, degree) pairs in id order. */
  def kcoreCsr(csr: LocalCsr, k: Int = 3,
               rounds: Int = 5): (Array[Long], Array[Long]) = {
    val n = csr.nVerts
    val rs = csr.rowStarts
    val nbrs = csr.nbrs
    var alive = new Array[Boolean](n)
    java.util.Arrays.fill(alive, true)
    val deg = new Array[Int](n)
    var r = 1
    while (r <= rounds) {
      val a = alive
      java.util.stream.IntStream.range(0, n).parallel().forEach { v =>
        if (a(v)) {
          var d = 0
          var i = rs(v)
          while (i < rs(v + 1)) { if (a(nbrs(i))) d += 1; i += 1 }
          deg(v) = d
        } else deg(v) = 0
      }
      val next = new Array[Boolean](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { v =>
        next(v) = a(v) && deg(v) >= k
      }
      alive = next
      r += 1
    }
    val nAlive = {
      var c = 0; var v = 0
      while (v < n) { if (alive(v)) c += 1; v += 1 }
      c
    }
    val ids = new Array[Long](nAlive)
    val degs = new Array[Long](nAlive)
    var v = 0; var o = 0
    while (v < n) {
      if (alive(v)) { ids(o) = csr.ids(v); degs(o) = deg(v).toLong; o += 1 }
      v += 1
    }
    (ids, degs)
  }

  /** Kernel result as a DataFrame (vertex, degree) via broadcast ship. */
  def kcoreCsrDf(spark: SparkSession, csr: LocalCsr, k: Int = 3,
                 rounds: Int = 5): DataFrame = {
    val (ids, degs) = kcoreCsr(csr, k, rounds)
    graft.functions.Ship.df(spark, "vertex" -> ids, "degree" -> degs)
  }
}
