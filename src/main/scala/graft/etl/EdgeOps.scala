package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Edge-list ETL — the construction-phase operators of the reference
 * (mpi/graph_constructor.hpp): self-loop removal, symmetrization, duplicate
 * merge, degree analytics, vertex reordering, graph summary counts.
 *
 * All are declarative DataFrame transforms so Catalyst gets pushdown /
 * partial aggregation / AQE skew handling for free. The reference's 2D edge
 * partitioning + alltoallv (graph_constructor.hpp:1183-1280, utils.hpp:2054+)
 * is exactly Spark's shuffle; we only choose the keys.
 */
object EdgeOps {

  /** Deterministic bipartite test graph derived from `lineitem` (FIXTURES.md
    * §2): order-node = 2*l_orderkey, part-node = 2*l_partkey+1 — disjoint id
    * spaces, so the graph operators run on oracle-checkable data. */
  def edgesFromLineitem(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(
        (col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))

  /** Drop self-loops, symmetrize, dedup → canonical undirected edge set with
    * both directions materialized (reference P1/P2/O1:
    * graph_constructor.hpp:697-699, 1390-1408 — the reference also dedups
    * by SORTING, not hashing). ONE exchange, on src; the duplicate merge is
    * STREAMING: radix-sort within partitions by (src,dst), keep a row iff
    * its dst differs from its predecessor's inside the src window. O(1)
    * dedup memory over the sorted run — no per-task hash map at all.
    * Every src-keyed consumer (degree count, the BFS level join's edge
    * side) inherits the partitioning without another shuffle. Why not
    * `distinct()`/`dropDuplicates`: both plan a HashAggregate whose
    * per-task maps hold partitionRows keys — at SCALE 24 on local[32]
    * (16M keys × 32 tasks) that spilled 70 GB on an 8.6 GB dataset:
    * 312 s (distinct + re-exchange) / 246 s (post-exchange hash dedup) /
    * 87 s (this plan); 2^22→2^24 scaling 3.0× for 4× data. */
  def cleanEdges(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val noLoops = raw.filter(col("src") =!= col("dst"))
    noLoops
      .union(noLoops.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .withColumn("_p", lag(col("dst"), 1).over(w))
      .filter(col("_p").isNull || col("_p") =!= col("dst"))
      .drop("_p")
  }

  /** Per-vertex degree over cleaned (symmetric) edges — reference A1
    * (graph_constructor.hpp:296-311). Partial+final hash agg, single
    * shuffle. */
  def degrees(clean: DataFrame): DataFrame =
    clean.groupBy(col("src").as("vertex")).agg(count(lit(1)).as("degree"))

  /** Power-of-two degree-distribution histogram over [[degrees]] —
    * the first chart anyone draws of a scale-free graph (the
    * Kronecker generator's whole point is its heavy tail). Bucket =
    * INTEGER bit length of the degree (`conv` to base 2, never
    * `log2` — FP rounding at bucket edges would misbucket vs an exact
    * oracle). One partial-agg'd groupBy over the already-aggregated
    * degree table; the exchange carries O(log maxdeg) buckets per
    * partition. */
  def degreeHistogram(degrees: DataFrame): DataFrame =
    degrees
      .select((length(conv(col("degree").cast("string"), 10, 2)) - 1)
        .cast("long").as("bucket"), col("degree"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_vertices"),
        sum(col("degree")).as("sum_degree"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))

  /** Exact 2-hop reach of the top-k hubs: per hub, how many DISTINCT
    * vertices lie within two edges (excluding the hub itself) — the
    * influence/blast-radius metric. Restricting to the k highest-degree
    * hubs (ties to the smaller id) is what makes exact 2-hop
    * tractable: global 2-hop reach is Σdeg² by nature.
    *
    * Scale shape: the hub table is a TakeOrdered over the degree
    * aggregate (k rows, broadcast); hop 1 is a broadcast-filtered
    * scan of the edge list; hop 2 is one vertex-keyed equi-join whose
    * fan-out is the hubs' combined 2-hop wedge mass — the inherent
    * cost of the exact answer, spread across the cluster by the join
    * key. The dedup+count is, when the vertex-id domain is bounded
    * (`maxVertex` known and k·(maxVertex+1) ≤
    * `spark.graft.twoHopBitsetMaxBits` / defaultParallelism — the
    * budget, default 2^31 total bits = 256 MB, covers every task that
    * holds its k buffers at once), ONE hub-keyed `bitset_distinct`
    * aggregation — the distributed twin of the CSR kernel's per-hub
    * BitSet: partial aggregation collapses each map partition's wedge
    * mass into k fixed-width buffers, so the exchange carries
    * O(k × partitions) buffers instead of the hubs' entire distinct
    * reach set, and the (hub, vertex) distinct exchange disappears
    * from the plan. Above the bound (or with no maxVertex) it falls
    * back to the distinct() + count plan, whose shuffle is the reach
    * set itself. Bit-identical either way — the bitset is exact.
    * Output: (vertex, degree, reach_2hop). */
  def twoHopReach(clean: DataFrame, k: Int,
                  precomputedDegrees: Option[DataFrame] = None,
                  maxVertex: Option[Long] = None): DataFrame = {
    val hubs = precomputedDegrees
      .map(_.select(col("vertex").as("src"), col("degree")))
      .getOrElse(clean.groupBy(col("src")).agg(count(lit(1)).as("degree")))
      .orderBy(col("degree").desc, col("src")).limit(k)
      .select(col("src").as("h"), col("degree"))
    val h1 = clean.join(broadcast(hubs.select("h")),
        col("src") === col("h"))
      .select(col("h"), col("dst").as("v"))
    val h2 = h1
      .join(clean.select(col("src").as("v"), col("dst").as("v2")), "v")
      .select(col("h"), col("v2").as("v"))
    val wedges = h1.union(h2).where(col("v") =!= col("h"))
    val bitsetBudget = graft.Gates.longConf(clean.sparkSession,
      "spark.graft.twoHopBitsetMaxBits", 1L << 31)
    // k·(mv+1) ≤ budget / concurrent tasks, with each hub's maxBits
    // capped at the 2^36 BitsetDistinct accepts; divided, not
    // multiplied, so a huge configured budget or mv cannot overflow its
    // way past the gate
    val taskBudget =
      bitsetBudget / clean.sparkSession.sparkContext.defaultParallelism
    val reach = maxVertex match {
      case Some(mv) if mv >= 0 && k > 0 &&
          mv < math.min(1L << 36, taskBudget / k) =>
        wedges.groupBy("h").agg(
          graft.functions.BitsetDistinct.of(col("v"), mv + 1)
            .as("reach_2hop"))
      case _ =>
        wedges.distinct()
          .groupBy("h").agg(count(lit(1)).as("reach_2hop"))
    }
    reach
      .join(broadcast(hubs), "h")
      .select(col("h").as("vertex"), col("degree"), col("reach_2hop"))
  }

  /** Degree-assortativity moments: over every directed edge entry of
    * the symmetrized graph, the exact integer sums
    * (n, Σdeg(src), Σdeg(src)², Σdeg(src)·deg(dst)) from which the
    * Pearson degree-correlation coefficient derives (symmetry makes
    * the src and dst marginals identical, so one side's moments
    * suffice). Long sums are associative — reducer order cannot
    * perturb a bit, and the oracle matches exactly; any FP division
    * happens AFTER aggregation, outside the compared columns.
    *
    * Scale shape: the degree table (one row per vertex, ≪ edges) is
    * joined to the edge list twice — plain shuffle-hash equi-joins
    * that AQE may broadcast when degrees fit — then a single global
    * agg whose exchange carries one partial row per partition. */
  def assortativityMoments(clean: DataFrame,
                           precomputedDegrees: Option[DataFrame] = None)
      : DataFrame = {
    val deg = precomputedDegrees.getOrElse(degrees(clean))
    clean
      .join(deg.select(col("vertex").as("src"), col("degree").as("ds")),
        Seq("src"))
      .join(deg.select(col("vertex").as("dst"), col("degree").as("dd")),
        Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("ds")).as("sum_d"),
        sum(col("ds") * col("ds")).as("sum_d2"),
        sum(col("ds") * col("dd")).as("sum_dxdy"))
  }

  /**
   * Vertex→dense-id reorder map (reference O2, graph_constructor.hpp:288-352;
   * modes per mpi/parameters.h:38-41):
   *   0 = identity order (by vertex id),
   *   1 = isolated vertices last (here: all vertices in `clean` have edges,
   *       so ordering is by vertex id among non-isolated),
   *   2 = degree descending.
   * Ties broken by vertex id for a canonical, oracle-checkable map (the
   * reference's sort is unstable; any tie order is spec-valid).
   *
   * Scale note: dense-id assignment is a RANGE-PARTITIONED global sort
   * (orderBy — parallel sample-based range exchange) followed by the
   * two-pass per-partition-offset scheme of [[denseIds]] (one tiny
   * count aggregation, then a map pass that never leaves Tungsten
   * rows). A windowed row_number with no partition key would instead
   * move the whole vertex table through a single partition — the
   * classic global-window bottleneck this implementation exists to
   * avoid.
   */
  def reorderMap(clean: DataFrame, mode: Int,
                 precomputedDegrees: Option[DataFrame] = None): DataFrame = {
    val deg = precomputedDegrees.getOrElse(degrees(clean))
    val order: Seq[Column] = mode match {
      case 0 => Seq(col("vertex").asc)
      case 1 => Seq((col("degree") === 0).asc, col("vertex").asc)
      case 2 => Seq(col("degree").desc, col("vertex").asc)
      case _ => throw new IllegalArgumentException(s"reorder mode $mode")
    }
    denseIds(deg.orderBy(order: _*).select(col("vertex")))
  }

  /** Dense 0-based ids over an already-ordered single-column relation:
    * (vertex, new_id) with new_id = global row position.
    *
    * Two jobs over one lazily-checkpointed materialization of the sort
    * — per-partition row counts (an O(partitions)-row aggregation),
    * then a map pass computing
    * `new_id = offset(partition) + position-in-partition` from
    * `monotonically_increasing_id()` (= pid·2^33 + position, so the
    * position is recovered by subtracting the partition base). Same
    * pass structure as the previous `rdd.zipWithIndex` formulation but
    * WITHOUT leaving the Tungsten row format: zipWithIndex deserialized
    * every row into JVM objects and `createDataset` re-encoded them —
    * a full object ser/deser of the vertex table that exists in no
    * other step of the pipeline (guide step 2, per-task work). The
    * checkpoint pins partitioning, so partition ids and in-partition
    * order are identical across the two jobs. */
  private[graft] def denseIds(sorted0: DataFrame): DataFrame = {
    val spark = sorted0.sparkSession
    val sorted = sorted0.localCheckpoint(eager = false)
    val counts = sorted
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val nParts = if (counts.isEmpty) 0 else counts.map(_._1).max + 1
    val offsets = new Array[Long](nParts)
    counts.foreach { case (pid, n) => offsets(pid) = n }
    var acc = 0L
    var p = 0
    while (p < nParts) { val n = offsets(p); offsets(p) = acc; acc += n; p += 1 }
    if (nParts == 0) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("vertex", "new_id")
    } else
      sorted.select(col("vertex"),
        (element_at(typedLit(offsets.toSeq), spark_partition_id() + 1) +
          (monotonically_increasing_id() -
            shiftleft(spark_partition_id().cast("long"), 33)))
          .as("new_id"))
  }

  /** Mode-1 isolated-last reorder over the FULL vertex universe
    * 0..nVertices-1 — the reference's actual sort domain
    * (ZeroOrElseComparator, graph_constructor.hpp:288-352, mode per
    * mpi/parameters.h:38-41: all 2^SCALE ids, most isolated at low
    * scale). [[reorderMap]] mode 1's domain is the non-isolated vertex
    * set (making it ≡ mode 0 there); here the isolated ids genuinely
    * take the dense suffix: non-isolated first in id order, then
    * isolated in id order.
    *
    * Scale shape: the universe is a narrow `range()` scan (nothing
    * materialized), degrees attach via one left equi-join, and dense
    * ids come from the same range-partitioned sort + [[denseIds]] as
    * [[reorderMap]] — never a partition-less window. */
  def reorderMapIsolatedLast(clean: DataFrame, nVertices: Long,
                             precomputedDegrees: Option[DataFrame] = None)
      : DataFrame = {
    val spark = clean.sparkSession
    val deg = precomputedDegrees.getOrElse(degrees(clean))
    // same two-pass [[denseIds]] shape as [[reorderMap]]: the lazy
    // checkpoint inside it materializes the universe join + range
    // exchange once, not twice
    denseIds(spark.range(nVertices).toDF("vertex")
      .join(deg, Seq("vertex"), "left_outer")
      .orderBy(col("degree").isNull.asc, col("vertex").asc)
      .select(col("vertex")))
  }

  /** Graph summary: non-isolated vertex count, max used vertex, undirected
    * edge count (reference A2/A6 + construction totals:
    * graph_constructor.hpp:1436-1464, benchmark_helper.hpp:510-528). */
  def graphCounts(clean: DataFrame): DataFrame =
    clean.agg(
      countDistinct(col("src")).as("non_isolated_vertices"),
      max(greatest(col("src"), col("dst"))).as("max_used_vertex"),
      (count(lit(1)) / 2).cast("long").as("undirected_edge_count"))
}
