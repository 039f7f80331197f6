package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Graph500 spec validation as relational queries — the five checks of the
 * reference validator (mpi/validate.hpp:507-802), each a join/aggregation
 * over the BFS tree and the RAW edge list (duplicates and self-loops
 * retained, exactly as the reference validates against the unfiltered list).
 *
 *   1. range:       pred ∈ [-1, nglobalverts)            (validate.hpp:822-839)
 *   2. root:        pred(root) = root, depth(root) = 0   (validate.hpp:530-537)
 *   3. self-parent: no non-root vertex has pred = itself (validate.hpp:541-570)
 *   4. depth:       reached ⇔ depth set; depth(v) = depth(pred(v)) + 1
 *                                                        (validate.hpp:920-995)
 *   5. edges:       |depth(u) − depth(v)| ≤ 1 on every raw edge; both ends of
 *      every edge reached-or-both-unreached (connected component property);
 *      a raw edge (v, pred(v)) exists for every reached non-root v; traversed
 *      edge count = raw edges (self-loops and duplicates INCLUDED, per the
 *      reference's counting loop) whose endpoints are both reached at valid
 *      depths                                 (validate.hpp:584-797, 703-721)
 *
 * Designed as a separate batch job, not part of the BFS loop — at target
 * scale the raw-edge scan dominates exactly as in the reference (SURVEY §7.4).
 * Both tree joins are plain equi-joins on vertex id: Catalyst broadcasts the
 * tree when it is small, otherwise shuffles both sides once.
 *
 * A tree given as a DataFrame always takes this relational plan. Callers
 * that hold the BFS kernel's dense (pred, depth) arrays — every Graph500
 * protocol under the kernel gate, and `q8_validate` — hand them to
 * [[LocalValidator]] instead, whose counters equal this plan's
 * (LocalValidatorSpec); [[countersDf]] gives them this plan's row shape.
 */
object Validator {

  /** Floor for the auto-sized broadcast cap (see [[broadcastVerts]]):
    * 20M vertices ≈ a ~500 MB (vertex, depth) hashed relation per join
    * site — standard dimension-broadcast territory on any sane executor,
    * and it keeps the |E|-sized raw scan shuffle-free through SCALE 24. */
  val BroadcastVertsFloor = 20000000L

  /** Per-vertex hashed-relation budget used by the auto-sizing: a
    * LongToUnsafeRowMap entry for (vertex BIGINT, depth BIGINT) measures
    * ~25 B/vertex at SCALE 24; 32 B adds headroom for map load factor. */
  val BroadcastBytesPerVertex = 32L

  /** Ceiling on the per-site hashed-relation size: Spark hard-fails any
    * broadcast table past 8 GB (BroadcastExchangeExec), so the derived
    * cap must keep each site WELL under that regardless of heap — on a
    * 256 GiB+ heap an unclamped heap/16 sizing would admit a >8 GB
    * relation and turn the intended shuffle fallback into a runtime
    * failure. 6 GB leaves headroom for map load factor variance. */
  val BroadcastRelationByteCeil = 6L * 1024 * 1024 * 1024

  /** Above this many vertices the tree side is no longer broadcast and
    * the edge checks fall back to shuffle joins. AUTO-SIZED instead of a
    * hand-set constant: the cap is the vertex count whose hashed
    * relation fits in 1/16 of the executor heap (three broadcast sites
    * are live at once — parentDepth, du, dv — so the worst case is
    * ~3/16 of heap in broadcasts), floored at [[BroadcastVertsFloor]]
    * and ceiled so the relation stays under Spark's 8 GB broadcast-table
    * hard limit ([[BroadcastRelationByteCeil]]). The sizing heap is
    * `spark.executor.memory` when set (cluster mode: the broadcast
    * lives on executors, whose heap may be far smaller than a fat
    * driver's) and the local JVM max heap otherwise (local mode:
    * driver == executor). At the bench box's 48-128 GiB heaps this
    * admits SCALE 25-26 (33.5-67M vertices) with no hand tuning, while
    * an 8 GiB executor still gets the floor. Override with
    * spark.graft.validateBroadcastVerts (an override, not a
    * requirement — an explicit conf is trusted as-is). */
  private[graft] def broadcastVerts(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.validateBroadcastVerts")
      .map(_.toLong)
      .getOrElse(autoBroadcastVerts(
        spark.conf.getOption("spark.executor.memory")
          // local mode IGNORES spark.executor.memory — a shared config
          // carrying executor.memory=4g on a 128 GiB local JVM must not
          // drop the cap to the floor and push SCALE 25-26 validation
          // back to shuffle joins
          .filter(_ => !spark.sparkContext.isLocal)
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(Runtime.getRuntime.maxMemory)))

  /** Pure derivation for [[broadcastVerts]] (spec'd at both extremes). */
  private[graft] def autoBroadcastVerts(heapBytes: Long): Long =
    math.min(BroadcastRelationByteCeil / BroadcastBytesPerVertex,
      math.max(BroadcastVertsFloor, heapBytes / 16 / BroadcastBytesPerVertex))

  /** The canonical undirected raw edge set used by check 4c — (lo, hi)
    * with self-loops dropped and duplicates merged. A benchmark validating
    * many runs over ONE graph should compute this once, persist it, and
    * pass it to every [[validate]] call (the reference's redistributed
    * edge list is likewise built once, mpi/main.cc:63-66). Same streaming
    * sort-based dedup as construction (`EdgeOps.cleanEdges` — a
    * `distinct()`'s per-task hash maps on near-unique pairs spilled tens
    * of GB at SCALE 24): ONE exchange on lo, radix sort within partitions,
    * keep a row iff it differs from its predecessor; the lo layout is the
    * one check 4c's anti-join clusters on, so the big side never
    * re-shuffles. */
  def undirectedRawOf(rawEdges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lo")).orderBy(col("hi"))
    rawEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .repartition(col("lo"))
      .withColumn("_p", lag(col("hi"), 1).over(w))
      .filter(col("_p").isNull || col("_p") =!= col("hi"))
      .drop("_p")
  }

  /**
   * Returns a single-row DataFrame of error counters (all BIGINT, 0 = pass)
   * plus the traversed-edge count:
   * (range_errors, root_errors, self_parent_errors, depth_errors,
   *  pred_edge_missing, edge_depth_errors, edge_visit_count).
   *
   * `undirectedRaw`: optional precomputed (persisted) [[undirectedRawOf]]
   * result, to amortize the raw-edge dedup across many runs.
   */
  def validate(spark: SparkSession, rawEdges: DataFrame, tree: DataFrame,
               root: Long, nGlobalVerts: Long,
               undirectedRaw: Option[DataFrame] = None): DataFrame = {
    val t = tree.select("vertex", "pred", "depth")
    // One tree row per vertex: when the vertex universe fits, broadcast
    // the tree-side BUILD inputs (parentDepth, du, dv below) — the
    // raw-edge scans then run as map-side hash probes with no shuffle of
    // the |E|-sized table. Scoped per join site, NOT on t itself: t is
    // also the streamed (left) side of an anti-join, where a broadcast
    // hint is unsupported and would be silently dropped with a warning.
    def bcast(df: DataFrame): DataFrame =
      if (nGlobalVerts <= broadcastVerts(spark)) broadcast(df) else df

    // 1-4: single pass over the tree.
    val treeChecks = t.agg(
      sum(when(col("pred") < -1 || col("pred") >= nGlobalVerts, 1L).otherwise(0L))
        .as("range_errors"),
      sum(when(col("vertex") === root &&
               (col("pred") =!= root || col("depth") =!= 0L), 1L).otherwise(0L))
        .as("root_errors"),
      sum(when(col("vertex") =!= root && col("pred") === col("vertex"), 1L)
        .otherwise(0L)).as("self_parent_errors"),
      sum(when((col("pred") === -1L) =!= col("depth").isNull, 1L).otherwise(0L))
        .as("depth_presence_errors"))

    // 4b: depth(v) = depth(pred(v)) + 1 for every reached non-root v
    // (self-join tree↔tree on pred = vertex; reference pred-pred gather J7).
    val parentDepth =
      bcast(t.select(col("vertex").as("p_vertex"), col("depth").as("p_depth")))
    val depthErrors = t
      .filter(col("pred") =!= -1L && col("vertex") =!= root)
      .join(parentDepth, col("pred") === col("p_vertex"), "left_outer")
      .agg(sum(when(col("p_depth").isNull ||
                    col("depth") =!= col("p_depth") + 1L, 1L).otherwise(0L))
        .as("depth_chain_errors"))

    // 4c: a raw edge (v, pred(v)) must exist for every reached non-root v
    // (reference pred_valid sweep, validate.hpp:780-792).
    // Canonicalize both sides to (lo, hi) so the anti-join is a plain
    // two-key equi-join (hash-joinable) instead of an OR-of-conjunctions
    // nested loop.
    val undirected = undirectedRaw.getOrElse(undirectedRawOf(rawEdges))
    val predPairs = t.filter(col("pred") =!= -1L && col("vertex") =!= root)
      .select(least(col("vertex"), col("pred")).as("lo"),
        greatest(col("vertex"), col("pred")).as("hi"))
    val predEdgeMissing = predPairs
      .join(undirected, Seq("lo", "hi"), "left_anti")
      .agg(count(lit(1)).as("pred_edge_missing"))

    // 5: per-raw-edge depth checks + traversed-edge count w/ multiplicity
    // (two hash joins against the tree; reference J6 two-sided gather).
    val du = bcast(t.select(col("vertex").as("u"), col("depth").as("du")))
    val dv = bcast(t.select(col("vertex").as("v"), col("depth").as("dv")))
    val edgeChecks = rawEdges
      .join(du, col("src") === col("u"), "left_outer")
      .join(dv, col("dst") === col("v"), "left_outer")
      .agg(
        sum(when(
          (col("du").isNotNull && col("dv").isNotNull &&
            abs(col("du") - col("dv")) > 1L) ||
            (col("du").isNull =!= col("dv").isNull), 1L).otherwise(0L))
          .as("edge_depth_errors"),
        sum(when(col("du").isNotNull && col("dv").isNotNull &&
                 abs(col("du") - col("dv")) <= 1L, 1L).otherwise(0L))
          .as("edge_visit_count"))

    treeChecks
      .crossJoin(depthErrors)
      .crossJoin(predEdgeMissing)
      .crossJoin(edgeChecks)
  }

  /** The LocalValidator counter array as the single-row DataFrame the
    * relational plan produces (same column names/order). */
  private[graft] def countersDf(spark: SparkSession, c: Array[Long]): DataFrame = {
    import spark.implicits._
    Seq((c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7)))
      .toDF("range_errors", "root_errors", "self_parent_errors",
        "depth_presence_errors", "depth_chain_errors", "pred_edge_missing",
        "edge_depth_errors", "edge_visit_count")
  }

  /**
   * Batched validation of many BFS runs in one pass: `trees` is
   * (run, vertex, pred, depth) from [[graft.bfs.Bfs.bfsMinParentMulti]],
   * `rootsDf` is (run, root). Same five spec checks, every aggregation
   * keyed by run, the raw edge list scanned ONCE for all runs (the
   * reference re-scans it per run, mpi/main.cc:131-137).
   *
   * Returns one row per run:
   * (run, range_errors, root_errors, self_parent_errors,
   *  depth_presence_errors, depth_chain_errors, pred_edge_missing,
   *  edge_depth_errors, edge_visit_count).
   */
  def validateMulti(spark: SparkSession, rawEdges: DataFrame, trees: DataFrame,
                    rootsDf: DataFrame, nGlobalVerts: Long): DataFrame = {
    val t = trees.select("run", "vertex", "pred", "depth")
      .join(broadcast(rootsDf), "run")

    val treeChecks = t.groupBy("run").agg(
      sum(when(col("pred") < -1 || col("pred") >= nGlobalVerts, 1L).otherwise(0L))
        .as("range_errors"),
      sum(when(col("vertex") === col("root") &&
               (col("pred") =!= col("root") || col("depth") =!= 0L), 1L)
        .otherwise(0L)).as("root_errors"),
      sum(when(col("vertex") =!= col("root") && col("pred") === col("vertex"), 1L)
        .otherwise(0L)).as("self_parent_errors"),
      sum(when((col("pred") === -1L) =!= col("depth").isNull, 1L).otherwise(0L))
        .as("depth_presence_errors"))

    val parentDepth = trees.select(col("run").as("p_run"),
      col("vertex").as("p_vertex"), col("depth").as("p_depth"))
    val depthErrors = t
      .filter(col("pred") =!= -1L && col("vertex") =!= col("root"))
      .join(parentDepth,
        col("run") === col("p_run") && col("pred") === col("p_vertex"),
        "left_outer")
      .groupBy("run")
      .agg(sum(when(col("p_depth").isNull ||
                    col("depth") =!= col("p_depth") + 1L, 1L).otherwise(0L))
        .as("depth_chain_errors"))

    val undirectedRaw = undirectedRawOf(rawEdges)
    val predEdgeMissing = t
      .filter(col("pred") =!= -1L && col("vertex") =!= col("root"))
      .select(col("run"), least(col("vertex"), col("pred")).as("lo"),
        greatest(col("vertex"), col("pred")).as("hi"))
      .join(undirectedRaw, Seq("lo", "hi"), "left_anti")
      .groupBy("run").agg(count(lit(1)).as("pred_edge_missing"))

    // Per-edge depth checks for ALL runs in one pass: depths packed into
    // a run-indexed vector per vertex (unreached = −1), so the raw list
    // joins the (|V|-row) vector table twice on vertex alone — no
    // run-keyed |E|×runs join probe — and a posexplode generator fans
    // out the per-run comparisons map-side.
    val nRuns = rootsDf.count().toInt
    val depthVec0 = trees
      .select(col("vertex"), struct(col("run"),
        coalesce(col("depth"), lit(-1L)).as("d")).as("rd"))
      .groupBy("vertex")
      .agg(transform(array_sort(collect_list(col("rd"))),
        x => x.getField("d")).as("ds"))
    // |V| rows of nRuns-long vectors: broadcast while that fits so the
    // raw-edge pass below stays shuffle-free.
    val depthVec = if (nGlobalVerts * nRuns <= broadcastVerts(spark))
                     broadcast(depthVec0)
                   else depthVec0
    val missing = array_repeat(lit(-1L), lit(nRuns))
    val edgeChecks = rawEdges
      .join(depthVec.select(col("vertex").as("u"), col("ds").as("ua")),
        col("src") === col("u"), "left_outer")
      .join(depthVec.select(col("vertex").as("v"), col("ds").as("va")),
        col("dst") === col("v"), "left_outer")
      .select(posexplode(zip_with(
        coalesce(col("ua"), missing), coalesce(col("va"), missing),
        (a, b) => struct(a.as("da"), b.as("db")))).as(Seq("run", "p")))
      .select(col("run").cast("long").as("run"),
        col("p.da").as("da"), col("p.db").as("db"))
      .groupBy("run")
      .agg(
        sum(when(
          (col("da") =!= -1L && col("db") =!= -1L &&
            abs(col("da") - col("db")) > 1L) ||
            ((col("da") === -1L) =!= (col("db") === -1L)), 1L).otherwise(0L))
          .as("edge_depth_errors"),
        sum(when(col("da") =!= -1L && col("db") =!= -1L &&
                 abs(col("da") - col("db")) <= 1L, 1L).otherwise(0L))
          .as("edge_visit_count"))

    rootsDf.select("run")
      .join(treeChecks, Seq("run"), "left_outer")
      .join(depthErrors, Seq("run"), "left_outer")
      .join(predEdgeMissing, Seq("run"), "left_outer")
      .join(edgeChecks, Seq("run"), "left_outer")
      .na.fill(0L)
  }
}
