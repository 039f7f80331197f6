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
 *
 * One plan validates one run or many (GraphX's shape, OSDI 2014): state
 * is keyed by (run, vertex) and reaches the edges through plain
 * equi-joins — a tree pass and an edge pass, each one groupBy(run), then
 * the run list joined to both, a run without rows reading 0.
 * [[validate]] is this plan at one run, where the run column is a literal
 * that folds out of every join key (two long keys above one run). The
 * tree side is broadcast while nGlobalVerts · runs ≤ [[treeRowsCap]], so
 * the |E|-sized raw scan needs no shuffle; [[runsPerPass]] sizes batches
 * that stay under it.
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
    * one-run LongToUnsafeRowMap entry for (vertex BIGINT, depth BIGINT)
    * measures ~25 B/vertex at SCALE 24; 32 B adds load-factor headroom. */
  val BroadcastBytesPerVertex = 32L

  /** The same budget for a several-run pass's row: two BIGINT keys do not
    * pack into one long, so Spark builds an UnsafeHashedRelation, measured
    * 123-144 B/row (the broadcast's dataSize) at 1.4-4.2M rows against
    * 40-56 B/row one-key on the same trees; 160 B covers slot rounding. */
  val BroadcastBytesPerRunVertex = 160L

  /** Ceiling on the per-site hashed-relation size: Spark hard-fails any
    * broadcast table past 8 GB (BroadcastExchangeExec), so the derived
    * cap must keep each site WELL under that regardless of heap — on a
    * 256 GiB+ heap an unclamped heap/16 sizing would admit a >8 GB
    * relation and turn the intended shuffle fallback into a runtime
    * failure. 6 GB leaves headroom for map load factor variance. */
  val BroadcastRelationByteCeil = 6L * 1024 * 1024 * 1024

  /** Above this many vertices a one-run validation's tree side is no
    * longer broadcast and the checks fall back to shuffle joins; a
    * several-run pass gets the same bytes in two-key rows
    * ([[treeRowsCap]]). AUTO-SIZED: the vertex count whose one-key
    * relation fits in 1/16 of the executor heap (three sites are live at
    * once — parents, du, dv — so ~3/16 of heap in broadcasts), floored
    * at [[BroadcastVertsFloor]], ceiled under Spark's 8 GB broadcast
    * limit ([[BroadcastRelationByteCeil]]). The heap is
    * `spark.executor.memory` in cluster mode (the broadcast lives on
    * executors) and the local JVM max heap otherwise. At 48-128 GiB this
    * admits SCALE 25-26 at one run; an 8 GiB executor gets the floor.
    * spark.graft.validateBroadcastVerts overrides it, trusted as-is. */
  private[graft] def broadcastVerts(spark: SparkSession): Long =
    graft.Gates.longConf(spark, "spark.graft.validateBroadcastVerts",
      autoBroadcastVerts(
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

  /** The pred-edge check's undirected raw edge set: (lo, hi), self-loops
    * dropped, duplicates merged. Build it once per graph, persist it and
    * pass it to every validation (the reference redistributes its edge
    * list once, mpi/main.cc:63-66). One exchange on lo and a sort-based
    * dedup within partitions, as `EdgeOps.cleanEdges` (a `distinct()`
    * spilled tens of GB at SCALE 24); the tree pass's pair join clusters
    * on that lo layout, so the big side never re-shuffles. */
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

  /** Tree rows (vertices × runs) a pass of `runs` runs may broadcast
    * under the cap: `cap` one-key rows at one run, the same bytes in
    * [[BroadcastBytesPerRunVertex]]-byte two-key rows above one. */
  private[graft] def treeRowsCap(cap: Long, runs: Int): Long =
    if (runs <= 1) cap
    else cap / BroadcastBytesPerRunVertex * BroadcastBytesPerVertex

  /** Runs per pass keeping nGlobalVerts · runs ≤ [[treeRowsCap]], at
    * least one: every pass's raw-edge scan then stays shuffle-free. */
  private[graft] def runsPerPass(cap: Long, nGlobalVerts: Long): Int =
    math.min(Int.MaxValue.toLong, math.max(1L,
      treeRowsCap(cap, 2) / math.max(1L, nGlobalVerts))).toInt

  /** One BFS tree's single-row DataFrame of error counters (all BIGINT,
    * 0 = pass) and traversed-edge count: (range_errors, root_errors,
    * self_parent_errors, depth_presence_errors, depth_chain_errors,
    * pred_edge_missing, edge_depth_errors, edge_visit_count) — the plan
    * at one run. `undirectedRaw`: an optional persisted
    * [[undirectedRawOf]] result, to amortize the dedup across runs. */
  def validate(spark: SparkSession, rawEdges: DataFrame, tree: DataFrame,
               root: Long, nGlobalVerts: Long,
               undirectedRaw: Option[DataFrame] = None): DataFrame =
    plan(spark, rawEdges, tree.withColumn("run", lit(0L)), Seq(0L -> root),
      nGlobalVerts, undirectedRaw).drop("run")

  /** Many BFS runs in one pass: `trees` is (run, vertex, pred, depth),
    * e.g. from [[graft.bfs.Bfs.bfsMinParentMulti]], `rootsDf` is (run,
    * root) over any distinct run ids (trees' other runs are ignored). The
    * raw list is scanned ONCE for all runs (the reference re-scans it per
    * run, mpi/main.cc:131-137). One row per run of `rootsDf`: run, then
    * [[validate]]'s counters. */
  def validateMulti(spark: SparkSession, rawEdges: DataFrame, trees: DataFrame,
                    rootsDf: DataFrame, nGlobalVerts: Long,
                    undirectedRaw: Option[DataFrame] = None): DataFrame =
    plan(spark, rawEdges, trees, rootsDf.select("run", "root").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq, nGlobalVerts, undirectedRaw)

  /** The one plan behind [[validate]] and [[validateMulti]]: `trees` is
    * (run, vertex, pred, depth), `roots` the (run, root) pairs to check.
    * One run's tree gets its run id and root as literals, so the run key
    * folds out of every join exactly as in [[validate]]. */
  private def plan(spark: SparkSession, rawEdges: DataFrame, trees: DataFrame,
                   roots: Seq[(Long, Long)], nGlobalVerts: Long,
                   undirectedRaw: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val (vertex, pred, depth, root) =
      (col("vertex"), col("pred"), col("depth"), col("root"))
    val runs = roots.map(_._1)
    val t = roots match {
      case Seq((run, r)) => trees.filter(col("run") === run)
        .select(lit(run).as("run"), vertex, pred, depth, lit(r).as("root"))
      case _ => trees.select("run", "vertex", "pred", "depth")
        .join(broadcast(roots.toDF("run", "root")), "run")
    }
    val fits = nGlobalVerts * runs.size <= treeRowsCap(broadcastVerts(spark), runs.size)
    def bcast(df: DataFrame): DataFrame = if (fits) broadcast(df) else df
    // Build sides hold only rows with a depth: an absent row reads the
    // same NULL depth.
    val reached = t.filter(depth.isNotNull)

    // Tree pass, checks 1-4 and the pred edge: a reached non-root v joins
    // its parent's depth on (run, pred) (reference J7) and the raw pair
    // (v, pred(v)) on (lo, hi) (pred_valid sweep, validate.hpp:780-792).
    // Every other row keys on a negative per-vertex value: it matches
    // nothing and does not pile onto one null or −1 key's partition.
    val chk = pred =!= -1L && vertex =!= root
    val unchecked = lit(-1L) - vertex
    val parents = bcast(reached.select(col("run"), vertex.as("pk"),
      depth.as("p_depth")))
    val pairs = undirectedRaw.getOrElse(undirectedRawOf(rawEdges))
      .withColumn("edge", lit(true))
    val treeCounts = t
      .select(col("*"), when(chk, pred).otherwise(unchecked).as("pk"),
        when(chk, least(vertex, pred)).otherwise(unchecked).as("lo"),
        when(chk, greatest(vertex, pred)).otherwise(-1L).as("hi"))
      .join(parents, Seq("run", "pk"), "left_outer")
      .join(pairs, Seq("lo", "hi"), "left_outer")
      .groupBy("run").agg(
        count_if(pred < -1L || pred >= nGlobalVerts).as("range_errors"),
        count_if(vertex === root && (pred =!= root || depth =!= 0L))
          .as("root_errors"),
        count_if(vertex =!= root && pred === vertex).as("self_parent_errors"),
        count_if((pred === -1L) =!= depth.isNull).as("depth_presence_errors"),
        count_if(chk && (col("p_depth").isNull ||
          depth =!= col("p_depth") + 1L)).as("depth_chain_errors"),
        count_if(chk && col("edge").isNull).as("pred_edge_missing"))

    // Edge pass, check 5: every raw edge once per run (a literal at one
    // run, no join), both endpoint depths by (run, vertex) hash probes
    // (reference J6 two-sided gather); traversed edges counted with
    // multiplicity, self-loops included (validate.hpp:703-721).
    val runId = if (runs.size == 1) lit(runs.head) else explode(typedLit(runs))
    val du = bcast(reached.select(col("run"), vertex.as("src"), depth.as("du")))
    val dv = bcast(reached.select(col("run"), vertex.as("dst"), depth.as("dv")))
    val (a, b) = (col("du"), col("dv"))
    val edgeCounts = rawEdges.select(col("src"), col("dst"), runId.as("run"))
      .join(du, Seq("run", "src"), "left_outer")
      .join(dv, Seq("run", "dst"), "left_outer")
      .groupBy("run").agg(
        count_if(a.isNull =!= b.isNull || abs(a - b) > 1L)
          .as("edge_depth_errors"),
        count_if(abs(a - b) <= 1L).as("edge_visit_count"))

    runs.toDF("run")
      .join(treeCounts, Seq("run"), "left_outer")
      .join(edgeCounts, Seq("run"), "left_outer")
      .na.fill(0L)
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
}
