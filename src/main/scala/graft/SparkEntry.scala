package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.EdgeOps
import graft.bfs.Bfs
import graft.validate.Validator
import graft.stats.Teps

/**
 * Driver contract — maps every implemented operator (SURVEY.md §2.9 queries
 * Q1-Q10 + training-data pipeline ops) to a named DataFrame query over the
 * driver test tables, with an equivalent DuckDB SQL oracle where the
 * semantics are SQL-expressible.
 *
 * Graph queries run over the deterministic bipartite graph derived from
 * `lineitem` (FIXTURES.md §2): order-node = 2*l_orderkey,
 * part-node = 2*l_partkey + 1; BFS root = min(src).
 */
object SparkEntry {

  /** Shared oracle-SQL prelude: raw edge list, cleaned symmetric edge set,
    * BFS depth via bounded recursive CTE (max depth 6 on this data; bound 20
    * for safety), min-parent tree. */
  private val GraphCte =
    """WITH RECURSIVE
      |raw AS (SELECT 2*l_orderkey AS src, 2*l_partkey+1 AS dst FROM lineitem),
      |clean AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT src, dst FROM raw WHERE src <> dst
      |    UNION ALL
      |    SELECT dst AS src, src AS dst FROM raw WHERE src <> dst
      |  )
      |),
      |verts AS (SELECT DISTINCT src AS vertex FROM clean),
      |root AS (SELECT min(src) AS r FROM clean),
      |walk(vertex, depth) AS (
      |  SELECT r, 0 FROM root
      |  UNION
      |  SELECT e.dst, w.depth + 1 FROM walk w JOIN clean e ON e.src = w.vertex
      |  WHERE w.depth < 20
      |),
      |d AS (SELECT vertex, min(depth) AS depth FROM walk GROUP BY vertex),
      |minpar AS (
      |  SELECT c.dst AS vertex, min(c.src) AS pred
      |  FROM clean c JOIN d du ON c.src = du.vertex JOIN d dv ON c.dst = dv.vertex
      |  WHERE du.depth + 1 = dv.depth
      |  GROUP BY c.dst
      |),
      |tree AS (
      |  SELECT v.vertex,
      |         COALESCE(CASE WHEN dd.depth = 0 THEN v.vertex ELSE p.pred END,
      |                  CAST(-1 AS BIGINT)) AS pred,
      |         CAST(dd.depth AS BIGINT) AS depth
      |  FROM verts v
      |  LEFT JOIN d dd ON v.vertex = dd.vertex
      |  LEFT JOIN minpar p ON v.vertex = p.vertex
      |)
      |""".stripMargin

  // ---- shared per-sfDir intermediates (Verify runs queries sequentially
  // in one session; BFS is iterative, so reuse its result across the
  // queries that consume it) ----

  /** Per-sfDir graph handle: the prepared graph (kept for later
    * re-traversals: gr_diameter's second sweep reuses its persisted
    * src-partitioned edges on the distributed path), BFS root,
    * checkpointed canonical tree, and — when the graph took the hybrid
    * executor's local path — the kernel CSR, from which the cleaned edge
    * set, vertex universe and max vertex fall out with no further jobs
    * (no distinct() shuffle, no extra scans). */
  private final case class GraphHandle(g: graft.bfs.Bfs.PreparedGraph,
                                       root: Long, tree: DataFrame,
                                       levelSizes: Seq[(Int, Long)],
                                       rawPairs: Option[Array[Long]],
                                       dense: Option[(Array[Int], Array[Int])]) {
    def csr: Option[graft.bfs.LocalCsr] = g.csrIfBuilt
  }

  /** Per-session cache: cached DataFrames are bound to the SparkSession
    * that built them, so the outer map keys on the session OBJECT
    * (reference equality — no identity-hash collisions between live
    * sessions), and entries whose session has stopped are evicted on the
    * next access, so a long-lived JVM doesn't accumulate dead plans,
    * broadcasts, or retained kernel arrays across sessions. */
  private final class SessionCache[V <: AnyRef] {
    private val bySession = new java.util.concurrent.ConcurrentHashMap[
      SparkSession, java.util.concurrent.ConcurrentHashMap[String, V]]()
    private val locks = new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), Object]()
    private def mapFor(s: SparkSession) = {
      val it = bySession.keySet().iterator()
      while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
      val lit = locks.keySet().iterator()
      while (lit.hasNext) if (lit.next()._1.sparkContext.isStopped) lit.remove()
      bySession.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, V]())
    }
    /** Memoized build, serialized per (session, key) by a plain lock so
      * the concurrent warm-up builds each value once. Builds of DIFFERENT
      * keys proceed in parallel, and the caches' nesting order (degrees →
      * clean → handle, ...) is a DAG, so cross-key lock acquisition cannot cycle. */
    def get(s: SparkSession, key: String)(build: => V): V = {
      val m = mapFor(s)
      val e = m.get(key)
      if (e != null) return e
      locks.computeIfAbsent((s, key), _ => new Object).synchronized {
        val e2 = m.get(key)
        if (e2 != null) e2
        else { val v = build; m.put(key, v); v }
      }
    }
  }

  private val handleCache = new SessionCache[GraphHandle]
  private val cleanCache = new SessionCache[DataFrame]

  private def rawEdges(s: SparkSession, dir: String): DataFrame =
    EdgeOps.edgesFromLineitem(s, dir)

  private def handle(s: SparkSession, dir: String): GraphHandle =
    handleCache.get(s, dir) {
      val raw = rawEdges(s, dir)
      // raw entry point: construction (symmetrize/dedup) happens inside
      // the hybrid executor (in-kernel under the gate); root = min raw
      // src, from the same collected array
      val (g, root) = Bfs.prepareRawWithRoot(raw)
      val r = Bfs.bfsMinParent(s, g, root)
      // Local-path trees are a range + broadcast-lookup plan — cheaper to
      // rescan than to checkpoint. Distributed trees carry the iterative
      // level-loop lineage and MUST be checkpointed while g is cached.
      val tree =
        if (g.csrIfBuilt.isDefined) r.tree else r.tree.localCheckpoint(eager = true)
      GraphHandle(g, root, tree, r.levelSizes, g.takeRawPairs(), r.dense)
    }

  /** Cleaned edge set, one per sfDir. Local-path graphs emit it straight
    * from the kernel CSR — identical relation, no shuffle, and cheap
    * enough to rescan that materializing it would cost more than every
    * consumer combined. Distributed-path graphs hand out the prepared
    * graph's own edges: the same relation, already persisted and
    * hash-partitioned by src. */
  private def clean(s: SparkSession, dir: String): DataFrame =
    cleanCache.get(s, dir) {
      val h = handle(s, dir)
      h.csr match {
        case Some(csr) if csr.nVerts > 0 => csr.toCleanDf(s)
        case _ => h.g.edges
      }
    }

  /** Shared DISTRIBUTED-path degree table, one per sfDir: q3, the three
    * q4 reorders, gr_2hop, gr_assort and gr_degdist all consume the same
    * groupBy — checkpoint it once instead of re-aggregating the clean
    * edge list per query. (Kernel-path graphs never reach this — withCsr
    * serves degrees straight off the CSR.) The checkpoint is |V| rows,
    * ContextCleaner-reclaimed with the session like the clean cache. */
  private val degreesCache = new SessionCache[DataFrame]
  private def degreesOf(s: SparkSession, dir: String): DataFrame =
    degreesCache.get(s, dir)(
      EdgeOps.degrees(clean(s, dir)).localCheckpoint(eager = true))

  private def rootOf(s: SparkSession, dir: String): Long = handle(s, dir).root

  /** Max used vertex id of the cleaned graph (= reference max-vertex scan
    * over non-isolated vertices). */
  private def maxVertexOf(s: SparkSession, dir: String): Long =
    handle(s, dir).csr match {
      case Some(csr) if csr.nVerts > 0 => csr.ids.last
      case _ => clean(s, dir).agg(max(greatest(col("src"), col("dst"))))
        .head().getLong(0)
    }

  private def tree(s: SparkSession, dir: String): DataFrame =
    handle(s, dir).tree

  /** Hybrid dispatch: serve from the kernel CSR when the graph took the
    * local path, else run the distributed operator. */
  private def withCsr(s: SparkSession, dir: String)
                     (local: graft.bfs.LocalCsr => DataFrame)
                     (dist: => DataFrame): DataFrame =
    handle(s, dir).csr match {
      case Some(csr) if csr.nVerts > 0 => local(csr)
      case _ => dist
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    tree(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  /** Declaration-ordered (ListMap): Bench times queries in iteration
    * order, and shared intermediates (graph handle, minhash pair set,
    * cached tables) are paid by whichever consumer runs first — source
    * order makes that attribution deterministic and comparable across
    * rounds (a plain HashMap would reshuffle it whenever a query is
    * added). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
    // Q1 — deterministic Kronecker generation (scale 10); DuckDB
    // re-derives the full MRG + descent + scramble (GenOracleSql.q1).
    "q1_generate" -> ((s, _) => graft.gen.Kronecker.generate(s, 10)),

    // Q2 — clean edges: drop loops, symmetrize, dedup.
    "q2_clean_edges" -> ((s, dir) => clean(s, dir)),

    // Q3 — per-vertex degrees.
    "q3_degrees" -> ((s, dir) =>
      withCsr(s, dir)(_.degreesDf(s))(degreesOf(s, dir))),

    // Q4 — degree-descending reorder map (mode 2).
    "q4_reorder_degree" -> ((s, dir) =>
      withCsr(s, dir)(_.reorderDf(s, 2))(
        EdgeOps.reorderMap(clean(s, dir), 2, Some(degreesOf(s, dir))))),

    // Q4 — identity-order reorder map (mode 0).
    "q4_reorder_identity" -> ((s, dir) =>
      withCsr(s, dir)(_.reorderDf(s, 0))(
        EdgeOps.reorderMap(clean(s, dir), 0, Some(degreesOf(s, dir))))),

    // Q4 — isolated-last reorder map (mode 1) over the FULL vertex
    // universe 0..max_used (reference parameters.h:38-41 /
    // ZeroOrElseComparator) — the one mode whose sort domain includes
    // the isolated ids, so they genuinely take the dense suffix.
    "q4_reorder_isolated" -> ((s, dir) => {
      val n = maxVertexOf(s, dir) + 1
      withCsr(s, dir)(_.reorderIsolatedLastDf(s, n))(
        EdgeOps.reorderMapIsolatedLast(clean(s, dir), n,
          Some(degreesOf(s, dir))))
    }),

    // Q5 — graph summary counts.
    "q5_graph_counts" -> ((s, dir) =>
      withCsr(s, dir)(_.graphCountsDf(s))(EdgeOps.graphCounts(clean(s, dir)))),

    // Q6 — deterministic BFS-root sample over the derived graph
    // (MRG-driven; GenOracleSql.q6 replays the rejection scan in SQL).
    // nGlobalVerts = max vertex id + 1.
    "q6_roots" -> ((s, dir) => {
      import s.implicits._
      val maxV = maxVertexOf(s, dir)
      // local path: probe the kernel CSR's sorted ids; distributed path:
      // executor-built broadcast Bloom probe + exact confirm — the vertex
      // set never transits the driver (reference's distributed has_edge,
      // mpi/benchmark_helper.hpp:475-508)
      val roots = handle(s, dir).csr match {
        case Some(csr) if csr.nVerts > 0 =>
          graft.gen.Kronecker.sampleRoots(16, maxV + 1,
            v => java.util.Arrays.binarySearch(csr.ids, v) >= 0)
        case _ =>
          graft.gen.Kronecker.sampleRootsDistributed(
            clean(s, dir).select("src"), "src", 16, maxV + 1)
      }
      roots.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toSeq
        .toDF("idx", "root")
    }),

    // Q7 — canonical min-parent BFS tree from root = min(src).
    "q7_bfs" -> ((s, dir) => tree(s, dir)),

    // Q7 — byte-compat packed pred view (reference P5: depth≪48 | parent).
    "q7_packed_pred" -> ((s, dir) => Bfs.packedPred(tree(s, dir))),

    // Q8 — Graph500 five-predicate validation of the Q7 tree. When the
    // handle holds the kernel arrays, validation runs on them directly —
    // no tree collect, no raw re-collect.
    "q8_validate" -> ((s, dir) => {
      val maxV = maxVertexOf(s, dir)
      val h = handle(s, dir)
      (h.csr, h.dense, h.rawPairs) match {
        case (Some(csr), Some((pred, depth)), Some(flat)) if csr.nVerts > 0 =>
          val c = new graft.validate.LocalValidator(csr.ids, flat)
            .validate(pred, depth,
              java.util.Arrays.binarySearch(csr.ids, h.root), maxV + 1)
          Validator.countersDf(s, c)
        case _ =>
          Validator.validate(s, rawEdges(s, dir), h.tree, h.root, maxV + 1)
      }
    }),

    // Q9 — Graph500 stat block incl. harmonic-mean TEPS over a deterministic
    // 64-"run" table derived from orders.
    "q9_teps" -> ((s, dir) => Teps.statBlock(runStats(s, dir))),

    // Q10 — per-level frontier sizes. The BFS result already carries
    // them on either path (the search's per-level NQ telemetry) —
    // aggregating the tree again would redo the count the traversal made.
    "q10_level_sizes" -> ((s, dir) => {
      import s.implicits._
      handle(s, dir).levelSizes.map { case (l, n) => (l.toLong, n) }
        .toDF("level", "frontier_size")
    }),

    // SSSP — weighted shortest-path distances on the deterministic
    // 2000-line lineitem subgraph (completes the reference's stubbed
    // SSSP path, mpi/bfs.hpp:2569-2571).
    "sssp_dist" -> ((s, dir) => {
      val sub = lineitemSub(s, dir)
        .select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"),
          col("l_quantity").cast("long").as("w"))
      graft.bfs.Sssp.ssspFromMinRaw(s, sub).select("vertex", "dist")
    }),

    // Connected components on the same subgraph (hybrid: local
    // union-find under the gate, label propagation + pointer jumping
    // above; construction in-kernel from the raw subgraph).
    "cc_components" -> ((s, dir) => ccLabels(s, dir)),

    // Component-size distribution (giant-component / fragmentation
    // chart): two partial-agg'd groupBys over the CC labelling (shares
    // the memoized labelling with cc_components).
    "gr_ccsizes" -> ((s, dir) =>
      graft.bfs.ConnectedComponents.componentSizes(ccLabels(s, dir))),

    // Triangle counting on the part co-purchase projection graph (the
    // lineitem graph is bipartite — zero triangles — so the classic
    // co-occurrence projection supplies the workload). Degree-ordered
    // orientation bounds the wedge fan-out on hubs; in-kernel merge
    // intersection under the BFS gate.
    "gr_triangles" -> ((s, dir) => coPurchaseGraph(s, dir) match {
      case Left(csr) => graft.bfs.Triangles.countCsrDf(s, csr)
      case Right(t) => graft.bfs.Triangles.countFromTables(s, t)
    }),

    // Per-vertex local clustering coefficients on the co-purchase
    // graph: top-20 hubs by (degree desc, id), each closed wedge
    // crediting all three corners; same gate dispatch as gr_triangles.
    "gr_localcc" -> ((s, dir) => coPurchaseGraph(s, dir) match {
      case Left(csr) => graft.bfs.Triangles.localCcTopCsr(s, csr, 20)
      case Right(t) => graft.bfs.Triangles.localCcFromTables(s, t, 20)
    }),

    // Fixed-point PageRank, 10 synchronous iterations on the cleaned
    // graph. Integer (10^12-scaled) arithmetic makes the result exact
    // and engine-independent — the oracle matches bit-for-bit across 10
    // chained aggregations.
    "gr_pagerank" -> ((s, dir) =>
      withCsr(s, dir)(csr => graft.bfs.PageRank.pagerankCsrDf(s, csr, 10))(
        graft.bfs.PageRank.pagerank(s, clean(s, dir), 10))),

    // 3-core after 5 peeling rounds (converged on this data — spec'd);
    // CSR kernel under the gate, once-shuffled peel loop above it.
    "gr_kcore" -> ((s, dir) =>
      withCsr(s, dir)(csr => graft.bfs.KCore.kcoreCsrDf(s, csr, 3, 5))(
        graft.bfs.KCore.kcore(s, clean(s, dir), 3, 5))),

    // 4 synchronous label-propagation rounds, min tie-break — the
    // deterministic fixed-round community primitive.
    "gr_lpa" -> ((s, dir) =>
      withCsr(s, dir)(csr => graft.bfs.LabelPropagation.lpaCsrDf(s, csr, 4))(
        lpaLabels(s, dir))),

    // Modularity decomposition of the LPA partition: per-community
    // (members, degree mass, internal edges) exact integers + 6-dp
    // q_c contribution, top-20 communities by size.
    "gr_modularity" -> ((s, dir) =>
      withCsr(s, dir)(csr => graft.bfs.LabelPropagation.modularityTopCsr(
          s, csr, lpaLabelsCsr(s, dir, csr), 20))(
        graft.bfs.LabelPropagation.modularityTop(clean(s, dir),
          lpaLabels(s, dir), 20))),

    // Top-20 co-purchase EDGES by endpoint Jaccard (tie strength /
    // sparsification primitive): per-edge common counts ride the
    // degree-ordered oriented triangle machinery — O(m^1.5) wedge mass,
    // hub-skew-proof, never an unoriented Σdeg² expansion.
    "gr_jaccard" -> ((s, dir) => coPurchaseGraph(s, dir) match {
      case Left(csr) => graft.bfs.Triangles.jaccardTopCsr(s, csr, 20)
      case Right(t) => graft.bfs.Triangles.jaccardFromTables(t, 20)
    }),

    // Per-community conductance over the LPA partition: cut / min(vol,
    // 2m − vol) — exact integer cut/vol from the same two label joins
    // as modularity, 6-dp φ, top-20 by size.
    "gr_conductance" -> ((s, dir) =>
      withCsr(s, dir)(csr => graft.bfs.LabelPropagation.conductanceTopCsr(
          s, csr, lpaLabelsCsr(s, dir, csr), 20))(
        graft.bfs.LabelPropagation.conductanceTop(clean(s, dir),
          lpaLabels(s, dir), 20))),

    // S4 — deterministic initial-edge backbones (scramble replayed in SQL).
    "s4_tree_edges" -> ((s, _) => graft.gen.Kronecker.binaryTreeEdges(s, 10)),
    "s4_ham_edges" -> ((s, _) => graft.gen.Kronecker.hamiltonianCycleEdges(s, 10)),

    // S5 — uniform random generator (MRG stream replayed in SQL).
    "s5_uniform" -> ((s, _) => graft.gen.Kronecker.generateUniform(s, 10)),

    // S7 — weighted Kronecker generation (weight stream replayed in SQL).
    "s7_weighted" -> ((s, _) => graft.gen.Kronecker.generateWeighted(s, 10)),

    // Event-stream analytics (batch form of the streaming transforms).
    "ev_window" -> ((s, dir) =>
      streaming.Events.windowedCounts(events(s, dir))),
    "ev_sessions" -> ((s, dir) =>
      streaming.Events.sessionize(events(s, dir))),

    // Native session_window sessionization: the engine-level merge
    // (streaming-identical expression), micro-quantized value sums.
    "ev_sessionwin" -> ((s, dir) =>
      streaming.Events.sessionWindows(events(s, dir))),

    // Day-over-day per-user reconciliation: pre-aggregated sides, ONE
    // full-outer hash join, added/dropped/changed/same classification.
    "ev_diff" -> ((s, dir) =>
      streaming.Events.activityDiff(events(s, dir),
        "2024-01-01", "2024-01-02", "2024-01-02", "2024-01-03")),
    "ev_topusers" -> ((s, dir) =>
      streaming.Events.topUsers(events(s, dir), 3)),

    // As-of join: each purchase picks the user's latest click at-or-before
    // its timestamp (single-shuffle union+window plan, not a non-equi join).
    "ev_asof" -> ((s, dir) =>
      streaming.Events.asofJoin(events(s, dir))),

    // Range (interval) join: clicks in the hour before each purchase,
    // via the binned equi-join (Flink-interval-join shape).
    "ev_range" -> ((s, dir) =>
      streaming.Events.rangeJoinCounts(events(s, dir))),

    // The SAME interval join written naively (no hand binning): the
    // injected RangeJoinRewrite optimizer rule bands it automatically —
    // this query pins the rewrite's semantics end-to-end.
    "ev_range_auto" -> ((s, dir) =>
      streaming.Events.rangeJoinCountsNaive(events(s, dir))),

    // Stepwise funnel: first signup → first click after it → first
    // purchase after that click; dropouts kept with null later steps.
    "ev_funnel" -> ((s, dir) =>
      streaming.Events.funnel(events(s, dir))),

    // Daily cohort retention: distinct users active on day
    // cohort + offset, cohort = first active day.
    "ev_retention" -> ((s, dir) =>
      streaming.Events.retention(events(s, dir))),

    // Per-user rolling 7-day activity: RANGE frame over the integer day
    // index; all window arithmetic integral (micro-units).
    "ev_rolling" -> ((s, dir) =>
      streaming.Events.rollingActivity(events(s, dir), 7)),

    // Event-type Markov transitions P(next | current) over per-user
    // sequences — exact integer counts, one rounded conditional.
    "ev_transitions" -> ((s, dir) =>
      streaming.Events.typeTransitions(events(s, dir))),

    // Per-type inter-arrival gap percentiles (integral µs gaps, exact
    // interpolated percentiles).
    "ev_gaps" -> ((s, dir) => streaming.Events.gapStats(events(s, dir))),

    // Hourly peak session concurrency: +1/−1 interval sweep via the
    // two-phase distributed prefix sum (no global-ORDER-BY window).
    "ev_peak" -> ((s, dir) => streaming.Events.peakConcurrency(events(s, dir))),

    // Semi-structured sidecar extraction: codegen JSONPath parse of the
    // `props` column → per-(event_type, decade) profile.
    "ev_props" -> ((s, dir) => streaming.Events.propsProfile(events(s, dir))),

    // DAU + trailing-7-day WAU via explode-to-bucket rolling distinct
    // (no distinct-over-window, no 7-way self-join).
    "ev_active" -> ((s, dir) => streaming.Events.activeUsers(events(s, dir))),

    // Per-user RFM profile: last-event µs, event/purchase counts, exact
    // micro-quantized purchase-value sum — one partial-agg'd groupBy.
    "ev_rfm" -> ((s, dir) => streaming.Events.rfm(events(s, dir))),

    // Audience overlap matrix: distinct users per type pair (diagonal =
    // each type's full audience) — per-user type-pair expansion, never
    // a raw-event self-join.
    "ev_audience" -> ((s, dir) =>
      streaming.Events.audienceOverlap(events(s, dir))),

    // Linear attribution: each purchase splits exactly 1e6 micro-credits
    // across the user's prior-hour clicks (remainder to the latest) —
    // binned interval join + per-conversion window + per-click rollup.
    "ev_attribution" -> ((s, dir) =>
      streaming.Events.attribution(events(s, dir))),

    // Session-length distribution: sessionize → per-size histogram with
    // exact integer duration stats (two partial-agg'd groupBys).
    "ev_sessionstats" -> ((s, dir) =>
      streaming.Events.sessionStats(events(s, dir))),

    // Latest-record compaction (CDC upsert collapse): one row per user,
    // last write by (ts, event_id) wins — a single partial-agg'd
    // struct-max groupBy, no window rank.
    "ev_latest" -> ((s, dir) =>
      streaming.Events.latestRecord(events(s, dir))),

    // Per-type dwell time: gap from each event to the user's next event
    // of ANY type, attributed to the earlier event's type — exact
    // integer µs stats with a floor-div mean.
    "ev_dwell" -> ((s, dir) =>
      streaming.Events.dwellByType(events(s, dir))),

    // Approximate distinct users per event type via the mergeable
    // HllDistinct sketch (p=12 → 4 KiB register buffer per group on the
    // exchange regardless of cardinality; pinned hash ⇒ bit-stable).
    // Full DuckDB oracle (HllSql): the pinned XXH64 runs in HUGEINT
    // arithmetic, registers rebuild relationally, and the estimator is
    // bit-equal (the one libm call, ln, was verified to round
    // identically for every possible zeros count at p=12); accuracy vs
    // exact distinct + partition-invariance stay pinned in specs.
    "ev_hll" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(graft.functions.HllDistinct.of(col("user_id"), 12)
            .as("approx_users"),
          count(lit(1)).as("n_events"))
        .select("event_type", "approx_users", "n_events")),

    // ---- STREAMING twins, driver-verified: each st_* replays the
    // scale-factor table through a MemoryStream in micro-batches (state
    // genuinely crosses batch boundaries) and canonicalizes the sink
    // into a batch-comparable table with a full DuckDB oracle. ----

    // Streaming windowed aggregation (watermark + update mode): final
    // per-(window, type) state ≡ batch ev_window.
    "st_window" -> ((s, dir) =>
      streaming.StreamVerify.windowFinal(s, events(s, dir))),

    // Streaming sessionization (flatMapGroupsWithState): final per-user
    // session state after the last micro-batch.
    "st_sessions" -> ((s, dir) =>
      streaming.StreamVerify.sessionsFinal(s, events(s, dir))),

    // Streaming NATIVE session windows (session_window under the
    // state store, append mode — streaming session windows support
    // only append): final sessions keyed by their fixed (user, start).
    "st_sessionwin" -> ((s, dir) =>
      streaming.StreamVerify.sessionWindowsFinal(s, events(s, dir))),

    // Spark 4 transformWithState (typed ValueState handles): final
    // per-user running profile after the last micro-batch.
    "st_userstats" -> ((s, dir) =>
      streaming.StreamVerify.userStatsFinal(s, events(s, dir))),

    // Streaming funnel (mapGroupsWithState): final per-user step times.
    "st_funnel" -> ((s, dir) =>
      streaming.StreamVerify.funnelFinal(s, events(s, dir))),

    // Streaming as-of join: union of update-mode emissions ≡ the batch
    // as-of join row set.
    "st_asof" -> ((s, dir) =>
      streaming.StreamVerify.asofMatches(s, events(s, dir))),

    // Streaming interval join (watermarked stream-stream): every
    // (purchase, prior-click-within-hour) pair.
    "st_range" -> ((s, dir) =>
      streaming.StreamVerify.rangePairs(s, events(s, dir))),

    // Streaming exact dedup (dropDuplicatesWithinWatermark): first doc
    // per content digest ≡ min-id canonical of batch exact dedup.
    "st_exact" -> ((s, dir) =>
      streaming.StreamVerify.exactSurvivors(s, docs(s, dir))),

    // Streaming simhash dedup: first doc per 60-bit signature.
    "st_simhash" -> ((s, dir) =>
      streaming.StreamVerify.simhashSurvivors(s, docs(s, dir))),

    // Streaming decontamination against the static benchmark slice
    // (stateless broadcast membership).
    "st_decontam" -> ((s, dir) =>
      streaming.StreamVerify.decontamScores(s,
        docs(s, dir).filter(col("doc_id") % 50 =!= 0),
        docs(s, dir).filter(col("doc_id") % 50 === 0))),

    // Streaming ANN: query vectors replayed against the static corpus
    // (stateless broadcast scoring) ≡ brute-force top-k on the queries.
    "st_ann" -> ((s, dir) =>
      streaming.StreamVerify.annScores(s, emb(s, dir), 10, 5)),

    // Streaming int8 quantization: stateless narrow map ≡ sim_quantize.
    "st_quantize" -> ((s, dir) =>
      streaming.StreamVerify.quantizeRows(s,
        s.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding"))),

    // Streaming RFM: update-mode per-user aggregation; final state ≡
    // the batch profile (shared oracle).
    "st_rfm" -> ((s, dir) =>
      streaming.StreamVerify.rfmFinal(s, events(s, dir))),

    // Streaming HLL: the custom sketch aggregate under the state store;
    // batching-invariant merge ⇒ final state ≡ batch ev_hll (full
    // HllSql oracle like its batch sibling; batch ≡ stream equality
    // also pinned in GoldenContentSpec).
    "st_hll" -> ((s, dir) =>
      streaming.StreamVerify.hllFinal(s, events(s, dir))),

    // Streaming CMS: the Count-Min grid under the state store; the
    // element-wise-sum merge is batching-invariant ⇒ final grid ≡ the
    // batch grid, probed for the same vocab ≡ tx_cms (shared oracle).
    "st_cms" -> ((s, dir) =>
      streaming.StreamVerify.cmsFinal(s, docs(s, dir), 20, 4, 512)),

    // Streaming top-k users: update-mode running sums, final state
    // ranked through the batch rank half ≡ ev_topusers.
    "st_topusers" -> ((s, dir) =>
      streaming.StreamVerify.topUsersFinal(s, events(s, dir), 3)),

    // Streaming latest-record compaction: the CDC changelog collapse as
    // an update-mode struct-max aggregation ≡ ev_latest.
    "st_latest" -> ((s, dir) =>
      streaming.StreamVerify.latestFinal(s, events(s, dir))),

    // Hourly volume anomalies per type: |z| > 2 decided by an exact
    // integer predicate (no FP in the comparison).
    "ev_anomaly" -> ((s, dir) =>
      streaming.Events.hourlyAnomalies(events(s, dir), 2L)),

    // ---- training-data pipeline ops over documents/embeddings ----

    // Exact dedup: canonical id per content digest.
    "dd_exact" -> ((s, dir) => ops.Dedup.exact(docs(s, dir))),

    // Normalized ("fuzzy-exact") dedup: digest of the case/punctuation/
    // whitespace-normalized text.
    "dd_norm" -> ((s, dir) => ops.Dedup.normalizedExact(docs(s, dir))),

    // Duplicate-overlap matrix between sources (within-source dup
    // clusters on the diagonal): cluster-keyed join of per-(cluster,
    // source) rows over the cached near-dup cluster map (its 5th
    // consumer) — fan-out bounded by the source count, never all-pairs.
    "dd_overlap" -> ((s, dir) => ops.Dedup.sourceOverlap(
      minhashClusters(s, dir), docsMeta(s, dir))),

    // Corpus-level source similarity: Jaccard over each source's
    // distinct shingle-type set — per-shingle fan-out bounded by the
    // source count, exact intersections, 6-dp coefficient.
    "dd_sourcesim" -> ((s, dir) => ops.Dedup.sourceShingleSimilarity(
      docs(s, dir).join(docsMeta(s, dir).select("doc_id", "source"),
        "doc_id"))),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified.
    "dd_minhash" -> ((s, dir) => minhashPairs(s, dir)),

    // Near-dup clusters: minhash pairs → connected components → canonical
    // doc per cluster (the terminal step of a dedup pipeline; shares the
    // cached pair set with dd_minhash).
    "dd_clusters" -> ((s, dir) => minhashClusters(s, dir)),

    // Deduplicated corpus: surviving canonical docs + cluster sizes (the
    // pipeline's terminal filter; shares the memoized cluster map).
    "dd_keep" -> ((s, dir) =>
      ops.Dedup.keepFromClusters(minhashClusters(s, dir))),

    // One-row dedup dashboard: corpus/cluster/survivor counts + 6-dp
    // duplicate rate from the shared cluster map.
    "dd_summary" -> ((s, dir) =>
      ops.Dedup.dedupSummary(minhashClusters(s, dir))),

    // Quality-aware survivor per cluster: argmax quality (min-id ties)
    // via partial-aggregating struct max — no per-cluster window sort.
    "dd_keep_best" -> ((s, dir) =>
      ops.Dedup.keepBestFromClusters(minhashClusters(s, dir),
        ops.TextOps.quality(docs(s, dir))
          .select(col("doc_id"), col("quality_score")))),

    // END-TO-END pipeline composition: dedup survivors ∩ quality gate ∩
    // deterministic stratified sample, with token counts — the manifest
    // a training run reads. One plan composed from three operator
    // families (each independently oracle-checked above).
    "pipe_filter" -> ((s, dir) => {
      val surv = ops.Dedup.keepFromClusters(minhashClusters(s, dir))
        .select("doc_id")
      val q = ops.TextOps.quality(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .where(col("quality_score") > 0)
      val samp = ops.Mix.stratifiedSample(docsMeta(s, dir), col("lang"),
          Map("en" -> 10000L, "es" -> 5000L, "fr" -> 2500L,
            "de" -> 2000L, "zh" -> 1000L), 5000L)
        .where(col("kept") === 1)
        .select("doc_id", "stratum")
      surv.join(q, "doc_id").join(samp, "doc_id")
        .select(col("doc_id"), col("stratum"), col("n_tokens"),
          col("quality_score"))
    }),

    // End-to-end shard manifest: the dedup survivors that clear the
    // quality gate, packed into per-language token-budget shards with
    // exact global offsets — dedup ∘ quality ∘ two-phase prefix-sum
    // packing, the full training-data pipeline as one composition.
    "pipe_shards" -> ((s, dir) => {
      val surv = ops.Dedup.keepFromClusters(minhashClusters(s, dir))
        .select("doc_id")
      val q = ops.TextOps.quality(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .where(col("quality_score") > 0)
      val withLang = surv.join(q, "doc_id")
        .join(docsMeta(s, dir).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      ops.Mix.pack(withLang, col("lang"), 4096L)
    }),

    // Retrieval composition (the RAG serving shape): exact vector
    // top-k → restrict hits to dedup survivors (left-semi) → hydrate
    // document metadata. Ranks keep their pre-filter values — a
    // filtered hit leaves a gap, it doesn't re-rank.
    "pipe_search" -> ((s, dir) => {
      val hits = ops.Similarity.bruteForceTopK(emb(s, dir), 5, 10)
      val surv = ops.Dedup.keepFromClusters(minhashClusters(s, dir))
        .select(col("doc_id").as("sv_id"))
      hits
        .join(surv, col("neighbor_id") === col("sv_id"), "left_semi")
        .join(docsMeta(s, dir), col("neighbor_id") === col("doc_id"))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cosine"), col("lang"), col("source"))
    }),

    // SimHash fingerprints (full hash check of the 60-bit signatures).
    "dd_simhash_sig" -> ((s, dir) => ops.Dedup.simhash(docs(s, dir))),

    // SimHash banded near-dup pairs, Hamming ≤ 3.
    "dd_simhash" -> ((s, dir) => ops.Dedup.simhashDedup(docs(s, dir), 3)),

    // Exact n-gram Jaccard near-dup pairs (inverted-index path).
    "dd_ngram" -> ((s, dir) => ops.Dedup.ngramJaccardDedup(docs(s, dir), 0.5)),

    // Exact duplicated-span coverage: per doc, how much is covered by
    // 8-token windows appearing verbatim in another doc.
    "dd_substring" -> ((s, dir) => ops.Dedup.duplicatedSpans(docs(s, dir), 8)),

    // Embedding cosine near-dup pairs.
    "dd_embedding" -> ((s, dir) => ops.Dedup.embeddingDedup(emb(s, dir), 0.3)),

    // SemDeDup: connected components over the cosine pair graph,
    // min-id canonical per semantic cluster (singletons self).
    "sim_semdedup" -> ((s, dir) => ops.Dedup.semanticClusters(emb(s, dir), 0.3)),

    // Brute-force cosine top-5 for queries vec_id<10 (exact baseline).
    "sim_brute" -> ((s, dir) => ops.Similarity.bruteForceTopK(emb(s, dir), 5, 10)),

    // k-NN graph: exact top-3 neighbors of EVERY vector (broadcast-block
    // exact under the embeddingBlockMaxVecs strategy gate, hyperplane-LSH
    // candidates above it).
    "sim_knn" -> ((s, dir) => ops.Similarity.knnGraph(emb(s, dir), 3)),

    // ANN recall evaluation: per-query recall@5 of the IVF index vs the
    // exact scan — query-keyed semi-probe + two partial-agg'd groupBys.
    "sim_recall" -> ((s, dir) =>
      ops.Similarity.recallAtK(
        ops.Similarity.ivfTopK(emb(s, dir), 5, 10, 16, 4),
        ops.Similarity.bruteForceTopK(emb(s, dir), 5, 10))),

    // IVF-bucketed approximate top-5 (the scale path).
    "sim_ivf" -> ((s, dir) => ops.Similarity.ivfTopK(emb(s, dir), 5, 10, 16, 4)),

    // IVF with trained centroids (deterministic sampled k-means, 3 Lloyd
    // iterations). The TRAINING loop is not SQL-expressible, but the
    // trained centroids are a deterministic value — so the query records
    // them and the oracle receives them as an inline side table, making
    // the assignment/probe/score pipeline fully DuckDB-checkable (the
    // sim_ivf oracle with a VALUES centroid CTE).
    "sim_ivf_kmeans" -> ((s, dir) => {
      val cents = ops.Similarity.trainCentroids(emb(s, dir), 16, 3)
      TrainedOracles.recordIvf(dir, cents)
      ops.Similarity.ivfTopKWithTrained(emb(s, dir), cents, 5, 10, 4)
    }),

    // Product-quantization ADC top-5: 8 subspaces × 16 stand-in
    // codewords, per-query LUT scoring — fully oracle-checked.
    "sim_pq" -> ((s, dir) => ops.Similarity.pqTopK(emb(s, dir), 8, 16, 5, 10)),

    // PQ with trained per-subspace codebooks (deterministic sampled L2
    // k-means, 3 iterations) — same side-table promotion as
    // sim_ivf_kmeans: the trained codebooks ride into the sim_pq oracle
    // as a VALUES CTE, so encode/LUT/ADC/rank are fully checked.
    "sim_pq_kmeans" -> ((s, dir) => {
      val cw = ops.Similarity.trainPqCodebooks(emb(s, dir), 8, 16, 3)
      TrainedOracles.recordPq(dir, cw)
      ops.Similarity.pqTopKWithTrainedCodebooks(emb(s, dir), 8, cw, 5, 10)
    }),

    // Per-label embedding centroids (mean-pool prototypes), long form.
    "sim_labelmeans" -> ((s, dir) =>
      ops.Similarity.labelCentroids(
        s.read.parquet(s"$dir/embeddings.parquet")
          .select("label", "embedding"))),

    // Mislabel/outlier scoring: exact-integer cosine of each vector to
    // its label centroid — broadcast O(labels×dims) table, narrow map.
    "sim_outliers" -> ((s, dir) =>
      ops.Similarity.centroidOutliers(
        s.read.parquet(s"$dir/embeddings.parquet"), 0.1)),

    // Symmetric int8 embedding quantization (long form) — narrow map,
    // codegen column expressions only.
    "sim_quantize" -> ((s, dir) =>
      ops.Similarity.quantizeInt8(
        s.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding"))),

    // Exact covariance moments (n, s_x, s_y, s_xy) per upper-triangle
    // dim pair — decimal sums, one partial-agg'd groupBy, no self-join.
    "sim_cov" -> ((s, dir) =>
      ops.Similarity.covarianceMoments(
        s.read.parquet(s"$dir/embeddings.parquet").select("embedding"))),

    // Language-ID marker scores + argmax prediction.
    "tx_langid" -> ((s, dir) => ops.TextOps.langId(docs(s, dir))),

    // Quality signals + composite score.
    "tx_quality" -> ((s, dir) => ops.TextOps.quality(docs(s, dir))),

    // Whitespace + BPE-ish token counts.
    "tx_tokens" -> ((s, dir) => ops.TextOps.tokenCounts(docs(s, dir))),

    // Rolling-hash document fingerprint.
    "tx_fingerprint" -> ((s, dir) => ops.TextOps.fingerprint(docs(s, dir))),

    // Winnowing fingerprint selection (MOSS): window minima over k-gram
    // rolling hashes — a narrow, shuffle-free within-row map.
    "tx_winnow" -> ((s, dir) => ops.TextOps.winnow(docs(s, dir))),

    // Out-of-vocabulary rate vs the corpus top-100 vocabulary: bounded
    // top-k vocab build + narrow membership probe.
    "tx_oov" -> ((s, dir) => ops.TextOps.oovRate(docs(s, dir))),

    // BPE merge-rule training (10 merges) — full DuckDB oracle: the
    // greedy loop unrolls into one CTE chain per round (BpeSql), the
    // merge rewrite riding a separator-encoded replace; content digest
    // + kernel ≡ distributed equality stay pinned in specs.
    "tx_bpe" -> ((s, dir) => ops.Bpe.learnMerges(docs(s, dir), 10)),

    // BPE ENCODE — train→apply: per-doc token accounting under the
    // learned merges (broadcast merge table, narrow memoized encode,
    // one doc-keyed aggregation).
    "tx_bpe_encode" -> ((s, dir) => ops.Bpe.encode(docs(s, dir), 10)),

    // Winnowing overlap pairs (MOSS as a dedup stage): shared selected
    // fingerprints ≥ 2 with a hot-fingerprint guard — inverted
    // fingerprint index, never all-pairs.
    "dd_winnow" -> ((s, dir) => ops.Dedup.winnowDedup(docs(s, dir))),

    // PII scrub: email/phone/IPv4 counts + redacted text.
    "tx_pii" -> ((s, dir) => ops.TextOps.piiScrub(docs(s, dir))),

    // Within-document repetition signals (distinct token/bigram fractions).
    "tx_repetition" -> ((s, dir) => ops.TextOps.repetition(docs(s, dir))),

    // Quality-score percentiles per language (filter-threshold study).
    "tx_quality_pcts" -> ((s, dir) =>
      ops.TextOps.qualityPercentiles(docs(s, dir),
        docsMeta(s, dir).select(col("doc_id"), col("lang").as("stratum")))),

    // Top-100 vocabulary (tokenizer / min-df prep); distributed top-k
    // via TakeOrdered — no global sort.
    "tx_vocab" -> ((s, dir) => ops.TextOps.vocabulary(docs(s, dir), 100)),

    // Bigram cross-entropy per doc under the corpus's own LM (CCNet
    // quality-filter shape): one bigram explode feeds model counts and
    // scoring join; no smoothing needed in-corpus.
    "tx_perplexity" -> ((s, dir) =>
      ops.TextOps.bigramCrossEntropy(docs(s, dir))),

    // N-gram inventory stats (n = 1..3): types, occurrences, hapaxes —
    // the Heaps'-law novelty profile; two-level groupBy, one row per
    // type on the exchange (never count-distinct re-shuffles).
    "tx_ngramstats" -> ((s, dir) =>
      ops.TextOps.ngramStats(docs(s, dir), 3)),

    // Count-Min sketch accuracy audit: one corpus pass through the
    // fixed-size cms_sketch grid (element-wise-sum merge — the exchange
    // carries one 16 KiB grid per partition), estimates read for the
    // top-20 vocab tokens vs their exact counts. The pinned polyhash
    // bucketing makes every cell relationally re-derivable → FULL
    // oracle, unlike inherently non-relational sketches.
    "tx_cms" -> ((s, dir) =>
      ops.TextOps.cmsTokenCounts(docs(s, dir), 20, 4, 512)),

    // Exact heavy hitters (count ≥ N/500): Misra-Gries candidate pass
    // + exact broadcast-filtered count — the long tail never shuffles.
    "tx_heavyhitters" -> ((s, dir) =>
      ops.TextOps.heavyHitters(docs(s, dir), 1L, 500L)),

    // Corpus composition per (source, lang): counts, exact-integer mean
    // quality, token share — the data-mix designer's profile table.
    "tx_stats" -> ((s, dir) =>
      ops.TextOps.corpusStats(docs(s, dir), docsMeta(s, dir))),

    // Bigram conditional probabilities (statistical-LM filter prep).
    "tx_bigram_lm" -> ((s, dir) =>
      ops.TextOps.bigramConditional(docs(s, dir), 5L)),

    // Top-100 collocations by 6-dp PMI: one corpus scan feeds bigram +
    // unigram counts, vocabulary-keyed marginal joins, global top-k.
    "tx_pmi" -> ((s, dir) =>
      ops.TextOps.pmiCollocations(docs(s, dir), 5L, 100)),

    // Top-3 tf-idf terms per document (keyword extraction); rank is a
    // per-doc window over the already-aggregated term table.
    "tx_tfidf" -> ((s, dir) => ops.TextOps.tfidf(docs(s, dir), 3)),

    // Per-document token entropy (lexical-diversity quality signal).
    "tx_entropy" -> ((s, dir) => ops.TextOps.tokenEntropy(docs(s, dir))),

    // Overlapping 64-token chunks (stride 48) — embedding/context-window
    // slicing; pure narrow codegen map.
    "tx_chunks" -> ((s, dir) => ops.TextOps.chunks(docs(s, dir), 64, 48)),

    // Benchmark decontamination: corpus docs sharing any 8-gram with
    // the deterministic benchmark slice (doc_id % 50 == 0); broadcast
    // semi-join against the (small) benchmark shingle set.
    "tx_decontam" -> ((s, dir) =>
      ops.TextOps.decontaminate(docs(s, dir), col("doc_id") % 50 === 0)),

    // Deterministic stratified sampling by language: keep decision is a
    // pure hash of (doc_id, lang) — reproducible and monotone in rate.
    "mix_sample" -> ((s, dir) =>
      ops.Mix.stratifiedSample(docsMeta(s, dir), col("lang"),
        Map("en" -> 10000L, "es" -> 5000L, "fr" -> 2500L,
          "de" -> 2000L, "zh" -> 1000L), 5000L)),

    // Exact-k stratified sample (5 per language) via the bounded-heap
    // top-k TypedImperativeAggregate — O(k) exchange per partition.
    "mix_topk" -> ((s, dir) =>
      ops.Mix.exactStratifiedSample(docsMeta(s, dir), col("lang"), 5)),

    // Token-budget mixing weights per source (equal-share, capped at 1).
    "mix_weights" -> ((s, dir) =>
      ops.Mix.mixingWeights(
        docsMeta(s, dir).join(
          ops.TextOps.tokenCounts(docs(s, dir))
            .select(col("doc_id"), col("ws_tokens").as("n_tokens")),
          "doc_id"),
        col("source"))),

    // Token-budget shard packing per source: two-phase distributed
    // prefix sum (NOT a corpus-sized window partition); a shard is
    // ~2048 contiguous tokens in doc_id order.
    "mix_pack" -> ((s, dir) =>
      ops.Mix.pack(
        docsMeta(s, dir).join(
          ops.TextOps.tokenCounts(docs(s, dir))
            .select(col("doc_id"), col("ws_tokens").as("n_tokens")),
          "doc_id"),
        col("source"), 2048L)),

    // Sequence-length histogram in power-of-two buckets (integer bit
    // length, no floating log) — context-window sizing input.
    "mix_hist" -> ((s, dir) => ops.TextOps.tokenHistogram(docs(s, dir))),

    // Stride-scheduled deterministic interleaving by language weight:
    // exact-integer epoch keys, per-stratum ranks via the two-phase
    // prefix sum (no per-stratum window).
    "mix_interleave" -> ((s, dir) =>
      ops.Mix.interleave(docsMeta(s, dir), col("lang"),
        Map("en" -> 4L, "es" -> 2L, "fr" -> 2L, "de" -> 1L, "zh" -> 1L))),

    // Classifier evaluation: language-ID confusion matrix vs the
    // labeled lang column — one narrow scoring map + an O(langs²)
    // partial-agg'd groupBy.
    "tx_confusion" -> ((s, dir) =>
      ops.TextOps.langId(docs(s, dir)).select("doc_id", "lang_pred")
        .join(docsMeta(s, dir).select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))),

    // Deterministic per-language resampling to document quotas (epoch
    // weighting): broadcast stratum counts + a codegen repeat-count map.
    "mix_upsample" -> ((s, dir) =>
      ops.Mix.upsample(docsMeta(s, dir), col("lang"),
        Map("en" -> 100L, "es" -> 300L, "fr" -> 500L, "de" -> 800L,
          "zh" -> 1000L), 200L)),

    // Deterministic 90/5/5 stratified train/val/test assignment —
    // salted hash stream, pure narrow map.
    "mix_split" -> ((s, dir) =>
      ops.Mix.assignSplits(docsMeta(s, dir), col("lang"), 9000L, 9500L)),

    // Train→eval contamination audit: eval docs sharing a normalized
    // content digest with any train doc (distinct-ed build side, one
    // digest-keyed probe join). Joins the cached text + meta
    // projections back together (at real scale: one pruned scan).
    "mix_leakage" -> ((s, dir) =>
      ops.Mix.splitLeakage(
        docs(s, dir).join(docsMeta(s, dir).select("doc_id", "lang"),
          "doc_id"),
        col("lang"), 9000L, 9500L)),

    // Relational warehouse shapes over the TPC-H-ish tables: exact
    // decimal pricing rollup with a sargable scan filter.
    "rel_pricing" -> ((s, dir) =>
      ops.Relational.pricingSummary(
        s.read.parquet(s"$dir/lineitem.parquet"), "1998-09-02")),

    // Star-join revenue rollup: pre-aggregated fact joins + broadcast
    // nation/region dimensions.
    "rel_regionrev" -> ((s, dir) =>
      ops.Relational.revenueByNation(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        s.read.parquet(s"$dir/region.parquet"),
        "1997-01-01", "1998-01-01")),

    // Per-segment top-10 orders by exact scaled-integer revenue via the
    // bounded-heap TopKPairMin aggregate (no segment-wide window).
    "rel_toporders" -> ((s, dir) =>
      ops.Relational.topOrdersPerSegment(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"), 10)),

    // Existential filter: priority counts among orders with a deeply
    // discounted line — left-semi probe on the order key.
    "rel_orderprio" -> ((s, dir) =>
      ops.Relational.orderPriorityCounts(
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/lineitem.parquet"), 0.05)),

    // Customer order-count distribution (TPC-H Q13 shape): orders
    // pre-aggregated to the join key, zero-order customers kept.
    "rel_custdist" -> ((s, dir) =>
      ops.Relational.customerDistribution(
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/orders.parquet"))),

    // Top-20 customers by returned-item revenue (TPC-H Q10 shape):
    // returned lines pre-aggregated per order, scaled-integer exact
    // revenue, broadcast nation, bounded-heap global top-k.
    "rel_returned" -> ((s, dir) =>
      ops.Relational.returnedRevenueTopCustomers(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        "1996-01-01", "1998-01-01", 20)),

    // Promo revenue share per ship month (TPC-H Q14 shape): lineitem ⋈
    // part as a key-partitioned hash join (part is fact-sized at
    // warehouse scale — never a broadcast), exact decimal sums.
    "rel_promoshare" -> ((s, dir) =>
      ops.Relational.promoRevenueShare(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/part.parquet"), "PROMO")),

    // Top supplier(s) by 1997-H1 shipped revenue (TPC-H Q15 shape):
    // exact scaled-integer max with all ties kept, one-row broadcast
    // max filter, supplier join on the winners only.
    "rel_topsupplier" -> ((s, dir) =>
      ops.Relational.topSupplierByRevenue(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        "1997-01-01", "1997-07-01")),

    // Pure scan-aggregate (TPC-H Q6 shape): every predicate pushed to
    // the parquet scan, one-row map-side-collapsed aggregation.
    "rel_discount" -> ((s, dir) =>
      ops.Relational.forecastRevenueChange(
        s.read.parquet(s"$dir/lineitem.parquet"),
        "1997-01-01", "1998-01-01", 0.05, 0.07, 24.0)),

    // Large-quantity orders (TPC-H Q18 shape): HAVING on the
    // pre-aggregated fact, joins see only qualifying orders, global
    // top-k via TakeOrderedAndProject.
    "rel_bigorders" -> ((s, dir) =>
      ops.Relational.largeQuantityOrders(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"), 150.0, 100)),

    // Volume shipping between two nations per year (TPC-H Q7 shape):
    // both fact joins key-partitioned with pre-filtered build inputs,
    // nation names broadcast twice under independent aliases.
    "rel_volume" -> ((s, dir) =>
      ops.Relational.volumeShipping(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        "NATION_1", "NATION_2", "1995-01-01", "1997-01-01")),

    // National market share (TPC-H Q8 shape): 6-table star with both
    // fact joins key-partitioned, dimension chains collapsed onto fact
    // keys first, region membership as a left-semi probe.
    "rel_marketshare" -> ((s, dir) =>
      ops.Relational.marketShare(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        s.read.parquet(s"$dir/region.parquet"),
        s.read.parquet(s"$dir/part.parquet"),
        "STANDARD", "NATION_1", "ASIA", "1995-01-01", "1997-01-01")),

    // Small-quantity revenue for one brand (TPC-H Q17 shape): exact
    // integer cross-multiplied fractional-average predicate, per-part
    // pre-aggregation, key-partitioned joins.
    "rel_smallqty" -> ((s, dir) =>
      ops.Relational.smallQuantityRevenue(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/part.parquet"), "Brand#3", 1, 5)),

    // Disjunctive brand/size/quantity revenue (TPC-H Q19 shape): one
    // equi-join on the part key, OR-of-clauses as a codegen residual.
    "rel_brandrev" -> ((s, dir) =>
      ops.Relational.brandRevenue(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/part.parquet"),
        Seq(("Brand#1", 1, 10, 1, 20), ("Brand#2", 1, 20, 10, 30),
          ("Brand#3", 1, 30, 20, 40)))),

    // Revenue by supplier nation × ship year for a part-name family
    // (TPC-H Q9 shape, sans the partsupp cost term this schema lacks).
    "rel_partprofit" -> ((s, dir) =>
      ops.Relational.partProfitByNation(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/part.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        s.read.parquet(s"$dir/nation.parquet"), "red")),

    // Distinct-supplier counts per part attribute group (TPC-H Q16
    // shape): distinct-ed pairs first, broadcast anti-join exclusion.
    "rel_partsuppliers" -> ((s, dir) =>
      ops.Relational.supplierCountsByPart(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/part.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        "Brand#5", "PROMO", Seq(1, 5, 9, 13, 17, 21, 25, 29, 33, 37))),

    // Dormant high-balance customers per nation (TPC-H Q22 shape):
    // exact integer above-average predicate, anti-join on recent
    // order keys.
    "rel_dormant" -> ((s, dir) =>
      ops.Relational.dormantCustomers(
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/nation.parquet"), "2000-06-01")),

    // Suppliers who alone shipped last on multi-supplier finished
    // orders (TPC-H Q21 shape re-keyed to ship dates): one per-order
    // aggregate pass, no correlated rescans.
    "rel_latesupplier" -> ((s, dir) =>
      ops.Relational.lateSuppliers(
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"), "F", 100)),

    // Salted two-phase aggregation over a 3-value hot key: the
    // explicit skew-mitigation path, oracle-identical to a plain
    // groupBy count (only the shuffle distribution differs).
    "rel_skewcount" -> ((s, dir) =>
      ops.Skew.saltedCount(
        s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderstatus")), "o_orderstatus", 8)),

    // OLAP grouping sets: region → nation → grand-total revenue rollup
    // in ONE aggregation via Expand, grouping_id disambiguates levels.
    "rel_rollup" -> ((s, dir) =>
      ops.Relational.revenueRollup(
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        s.read.parquet(s"$dir/region.parquet"))),

    // Wide-table PIVOT: monthly revenue by order status with an
    // explicit value list — one aggregation of conditional sums.
    "rel_pivot" -> ((s, dir) =>
      ops.Relational.revenuePivotByStatus(
        s.read.parquet(s"$dir/orders.parquet"), Seq("F", "O", "P"))),

    // One-pass numeric column profile of the fact table (the
    // data-quality scan): stack-unpivot + partially-aggregated
    // per-column stats, exact distinct over hash-partitioned pairs.
    "rel_colprofile" -> ((s, dir) =>
      ops.Relational.columnProfile(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Power-of-two degree-distribution histogram (integer bit-length
    // buckets over the q3 degree table).
    "gr_degdist" -> ((s, dir) =>
      etl.EdgeOps.degreeHistogram(
        withCsr(s, dir)(_.degreesDf(s))(degreesOf(s, dir)))),

    // Exact 2-hop reach of the top-20 hubs. Kernel path: per-hub |V|-bit
    // set over dense ids (the distinct IS the bitset — the union+distinct
    // wedge multiset never materializes). Distributed path: TakeOrdered
    // hub table broadcast, one vertex-keyed hop join, then the SAME
    // bitset idea distributedly — a hub-keyed `bitset_distinct`
    // aggregation over the wedge stream (domain bound = the max used
    // vertex id), which kills the (hub, vertex) distinct exchange; the
    // distinct() plan remains as the unbounded-domain fallback.
    "gr_2hop" -> ((s, dir) =>
      withCsr(s, dir)(_.twoHopReachDf(s, 20))(
        etl.EdgeOps.twoHopReach(clean(s, dir), 20,
          Some(degreesOf(s, dir)), Some(maxVertexOf(s, dir))))),

    // Degree-assortativity moments: exact integer edge-endpoint degree
    // sums (Pearson numerator/denominator pieces, division left to the
    // reader).
    // Kernel path: one chunked pass over the CSR adjacency (long sums
    // are associative — bit-identical to the distributed aggregate).
    "gr_assort" -> ((s, dir) =>
      withCsr(s, dir)(_.assortMomentsDf(s))(
        etl.EdgeOps.assortativityMoments(clean(s, dir),
          Some(degreesOf(s, dir))))),

    // Double-sweep diameter lower bound: eccentricity from the
    // canonical root (read off the EXISTING q7 tree — no new
    // traversal), then a second BFS from the farthest vertex (min id
    // on ties). Kernel path re-uses the cached CSR; distributed path
    // runs the level loop once more from the new root.
    "gr_diameter" -> ((s, dir) => {
      import s.implicits._
      val h = handle(s, dir)
      val (ecc1, far) = (h.csr, h.dense) match {
        case (Some(csr), Some((_, depth))) if csr.nVerts > 0 =>
          var mx = 0
          var i = 0
          while (i < csr.nVerts) {
            if (depth(i) > mx) mx = depth(i)
            i += 1
          }
          var fv = Long.MaxValue
          i = 0
          while (i < csr.nVerts) {
            if (depth(i) == mx && csr.ids(i) < fv) fv = csr.ids(i)
            i += 1
          }
          (mx.toLong, fv)
        case _ =>
          // the BFS loop already left its per-level frontier sizes on
          // the driver — ecc1 is their max level, zero Spark jobs; one
          // filtered min-scan of the checkpointed q7 tree then finds
          // the farthest vertex (min id on ties)
          val e1 = h.levelSizes.map(_._1).max.toLong
          val fv = h.tree.filter(col("depth") === e1)
            .agg(min(col("vertex"))).head().getLong(0)
          (e1, fv)
      }
      val ecc2 = h.csr match {
        case Some(csr) if csr.nVerts > 0 =>
          val (_, d2, _) = csr.bfs(far)
          var mx = 0
          var i = 0
          while (i < d2.length) { if (d2(i) > mx) mx = d2(i); i += 1 }
          mx.toLong
        case _ =>
          // sweep 2 needs only the ECCENTRICITY, which the level loop
          // counts as it runs: take it off the driver-held sizes and
          // never materialize (or aggregate) the sweep-2 tree
          graft.bfs.Bfs.bfsMinParent(s, h.g, far)
            .levelSizes.map(_._1).max.toLong
      }
      Seq((h.root, ecc1, far, ecc2))
        .toDF("root1", "ecc1", "far_vertex", "ecc2")
    }),

    // Multimodal: decode metadata via batched mapPartitions — image-kind
    // payloads are real BMP/JPEG files parsed by the actual javax.imageio
    // codec, audio is a real WAV parsed by javax.sound, video is a real
    // AVI/MJPEG container (avih/strf header walk) or ISO-BMFF MP4
    // (moov→trak→tkhd + stsd box walk), split by media_id % 6. The
    // decoded metadata table (tiny: one row per media item) is memoized
    // per dir — resize consumes the decode stage, not a second decode run.
    "mm_decode" -> ((s, dir) => decodedMedia(s, dir)),

    // Multimodal: resize metadata contract over the shared decode table.
    "mm_resize" -> ((s, dir) => ops.Multimodal.resize(decodedMedia(s, dir))),

    // Multimodal: video frame sampling — every 4th frame's (no, offset,
    // len) read back from a REAL container walk over the encoded bytes:
    // the AVI movi chunk list or the MP4 stsz/stco sample tables,
    // whichever family the payload is.
    "mm_frames" -> ((s, dir) =>
      ops.Multimodal.frameSample(s, ops.Multimodal.encodeVideo(
        s, ops.Multimodal.mediaFromDocuments(docs(s, dir))))),

    // Multimodal: windowed audio sampling — overlapping 1024-frame
    // windows every 512 frames, with frame counts and byte offsets
    // read back from a REAL RIFF fmt/data chunk walk over the encoded
    // WAV bytes (the audio counterpart of mm_frames).
    "mm_audio" -> ((s, dir) =>
      ops.Multimodal.audioWindows(s, ops.Multimodal.encodeAudio(
        s, ops.Multimodal.mediaFromDocuments(docs(s, dir))))),

    // Multimodal: stub featurize (8 byte-chunk sums) via mapPartitions.
    "mm_features" -> ((s, dir) => {
      val f = ops.Multimodal.featurize(
        s, ops.Multimodal.mediaFromDocuments(docs(s, dir)))
      f.select(col("media_id") +: col("n_bytes") +:
        (0 until ops.Multimodal.FeatureChunks)
          .map(j => element_at(col("feature"), j + 1).as(s"f$j")): _*)
    })
  )

  // Small dimension-like tables scanned by many queries (9 over docs, 3
  // over embeddings, 3 over events): persist once per sfDir.
  private val tableCache = new SessionCache[DataFrame]
  private def cachedTable(s: SparkSession, key: String)
                         (load: => DataFrame): DataFrame =
    tableCache.get(s, key)(
      load.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Decoded media metadata (one small row per media item), shared by
    * mm_decode and mm_resize — the resize stage consumes the decode
    * stage's output instead of re-running the codec. */
  private def decodedMedia(s: SparkSession, dir: String): DataFrame =
    cachedTable(s, s"$dir/mm_decoded")(
      ops.Multimodal.decodeMeta(s, ops.Multimodal.encodeVideo(
        s, ops.Multimodal.encodeAudio(
          s, ops.Multimodal.encodeImages(
            s, ops.Multimodal.mediaFromDocuments(docs(s, dir)))))))

  /** MinHash+LSH verified pair set at the driver threshold, shared by
    * dd_minhash (its output) and dd_clusters (its input). Memoized but
    * NOT persisted: the kernel path ships precomputed arrays and the
    * distributed path is checkpointed — both already rescan cheaply, and
    * an InMemoryRelation layer on top only adds cost. */
  private val pairsCache = new SessionCache[DataFrame]
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.get(s, s"$dir/minhash_pairs")(
      ops.Dedup.minhashDedup(docs(s, dir), 0.5))

  /** Cluster map over the pair set, shared by dd_clusters (its output)
    * and dd_keep (its input) — the component walk runs once per sfDir.
    * Eagerly checkpointed: both consumers rescan a small flat table. */
  private val clustersCache = new SessionCache[DataFrame]
  private def minhashClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache.get(s, s"$dir/minhash_clusters")(
      ops.Dedup.clustersFromPairs(docs(s, dir), minhashPairs(s, dir))
        .localCheckpoint(eager = true))

  /** Memoized CC labelling of the lineitem subgraph — shared by
    * cc_components and gr_ccsizes (the result is |V|-sized and already
    * materialized by the CC run itself). */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    clustersCache.get(s, s"$dir/cc_labels")(
      graft.bfs.ConnectedComponents.components(s, lineitemSub(s, dir)
        .select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))))

  /** Raw (order, part) projection: the (group, member) list of the
    * co-purchase graph ([[graft.bfs.Triangles.coPurchase]]). */
  private def orderPartPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("src"),
        col("l_partkey").cast("long").as("dst"))

  /** Shared 4-round LPA label partition for the community family
    * (gr_lpa / gr_modularity / gr_conductance) — the iterative
    * propagation runs ONCE per sfDir on each path instead of once per
    * consumer (three 4-round join loops forced-distributed). */
  private val lpaLabelsCache = new SessionCache[DataFrame]
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    lpaLabelsCache.get(s, s"$dir/lpa4")(
      graft.bfs.LabelPropagation.lpa(s, clean(s, dir), 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  private val lpaLabelsCsrCache = new SessionCache[Array[Long]]
  private def lpaLabelsCsr(s: SparkSession, dir: String,
                           csr: graft.bfs.LocalCsr): Array[Long] =
    lpaLabelsCsrCache.get(s, s"$dir/lpa4csr")(
      graft.bfs.LabelPropagation.lpaCsr(csr, 4))

  /** Shared co-purchase graph for the triangle family (gr_triangles /
    * gr_localcc / gr_jaccard): [[graft.bfs.Triangles.coPurchase]] — the
    * gate decision, the pair expansion and, on the distributed side, the
    * degree joins, the O(m^1.5) wedge join and the triangle enumeration
    * — runs ONCE per sfDir instead of once per family member (measured:
    * the repeated wedge join was the entire forced-distributed cost of
    * members two and three at sf0.1). Keyed on the gate value so a
    * mid-session gate flip can never serve the wrong side's structure. */
  private val coPurchaseCache =
    new SessionCache[Either[graft.bfs.LocalCsr,
      graft.bfs.Triangles.TriangleTables]]
  private def coPurchaseGraph(s: SparkSession, dir: String)
      : Either[graft.bfs.LocalCsr, graft.bfs.Triangles.TriangleTables] = {
    val gate = Gates.localBfsMaxEdges.limit(s)
    coPurchaseCache.get(s, s"$dir/copurchase/gate=$gate")(
      graft.bfs.Triangles.coPurchase(orderPartPairs(s, dir)))
  }

  /** Deterministic 2000-line lineitem subset feeding cc_components and
    * sssp_dist: the global top-2000 sort runs once per sfDir, not once
    * per consumer. */
  private def lineitemSub(s: SparkSession, dir: String): DataFrame =
    cachedTable(s, s"$dir/lineitem_sub")(
      s.read.parquet(s"$dir/lineitem.parquet")
        .orderBy("l_orderkey", "l_linenumber").limit(2000)
        .select("l_orderkey", "l_partkey", "l_quantity"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    cachedTable(s, s"$dir/documents")(
      // cache only the columns the dedup/text/multimodal consumers read
      // — the parquet scan feeding the cache then prunes to 2 of 5 cols
      s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))

  /** Metadata columns of `documents` (no text — tiny), for the mixing
    * operators' strata. At real scale this is the same scan as docs()
    * with two more pruned columns; split here so the 9 text consumers
    * keep their 2-column cache. */
  private def docsMeta(s: SparkSession, dir: String): DataFrame =
    cachedTable(s, s"$dir/documents_meta")(
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "source"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    cachedTable(s, s"$dir/embeddings")(
      s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding"))

  /** The events table has shipped as either TIMESTAMP(MICROS) (read
    * natively) or TIMESTAMP(NANOS) parquet, which Spark 4 refuses
    * natively; in the nanos case read nanos as long and truncate to
    * microsecond timestamps — exactly what DuckDB does when it loads
    * the same file (ns → µs TIMESTAMP), keeping the oracle comparison
    * aligned. Adapt to whichever schema is on disk. */
  private def events(s: SparkSession, dir: String): DataFrame =
    cachedTable(s, s"$dir/events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/events.parquet")
      val withTs = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        // TIMESTAMP_NTZ → LTZ is value-preserving under the UTC session
        // timezone every entry point pins, and downstream `unix_micros`
        // then matches DuckDB's epoch_us over the same file.
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
      // `props` is optional: the driver regenerates the testdata between
      // rounds and has changed the events schema before (ts nanos→micros);
      // a missing sidecar column must degrade only ev_props (NULL parse →
      // NULL bucket), never the shared reader every ev_* query goes
      // through.
      val withProps =
        if (withTs.columns.contains("props")) withTs
        else withTs.withColumn("props", lit(null).cast("string"))
      withProps.select("event_id", "ts", "user_id", "event_type", "value",
        "props")
    }

  /** Deterministic pseudo run-stats: 64 smallest orders; bfs_time from
    * totalprice, nedge from orderkey (see q9 oracle). */
  private def runStats(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
      .orderBy(col("o_orderkey")).limit(64)
    o.select(
      col("o_orderkey").as("run"),
      (col("o_totalprice") / 1000.0).as("bfs_time"),
      lit(0.0).as("validate_time"),
      (col("o_orderkey") + 1000L).cast("double").as("nedge"))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — ALL queries carry a full oracle, including
    * q1/q6 (the MRG PRNG replays in SQL via GenOracleSql's matrix-power
    * CTEs) and the trained-ANN/BPE/HLL families (VALUES side tables /
    * unrolled CTE rounds / HUGEINT hash replay). */
  /** Unrolled fixed-iteration PageRank (no recursive aggregation in
    * standard SQL → one CTE per iteration; integer `//` mirrors Spark's
    * `div` exactly on the non-negative ranks). */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s""",
         |r$i AS (
         |  SELECT od.v, od.outdeg,
         |         CAST((150000000000 // (SELECT n FROM nn)) + c.s AS BIGINT) AS r
         |  FROM od JOIN (
         |    SELECT e.dst AS v, sum((p.r * 85) // (100 * p.outdeg)) AS s
         |    FROM clean e JOIN r${i - 1} p ON e.src = p.v
         |    GROUP BY e.dst) c ON od.v = c.v)""".stripMargin
    }.mkString
    """, od AS (SELECT src AS v, count(*) AS outdeg FROM clean GROUP BY src)
      |, nn AS (SELECT count(*) AS n FROM od)
      |, r0 AS (SELECT v, outdeg, 1000000000000 // (SELECT n FROM nn) AS r FROM od)""".stripMargin +
      steps + s"\nSELECT v AS vertex, r AS rank_fp FROM r$iters"
  }

  /** Unrolled fixed-round k-core peeling (mirrors KCore.kcore /
    * kcoreCsr): round i recomputes induced degrees over the round-(i−1)
    * survivor subgraph; output = final-round survivors + degrees. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val eprev = if (i == 1) "clean" else s"ke${i - 1}"
      val prune =
        if (i == rounds) "" // last round only needs the degree table
        else
          s""",
             |kk$i AS (SELECT v FROM kd$i WHERE degree >= $k),
             |ke$i AS (SELECT e.src, e.dst FROM $eprev e
             |         JOIN kk$i a ON e.src = a.v
             |         JOIN kk$i b ON e.dst = b.v)""".stripMargin
      s""",
         |kd$i AS (SELECT src AS v, count(*) AS degree
         |         FROM $eprev GROUP BY src)""".stripMargin + prune
    }.mkString
    steps +
      s"\nSELECT v AS vertex, degree FROM kd$rounds WHERE degree >= $k"
  }

  /** Unrolled synchronous label propagation (mirrors
    * LabelPropagation.lpa / lpaCsr): each round every vertex adopts the
    * most frequent neighbor label, min label on ties. */
  private def lpaStepsSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         |lp$i AS (
         |  SELECT v, label FROM (
         |    SELECT e.src AS v, p.label,
         |           row_number() OVER (PARTITION BY e.src
         |             ORDER BY count(*) DESC, p.label) AS rk
         |    FROM clean e JOIN lp${i - 1} p ON e.dst = p.v
         |    GROUP BY e.src, p.label)
         |  WHERE rk = 1)""".stripMargin
    }.mkString
    """, lp0 AS (SELECT src AS v, src AS label FROM clean GROUP BY src)"""
      .stripMargin + steps
  }

  private def lpaSql(rounds: Int): String =
    lpaStepsSql(rounds) + s"\nSELECT v AS vertex, label FROM lp$rounds"

  /** Modularity decomposition of the LPA partition (mirrors
    * LabelPropagation.modularityTop*). */
  private def modularitySql(rounds: Int, k: Int): String =
    lpaStepsSql(rounds) + s""",
      |lab AS (SELECT v, label FROM lp$rounds),
      |el AS (SELECT a.label AS ls, b.label AS ld
      |       FROM clean e JOIN lab a ON e.src = a.v JOIN lab b ON e.dst = b.v),
      |per AS (SELECT ls AS community, count(*) AS k_c,
      |          CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT) AS in_c
      |        FROM el GROUP BY ls),
      |mem AS (SELECT label AS community, count(*) AS n_members
      |        FROM lab GROUP BY label),
      |tot AS (SELECT count(*) AS m2 FROM clean)
      |SELECT community, n_members, k_c, in_c,
      |  round(CAST(in_c AS DOUBLE)/m2 -
      |        (CAST(k_c AS DOUBLE)/m2) * (CAST(k_c AS DOUBLE)/m2), 6) AS q_c
      |FROM mem JOIN per USING (community), tot
      |ORDER BY n_members DESC, community LIMIT $k""".stripMargin

  /** Shared oriented co-purchase CTE prefix: distinct part pairs per
    * order, symmetrized, degree table, degree-ordered orientation. */
  private val TriPrefixCte =
    """WITH pp AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tclean AS (SELECT src, dst FROM pp UNION ALL SELECT dst AS src, src AS dst FROM pp),
      |tdeg AS (SELECT src AS v, count(*) AS d FROM tclean GROUP BY src),
      |ori AS (SELECT c.src AS a, c.dst AS b, db.d AS bd
      |        FROM tclean c JOIN tdeg da ON c.src = da.v JOIN tdeg db ON c.dst = db.v
      |        WHERE da.d < db.d OR (da.d = db.d AND c.src < c.dst))""".stripMargin

  /** Top-20 edge-Jaccard (tie strength) pairs on the co-purchase
    * projection (mirrors Triangles.jaccardTop: per-edge triangle
    * credits off the oriented wedge enumeration). */
  private val JaccardSql = TriPrefixCte +
    """,
      |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
      |        FROM ori e1 JOIN ori e2 ON e1.a = e2.a
      |        WHERE (e1.bd < e2.bd OR (e1.bd = e2.bd AND e1.b < e2.b))
      |          AND EXISTS (SELECT 1 FROM ori o
      |                      WHERE o.a = e1.b AND o.b = e2.b)),
      |ec AS (SELECT least(a, b) AS va, greatest(a, b) AS vb FROM tri
      |       UNION ALL SELECT least(a, c), greatest(a, c) FROM tri
      |       UNION ALL SELECT least(b, c), greatest(b, c) FROM tri),
      |cm AS (SELECT va, vb, count(*) AS common FROM ec GROUP BY 1, 2)
      |SELECT va AS vertex_a, vb AS vertex_b, common,
      |       da.d AS deg_a, db.d AS deg_b,
      |       round(CAST(common AS DOUBLE)/(da.d + db.d - 2 - common), 6)
      |         AS jaccard
      |FROM cm JOIN tdeg da ON va = da.v JOIN tdeg db ON vb = db.v
      |ORDER BY jaccard DESC, va, vb LIMIT 20""".stripMargin

  /** Degree-oriented triangle count on the part co-purchase projection
    * (mirrors Triangles.count / countCsr). */
  private val TriangleSql = TriPrefixCte +
    """,
      |wed AS (SELECT e1.b AS b, e2.b AS c FROM ori e1 JOIN ori e2 ON e1.a = e2.a
      |        WHERE e1.bd < e2.bd OR (e1.bd = e2.bd AND e1.b < e2.b))
      |SELECT count(*) AS n_wedges, count(o.a) AS n_triangles
      |FROM wed w LEFT JOIN ori o ON w.b = o.a AND w.c = o.b""".stripMargin

  /** Per-vertex local clustering coefficients, top-20 by (degree desc,
    * id) (mirrors Triangles.localCcTop*): each closed wedge credits all
    * three corners. */
  private val LocalCcSql = TriPrefixCte +
    """,
      |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
      |        FROM ori e1 JOIN ori e2 ON e1.a = e2.a
      |        WHERE (e1.bd < e2.bd OR (e1.bd = e2.bd AND e1.b < e2.b))
      |          AND EXISTS (SELECT 1 FROM ori o
      |                      WHERE o.a = e1.b AND o.b = e2.b)),
      |tv AS (SELECT v, count(*) AS n_tri FROM (
      |         SELECT a AS v FROM tri
      |         UNION ALL SELECT b FROM tri
      |         UNION ALL SELECT c FROM tri)
      |       GROUP BY v)
      |SELECT d.v, d.d AS degree,
      |  CAST(coalesce(tv.n_tri, 0) AS BIGINT) AS n_tri,
      |  round(CASE WHEN d.d >= 2
      |             THEN 2.0 * coalesce(tv.n_tri, 0) / (d.d * (d.d - 1))
      |             ELSE 0.0 END, 6) AS local_cc
      |FROM tdeg d LEFT JOIN tv USING (v)
      |ORDER BY d.d DESC, d.v LIMIT 20""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // The MRG generator family: DuckDB re-derives the PRNG, descent, and
    // scramble from the published constants (GenOracleSql).
    "q1_generate" -> GenOracleSql.q1,

    "s4_tree_edges" -> GenOracleSql.s4Tree,

    "s4_ham_edges" -> GenOracleSql.s4Ham,

    "s5_uniform" -> GenOracleSql.s5,

    "s7_weighted" -> GenOracleSql.s7,

    "q6_roots" -> GenOracleSql.q6,

    "gr_triangles" -> TriangleSql,

    "gr_localcc" -> LocalCcSql,

    "gr_jaccard" -> JaccardSql,

    "gr_pagerank" -> (GraphCte + pagerankSql(10)),

    "gr_kcore" -> (GraphCte + kcoreSql(3, 5)),

    "gr_2hop" -> (GraphCte +
      """,
        |deg AS (SELECT src, count(*) AS degree FROM clean GROUP BY 1),
        |hubs AS (SELECT src AS h, degree FROM deg
        |         ORDER BY degree DESC, src LIMIT 20),
        |h1 AS (SELECT h, dst AS v FROM clean JOIN hubs ON src = h),
        |h2 AS (SELECT h1.h, c.dst AS v
        |       FROM h1 JOIN clean c ON c.src = h1.v),
        |r AS (SELECT DISTINCT h, v
        |      FROM (SELECT h, v FROM h1 UNION ALL SELECT h, v FROM h2)
        |      WHERE v <> h)
        |SELECT hubs.h AS vertex, hubs.degree, count(*) AS reach_2hop
        |FROM r JOIN hubs ON r.h = hubs.h
        |GROUP BY 1, 2""".stripMargin),

    "gr_lpa" -> (GraphCte + lpaSql(4)),

    "gr_modularity" -> (GraphCte + modularitySql(4, 20)),

    "gr_conductance" -> (GraphCte + lpaStepsSql(4) + s""",
      |lab AS (SELECT v, label FROM lp4),
      |el AS (SELECT a.label AS ls, b.label AS ld
      |       FROM clean e JOIN lab a ON e.src = a.v JOIN lab b ON e.dst = b.v),
      |per AS (SELECT ls AS community, count(*) AS k_c,
      |          CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS BIGINT) AS cut_c
      |        FROM el GROUP BY ls),
      |mem AS (SELECT label AS community, count(*) AS n_members
      |        FROM lab GROUP BY label),
      |tot AS (SELECT count(*) AS m2 FROM clean)
      |SELECT community, n_members, k_c, cut_c,
      |  CASE WHEN least(k_c, m2 - k_c) > 0
      |       THEN round(CAST(cut_c AS DOUBLE)/least(k_c, m2 - k_c), 6)
      |       END AS phi
      |FROM mem JOIN per USING (community), tot
      |ORDER BY n_members DESC, community LIMIT 20""".stripMargin),

    "gr_diameter" -> (GraphCte +
      """,
        |e1 AS (SELECT max(depth) AS ecc1 FROM d),
        |far AS (SELECT min(vertex) AS fv FROM d
        |        WHERE depth = (SELECT ecc1 FROM e1)),
        |walk2(vertex, depth) AS (
        |  SELECT fv, 0 FROM far
        |  UNION
        |  SELECT e.dst, w.depth + 1 FROM walk2 w JOIN clean e ON e.src = w.vertex
        |  WHERE w.depth < 20),
        |d2 AS (SELECT vertex, min(depth) AS depth FROM walk2 GROUP BY vertex)
        |SELECT (SELECT r FROM root) AS root1,
        |       CAST((SELECT ecc1 FROM e1) AS BIGINT) AS ecc1,
        |       (SELECT fv FROM far) AS far_vertex,
        |       CAST(max(depth) AS BIGINT) AS ecc2
        |FROM d2""".stripMargin),

    "q2_clean_edges" -> (GraphCte + "SELECT src, dst FROM clean"),

    "q3_degrees" ->
      (GraphCte + "SELECT src AS vertex, count(*) AS degree FROM clean GROUP BY src"),

    "q4_reorder_degree" -> (GraphCte +
      """, deg AS (SELECT src AS vertex, count(*) AS degree FROM clean GROUP BY src)
        |SELECT vertex,
        |       CAST(row_number() OVER (ORDER BY degree DESC, vertex) - 1 AS BIGINT) AS new_id
        |FROM deg""".stripMargin),

    "q5_graph_counts" -> (GraphCte +
      """SELECT count(DISTINCT src) AS non_isolated_vertices,
        |       max(greatest(src, dst)) AS max_used_vertex,
        |       CAST(count(*) / 2 AS BIGINT) AS undirected_edge_count
        |FROM clean""".stripMargin),

    "q7_bfs" -> (GraphCte + "SELECT vertex, pred, depth FROM tree"),

    "q8_validate" -> (GraphCte +
      """, maxv AS (SELECT max(greatest(src, dst)) AS m FROM clean)
        |SELECT
        |  (SELECT count(*) FROM tree WHERE pred < -1 OR pred >= (SELECT m + 1 FROM maxv)) AS range_errors,
        |  (SELECT count(*) FROM tree WHERE vertex = (SELECT r FROM root)
        |     AND (pred <> vertex OR depth <> 0)) AS root_errors,
        |  (SELECT count(*) FROM tree WHERE vertex <> (SELECT r FROM root)
        |     AND pred = vertex) AS self_parent_errors,
        |  (SELECT count(*) FROM tree WHERE (pred = -1) <> (depth IS NULL)) AS depth_presence_errors,
        |  (SELECT count(*) FROM tree t LEFT JOIN tree p ON t.pred = p.vertex
        |     WHERE t.pred <> -1 AND t.vertex <> (SELECT r FROM root)
        |       AND (p.depth IS NULL OR t.depth <> p.depth + 1)) AS depth_chain_errors,
        |  (SELECT count(*) FROM (
        |     SELECT least(t.vertex, t.pred) AS lo, greatest(t.vertex, t.pred) AS hi
        |     FROM tree t WHERE t.pred <> -1 AND t.vertex <> (SELECT r FROM root)) pp
        |     WHERE NOT EXISTS (SELECT 1 FROM raw e WHERE e.src <> e.dst
        |       AND least(e.src, e.dst) = pp.lo AND greatest(e.src, e.dst) = pp.hi)) AS pred_edge_missing,
        |  (SELECT count(*) FROM raw e
        |     LEFT JOIN tree tu ON e.src = tu.vertex
        |     LEFT JOIN tree tv ON e.dst = tv.vertex
        |     WHERE (tu.depth IS NOT NULL AND tv.depth IS NOT NULL
        |            AND abs(tu.depth - tv.depth) > 1)
        |        OR ((tu.depth IS NULL) <> (tv.depth IS NULL))) AS edge_depth_errors,
        |  (SELECT count(*) FROM raw e
        |     JOIN tree tu ON e.src = tu.vertex AND tu.depth IS NOT NULL
        |     JOIN tree tv ON e.dst = tv.vertex AND tv.depth IS NOT NULL
        |     WHERE abs(tu.depth - tv.depth) <= 1) AS edge_visit_count""".stripMargin),

    "q9_teps" ->
      """WITH rs AS (
        |  SELECT o_orderkey AS run, o_totalprice / 1000.0 AS bfs_time,
        |         CAST(o_orderkey + 1000 AS DOUBLE) AS nedge
        |  FROM orders ORDER BY o_orderkey LIMIT 64
        |)
        |SELECT
        |  round(min(bfs_time), 6) AS time_min,
        |  round(quantile_cont(bfs_time, 0.25), 6) AS time_q1,
        |  round(quantile_cont(bfs_time, 0.5), 6) AS time_median,
        |  round(quantile_cont(bfs_time, 0.75), 6) AS time_q3,
        |  round(max(bfs_time), 6) AS time_max,
        |  round(avg(bfs_time), 6) AS time_mean,
        |  round(stddev_samp(bfs_time), 6) AS time_stddev,
        |  round(min(nedge), 6) AS nedge_min,
        |  round(quantile_cont(nedge, 0.25), 6) AS nedge_q1,
        |  round(quantile_cont(nedge, 0.5), 6) AS nedge_median,
        |  round(quantile_cont(nedge, 0.75), 6) AS nedge_q3,
        |  round(max(nedge), 6) AS nedge_max,
        |  round(avg(nedge), 6) AS nedge_mean,
        |  round(stddev_samp(nedge), 6) AS nedge_stddev,
        |  round(1.0 / avg(bfs_time / nedge), 6) AS harmonic_mean_teps
        |FROM rs""".stripMargin,

    "q10_level_sizes" -> (GraphCte +
      """SELECT CAST(depth AS BIGINT) AS level, count(*) AS frontier_size
        |FROM d GROUP BY depth""".stripMargin),

    "q4_reorder_identity" -> (GraphCte +
      """, deg AS (SELECT src AS vertex, count(*) AS degree FROM clean GROUP BY src)
        |SELECT vertex,
        |       CAST(row_number() OVER (ORDER BY vertex) - 1 AS BIGINT) AS new_id
        |FROM deg""".stripMargin),

    // Full-universe mode 1: universe = 0..max_used; a LEFT JOIN miss
    // against the non-isolated set IS the isolated predicate, and
    // (FALSE < TRUE, vertex) replays the ZeroOrElseComparator.
    "q4_reorder_isolated" -> (GraphCte +
      """, noniso AS (SELECT DISTINCT src AS vertex FROM clean),
        |u AS (SELECT unnest(generate_series(0,
        |         (SELECT max(greatest(src, dst)) FROM clean))) AS vertex)
        |SELECT u.vertex,
        |       CAST(row_number() OVER (ORDER BY (d.vertex IS NULL), u.vertex)
        |            - 1 AS BIGINT) AS new_id
        |FROM u LEFT JOIN noniso d USING (vertex)""".stripMargin),

    "q7_packed_pred" -> (GraphCte +
      """SELECT vertex,
        |       CASE WHEN pred = -1 THEN CAST(-1 AS BIGINT)
        |            ELSE (depth << 48) | pred END AS packed
        |FROM tree""".stripMargin),

    "sssp_dist" ->
      """WITH RECURSIVE
        |sub AS (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000),
        |sraw AS (SELECT 2*l_orderkey AS src, 2*l_partkey+1 AS dst,
        |                CAST(l_quantity AS BIGINT) AS w FROM sub),
        |wedges AS (
        |  SELECT src, dst, min(w) AS w FROM (
        |    SELECT src, dst, w FROM sraw WHERE src <> dst
        |    UNION ALL SELECT dst, src, w FROM sraw WHERE src <> dst)
        |  GROUP BY src, dst),
        |sroot AS (SELECT min(src) AS r FROM wedges),
        |walk(vertex, dist, hops) AS (
        |  SELECT r, CAST(0 AS BIGINT), 0 FROM sroot
        |  UNION
        |  SELECT e.dst, w.dist + e.w, w.hops + 1
        |  FROM walk w JOIN wedges e ON e.src = w.vertex
        |  WHERE w.hops < 40
        |)
        |SELECT vertex, min(dist) AS dist FROM walk GROUP BY vertex""".stripMargin,

    "cc_components" -> (CcWalkCte +
      """SELECT vertex, min(lab) AS component FROM walk GROUP BY vertex""".stripMargin),

    "gr_ccsizes" -> (CcWalkCte +
      """, comp AS (SELECT vertex, min(lab) AS component FROM walk GROUP BY vertex),
        |csz AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)
        |SELECT csize, count(*) AS n_components,
        |       CAST(sum(csize) AS BIGINT) AS n_vertices
        |FROM csz GROUP BY csize""".stripMargin),

    "ev_window" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "ev_retention" ->
      """WITH ud AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
        |SELECT c.cohort_day, u.day - c.cohort_day AS day_offset,
        |       count(DISTINCT u.user_id) AS n_users
        |FROM ud u JOIN coh c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "ev_rolling" ->
      """WITH pd AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(trunc(round(value, 6) * 1000000) AS BIGINT))
        |              AS BIGINT) AS value_micros
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, n_events, value_micros,
        |       CAST(sum(n_events) OVER w AS BIGINT) AS roll_events,
        |       CAST(sum(value_micros) OVER w AS BIGINT) AS roll_value_micros
        |FROM pd
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "ev_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS to_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS c12
        |      FROM seq WHERE from_type IS NOT NULL
        |      GROUP BY from_type, to_type)
        |SELECT from_type, to_type, c12,
        |       CAST(sum(c12) OVER (PARTITION BY from_type) AS BIGINT) AS c1,
        |       round(c12 * 1.0 / sum(c12) OVER (PARTITION BY from_type), 6)
        |         AS p_cond
        |FROM c""".stripMargin,

    "ev_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |gg AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
        |st AS (SELECT event_type, count(*) AS n_gaps,
        |              CAST(min(gap_us) AS BIGINT) AS min_gap_us,
        |              CAST(max(gap_us) AS BIGINT) AS max_gap_us,
        |              CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |       FROM gg GROUP BY event_type),
        |rk AS (SELECT event_type, gap_us,
        |              row_number() OVER (PARTITION BY event_type
        |                ORDER BY gap_us) - 1 AS rnk
        |       FROM gg),
        |md AS (SELECT r.event_type,
        |         CAST(sum(CASE WHEN r.rnk = (s.n_gaps - 1) // 2
        |                       THEN r.gap_us ELSE 0 END)
        |            + sum(CASE WHEN r.rnk = s.n_gaps // 2
        |                       THEN r.gap_us ELSE 0 END) AS BIGINT)
        |           AS p50_x2_gap_us
        |       FROM rk r JOIN st s USING (event_type)
        |       GROUP BY r.event_type)
        |SELECT s.event_type, s.n_gaps, s.min_gap_us, m.p50_x2_gap_us,
        |       s.max_gap_us, s.sum_gap_us
        |FROM st s JOIN md m USING (event_type)""".stripMargin,

    // Running sum ordered (us, delta DESC) mirrors the Spark sweep's
    // (us, −delta) range-sort: starts before ends at tied timestamps.
    "ev_peak" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM e),
        |iv AS (SELECT user_id, sess, min(us) AS s_us, max(us) AS e_us
        |       FROM s GROUP BY user_id, sess),
        |d AS (SELECT s_us AS us, 1 AS delta FROM iv
        |      UNION ALL SELECT e_us, -1 FROM iv),
        |r AS (SELECT us, delta,
        |        sum(delta) OVER (ORDER BY us, delta DESC
        |                         ROWS UNBOUNDED PRECEDING) AS running
        |      FROM d)
        |SELECT us // 3600000000 AS hour_bucket,
        |       CAST(max(running) AS BIGINT) AS peak_sessions,
        |       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_starts
        |FROM r GROUP BY 1""".stripMargin,

    "ev_props" ->
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k,
        |         value
        |  FROM events)
        |SELECT event_type, CAST(floor(k / 10.0) AS BIGINT) AS k_decade,
        |       count(*) AS n_events, min(k) AS min_k, max(k) AS max_k,
        |       round(sum(value), 6) AS sum_value
        |FROM p GROUP BY 1, 2""".stripMargin,

    "ev_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS w_start,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS k, sum(n_events) AS sum_n,
        |              sum(n_events * n_events) AS sum_n2
        |       FROM h GROUP BY event_type)
        |SELECT h.event_type, h.w_start, h.n_events,
        |       CAST(h.n_events * st.k - st.sum_n AS BIGINT) AS dev,
        |       CAST(CAST(st.k * st.sum_n2 - st.sum_n * st.sum_n
        |                 AS DECIMAL(38,0)) AS VARCHAR) AS var_num,
        |       CAST(CASE WHEN (h.n_events * st.k - st.sum_n)
        |                      * (h.n_events * st.k - st.sum_n)
        |                      * (st.k - 1)
        |                    > 4 * (st.k * st.sum_n2 - st.sum_n * st.sum_n)
        |                      * st.k
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM h JOIN st USING (event_type)""".stripMargin,

    "ev_hll" -> HllSql,

    // streaming twin: batching-invariant register merge ⇒ final state
    // ≡ batch sketch, same full-pipeline oracle
    "st_hll" -> HllSql,

    "ev_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, value, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM e)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |       count(*) AS n_events,
        |       max(us) - min(us) AS duration_us,
        |       round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_idx""".stripMargin,

    // session_window merges touching windows: only a gap STRICTLY
    // greater than 30 min breaks the session (same > as ev_sessions).
    "ev_sessionwin" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 1000000) AS BIGINT) AS vq,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_us(ts)) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us, vq,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(us) AS start_us,
        |       max(us) + 1800000000 AS end_us,
        |       count(*) AS n_events,
        |       CAST(sum(vq) AS BIGINT) AS sum_value_micro
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // streaming twin: final native session-window state ≡ batch.
    "st_sessionwin" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 1000000) AS BIGINT) AS vq,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_us(ts)) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us, vq,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(us) AS start_us,
        |       max(us) + 1800000000 AS end_us,
        |       count(*) AS n_events,
        |       CAST(sum(vq) AS BIGINT) AS sum_value_micro
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // transformWithState twin: running per-user profile ≡ batch agg.
    "st_userstats" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_value_micro,
        |  max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY 1""".stripMargin,

    "ev_diff" ->
      """WITH a AS (
        |  SELECT user_id AS ua, count(*) AS n_a FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'
        |  GROUP BY 1),
        |b AS (
        |  SELECT user_id AS ub, count(*) AS n_b FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
        |  GROUP BY 1)
        |SELECT coalesce(ua, ub) AS user_id,
        |       coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |       CASE WHEN ua IS NULL THEN 'added'
        |            WHEN ub IS NULL THEN 'dropped'
        |            WHEN n_a = n_b THEN 'same'
        |            ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON ua = ub""".stripMargin,

    "ev_topusers" -> EvTopUsersSql,
    // streaming twin: final running sums ranked by the batch rank half.
    "st_topusers" -> EvTopUsersSql,

    "ev_latest" -> EvLatestSql,
    // streaming twin: compacted CDC changelog final state.
    "st_latest" -> EvLatestSql,

    "ev_dwell" ->
      """WITH g AS (
        |  SELECT event_type,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |                             ORDER BY epoch_us(ts), event_id)
        |      - epoch_us(ts) AS d
        |  FROM events)
        |SELECT event_type, count(*) AS n_dwell,
        |       min(d) AS min_dwell_us, max(d) AS max_dwell_us,
        |       CAST(sum(d) AS BIGINT) AS sum_dwell_us,
        |       CAST(sum(d) AS BIGINT) // count(*) AS avg_dwell_us
        |FROM g WHERE d IS NOT NULL GROUP BY event_type""".stripMargin,

    // Same union+running-last window formulation as the Spark plan, so
    // the at-or-before tie-break (rights sort before lefts at equal us)
    // is mirrored exactly.
    "ev_asof" -> EvAsofSql,
    // streaming twin: identical row set (update-mode emissions union).
    "st_asof" -> EvAsofSql,

    "ev_range" -> EvRangeSql,
    // the naive-join formulation, auto-banded by RangeJoinRewrite —
    // identical rows by construction.
    "ev_range_auto" -> EvRangeSql,

    "ev_funnel" -> EvFunnelSql,
    // streaming twin: final mapGroupsWithState state per user.
    "st_funnel" -> EvFunnelSql,

    // Streaming sessionization: final (= max session_idx) session per
    // user, from the same session CTE as ev_sessions.
    "st_window" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "st_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM e),
        |sess AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |                count(*) AS n_events, max(us) AS last_us
        |         FROM s GROUP BY user_id, session_idx)
        |SELECT user_id, session_idx, n_events, last_us
        |FROM sess
        |QUALIFY session_idx = max(session_idx) OVER (PARTITION BY user_id)"""
        .stripMargin,

    // Streaming interval join: raw (purchase, prior click) match pairs
    // (the batch ev_range aggregates these per purchase).
    "st_range" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT event_id AS r_event_id, user_id, epoch_us(ts) AS r_us,
        |             value AS r_value
        |      FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, l.us, r.r_event_id, r.r_us, r.r_value
        |FROM l JOIN r ON r.user_id = l.user_id
        |  AND r.r_us >= l.us - 3600000000 AND r.r_us < l.us""".stripMargin,

    // Streaming exact dedup: the first-seen (= min doc_id, given the
    // ordered replay) survivor per content digest.
    "st_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // ---- training-data pipeline oracles ----

    "dd_norm" ->
      """WITH nt AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_hash
        |  FROM documents)
        |SELECT doc_id,
        |       min(doc_id) OVER (PARTITION BY norm_hash) AS canonical_id,
        |       norm_hash
        |FROM nt""".stripMargin,

    "tx_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS clean_text
        |FROM documents""".stripMargin,

    "tx_repetition" -> (TokCte +
      """, bg AS (
        |  SELECT doc_id, tk,
        |    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |                   i -> tk[i] || ' ' || tk[i+1]) AS bigrams
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(tk)) AS BIGINT) AS distinct_tokens,
        |  CAST(len(bigrams) AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(bigrams)) AS BIGINT) AS distinct_bigrams,
        |  round(1.0 - len(list_distinct(tk))*1.0 / greatest(len(tk), 1), 6)
        |    AS token_rep_ratio,
        |  round(1.0 - len(list_distinct(bigrams))*1.0 / greatest(len(bigrams), 1), 6)
        |    AS bigram_rep_ratio
        |FROM bg""".stripMargin),

    "dd_exact" ->
      """SELECT doc_id,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |       md5(text) AS content_hash
        |FROM documents""".stripMargin,

    "dd_minhash" -> (ShingleCte +
      """, hx AS (SELECT doc_id,
        |           CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS xv
        |         FROM sh),
        |sigidx AS (SELECT doc_id, xv, unnest(generate_series(0, 31)) AS i FROM hx),
        |msig AS (SELECT doc_id, i, min(((2*i+1)*xv + i*104729) % 2147483647) AS m
        |         FROM sigidx GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, CAST(i/4 AS INT) AS band,
        |            string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
        |          FROM msig GROUP BY doc_id, CAST(i/4 AS INT)),
        |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM bands a JOIN bands b
        |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
        |SELECT j.doc_a, j.doc_b, j.jaccard
        |FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        |WHERE j.jaccard >= 0.5""".stripMargin),

    // dd_minhash's pair pipeline + recursive min-label walk over the pair
    // graph (the cc_components oracle pattern) + left join back to
    // documents for singletons.
    "dd_clusters" -> (DdClustersCore +
      """
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical_id
        |FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id""".stripMargin),

    "dd_keep" -> (DdClustersCore +
      """
        |SELECT coalesce(c.component, d.doc_id) AS doc_id,
        |       count(*) AS cluster_size
        |FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id
        |GROUP BY 1""".stripMargin),

    // Argmax tie-break (score DESC, doc_id ASC) mirrors the struct-max
    // (quality_score, -doc_id) in Dedup.keepBestFromClusters.
    "dd_keep_best" -> (DdClustersCore +
      """,
        |cl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical_id
        |       FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id),
        |pq AS (SELECT d.doc_id,
        |         round(CASE WHEN len(tk) >= 10
        |           THEN round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |                      / greatest(len(tk), 1), 6) * 2.0
        |                - round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |                        / greatest(length(text), 1), 6)
        |           ELSE -1.0 END, 6) AS quality_score
        |       FROM toks JOIN documents d USING (doc_id)),
        |sel AS (SELECT cl.canonical_id, pq.doc_id, pq.quality_score,
        |          row_number() OVER (PARTITION BY cl.canonical_id
        |            ORDER BY pq.quality_score DESC, pq.doc_id) AS rn,
        |          count(*) OVER (PARTITION BY cl.canonical_id) AS n_members
        |        FROM cl JOIN pq USING (doc_id))
        |SELECT canonical_id, n_members, doc_id AS best_doc_id,
        |       quality_score AS best_score
        |FROM sel WHERE rn = 1""".stripMargin),

    "pipe_filter" -> (DdClustersCore +
      """,
        |sv AS (SELECT d.doc_id
        |       FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id
        |       WHERE coalesce(c.component, d.doc_id) = d.doc_id),
        |pq AS (SELECT d.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |         round(CASE WHEN len(tk) >= 10
        |           THEN round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |                      / greatest(len(tk), 1), 6) * 2.0
        |                - round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |                        / greatest(length(text), 1), 6)
        |           ELSE -1.0 END, 6) AS quality_score
        |       FROM toks JOIN documents d USING (doc_id)),
        |sk AS (SELECT doc_id, lang AS stratum,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(CAST(doc_id AS VARCHAR) || ':' || lang, ''),
        |                          c -> CAST(ord(c) AS BIGINT))),
        |           (h, cp) -> (h * 31 + cp) % 1000000007) % 10000 AS bucket
        |       FROM documents),
        |skk AS (SELECT doc_id, stratum FROM sk
        |        WHERE bucket < CASE stratum
        |          WHEN 'en' THEN 10000 WHEN 'es' THEN 5000 WHEN 'fr' THEN 2500
        |          WHEN 'de' THEN 2000 WHEN 'zh' THEN 1000 ELSE 5000 END)
        |SELECT p.doc_id, k.stratum, p.n_tokens, p.quality_score
        |FROM pq p JOIN sv USING (doc_id) JOIN skk k USING (doc_id)
        |WHERE p.quality_score > 0""".stripMargin),

    "pipe_shards" -> (DdClustersCore +
      """,
        |sv AS (SELECT d.doc_id
        |       FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id
        |       WHERE coalesce(c.component, d.doc_id) = d.doc_id),
        |pq AS (SELECT d.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |         round(CASE WHEN len(tk) >= 10
        |           THEN round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |                      / greatest(len(tk), 1), 6) * 2.0
        |                - round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |                        / greatest(length(text), 1), 6)
        |           ELSE -1.0 END, 6) AS quality_score
        |       FROM toks JOIN documents d USING (doc_id)),
        |wt AS (SELECT d.lang AS stratum, p.doc_id, p.n_tokens
        |       FROM pq p JOIN sv USING (doc_id)
        |       JOIN documents d USING (doc_id)
        |       WHERE p.quality_score > 0),
        |cum AS (SELECT stratum, doc_id, n_tokens,
        |          sum(n_tokens) OVER (PARTITION BY stratum ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            - n_tokens AS start_offset
        |        FROM wt)
        |SELECT stratum, doc_id, n_tokens,
        |       CAST(start_offset AS BIGINT) AS start_offset,
        |       CAST(floor(start_offset / 4096.0) AS BIGINT) AS shard
        |FROM cum""".stripMargin),

    "dd_summary" -> (DdClustersCore +
      """,
        |cl AS (SELECT d.doc_id,
        |         coalesce(c.component, d.doc_id) AS canonical_id
        |       FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id),
        |sz AS (SELECT canonical_id, count(*) AS sz FROM cl GROUP BY 1)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
        |       count(*) AS n_clusters,
        |       CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
        |         AS n_docs_in_dup_clusters,
        |       count(*) AS n_keep,
        |       round(CAST(sum(sz) - count(*) AS DOUBLE)
        |             / CAST(sum(sz) AS DOUBLE), 6) AS dup_rate
        |FROM sz""".stripMargin),

    "pipe_search" -> (DdClustersCore +
      """,
        |sv AS (SELECT d.doc_id
        |       FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id
        |       WHERE coalesce(c.component, d.doc_id) = d.doc_id),
        |nv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[]))) AS nrm
        |       FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |      FROM nv WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |         round(list_dot_product(q.qv, c.v)/(q.qn*c.nrm), 6) AS cosine
        |  FROM q JOIN nv c ON q.query_id <> c.vec_id),
        |hits AS (
        |  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
        |  FROM (SELECT query_id, neighbor_id, cosine,
        |          row_number() OVER (PARTITION BY query_id
        |                             ORDER BY cosine DESC, neighbor_id)
        |            AS rank
        |        FROM scored)
        |  WHERE rank <= 5)
        |SELECT h.query_id, h.neighbor_id, h.rank, h.cosine,
        |       d.lang, d.source
        |FROM hits h
        |JOIN sv ON h.neighbor_id = sv.doc_id
        |JOIN documents d ON h.neighbor_id = d.doc_id""".stripMargin),

    "dd_simhash_sig" -> (SimhashCte + "SELECT doc_id, simhash FROM ssig"),

    // Streaming simhash dedup: first-seen (= min doc_id) survivor per
    // 60-bit signature, from the same signature CTE.
    "st_simhash" -> (SimhashCte +
      """SELECT doc_id, simhash FROM ssig
        |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY simhash)"""
        .stripMargin),

    "dd_simhash" -> (SimhashCte +
      """, chunks AS (SELECT doc_id, simhash, c,
        |               (simhash >> (c*15)) % 32768 AS chunk
        |             FROM (SELECT doc_id, simhash,
        |                     CAST(unnest(generate_series(0, 3)) AS INT) AS c
        |                   FROM ssig)),
        |cp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |       FROM chunks a JOIN chunks b
        |         ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cp WHERE hamming <= 3""".stripMargin),

    "dd_ngram" -> (ShingleCte +
      "SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5"),

    "dd_substring" -> (TokCte.stripSuffix("\n") +
      """,
        |winidx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
        |           FROM toks WHERE len(tk) >= 8),
        |win AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
        |               array_to_string(tk[i:i+7], ' ') AS w FROM winidx),
        |dupw AS (SELECT w FROM (SELECT w, count(*) AS nd
        |                        FROM (SELECT DISTINCT doc_id, w FROM win)
        |                        GROUP BY w) WHERE nd >= 2),
        |ds AS (SELECT doc_id, start FROM win JOIN dupw USING (w)),
        |gaps AS (SELECT doc_id,
        |           start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS gap
        |         FROM ds),
        |cov AS (SELECT doc_id, count(*) AS n_dup_windows,
        |          sum(CASE WHEN gap IS NULL THEN 8 ELSE least(gap, 8) END) AS covered
        |        FROM gaps GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |                CAST(greatest(len(tk) - 7, 0) AS BIGINT) AS n_windows
        |         FROM toks)
        |SELECT b.doc_id, b.n_tokens, b.n_windows,
        |  CAST(COALESCE(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
        |  round(COALESCE(c.covered, 0)*1.0 / greatest(b.n_tokens, 1), 6) AS dup_fraction
        |FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id""".stripMargin),

    "tx_decontam" -> TxDecontamSql,
    // streaming twin: stateless scoring, identical rows.
    "st_decontam" -> TxDecontamSql,

    "sim_labelmeans" ->
      """WITH ex AS (SELECT label, embedding,
        |              unnest(generate_series(1, len(embedding))) AS ii
        |            FROM embeddings)
        |SELECT label, CAST(ii - 1 AS BIGINT) AS dim, count(*) AS n_vecs,
        |       round(avg(CAST(embedding[ii] AS DOUBLE)), 6) AS centroid
        |FROM ex GROUP BY 1, 2""".stripMargin,

    "sim_outliers" ->
      """WITH ct AS (
        |  SELECT label, ii,
        |    CAST(round(round(avg(CAST(embedding[ii] AS DOUBLE)), 6)
        |         * 1000000, 0) AS BIGINT) AS qc
        |  FROM (SELECT label, embedding,
        |          unnest(generate_series(1, len(embedding))) AS ii
        |        FROM embeddings)
        |  GROUP BY 1, 2),
        |ev AS (
        |  SELECT vec_id, label, ii,
        |    CAST(round(CAST(embedding[ii] AS DOUBLE) * 1000000, 0)
        |         AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, embedding,
        |          unnest(generate_series(1, len(embedding))) AS ii
        |        FROM embeddings)),
        |sc AS (
        |  SELECT vec_id, e.label,
        |    sum(qv * qc) AS dot, sum(qv * qv) AS nv, sum(qc * qc) AS nc
        |  FROM ev e JOIN ct ON e.label = ct.label AND e.ii = ct.ii
        |  GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  CASE WHEN nv = 0 OR nc = 0 THEN NULL
        |       ELSE round(CAST(dot AS DOUBLE) /
        |            (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6)
        |  END AS cos_to_centroid,
        |  CAST(CASE WHEN nv > 0 AND nc > 0 AND
        |            round(CAST(dot AS DOUBLE) /
        |            (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6)
        |            < 0.1 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        |FROM sc""".stripMargin,

    "tx_quality_pcts" -> (TokCte.stripSuffix("\n") +
      """,
        |qs AS (SELECT d.doc_id, d.lang AS stratum,
        |         round(CASE WHEN len(tk) >= 10
        |           THEN round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |                      / greatest(len(tk), 1), 6) * 2.0
        |                - round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |                        / greatest(length(text), 1), 6)
        |           ELSE -1.0 END, 6) AS q
        |       FROM toks JOIN documents d USING (doc_id)),
        |qm AS (SELECT stratum, CAST(round(q * 1000000, 0) AS BIGINT) AS v
        |       FROM qs),
        |st AS (SELECT stratum, count(*) AS n FROM qm GROUP BY stratum),
        |rk AS (SELECT stratum, v,
        |         row_number() OVER (PARTITION BY stratum ORDER BY v) - 1
        |           AS rnk
        |       FROM qm),
        |sel AS (SELECT r.stratum,
        |    max(CASE WHEN rnk = (n-1)//4 THEN v END) AS v1lo,
        |    max(CASE WHEN rnk = (n-1)//4
        |          + CASE WHEN (n-1)%4 > 0 THEN 1 ELSE 0 END
        |        THEN v END) AS v1hi,
        |    max(CASE WHEN rnk = (2*(n-1))//4 THEN v END) AS v2lo,
        |    max(CASE WHEN rnk = (2*(n-1))//4
        |          + CASE WHEN (2*(n-1))%4 > 0 THEN 1 ELSE 0 END
        |        THEN v END) AS v2hi,
        |    max(CASE WHEN rnk = (3*(n-1))//4 THEN v END) AS v3lo,
        |    max(CASE WHEN rnk = (3*(n-1))//4
        |          + CASE WHEN (3*(n-1))%4 > 0 THEN 1 ELSE 0 END
        |        THEN v END) AS v3hi
        |  FROM rk r JOIN st USING (stratum) GROUP BY r.stratum)
        |SELECT s.stratum, s.n AS n_docs,
        |  ((4 - (s.n-1)%4) * v1lo + ((s.n-1)%4) * v1hi)
        |    / 4000000.0 AS q25,
        |  ((4 - (2*(s.n-1))%4) * v2lo + ((2*(s.n-1))%4) * v2hi)
        |    / 4000000.0 AS q50,
        |  ((4 - (3*(s.n-1))%4) * v3lo + ((3*(s.n-1))%4) * v3hi)
        |    / 4000000.0 AS q75
        |FROM st s JOIN sel USING (stratum)""".stripMargin),

    "tx_perplexity" -> (TokCte.stripSuffix("\n") +
      """,
        |bg AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        |  FROM toks,
        |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(-sum(ln(CAST(cb AS DOUBLE)/cc))/count(*), 6)
        |         AS cross_entropy_nats
        |FROM bg JOIN cb USING (w1, w2) JOIN cc USING (w1)
        |GROUP BY doc_id""".stripMargin),

    "tx_ngramstats" -> (TokCte.stripSuffix("\n") +
      """,
        |grams AS (
        |  SELECT n, array_to_string(tk[i : i + CAST(n AS INT) - 1], ' ') AS gram
        |  FROM (SELECT tk, n,
        |          unnest(generate_series(1, len(tk) - CAST(n AS INT) + 1)) AS i
        |        FROM toks CROSS JOIN
        |             (SELECT unnest(generate_series(1, 3)) AS n))),
        |cnt AS (SELECT n, gram, count(*) AS c FROM grams GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n, count(*) AS n_types,
        |       CAST(sum(c) AS BIGINT) AS n_occurrences,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |FROM cnt GROUP BY 1""".stripMargin),

    // Every CMS cell is the exact sum of counts of the tokens hashing
    // into it — rebuilt relationally from the same polyhash the Spark
    // aggregate pins, so the sketch estimates carry a full oracle.
    "tx_cms" -> TxCmsSql,
    // streaming twin: batching-invariant grid merge ⇒ same estimates.
    "st_cms" -> TxCmsSql,

    "tx_vocab" -> (TokCte.stripSuffix("\n") +
      """,
        |tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
        |vagg AS (SELECT token, count(DISTINCT doc_id) AS n_docs,
        |                count(*) AS n_occurrences
        |         FROM tok GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT)
        |         AS rank,
        |       token, n_docs, n_occurrences
        |FROM vagg ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin),

    // Threshold = integer cross-multiplication (θ = 1/500), NOT
    // ceil(0.002·N): the double product rounds up at exact multiples
    // while decimal engines don't — the rational form is engine-exact.
    "tx_heavyhitters" -> (TokCte.stripSuffix("\n") +
      """,
        |tok AS (SELECT unnest(tk) AS token FROM toks),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS n_occurrences,
        |       round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS share
        |FROM tok GROUP BY token
        |HAVING count(*) * 500 >= (SELECT n FROM tot)""".stripMargin),

    "tx_stats" -> (TokCte.stripSuffix("\n") +
      """,
        |pd AS (SELECT d.doc_id, d.source, d.lang,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         CAST(len(tk) AS BIGINT) AS n_tokens,
        |         CAST(round(round(CASE WHEN len(tk) >= 10
        |           THEN round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |                      / greatest(len(tk), 1), 6) * 2.0
        |                - round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |                        / greatest(length(text), 1), 6)
        |           ELSE -1.0 END, 6) * 1000000, 0) AS BIGINT) AS qm
        |       FROM toks JOIN documents d USING (doc_id)),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |        CAST(sum(qm) AS BIGINT) AS sum_qm
        |      FROM pd GROUP BY source, lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS ct FROM g)
        |SELECT source, lang, n_docs, n_chars, n_tokens,
        |       round(sum_qm / (n_docs * 1000000.0), 6) AS mean_quality,
        |       round(n_tokens * 1.0 / (SELECT ct FROM tot), 6) AS token_share
        |FROM g""".stripMargin),

    "tx_pmi" -> (TokCte.stripSuffix("\n") +
      """,
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |       FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
        |             FROM toks WHERE len(tk) >= 2)),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |m1 AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
        |m2 AS (SELECT w2, sum(c12) AS c2 FROM bc GROUP BY w2),
        |nt AS (SELECT sum(c12) AS n_bigrams FROM bc)
        |SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
        |       CAST(c2 AS BIGINT) AS c2,
        |       round(ln(c12 * 1.0 * n_bigrams / (c1 * 1.0 * c2)), 6)
        |         AS pmi
        |FROM bc JOIN m1 USING (w1) JOIN m2 USING (w2)
        |CROSS JOIN nt
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin),

    "tx_bigram_lm" -> (TokCte.stripSuffix("\n") +
      """,
        |bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        |       FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
        |             FROM toks WHERE len(tk) >= 2)),
        |bcounts AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |wc AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1
        |       FROM bcounts)
        |SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
        |       round(c12*1.0/c1, 6) AS p_cond
        |FROM wc WHERE c12 >= 5""".stripMargin),

    "mix_upsample" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS stratum,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(
        |        CAST(doc_id AS VARCHAR) || ':' || lang || '#up', ''),
        |        c -> CAST(ord(c) AS BIGINT))),
        |      (h, cp) -> (h * 31 + cp) % 1000000007) % 10000 AS b
        |  FROM documents),
        |c AS (SELECT stratum, count(*) AS n FROM s GROUP BY 1)
        |SELECT doc_id, s.stratum,
        |  CAST(q // n + CASE WHEN b < ((q % n) * 10000) // n
        |       THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
        |FROM (SELECT *, CASE stratum
        |        WHEN 'en' THEN 100 WHEN 'es' THEN 300 WHEN 'fr' THEN 500
        |        WHEN 'de' THEN 800 WHEN 'zh' THEN 1000 ELSE 200 END AS q
        |      FROM s) s
        |JOIN c ON s.stratum = c.stratum""".stripMargin,

    "mix_sample" ->
      """SELECT doc_id, stratum, bucket,
        |  CAST(CASE WHEN bucket < CASE stratum
        |         WHEN 'en' THEN 10000 WHEN 'es' THEN 5000 WHEN 'fr' THEN 2500
        |         WHEN 'de' THEN 2000 WHEN 'zh' THEN 1000 ELSE 5000 END
        |       THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM (SELECT doc_id, lang AS stratum,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(CAST(doc_id AS VARCHAR) || ':' || lang, ''),
        |                   c -> CAST(ord(c) AS BIGINT))),
        |    (h, cp) -> (h * 31 + cp) % 1000000007) % 10000 AS bucket
        |  FROM documents)""".stripMargin,

    "mix_topk" ->
      """SELECT stratum, doc_id, bucket, rk FROM (
        |  SELECT stratum, doc_id, bucket,
        |    CAST(row_number() OVER (PARTITION BY stratum
        |                            ORDER BY bucket, doc_id) AS BIGINT) AS rk
        |  FROM (SELECT doc_id, lang AS stratum,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(doc_id AS VARCHAR) || ':' || lang, ''),
        |                     c -> CAST(ord(c) AS BIGINT))),
        |      (h, cp) -> (h * 31 + cp) % 1000000007) % 10000 AS bucket
        |    FROM documents))
        |WHERE rk <= 5""".stripMargin,

    "mix_weights" -> (TokCte.stripSuffix("\n") +
      """,
        |per AS (SELECT d.source AS stratum, count(*) AS n_docs,
        |               sum(len(t.tk)) AS n_tokens
        |        FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source),
        |tot AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_strata FROM per)
        |SELECT stratum, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(least(1.0, total_tokens*1.0/(n_strata*n_tokens)), 6) AS sample_weight,
        |  CAST(floor(round(least(1.0, total_tokens*1.0/(n_strata*n_tokens)), 6)
        |             * n_tokens) AS BIGINT) AS expected_tokens
        |FROM per, tot""".stripMargin),

    "mix_pack" -> (TokCte.stripSuffix("\n") +
      """,
        |wt AS (SELECT d.source AS stratum, d.doc_id, len(t.tk) AS n_tokens
        |       FROM toks t JOIN documents d USING (doc_id)),
        |cum AS (SELECT stratum, doc_id, n_tokens,
        |          sum(n_tokens) OVER (PARTITION BY stratum ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            - n_tokens AS start_offset
        |        FROM wt)
        |SELECT stratum, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(start_offset AS BIGINT) AS start_offset,
        |       CAST(floor(start_offset / 2048.0) AS BIGINT) AS shard
        |FROM cum""".stripMargin),

    // Bucket = integer bit length (digits of the base-2 rendering − 1),
    // mirrored as Spark `conv(n,10,2)` / DuckDB `to_base(n,2)` — no
    // floating log2 on either side.
    "mix_hist" -> (TokCte.stripSuffix("\n") +
      """,
        |b AS (SELECT CAST(length(to_base(len(tk), 2)) - 1 AS BIGINT) AS bucket,
        |        CAST(len(tk) AS BIGINT) AS n
        |      FROM toks)
        |SELECT bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       min(n) AS min_tokens, max(n) AS max_tokens
        |FROM b GROUP BY bucket""".stripMargin),

    // lcm(4,2,2,1,1)=4: en stride 1, es/fr 2, de/zh (and unknowns) 4.
    "mix_interleave" ->
      """WITH r AS (
        |  SELECT lang AS stratum, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1
        |           AS rank_in_stratum
        |  FROM documents)
        |SELECT stratum, doc_id,
        |       CAST(rank_in_stratum AS BIGINT) AS rank_in_stratum,
        |       CAST((2*rank_in_stratum + 1) *
        |            (CASE stratum WHEN 'en' THEN 1 WHEN 'es' THEN 2
        |                          WHEN 'fr' THEN 2 ELSE 4 END) AS BIGINT)
        |         AS interleave_key
        |FROM r""".stripMargin,

    // Same bucket stream as mix_split + dd_norm's digest; the leakage
    // count is a distinct-ed digest semi-probe.
    "mix_leakage" ->
      """WITH a AS (
        |  SELECT doc_id, lang AS stratum,
        |    CASE WHEN bucket < 9000 THEN 'train'
        |         WHEN bucket < 9500 THEN 'val' ELSE 'test' END AS split,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h
        |  FROM (SELECT doc_id, lang, text,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(
        |          CAST(doc_id AS VARCHAR) || ':' || lang || '#split', ''),
        |        c -> CAST(ord(c) AS BIGINT))),
        |      (h, cp) -> (h * 31 + cp) % 1000000007) % 10000 AS bucket
        |    FROM documents)),
        |t AS (SELECT DISTINCT h FROM a WHERE split = 'train')
        |SELECT a.split, a.stratum, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_leaked
        |FROM a LEFT JOIN t ON a.h = t.h
        |WHERE a.split <> 'train'
        |GROUP BY a.split, a.stratum""".stripMargin,

    "mix_split" ->
      """SELECT doc_id, stratum, bucket,
        |  CASE WHEN bucket < 9000 THEN 'train'
        |       WHEN bucket < 9500 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang AS stratum,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(
        |        CAST(doc_id AS VARCHAR) || ':' || lang || '#split', ''),
        |      c -> CAST(ord(c) AS BIGINT))),
        |    (h, cp) -> (h * 31 + cp) % 1000000007) % 10000 AS bucket
        |  FROM documents)""".stripMargin,

    // Decimal mirrors of the relational family: every money aggregate
    // runs in exact decimal (or scaled-integer) arithmetic on both
    // engines; DOUBLE appears only as the final rendering cast.
    "rel_pricing" ->
      """WITH l AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS b,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(24,4)) AS dp,
        |    CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS t1
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(q) AS DOUBLE) AS sum_qty,
        |  CAST(sum(b) AS DOUBLE) AS sum_base,
        |  CAST(sum(dp) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(dp * t1 AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS n_rows
        |FROM l GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "rel_regionrev" ->
      """WITH rev AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(24,4))) AS DECIMAL(34,4)) AS order_rev
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT r_name AS region, n_name AS nation,
        |  CAST(sum(order_rev) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM rev
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name""".stripMargin,

    "rel_toporders" ->
      """WITH rev AS (
        |  SELECT l_orderkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |        (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |                    AS BIGINT))) AS rs
        |  FROM lineitem GROUP BY l_orderkey),
        |rk AS (
        |  SELECT c_mktsegment AS mktsegment, o_orderkey, rs,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY rs DESC, o_orderkey) AS rk
        |  FROM rev JOIN orders ON l_orderkey = o_orderkey
        |           JOIN customer ON o_custkey = c_custkey)
        |SELECT mktsegment, o_orderkey, rs / 10000.0 AS revenue,
        |       CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 10""".stripMargin,

    "rel_orderprio" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount >= 0.05)
        |GROUP BY o_orderpriority""".stripMargin,

    "rel_custdist" ->
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM pc GROUP BY c_count""".stripMargin,

    "rel_returned" ->
      """WITH rev AS (
        |  SELECT l_orderkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |        (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |                    AS BIGINT))) AS order_rev
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey),
        |pc AS (
        |  SELECT o_custkey, sum(order_rev) AS rs, count(*) AS n_orders
        |  FROM rev JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, n_name AS nation,
        |  rs / 10000.0 AS revenue, n_orders
        |FROM pc JOIN customer ON o_custkey = c_custkey
        |        JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY rs DESC, c_custkey LIMIT 20""".stripMargin,

    "rel_promoshare" ->
      """WITH j AS (
        |  SELECT date_trunc('month', l_shipdate) AS ship_month,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(24,4)) AS dp,
        |    (p_type = 'PROMO') AS is_promo
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT ship_month,
        |  CAST(CAST(sum(CASE WHEN is_promo THEN dp
        |                     ELSE CAST(0 AS DECIMAL(24,4)) END)
        |       AS DECIMAL(34,4)) AS DOUBLE) AS promo_rev,
        |  CAST(CAST(sum(dp) AS DECIMAL(34,4)) AS DOUBLE) AS total_rev,
        |  round(CAST(CAST(sum(CASE WHEN is_promo THEN dp
        |                           ELSE CAST(0 AS DECIMAL(24,4)) END)
        |             AS DECIMAL(34,4)) AS DOUBLE) /
        |        CAST(CAST(sum(dp) AS DECIMAL(34,4)) AS DOUBLE) * 100.0, 6)
        |    AS promo_share_pct,
        |  count(*) AS n_lines
        |FROM j GROUP BY ship_month""".stripMargin,

    "rel_topsupplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |        (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |                    AS BIGINT))) AS rs
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-07-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rs / 10000.0 AS total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rs = (SELECT max(rs) FROM r)""".stripMargin,

    "rel_marketshare" ->
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |cin AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |j AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |    supp_nation,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(24,4)) AS dp
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  JOIN sn ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cin ON o_custkey = c_custkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT order_year,
        |  CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN dp
        |                     ELSE CAST(0 AS DECIMAL(24,4)) END)
        |       AS DECIMAL(34,4)) AS DOUBLE) AS target_rev,
        |  CAST(CAST(sum(dp) AS DECIMAL(34,4)) AS DOUBLE) AS total_rev,
        |  round(CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN dp
        |                           ELSE CAST(0 AS DECIMAL(24,4)) END)
        |             AS DECIMAL(34,4)) AS DOUBLE) /
        |        CAST(CAST(sum(dp) AS DECIMAL(34,4)) AS DOUBLE) * 100.0, 6)
        |    AS mkt_share_pct,
        |  count(*) AS n_lines
        |FROM j GROUP BY order_year""".stripMargin,

    "ev_audience" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       count(*) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id
        |WHERE a.event_type <= b.event_type
        |GROUP BY 1, 2""".stripMargin,

    "ev_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  epoch_us(ts) AS us FROM events),
        |p AS (SELECT event_id AS conv_id, user_id, us FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, us AS c_us FROM e
        |      WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT p.conv_id, c.click_id, c.user_id, c.c_us
        |  FROM p JOIN c ON p.user_id = c.user_id
        |   AND c.c_us >= p.us - 3600000000 AND c.c_us < p.us),
        |sized AS (
        |  SELECT conv_id, click_id, user_id,
        |    count(*) OVER (PARTITION BY conv_id) AS n,
        |    row_number() OVER (PARTITION BY conv_id
        |                       ORDER BY c_us DESC, click_id DESC) AS rn
        |  FROM pairs)
        |SELECT click_id AS event_id, user_id, count(*) AS n_conversions,
        |  CAST(sum(1000000 // n + CASE WHEN rn = 1 THEN 1000000 % n
        |                               ELSE 0 END) AS BIGINT) AS credit_micros
        |FROM sized GROUP BY 1, 2""".stripMargin,

    "ev_sessionstats" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM e),
        |ses AS (
        |  SELECT user_id, session_idx, count(*) AS n_events,
        |         max(us) - min(us) AS duration_us
        |  FROM s GROUP BY user_id, session_idx)
        |SELECT n_events, count(*) AS n_sessions,
        |       CAST(sum(duration_us) AS BIGINT) AS sum_duration_us,
        |       max(duration_us) AS max_duration_us
        |FROM ses GROUP BY n_events""".stripMargin,

    "rel_discount" ->
      """SELECT CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(24,4)))
        |       AS DECIMAL(34,4)) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND CAST(l_discount AS DECIMAL(18,2)) >= 0.05
        |  AND CAST(l_discount AS DECIMAL(18,2)) <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "rel_bigorders" ->
      """WITH q AS (
        |  SELECT l_orderkey,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS qty_scaled
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) > 15000)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  qty_scaled / 100.0 AS sum_qty
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |ORDER BY qty_scaled DESC, o_orderkey LIMIT 100""".stripMargin,

    "rel_volume" ->
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT supp_nation, cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |       AS DECIMAL(24,4))) AS DECIMAL(34,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN sn ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN cn ON o_custkey = c_custkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND supp_nation <> cust_nation
        |GROUP BY 1, 2, 3""".stripMargin,

    "rel_smallqty" ->
      """WITH pp AS (
        |  SELECT l_partkey AS pk,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS sum_qs,
        |    count(*) AS n_part
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       AS DECIMAL(34,2)) AS DOUBLE) AS total_extprice,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       AS DECIMAL(34,2)) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pp ON l_partkey = pk
        |WHERE p_brand = 'Brand#3'
        |  AND CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * n_part * 5 < 1 * sum_qs""".stripMargin,

    "rel_brandrev" ->
      """SELECT
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |       AS DECIMAL(24,4))) AS DECIMAL(34,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         BETWEEN 100 AND 2000)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         BETWEEN 1000 AND 3000)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         BETWEEN 2000 AND 4000)""".stripMargin,

    "rel_partprofit" ->
      """SELECT n_name AS nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
        |       AS DECIMAL(24,4))) AS DECIMAL(34,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,

    "rel_partsuppliers" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ls
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1,5,9,13,17,21,25,29,33,37)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "rel_dormant" ->
      """WITH pos AS (
        |  SELECT sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS sum_pos,
        |         count(*) AS n_pos
        |  FROM customer
        |  WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 0)
        |SELECT n_name AS nation, count(*) AS n_custs,
        |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS DOUBLE) / 100.0 AS total_acctbal
        |FROM customer
        |CROSS JOIN pos
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * n_pos > sum_pos
        |  AND c_custkey NOT IN
        |      (SELECT o_custkey FROM orders
        |       WHERE o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY 1""".stripMargin,

    "rel_skewcount" ->
      """SELECT o_orderstatus, count(*) AS count
        |FROM orders GROUP BY 1""".stripMargin,

    "rel_rollup" ->
      """SELECT r_name AS region, n_name AS nation,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |       AS DECIMAL(34,2)) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders,
        |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "rel_pivot" ->
      """SELECT date_trunc('month', o_orderdate) AS order_month,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'F'
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DECIMAL(34,2)) AS DOUBLE) AS rev_f,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'O'
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DECIMAL(34,2)) AS DOUBLE) AS rev_o,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'P'
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DECIMAL(34,2)) AS DOUBLE) AS rev_p
        |FROM orders GROUP BY 1""".stripMargin,

    "rel_colprofile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(v) AS n_nonnull, count(DISTINCT v) AS n_distinct,
           |  CAST(min(v) AS DOUBLE) AS min_v,
           |  CAST(max(v) AS DOUBLE) AS max_v,
           |  CAST(CAST(sum(v) AS DECIMAL(34,2)) AS DOUBLE) AS sum_v
           |FROM (SELECT CAST($c AS DECIMAL(18,2)) AS v FROM lineitem)"""
          .stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString("\nUNION ALL\n")
    },

    "rel_latesupplier" ->
      """WITH lines AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
        |  WHERE l_orderkey IN
        |        (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
        |po AS (
        |  SELECT l_orderkey AS ok, max(l_shipdate) AS mx,
        |         count(DISTINCT l_suppkey) AS nsupp
        |  FROM lines GROUP BY 1),
        |sole AS (
        |  SELECT l.l_orderkey, max(l.l_suppkey) AS the_supp
        |  FROM lines l
        |  JOIN po ON l.l_orderkey = po.ok AND l.l_shipdate = po.mx
        |  WHERE po.nsupp > 1
        |  GROUP BY 1 HAVING count(DISTINCT l.l_suppkey) = 1)
        |SELECT s_suppkey, s_name, count(*) AS n_waiting
        |FROM sole JOIN supplier ON the_supp = s_suppkey
        |GROUP BY 1, 2
        |ORDER BY n_waiting DESC, s_suppkey LIMIT 100""".stripMargin,

    "dd_sourcesim" -> (TokCte.stripSuffix("\n") +
      """,
        |shidx AS (SELECT doc_id, tk,
        |            unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
        |          FROM toks),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
        |       FROM shidx),
        |ss AS (SELECT DISTINCT sh.shingle, d.source
        |       FROM sh JOIN documents d USING (doc_id)),
        |ssz AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
        |cmn AS (SELECT a.source AS source_a, b.source AS source_b,
        |          count(*) AS n_common
        |        FROM ss a JOIN ss b
        |          ON a.shingle = b.shingle AND a.source < b.source
        |        GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common, na.n AS na, nb.n AS nb,
        |  round(CAST(n_common AS DOUBLE)/(na.n + nb.n - n_common), 6)
        |    AS jaccard
        |FROM cmn JOIN ssz na ON source_a = na.source
        |         JOIN ssz nb ON source_b = nb.source""".stripMargin),

    "dd_overlap" -> (DdClustersCore +
      """,
        |cl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical_id
        |       FROM documents d LEFT JOIN comp c ON c.vertex = d.doc_id),
        |m AS (SELECT cl.canonical_id, d.source, count(*) AS n
        |      FROM cl JOIN documents d USING (doc_id) GROUP BY 1, 2)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       count(*) AS n_shared
        |FROM m a JOIN m b USING (canonical_id)
        |WHERE a.source < b.source
        |   OR (a.source = b.source AND a.n >= 2)
        |GROUP BY 1, 2""".stripMargin),

    "sim_knn" -> (EmbCte +
      """, scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6) AS cosine
        |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
        |FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |WHERE rank <= 3""".stripMargin),

    "gr_degdist" -> (GraphCte +
      """, deg AS (SELECT src, count(*) AS degree FROM clean GROUP BY src)
        |SELECT CAST(length(to_base(degree, 2)) - 1 AS BIGINT) AS bucket,
        |       count(*) AS n_vertices, CAST(sum(degree) AS BIGINT) AS sum_degree,
        |       min(degree) AS min_degree, max(degree) AS max_degree
        |FROM deg GROUP BY bucket""".stripMargin),

    "gr_assort" -> (GraphCte +
      """, deg AS (SELECT src AS vertex, count(*) AS degree
        |           FROM clean GROUP BY src)
        |SELECT count(*) AS n_edges,
        |       CAST(sum(ds.degree) AS BIGINT) AS sum_d,
        |       CAST(sum(ds.degree * ds.degree) AS BIGINT) AS sum_d2,
        |       CAST(sum(ds.degree * dd.degree) AS BIGINT) AS sum_dxdy
        |FROM clean e
        |JOIN deg ds ON e.src = ds.vertex
        |JOIN deg dd ON e.dst = dd.vertex""".stripMargin),

    "ev_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |wau AS (
        |  SELECT b.day, count(*) AS wau7 FROM (
        |    SELECT DISTINCT u.user_id, u.day + o.o AS day
        |    FROM ud u CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS o) o) b
        |  GROUP BY b.day)
        |SELECT d.day, d.dau, w.wau7 FROM dau d JOIN wau w ON d.day = w.day""".stripMargin,

    "ev_rfm" -> EvRfmSql,

    // final update-mode state ≡ the batch profile
    "st_rfm" -> EvRfmSql,

    "tx_bpe" -> BpeSql,

    "tx_bpe_encode" -> BpeEncodeSql,

    "tx_tfidf" -> (TokCte.stripSuffix("\n") +
      """,
        |tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM tok GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_corpus FROM documents),
        |sc AS (SELECT doc_id, token, tf, df,
        |         round(tf * ln(n_corpus * 1.0 / df), 6) AS score
        |       FROM tf JOIN dfq USING (token), nd),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, tf DESC, df, token) AS BIGINT) AS rk
        |       FROM sc)
        |SELECT doc_id, token, tf, df, score, rk FROM rk WHERE rk <= 3""".stripMargin),

    "tx_entropy" -> (TokCte.stripSuffix("\n") +
      """,
        |tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
        |tc AS (SELECT doc_id, token, count(*) AS c
        |       FROM tok GROUP BY doc_id, token)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       count(*) AS n_types,
        |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |FROM tc GROUP BY doc_id""".stripMargin),

    "tx_chunks" -> (TokCte.stripSuffix("\n") +
      """,
        |base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok
        |         FROM toks WHERE len(tk) > 0),
        |ch AS (SELECT doc_id, tk, n_tok,
        |         unnest(generate_series(0,
        |           CAST((greatest(n_tok - 64, 0) + 47) // 48 AS BIGINT)))
        |           AS chunk_idx
        |       FROM base)
        |SELECT doc_id, chunk_idx,
        |       chunk_idx * 48 + 1 AS start_tok,
        |       least(64, n_tok - chunk_idx * 48) AS n_chunk_tokens,
        |       array_to_string(tk[chunk_idx * 48 + 1 :
        |         chunk_idx * 48 + least(64, n_tok - chunk_idx * 48)], ' ')
        |         AS chunk_text
        |FROM ch""".stripMargin),

    "sim_quantize" -> SimQuantizeSql,

    // the streaming twin is a stateless narrow map — emissions ≡ batch
    "st_quantize" -> SimQuantizeSql,

    // Mirrors covarianceMoments exactly: one micro-unit quantization
    // (double round, ties away from zero on both engines), then exact
    // integer/decimal moments rendered by constant division.
    "sim_cov" ->
      """WITH e AS (SELECT vec_id,
        |             unnest(generate_series(1, len(embedding))) AS ii,
        |             embedding
        |           FROM embeddings),
        |x AS (SELECT vec_id, ii AS i,
        |             CAST(round(CAST(embedding[ii] AS DOUBLE) * 1000000.0)
        |                  AS BIGINT) AS q
        |      FROM e),
        |s AS (SELECT i, sum(CAST(q AS DECIMAL(38,0))) AS sx
        |      FROM x GROUP BY i),
        |p AS (SELECT a.i AS i, b.i AS j,
        |             sum(CAST(a.q * b.q AS DECIMAL(38,0))) AS sxy,
        |             count(*) AS n
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |      GROUP BY a.i, b.i)
        |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j, n,
        |       CAST(si.sx AS DOUBLE) / 1e6 AS s_x,
        |       CAST(sj.sx AS DOUBLE) / 1e6 AS s_y,
        |       CAST(p.sxy AS DOUBLE) / 1e12 AS s_xy
        |FROM p JOIN s si ON p.i = si.i JOIN s sj ON p.j = sj.i""".stripMargin,

    "dd_embedding" -> (EmbCte +
      """SELECT * FROM (
        |  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |         round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6) AS cosine
        |  FROM nv a JOIN nv b ON a.vec_id < b.vec_id)
        |WHERE cosine >= 0.3""".stripMargin),

    // dd_embedding's pair predicate + the recursive min-label walk of
    // the dd_clusters oracle, with singleton left-join fallback.
    "sim_semdedup" -> (EmbCte.replaceFirst("WITH ", "WITH RECURSIVE ")
      .stripSuffix("\n") +
      """, ep AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6) >= 0.3),
        |eedges AS (SELECT src, dst FROM ep UNION ALL SELECT dst, src FROM ep),
        |ewalk(vertex, lab) AS (
        |  SELECT DISTINCT src, src FROM eedges
        |  UNION
        |  SELECT e.dst, w.lab FROM ewalk w JOIN eedges e ON e.src = w.vertex),
        |comp AS (SELECT vertex, min(lab) AS component FROM ewalk GROUP BY vertex)
        |SELECT e.vec_id, coalesce(c.component, e.vec_id) AS canonical_id
        |FROM embeddings e LEFT JOIN comp c ON c.vertex = e.vec_id""".stripMargin),

    "sim_brute" -> SimBruteSql,

    // the streaming twin's emissions are defined ≡ sim_brute's rows
    "st_ann" -> SimBruteSql,

    "sim_ivf" -> (EmbCte +
      """, cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM nv WHERE vec_id < 16),
        |""".stripMargin + IvfServeSql),

    // Both top-k pipelines rebuilt as CTE chains (ivf = the sim_ivf
    // oracle, brute = the sim_brute oracle), joined per query.
    "sim_recall" -> (EmbCte +
      """, cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM nv WHERE vec_id < 16),
        |ac AS (SELECT nv.vec_id, cent.centroid_id,
        |         round(list_dot_product(nv.v, cent.cv)/(nv.nrm*cent.cn), 6) AS cc
        |       FROM nv CROSS JOIN cent),
        |assign AS (SELECT vec_id, centroid_id FROM (
        |             SELECT vec_id, centroid_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY cc DESC, centroid_id) AS rn
        |             FROM ac) WHERE rn = 1),
        |probes AS (SELECT query_id, centroid_id FROM (
        |             SELECT vec_id AS query_id, centroid_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY cc DESC, centroid_id) AS rn
        |             FROM ac WHERE vec_id < 10) WHERE rn <= 4),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < 10),
        |iscored AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |         round(list_dot_product(q.qv, c.v)/(q.qn*c.nrm), 6) AS cosine
        |  FROM nv c JOIN assign a ON c.vec_id = a.vec_id
        |  JOIN probes p ON a.centroid_id = p.centroid_id
        |  JOIN q ON q.query_id = p.query_id
        |  WHERE p.query_id <> c.vec_id),
        |iv AS (SELECT query_id, neighbor_id FROM (
        |         SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY cosine DESC, neighbor_id) AS rank
        |         FROM iscored) WHERE rank <= 5),
        |bscored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |         round(list_dot_product(q.qv, c.v)/(q.qn*c.nrm), 6) AS cosine
        |  FROM q JOIN nv c ON q.query_id <> c.vec_id),
        |bt AS (SELECT query_id, neighbor_id FROM (
        |         SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY cosine DESC, neighbor_id) AS rank
        |         FROM bscored) WHERE rank <= 5)
        |SELECT b.query_id,
        |  CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
        |  count(*) AS n_exact,
        |  round(CAST(count(i.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
        |FROM bt b LEFT JOIN iv i ON b.query_id = i.query_id
        |                        AND b.neighbor_id = i.neighbor_id
        |GROUP BY b.query_id""".stripMargin),

    "sim_pq" -> (EmbCte +
      """, mk AS (SELECT m, j FROM (SELECT unnest(generate_series(0, 7)) AS m),
        |               (SELECT unnest(generate_series(1, 16)) AS j)),
        |cb AS (SELECT mk.m, mk.j, nv.v[mk.m*8+1 : mk.m*8+8] AS cw
        |       FROM mk JOIN nv ON nv.vec_id = mk.j - 1),
        |cb2 AS (SELECT m, j, cw, list_dot_product(cw, cw) AS cwn2 FROM cb),
        |""".stripMargin + PqServeSql),

    "tx_langid" -> LangIdSql,

    "tx_confusion" -> ("WITH p AS (" + LangIdSql + """)
        |SELECT d.lang, p.lang_pred, count(*) AS n
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY 1, 2""".stripMargin),


    "tx_quality" -> (TokCte +
      """SELECT d.doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  round(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)*1.0
        |        / greatest(len(tk), 1), 6) AS avg_token_len,
        |  round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |        / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |        / greatest(len(tk), 1), 6) AS stopword_ratio,
        |  round(CASE WHEN len(tk) >= 10
        |    THEN round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))*1.0
        |               / greatest(len(tk), 1), 6) * 2.0
        |         - round(len(regexp_extract_all(text, '[.,;:!?]'))*1.0
        |                 / greatest(length(text), 1), 6)
        |    ELSE -1.0 END, 6) AS quality_score
        |FROM toks JOIN documents d USING (doc_id)""".stripMargin),

    "tx_tokens" -> (TokCte +
      """SELECT d.doc_id,
        |  CAST(len(tk) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        |    AS bpe_ish_tokens
        |FROM toks JOIN documents d USING (doc_id)""".stripMargin),

    "tx_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
        |    (h, cp) -> (h * 31 + cp) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,

    "tx_winnow" -> (WinnowCte + "SELECT doc_id, fingerprint FROM wfp"),

    "dd_winnow" -> (WinnowCte.stripSuffix("\n") +
      """,
        |hot AS (SELECT fingerprint FROM wfp
        |        GROUP BY fingerprint HAVING count(*) > 100),
        |idx AS (SELECT doc_id, fingerprint FROM wfp
        |        WHERE fingerprint NOT IN (SELECT fingerprint FROM hot))
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |       count(*) AS n_shared
        |FROM idx a JOIN idx b
        |  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 2""".stripMargin),

    "tx_oov" -> (TokCte.stripSuffix("\n") +
      """,
        |vl AS (SELECT list(token) AS vlist FROM (
        |         SELECT token
        |         FROM (SELECT unnest(tk) AS token FROM toks)
        |         GROUP BY token ORDER BY count(*) DESC, token LIMIT 100))
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(tk, t -> NOT list_contains(vlist, t)))
        |    AS BIGINT) AS n_oov,
        |  round(CAST(len(list_filter(tk, t -> NOT list_contains(vlist, t)))
        |          AS DOUBLE) / greatest(len(tk), 1), 6) AS oov_ratio
        |FROM toks, vl""".stripMargin),

    "mm_decode" -> (MmDecodeCte + "SELECT * FROM dec"),

    "mm_resize" -> (MmDecodeCte +
      """SELECT media_id,
        |  CAST(greatest(floor(width/2.0), 1) AS INT) AS width,
        |  CAST(greatest(floor(height/2.0), 1) AS INT) AS height,
        |  channels,
        |  CAST(floor((n_bytes + 1)/2.0) AS BIGINT) AS n_bytes
        |FROM dec""".stripMargin),

    // Replays the video writers' deterministic layouts: per-frame JPEG
    // length L from the stream dims. AVI (media_id % 6 = 2): first
    // frame data at byte 232, each word-aligned '00dc' chunk
    // 8 + L + (L % 2) bytes after the last. MP4 (media_id % 6 = 5):
    // frame data starts past the 579 fixed container bytes + the
    // 8 bytes/frame of stsz+stco entries, then packs at stride L (no
    // RIFF word alignment in ISO-BMFF).
    "mm_frames" ->
      """WITH v AS (SELECT doc_id AS media_id,
        |             16 + ord(substr(text, 1, 1)) % 64 AS w,
        |             16 + CASE WHEN length(text) > 1
        |                  THEN ord(substr(text, 2, 1)) % 64 ELSE 0 END AS h,
        |             CAST(ceil(length(text)/256.0) AS BIGINT) AS n_frames
        |           FROM documents
        |           WHERE doc_id % 3 = 2 AND length(text) > 0),
        |l AS (SELECT media_id, n_frames,
        |        330 + (6 * (((w + 7) // 8) * ((h + 7) // 8)) + 7) // 8 AS fl
        |      FROM v),
        |f AS (SELECT media_id, n_frames, fl,
        |        unnest(generate_series(0, n_frames - 1, 4)) AS frame_no
        |      FROM l)
        |SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(CASE WHEN media_id % 6 = 5
        |       THEN 579 + 8 * n_frames + frame_no * fl
        |       ELSE 232 + frame_no * (8 + fl + fl % 2)
        |       END AS BIGINT) AS frame_offset,
        |  CAST(fl AS BIGINT) AS frame_len
        |FROM f""".stripMargin,

    // Replays the WAV writer's canonical layout: data chunk at byte 44,
    // one sample frame per source char, block align = channels·2; the
    // Spark side reads the same numbers back from the real RIFF walk.
    "mm_audio" ->
      """WITH a AS (SELECT doc_id AS media_id, length(text) AS n,
        |             1 + ord(substr(text, 1, 1)) % 2 AS ac
        |           FROM documents
        |           WHERE doc_id % 3 = 1 AND length(text) > 0),
        |w AS (SELECT media_id, n, ac,
        |        unnest(generate_series(0, CAST((n - 1) // 512 AS BIGINT)))
        |          AS window_no
        |      FROM a)
        |SELECT media_id, CAST(window_no AS BIGINT) AS window_no,
        |  CAST(window_no * 512 AS BIGINT) AS frame_start,
        |  CAST(least(1024, n - window_no * 512) AS BIGINT) AS n_frames,
        |  CAST(44 + window_no * 512 * ac * 2 AS BIGINT) AS byte_offset
        |FROM w""".stripMargin,

    "mm_features" -> {
      val fcols = (0 until 8).map { j =>
        s"""  CAST(COALESCE(CASE WHEN $j*cs < n THEN
           |    list_sum(list_transform(string_split(substr(text, $j*cs + 1, CAST(cs AS INT)), ''),
           |                            c -> ord(c))) END, 0) AS BIGINT) AS f$j""".stripMargin
      }.mkString(",\n")
      s"""WITH m AS (SELECT doc_id AS media_id, text,
         |             CAST(length(text) AS BIGINT) AS n,
         |             greatest(CAST(1 AS BIGINT),
         |                      CAST(floor((length(text) + 7)/8.0) AS BIGINT)) AS cs
         |           FROM documents)
         |SELECT media_id, n AS n_bytes,
         |$fcols
         |FROM m""".stripMargin
    }
  ) ++ TrainedOracles.entries ++ LshOracleSql.overrides

  /** Oracles for the trained-k-means ANN queries. The TRAINING loop is
    * deterministic but not SQL-expressible; the trained parameters are
    * a fixed value the serving pipeline consumes — so the query records
    * them when it runs and the oracle SQL (built lazily; Verify dumps
    * oracle_sql.json AFTER running every query) receives them as an
    * inline VALUES side table. The assignment, probing, LUT and ranking
    * math is then verified end-to-end by DuckDB exactly like sim_ivf /
    * sim_pq — only the centroid VALUES are "given". If the query never
    * ran (e.g. a filtered Verify), the entry is simply absent and the
    * driver records its rows-only check, the pre-promotion behavior.
    *
    * Literal rendering: Double.toString is the shortest round-trip
    * decimal form, which DuckDB's (correctly-rounded) parser maps back
    * to the identical IEEE double — and the lists are CAST to DOUBLE[]
    * so bare literals never land as DECIMAL. */
  private object TrainedOracles {
    // Keyed by dataset dir: trained centroids/codebooks depend on the
    // corpus, so a JVM that runs Verify over several sfDirs must not let
    // the last dir's parameters overwrite earlier ones. entries emits
    // the oracle only when exactly ONE dir has been recorded — a
    // multi-dir run drops to the driver's rows-only check instead of
    // shipping a wrong-corpus oracle.
    private val ivfSql =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val pqSql =
      new java.util.concurrent.ConcurrentHashMap[String, String]()

    private def lit(v: Array[Double]): String =
      v.mkString("CAST([", ", ", "] AS DOUBLE[])")

    def recordIvf(dir: String, cents: Array[Array[Double]]): Unit =
      if (cents.nonEmpty) {
        val rows = cents.zipWithIndex
          .map { case (v, i) => s"($i, ${lit(v)})" }.mkString(",\n  ")
        ivfSql.put(dir, EmbCte +
          s""", cent AS (
             |  SELECT centroid_id, cv, sqrt(list_dot_product(cv, cv)) AS cn
             |  FROM (VALUES
             |  $rows) t(centroid_id, cv)),
             |""".stripMargin + IvfServeSql)
      }

    def recordPq(dir: String, cw: Array[Array[Double]]): Unit =
      if (cw.nonEmpty) {
        val kk = cw.length / 8
        val rows = cw.zipWithIndex.map { case (v, mj) =>
          s"(${mj / kk}, ${mj % kk + 1}, ${lit(v)})"
        }.mkString(",\n  ")
        pqSql.put(dir, EmbCte +
          s""", cb2 AS (
             |  SELECT m, j, cw, list_dot_product(cw, cw) AS cwn2
             |  FROM (VALUES
             |  $rows) t(m, j, cw)),
             |""".stripMargin + PqServeSql)
      }

    private def sole(m: java.util.concurrent.ConcurrentHashMap[String, String])
    : Option[String] =
      if (m.size == 1) Some(m.values.iterator.next()) else None

    def entries: Map[String, String] =
      sole(ivfSql).map("sim_ivf_kmeans" -> _).toMap ++
        sole(pqSql).map("sim_pq_kmeans" -> _).toMap
  }

  /** DuckDB replica of the [[graft.functions.HllDistinct]] pipeline —
    * the full sketch, not a sanity proxy: the pinned XXH64(key, 42)
    * runs step-for-step in HUGEINT arithmetic (64-bit wraparound via
    * 32-bit split multiplies, rotates as disjoint shift sums, xors on
    * HUGEINT), registers rebuild as max-rank per index, and the
    * estimator folds the 4096 registers in INDEX ORDER via list_reduce
    * so the float sum is bit-identical to the kernel's loop. Exactness
    * of the one libm call: 4096·ln(4096/zeros) was verified to round
    * to the same integer as Java's Math.log for EVERY zeros ∈ 1..4096
    * (4 last-ulp differences, none near a rounding boundary); the raw
    * branch is pure IEEE *,/,+ on identical inputs. p is fixed at 12
    * (the ev_hll/st_hll configuration). */
  private val HllSql: String = {
    val h64 = "CAST('18446744073709551616' AS HUGEINT)"
    def hc(v: java.math.BigInteger): String = s"CAST('$v' AS HUGEINT)"
    def bi(hex: String) = new java.math.BigInteger(hex, 16)
    val p1 = hc(bi("9E3779B185EBCA87"))
    val p2 = hc(bi("C2B2AE3D27D4EB4F"))
    val p3 = hc(bi("165667B19E3779F9"))
    val p4 = hc(bi("85EBCA77C2B2AE63"))
    // hash seed base: seed 42 + PRIME64_5 + input length 8
    val seedBase = hc(bi("27D4EB2F165667C5")
      .add(java.math.BigInteger.valueOf(50)))
    def mul64(a: String, p: String): String =
      s"((($a) % 4294967296) * $p + " +
        s"((($a) // 4294967296) * $p % 4294967296) * 4294967296) % $h64"
    def rotl(x: String, r: Int): String = {
      val lo = java.math.BigInteger.ONE.shiftLeft(64 - r)
      s"((($x) % ${hc(lo)}) * ${1L << r} + ($x) // ${hc(lo)})"
    }
    s"""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
       |x0 AS (SELECT event_type,
       |         ((CAST(user_id AS HUGEINT) % $h64) + $h64) % $h64 AS v
       |       FROM u),
       |x1 AS (SELECT event_type, ${mul64("v", p2)} AS t1 FROM x0),
       |x2 AS (SELECT event_type, ${rotl("t1", 31)} AS t2 FROM x1),
       |x3 AS (SELECT event_type, ${mul64("t2", p1)} AS k1 FROM x2),
       |x4 AS (SELECT event_type, xor($seedBase, k1) AS h1 FROM x3),
       |x5 AS (SELECT event_type, ${rotl("h1", 27)} AS h2 FROM x4),
       |x6 AS (SELECT event_type, (${mul64("h2", p1)} + $p4) % $h64 AS h3
       |       FROM x5),
       |x7 AS (SELECT event_type, xor(h3, h3 // 8589934592) AS h4 FROM x6),
       |x8 AS (SELECT event_type, ${mul64("h4", p2)} AS h5 FROM x7),
       |x9 AS (SELECT event_type, xor(h5, h5 // 536870912) AS h6 FROM x8),
       |xa AS (SELECT event_type, ${mul64("h6", p3)} AS h7 FROM x9),
       |xb AS (SELECT event_type, xor(h7, h7 // 4294967296) AS h FROM xa),
       |rk AS (SELECT event_type,
       |         CAST(h // ${hc(java.math.BigInteger.ONE.shiftLeft(52))}
       |              AS BIGINT) AS idx,
       |         CAST(h % ${hc(java.math.BigInteger.ONE.shiftLeft(52))}
       |              AS BIGINT) AS low
       |       FROM xb),
       |rg AS (SELECT event_type, idx,
       |         max(CASE WHEN low = 0 THEN 53
       |                  ELSE 53 - length(bin(low)) END) AS r
       |       FROM rk GROUP BY 1, 2),
       |fl AS (SELECT e.event_type, g.i, coalesce(rg.r, 0) AS r
       |       FROM (SELECT DISTINCT event_type FROM u) e
       |       CROSS JOIN (SELECT unnest(generate_series(0, 4095)) AS i) g
       |       LEFT JOIN rg ON rg.event_type = e.event_type AND rg.idx = g.i),
       |iv AS (SELECT event_type,
       |         list_reduce(list(CAST(1 AS DOUBLE) /
       |             CAST(CAST(1 AS BIGINT) << r AS DOUBLE) ORDER BY i),
       |           (a, b) -> a + b) AS inv_sum,
       |         CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS zeros
       |       FROM fl GROUP BY 1),
       |es AS (SELECT event_type,
       |         CAST('0.7213' AS DOUBLE)
       |           / (CAST('1.0' AS DOUBLE)
       |              + CAST('1.079' AS DOUBLE) / CAST('4096' AS DOUBLE))
       |           * CAST('4096' AS DOUBLE) * CAST('4096' AS DOUBLE)
       |           / inv_sum AS raw,
       |         zeros
       |       FROM iv)
       |SELECT e.event_type,
       |  CAST(round(CASE WHEN e.raw <= CAST('2.5' AS DOUBLE)
       |                       * CAST('4096' AS DOUBLE) AND e.zeros > 0
       |                  THEN CAST('4096' AS DOUBLE)
       |                       * ln(CAST('4096' AS DOUBLE) / e.zeros)
       |                  ELSE e.raw END) AS BIGINT) AS approx_users,
       |  n.n_events
       |FROM es e JOIN (SELECT event_type, count(*) AS n_events
       |                FROM events GROUP BY 1) n USING (event_type)""".stripMargin
  }

  /** DuckDB replica of the 10-round BPE merge training — the iterative
    * greedy loop unrolled into one CTE chain per round. State encoding:
    * each word's symbol list rides as a U+001F-wrapped string
    * (`␟sym␟␟sym␟` — every symbol carries its own wrappers), which
    * makes the greedy left-to-right merge-with-resume-at-i+2 EXACTLY
    * one sequential `replace('␟l␟␟r␟' → '␟lr␟')` (non-overlapping,
    * resumes after the insertion, and neighbors keep their wrappers so
    * adjacent merges still fire). Pair counting splits the encoding
    * back to a list and fans out adjacent pairs via a lateral
    * generate_series; each round's argmax is (n DESC, l, r) LIMIT 1.
    * Assumes tokens never contain U+001F (the corpora here are plain
    * text; a production corpus would pre-filter control chars). */
  /** Shared training-chain CTEs for the BPE oracles (BpeSql /
    * BpeEncodeSql): w{r}(word, enc, freq) after r merge rounds — the
    * word column rides along so the encode oracle can join documents
    * back to their final encodings. */
  private def bpeChain(rounds: Int): String = {
    val s = "\u001f"
    val head =
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |                             t -> t <> '') AS tk
         |  FROM documents),
         |wf AS (SELECT word, count(*) AS freq
         |       FROM (SELECT unnest(tk) AS word FROM toks) GROUP BY 1),
         |w0 AS (SELECT word, '$s' || array_to_string(string_split(word, ''), '$s$s')
         |              || '$s' AS enc, freq FROM wf)""".stripMargin
    val steps = (0 until rounds).map { r =>
      s"""p$r AS (
         |  SELECT ss[i] AS l, ss[i+1] AS r2, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT string_split(trim(enc, '$s'), '$s$s') AS ss, freq
         |        FROM w$r),
         |       unnest(generate_series(1, len(ss) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT l, r2, n FROM p$r ORDER BY n DESC, l, r2 LIMIT 1),
         |w${r + 1} AS (SELECT w.word,
         |             coalesce(replace(w.enc, '$s' || b.l || '$s$s' || b.r2 || '$s',
         |                       '$s' || b.l || b.r2 || '$s'), w.enc) AS enc, w.freq
         |           FROM w$r w LEFT JOIN b$r b ON TRUE)""".stripMargin
    }
    head + ",\n" + steps.mkString(",\n")
  }

  private val BpeSql: String = {
    val rounds = 10
    val sel = (0 until rounds).map { r =>
      s"""SELECT CAST(${r + 1} AS BIGINT) AS rank, l AS "left",
         |  r2 AS "right", n FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    bpeChain(rounds) + "\nSELECT * FROM (\n" + sel + ")"
  }

  /** Encode oracle: every document's words joined to their final
    * (round-10) encodings; token count = symbols remaining in the
    * separator encoding, pre-merge count = code points (`length`). */
  private val BpeEncodeSql: String = {
    val s = "\u001f"
    bpeChain(10) +
      s""",
         |dw AS (SELECT doc_id, unnest(tk) AS word FROM toks),
         |wtok AS (SELECT word, length(word) AS n_syms,
         |                len(string_split(trim(enc, '$s'), '$s$s')) AS n_toks
         |         FROM w10)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(w.n_syms) AS BIGINT) AS n_syms,
         |       CAST(sum(w.n_toks) AS BIGINT) AS n_tokens
         |FROM dw JOIN wtok w USING (word) GROUP BY doc_id""".stripMargin
  }

  /** Shared DuckDB prelude: whitespace tokens per document. */
  private val LangIdSql =
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|is)\b')) AS BIGINT) AS s_en,
        |  CAST(len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) AS BIGINT) AS s_es,
        |  CAST(len(regexp_extract_all(text, '\b(le|les|des|et|une)\b')) AS BIGINT) AS s_fr,
        |  CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh,
        |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
        |       WHEN len(regexp_extract_all(text, '\b(the|and|of|to|is)\b')) >=
        |            greatest(len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')),
        |                     len(regexp_extract_all(text, '\b(le|les|des|et|une)\b')),
        |                     len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))) THEN 'en'
        |       WHEN len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) >=
        |            greatest(len(regexp_extract_all(text, '\b(le|les|des|et|une)\b')),
        |                     len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b'))) THEN 'es'
        |       WHEN len(regexp_extract_all(text, '\b(le|les|des|et|une)\b')) >=
        |            len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) THEN 'fr'
        |       ELSE 'de' END AS lang_pred
        |FROM documents""".stripMargin

  private val TokCte =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                     t -> t <> '') AS tk
      |  FROM documents
      |)
      |""".stripMargin

  /** Winnowing fingerprint selection per doc (mirrors TextOps.winnow /
    * functions.WinnowFingerprints, k=4, w=4) — `wfp(doc_id,
    * fingerprint)`, shared by tx_winnow and dd_winnow. */
  private val WinnowCte = TokCte.stripSuffix("\n") +
    """,
      |hw AS (SELECT doc_id,
      |         list_transform(generate_series(1, greatest(len(tk) - 3, 1)),
      |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                  list_transform(
      |                    string_split(array_to_string(tk[i:i+3], ' '), ''),
      |                    c -> CAST(ord(c) AS BIGINT))),
      |                (h, cp) -> (h * 31 + cp) % 1000000007)) AS hs
      |       FROM toks),
      |wfp AS (SELECT DISTINCT doc_id, fingerprint FROM (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
      |      j -> list_aggregate(hs[j:j+3], 'min'))) AS fingerprint
      |  FROM hw))
      |""".stripMargin

  /** Tokens → distinct 3-shingles → exact pairwise Jaccard via the
    * inverted shingle index (mirrors Dedup.jaccardPairs). */
  private val ShingleCte = TokCte.stripSuffix("\n") +
    """,
      |shidx AS (SELECT doc_id, tk,
      |            unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
      |          FROM toks),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
      |       FROM shidx),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS c
      |           FROM sh l JOIN sh r
      |             ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      |           GROUP BY 1, 2),
      |jac AS (SELECT doc_a, doc_b,
      |          round(c*1.0/(na.n + nb.n - c), 6) AS jaccard
      |        FROM common
      |        JOIN sizes na ON na.doc_id = doc_a
      |        JOIN sizes nb ON nb.doc_id = doc_b)
      |""".stripMargin

  /** Shared core of the dd_clusters / dd_keep oracles: minhash pairs →
    * recursive min-label walk over the pair graph → `comp` component
    * map (dd_minhash's pair pipeline + the cc_components oracle
    * pattern). */
  private val DdClustersCore =
    ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, hx AS (SELECT doc_id,
        |           CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS xv
        |         FROM sh),
        |sigidx AS (SELECT doc_id, xv, unnest(generate_series(0, 31)) AS i FROM hx),
        |msig AS (SELECT doc_id, i, min(((2*i+1)*xv + i*104729) % 2147483647) AS m
        |         FROM sigidx GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, CAST(i/4 AS INT) AS band,
        |            string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
        |          FROM msig GROUP BY doc_id, CAST(i/4 AS INT)),
        |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM bands a JOIN bands b
        |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |pairs AS (SELECT j.doc_a, j.doc_b
        |          FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        |          WHERE j.jaccard >= 0.5),
        |dedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |           UNION ALL SELECT doc_b, doc_a FROM pairs),
        |dwalk(vertex, lab) AS (
        |  SELECT DISTINCT src, src FROM dedges
        |  UNION
        |  SELECT e.dst, w.lab FROM dwalk w JOIN dedges e ON e.src = w.vertex
        |),
        |comp AS (SELECT vertex, min(lab) AS component FROM dwalk GROUP BY vertex)""".stripMargin

  /** Tokens → 60-bit SimHash signatures (mirrors Dedup.simhash). */
  /** Shared by ev_asof and its streaming twin st_asof (same row set). */
  private val EvAsofSql =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us, value,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_left
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |a AS (
      |  SELECT event_id, user_id, us, value, is_left,
      |    last_value(CASE WHEN is_left = 0 THEN event_id END IGNORE NULLS)
      |      OVER w AS asof_event_id,
      |    last_value(CASE WHEN is_left = 0 THEN us END IGNORE NULLS)
      |      OVER w AS asof_us,
      |    last_value(CASE WHEN is_left = 0 THEN value END IGNORE NULLS)
      |      OVER w AS asof_value
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, is_left, event_id
      |               ROWS UNBOUNDED PRECEDING))
      |SELECT event_id, user_id, us, value,
      |       asof_event_id, asof_us, asof_value
      |FROM a WHERE is_left = 1""".stripMargin

  /** Shared by ev_funnel and its streaming twin st_funnel. */
  private val EvFunnelSql =
    """WITH s0 AS (SELECT user_id, min(epoch_us(ts)) AS t_signup
      |            FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |s1 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
      |       FROM events e JOIN s0 ON e.user_id = s0.user_id
      |       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s0.t_signup
      |       GROUP BY e.user_id),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
      |       FROM events e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s1.t_click
      |       GROUP BY e.user_id)
      |SELECT s0.user_id, s0.t_signup, s1.t_click, s2.t_purchase,
      |       CAST(1 + CASE WHEN s1.t_click IS NOT NULL THEN 1 ELSE 0 END
      |              + CASE WHEN s2.t_purchase IS NOT NULL THEN 1 ELSE 0 END
      |            AS BIGINT) AS steps_completed
      |FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id
      |        LEFT JOIN s2 ON s0.user_id = s2.user_id""".stripMargin

  /** Shared by tx_decontam and its streaming twin st_decontam. */
  private lazy val TxDecontamSql = TokCte.stripSuffix("\n") +
    """,
      |shidx AS (SELECT doc_id, tk,
      |            unnest(generate_series(1, greatest(len(tk) - 7, 1))) AS i
      |          FROM toks),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+7], ' ') AS shingle
      |       FROM shidx),
      |bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
      |corp AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
      |ov AS (SELECT doc_id, count(*) AS n_overlap
      |       FROM corp JOIN bsh USING (shingle) GROUP BY doc_id),
      |grams AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id)
      |SELECT g.doc_id, g.n_grams,
      |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  CAST(CASE WHEN COALESCE(o.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS contaminated
      |FROM grams g LEFT JOIN ov o ON g.doc_id = o.doc_id""".stripMargin

  private val SimhashCte = TokCte.stripSuffix("\n") +
    """,
      |tok AS (SELECT DISTINCT doc_id, unnest(tk) AS t FROM toks),
      |th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
      |       FROM tok),
      |bits AS (SELECT doc_id, j,
      |           sum(CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END) AS s
      |         FROM (SELECT doc_id, h, unnest(generate_series(0, 59)) AS j FROM th)
      |         GROUP BY doc_id, j),
      |ssig AS (SELECT doc_id,
      |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
      |                    ELSE 0 END) AS BIGINT) AS simhash
      |         FROM bits GROUP BY doc_id)
      |""".stripMargin

  /** Normalized double vectors (mirrors Similarity.withNorm). Shared
    * with [[LshOracleSql]] (the forced-distributed LSH-replay oracles). */
  private[graft] val EmbCte =
    """WITH nv AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)
      |""".stripMargin

  /** IVF assignment/probe/score/rank over a `cent(centroid_id, cv, cn)`
    * CTE — shared by sim_ivf (stand-in centroids) and sim_ivf_kmeans
    * (trained centroids as an inline VALUES table). */
  private val IvfServeSql =
    """ac AS (SELECT nv.vec_id, cent.centroid_id,
      |         round(list_dot_product(nv.v, cent.cv)/(nv.nrm*cent.cn), 6) AS cc
      |       FROM nv CROSS JOIN cent),
      |assign AS (SELECT vec_id, centroid_id FROM (
      |             SELECT vec_id, centroid_id,
      |               row_number() OVER (PARTITION BY vec_id
      |                                  ORDER BY cc DESC, centroid_id) AS rn
      |             FROM ac) WHERE rn = 1),
      |probes AS (SELECT query_id, centroid_id FROM (
      |             SELECT vec_id AS query_id, centroid_id,
      |               row_number() OVER (PARTITION BY vec_id
      |                                  ORDER BY cc DESC, centroid_id) AS rn
      |             FROM ac WHERE vec_id < 10) WHERE rn <= 4),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < 10),
      |scored AS (
      |  SELECT p.query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(q.qv, c.v)/(q.qn*c.nrm), 6) AS cosine
      |  FROM nv c JOIN assign a ON c.vec_id = a.vec_id
      |  JOIN probes p ON a.centroid_id = p.centroid_id
      |  JOIN q ON q.query_id = p.query_id
      |  WHERE p.query_id <> c.vec_id)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** PQ encode/LUT/ADC/rank over a `cb2(m, j, cw, cwn2)` codebook CTE —
    * shared by sim_pq (stand-in codebooks) and sim_pq_kmeans (trained
    * codebooks as an inline VALUES table). */
  private val PqServeSql =
    """sc AS (SELECT nv.vec_id, c.m, c.j,
      |         round(list_dot_product(nv.v[c.m*8+1 : c.m*8+8], c.cw)
      |               - 0.5*c.cwn2, 6) AS s
      |       FROM nv CROSS JOIN cb2 c),
      |codes AS (SELECT vec_id, m, j AS code, cwn2 FROM (
      |            SELECT s.vec_id, s.m, s.j, c2.cwn2,
      |              row_number() OVER (PARTITION BY s.vec_id, s.m
      |                                 ORDER BY s.s DESC, s.j) AS rn
      |            FROM sc s JOIN cb2 c2 ON s.m = c2.m AND s.j = c2.j)
      |          WHERE rn = 1),
      |na AS (SELECT vec_id,
      |         sqrt(list_reduce(list(cwn2 ORDER BY m), (a, b) -> a + b)) AS na
      |       FROM codes GROUP BY vec_id),
      |lut AS (SELECT q.vec_id AS query_id, c.m, c.j,
      |          list_dot_product(q.v[c.m*8+1 : c.m*8+8], c.cw) AS pd
      |        FROM nv q CROSS JOIN cb2 c WHERE q.vec_id < 10),
      |ad AS (SELECT l.query_id, cd.vec_id AS neighbor_id,
      |         list_reduce(list(l.pd ORDER BY l.m), (a, b) -> a + b) AS adot
      |       FROM codes cd JOIN lut l ON l.m = cd.m AND l.j = cd.code
      |       GROUP BY l.query_id, cd.vec_id),
      |scored AS (SELECT ad.query_id, ad.neighbor_id,
      |             round(ad.adot / (qn.nrm * na.na), 6) AS cosine
      |           FROM ad JOIN nv qn ON qn.vec_id = ad.query_id
      |                JOIN na ON na.vec_id = ad.neighbor_id
      |           WHERE ad.query_id <> ad.neighbor_id)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** CMS accuracy audit — the contract both `tx_cms` and its streaming
    * twin `st_cms` fulfill: each cell re-derived relationally as the
    * exact count sum of the tokens polyhash-bucketing into it. */
  private val TxCmsSql = TokCte.stripSuffix("\n") +
    """,
      |tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
      |cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
      |vocab AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, token)
      |                 AS BIGINT) AS rank, token, n AS exact_n
      |          FROM cnt ORDER BY n DESC, token LIMIT 20),
      |rws AS (SELECT unnest(generate_series(0, 3)) AS r),
      |cells AS (
      |  SELECT r,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(CAST(r AS VARCHAR) || ':' || token, ''),
      |                     c -> CAST(ord(c) AS BIGINT))),
      |      (h, cp) -> (h * 31 + cp) % 1000000007) % 512 AS bucket,
      |    CAST(sum(n) AS BIGINT) AS cell
      |  FROM cnt CROSS JOIN rws GROUP BY 1, 2),
      |vb AS (
      |  SELECT v.rank, v.token, v.exact_n, r.r,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(CAST(r.r AS VARCHAR) || ':' || v.token, ''),
      |                     c -> CAST(ord(c) AS BIGINT))),
      |      (h, cp) -> (h * 31 + cp) % 1000000007) % 512 AS bucket
      |  FROM vocab v CROSS JOIN rws r)
      |SELECT vb.rank, vb.token, vb.exact_n, min(cells.cell) AS cms_n
      |FROM vb JOIN cells USING (r, bucket)
      |GROUP BY 1, 2, 3""".stripMargin

  /** The connected-components random-walk CTE (min-label closure over
    * the 2000-line lineitem subgraph) shared by `cc_components` and
    * `gr_ccsizes`. */
  private val CcWalkCte =
    """WITH RECURSIVE
      |sub AS (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000),
      |sraw AS (SELECT 2*l_orderkey AS src, 2*l_partkey+1 AS dst FROM sub),
      |sclean AS (SELECT DISTINCT src, dst FROM (
      |  SELECT src, dst FROM sraw WHERE src <> dst
      |  UNION ALL SELECT dst, src FROM sraw WHERE src <> dst)),
      |sverts AS (SELECT DISTINCT src AS vertex FROM sclean),
      |walk(vertex, lab) AS (
      |  SELECT vertex, vertex FROM sverts
      |  UNION
      |  SELECT e.dst, w.lab FROM walk w JOIN sclean e ON e.src = w.vertex
      |)
      |""".stripMargin

  /** Prior-window range-join counts — the contract `ev_range` (the
    * hand-banded plan) and `ev_range_auto` (the naive join the injected
    * RangeJoinRewrite rule bands automatically) both fulfill. */
  private val EvRangeSql =
    """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
      |           FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, epoch_us(ts) AS us, value
      |      FROM events WHERE event_type = 'click')
      |SELECT l.event_id, l.user_id, l.us,
      |       count(r.us) AS n_prior,
      |       round(coalesce(sum(r.value), 0), 6) AS sum_prior_value
      |FROM l LEFT JOIN r ON r.user_id = l.user_id
      |  AND r.us >= l.us - 3600000000 AND r.us < l.us
      |GROUP BY l.event_id, l.user_id, l.us""".stripMargin

  /** Top-3 users per type — the contract both `ev_topusers` and its
    * streaming twin `st_topusers` fulfill. */
  private val EvTopUsersSql =
    """WITH sums AS (
      |  SELECT event_type, user_id, round(sum(value), 6) AS total_value
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, user_id, CAST(rank AS BIGINT) AS rank, total_value
      |FROM (SELECT event_type, user_id, total_value,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY total_value DESC, user_id) AS rank
      |      FROM sums)
      |WHERE rank <= 3""".stripMargin

  /** Latest-record compaction — the contract both `ev_latest` and its
    * streaming twin `st_latest` fulfill. */
  private val EvLatestSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS last_us, event_type,
      |         value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts) DESC,
      |                                     event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id, last_us, event_type, value
      |FROM e WHERE rn = 1""".stripMargin

  /** Per-user RFM profile — the contract both `ev_rfm` and its
    * streaming twin `st_rfm` fulfill. */
  private val EvRfmSql =
    """SELECT user_id,
      |  max(epoch_us(ts)) AS last_us,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases,
      |  CAST(sum(CASE WHEN event_type = 'purchase'
      |           THEN CAST(round(value * 1000000.0, 0) AS BIGINT)
      |           ELSE 0 END) AS BIGINT) / 1000000.0 AS monetary
      |FROM events GROUP BY user_id""".stripMargin

  /** Symmetric int8 quantization in long form — the contract both
    * `sim_quantize` and its streaming twin `st_quantize` fulfill. */
  private val SimQuantizeSql =
    """WITH ex AS (SELECT vec_id, embedding,
      |              unnest(generate_series(1, len(embedding))) AS ii,
      |              list_max(list_transform(CAST(embedding AS DOUBLE[]),
      |                                      x -> abs(x))) AS mx
      |            FROM embeddings)
      |SELECT vec_id, CAST(ii - 1 AS BIGINT) AS dim,
      |       CAST(CASE WHEN mx = 0 THEN 0
      |            ELSE round(CAST(embedding[ii] AS DOUBLE) / (mx / 127.0), 0)
      |            END AS BIGINT) AS q,
      |       round(mx / 127.0, 6) AS scale
      |FROM ex""".stripMargin

  /** Exact cosine top-5 for the 10 stand-in queries — the contract both
    * `sim_brute` and its streaming twin `st_ann` fulfill. */
  private val SimBruteSql = EmbCte +
    """, q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nv WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(q.qv, c.v)/(q.qn*c.nrm), 6) AS cosine
      |  FROM q JOIN nv c ON q.query_id <> c.vec_id)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** Media decode from document text bytes (mirrors
    * Multimodal.mediaFromDocuments + encodeImages + encodeAudio +
    * decodeMeta; text is ASCII). Image-kind payloads alternate between
    * real baseline JFIF/JPEG files (doc_id % 6 = 0: grayscale, 6 bits
    * of entropy coding per 8×8 block over the fixed 330-byte marker
    * layout — Multimodal.jpegSize) and real 24bpp BMP files (the
    * deterministic `54 + h*rowSize` layout); decoded dims/bands for
    * both come from the actual javax.imageio parse. Audio-kind
    * payloads are real 16-bit PCM WAV files (channels = first-byte
    * parity + 1, one frame per byte, 8 kHz) whose decoded (frames,
    * rate, channels) come from the actual javax.sound header parse;
    * video stays the stub header parse over the raw text bytes. */
  private val MmDecodeCte =
    """WITH dims AS (
      |  SELECT doc_id, length(text) AS n,
      |    16 + ord(substr(text, 1, 1)) % 64 AS w,
      |    16 + CASE WHEN length(text) > 1
      |         THEN ord(substr(text, 2, 1)) % 64 ELSE 0 END AS h,
      |    1 + ord(substr(text, 1, 1)) % 2 AS ac,
      |    CAST(ceil(length(text)/256.0) AS BIGINT) AS nf,
      |    330 + (6 * (((16 + ord(substr(text, 1, 1)) % 64 + 7) // 8)
      |               * ((16 + CASE WHEN length(text) > 1
      |                        THEN ord(substr(text, 2, 1)) % 64 ELSE 0 END
      |                   + 7) // 8)) + 7) // 8 AS jl
      |  FROM documents
      |), dec AS (
      |  SELECT doc_id AS media_id,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |    CAST(CASE WHEN doc_id % 6 = 0 AND n > 0
      |         THEN jl
      |         WHEN doc_id % 3 = 0 AND n > 0
      |         THEN 54 + h * ((3 * w + 3) // 4 * 4)
      |         WHEN doc_id % 3 = 1 AND n > 0
      |         THEN 44 + n * ac * 2
      |         WHEN doc_id % 6 = 5 AND n > 0
      |         THEN 579 + nf * (8 + jl)
      |         WHEN doc_id % 3 = 2 AND n > 0
      |         THEN 224 + nf * (8 + jl + jl % 2) + 8 + 16 * nf
      |         ELSE n END AS BIGINT) AS n_bytes,
      |    CAST(CASE WHEN doc_id % 3 = 1 AND n > 0 THEN n
      |         ELSE w END AS INT) AS width,
      |    CAST(CASE WHEN doc_id % 3 = 1 AND n > 0 THEN 8000
      |         ELSE h END AS INT) AS height,
      |    CAST(CASE WHEN doc_id % 6 = 0 AND n > 0 THEN 1
      |         WHEN doc_id % 3 = 0 AND n > 0 THEN 3
      |         WHEN doc_id % 3 = 1 AND n > 0 THEN ac
      |         WHEN doc_id % 3 = 2 AND n > 0 THEN 3
      |         ELSE 1 + n % 3 END AS INT) AS channels
      |  FROM dims
      |)
      |""".stripMargin
}
