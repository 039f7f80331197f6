package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Connected components by min-label propagation with pointer jumping:
 * every vertex starts labeled with its own id; each round a vertex takes
 * the min of (its label, its neighbors' labels, its label's label).
 * Fixpoint = component id = min vertex id in the component.
 *
 * The neighbor step alone needs O(component diameter) rounds — a long
 * path graph of length d takes d rounds, each a full pass over the edge
 * table. The pointer-jumping step (label ← label[label], the classic
 * Shiloach–Vishkin shortcut) halves label-chain lengths every round, so
 * convergence drops to O(log d) rounds: labels race to the component
 * minimum exponentially. At 100 TB the edge table dominates each round,
 * so cutting round COUNT (not per-round cost) is the scale lever — the
 * jump join touches only the |V|-sized label table.
 *
 * Execution profile per round: edges (partitioned once by src, cached)
 * ⋈ labels → groupBy-min proposals; then two |V|-table joins for the
 * jump. Labels are localCheckpoint()ed per round to cut lineage.
 * (GraphX's `connectedComponents` is the Pregel-shaped alternative,
 * cross-checked in ConnectedComponentsSpec; this is the Catalyst-native
 * path.)
 */
object ConnectedComponents {

  /** (vertex, component) for every vertex of `edges` that has a non-loop
    * edge (self-loops and duplicates allowed; a vertex seen only in a
    * self-loop is left out, as [[graft.etl.EdgeOps.cleanEdges]] drops
    * it). The graph is built by [[Bfs.prepareRaw]], whose gate decides
    * the path: union-find over its kernel CSR, or distributed label
    * propagation + pointer jumping over its persisted edges. Identical
    * output (component = min vertex id) either way, materialized before
    * the graph's caches are dropped. */
  def components(spark: SparkSession, edges: DataFrame): DataFrame = {
    val g = Bfs.prepareRaw(edges)
    try g.csrIfBuilt match {
      case Some(csr) => componentsLocal(spark, csr).localCheckpoint(eager = true)
      case None => componentsDistributed(g)
    } finally g.unpersist()
  }

  /** Component-size distribution over a (vertex, component) labelling:
    * how many components have exactly `csize` members, plus the vertex
    * mass per size — the giant-component / fragmentation chart read off
    * every CC run. Scale shape: two partially-aggregated groupBys —
    * per-component counts (exchange carries one row per component),
    * then O(distinct sizes) groups; no window, no sort. */
  def componentSizes(components: DataFrame): DataFrame =
    components
      .groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("csize")).as("n_vertices"))

  /** Local kernel: union-find with path halving over the CSR, resolve
    * every root class to its min member id, ship the result back as one
    * broadcast and materialize rows distributed (same output-path design
    * as [[Bfs]]'s local kernel). */
  private def componentsLocal(spark: SparkSession, csr: LocalCsr): DataFrame = {
    val ids = csr.ids
    val nV = csr.nVerts
    val parent = Array.tabulate(nV)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var v = 0
    while (v < nV) {
      var k = csr.rowStarts(v)
      val end = csr.rowStarts(v + 1)
      while (k < end) {
        val a = find(v); val b = find(csr.nbrs(k))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        k += 1
      }
      v += 1
    }
    // roots carry the min id of their class because unions always point
    // the larger root at the smaller one and ids are sorted ascending
    val comp = new Array[Long](nV)
    v = 0
    while (v < nV) { comp(v) = ids(find(v)); v += 1 }
    graft.functions.Ship.df(spark, "vertex" -> ids, "component" -> comp)
  }

  /** Distributed path (see [[components]]) over the prepared graph's
    * src-partitioned edges and vertex set. */
  private def componentsDistributed(g: Bfs.PreparedGraph): DataFrame = {
    val edges = g.edges
    var labels = g.all.withColumn("component", col("vertex"))
      .localCheckpoint(eager = true)
    var changedCount = 1L

    while (changedCount > 0) {
      // 1. neighbor-min: smallest label seen across each vertex's edges.
      // Labels always hold vertex ids from the same component, so taking
      // mins never crosses components.
      val proposals = edges
        .join(labels, edges("src") === labels("vertex"))
        .select(edges("dst").as("vertex"), col("component"))
        .groupBy("vertex").agg(min("component").as("nmin"))
      val stepped = labels
        .join(proposals, Seq("vertex"), "left_outer")
        .select(col("vertex"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("mid"),
          col("component").as("old"))
      // 2. pointer jump: follow the label one hop (mid's own current
      // label) — label chains halve, rounds become O(log d).
      val byId = labels.select(col("vertex").as("cv"), col("component").as("cc"))
      // lazy checkpoint + count = one job per round (Bfs loop pattern):
      // the filtered count's scan computes every partition fully, so the
      // whole checkpoint caches during this one job
      val updated = stepped
        .join(byId, col("mid") === col("cv"), "left_outer")
        .select(col("vertex"),
          least(col("mid"), coalesce(col("cc"), col("mid"))).as("component"),
          col("old"))
        .localCheckpoint(eager = false)
      changedCount = updated.filter(col("component") =!= col("old")).count()
      labels = updated.select("vertex", "component")
    }
    labels
  }
}
