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

  /** (vertex, component) for every vertex in `clean` (symmetric edges).
    * Hybrid like [[Bfs]]: union-find kernel when the edge set fits under
    * the same size gate, distributed label propagation + pointer jumping
    * otherwise. Identical output (component = min vertex id) either way. */
  def components(spark: SparkSession, clean: DataFrame): DataFrame = {
    val cached = clean.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Materialize (checkpoint) the small result BEFORE the input cache
      // is dropped — otherwise the caller's first action recomputes the
      // whole upstream query.
      if (cached.count() <= graft.Gates.localBfsMaxEdges.limit(spark))
        componentsLocal(spark, cached).localCheckpoint(eager = true)
      else componentsDistributed(spark, cached)
    } finally cached.unpersist(blocking = false)
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

  /** [[components]] from a RAW edge list (loops/duplicates allowed):
    * under the gate, symmetrize narrowly and let the kernel build's
    * sort-and-merge dedup (no DataFrame distinct shuffle — see
    * [[Bfs.prepareRaw]]). */
  def componentsRaw(spark: SparkSession, raw: DataFrame): DataFrame = {
    val cached = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cached.count() * 2 <= graft.Gates.localBfsMaxEdges.limit(spark)) {
        val noLoops = cached.filter(col("src") =!= col("dst"))
        val sym = noLoops.union(
          noLoops.select(col("dst").as("src"), col("src").as("dst")))
        componentsLocal(spark, sym, dedupAdjacent = true)
          .localCheckpoint(eager = true)
      } else components(spark, graft.etl.EdgeOps.cleanEdges(cached))
    } finally cached.unpersist(blocking = false)
  }

  /** Local kernel: collect edges as primitive chunks, union-find with
    * path halving, resolve every root class to its min member id, ship
    * the result back as one broadcast and materialize rows distributed
    * (same output-path design as [[Bfs]]'s local kernel). */
  private[graft] def componentsLocal(spark: SparkSession, clean: DataFrame,
                                     dedupAdjacent: Boolean = false): DataFrame = {
    val csr = LocalCsr.build(clean, dedupAdjacent)
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

  /** Distributed path (see [[components]]). */
  private[graft] def componentsDistributed(spark: SparkSession,
                                           clean: DataFrame): DataFrame = {
    val edges = clean.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var labels = edges.select(col("src").as("vertex"))
      .distinct()
      .withColumn("component", col("vertex"))
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
    edges.unpersist(blocking = false)
    labels
  }
}
