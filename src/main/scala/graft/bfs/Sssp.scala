package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Single-source shortest paths over weighted symmetric edges
 * (src, dst, w) — the query the reference's SSSP machinery was built
 * for but never finished (empty `prepare_sssp/run_sssp/end_sssp`,
 * mpi/bfs.hpp:2569-2571, weighted generator graph_generator.hpp:479-506).
 *
 * Frontier-based relaxation (Bellman-Ford with a delta frontier): each
 * iteration relaxes only edges out of vertices whose distance improved
 * in the previous iteration — the weighted generalization of the BFS
 * level loop, with the same shuffle profile: the big edge table is
 * partitioned once (by src) and joined per iteration against a small
 * frontier; the distance table updates via groupBy-min. Iteration count
 * = hop length of the longest optimal path, not |V|.
 *
 * Distances are exact shortest paths; the pred tree is deterministic
 * (per-round candidates merge by min (dist, pred) struct; rounds are
 * deterministic; first-settled wins on later ties). Unreached vertices
 * are absent from the result (join with the vertex table for dense
 * output).
 */
object Sssp {

  /** Symmetrized min-weight edge set from a directed weighted list. */
  def weightedEdges(raw: DataFrame): DataFrame = {
    val noLoops = raw.filter(col("src") =!= col("dst"))
    noLoops
      .union(noLoops.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
  }

  /** (vertex, dist, pred) for every vertex reachable from `root`.
    * Hybrid like [[Bfs]]/[[ConnectedComponents]]: a local round-
    * synchronous relaxation kernel under the shared size gate (identical
    * round semantics ⇒ identical pred trees), the distributed frontier
    * loop above it. */
  def sssp(spark: SparkSession, wedges: DataFrame, root: Long): DataFrame = {
    val cached = wedges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // checkpoint the (small) result while the input cache is alive —
      // see ConnectedComponents.components
      if (cached.count() <= graft.Gates.localBfsMaxEdges.limit(spark))
        ssspLocal(spark, cached, root).localCheckpoint(eager = true)
      else ssspDistributed(spark, cached, root)
    } finally cached.unpersist(blocking = false)
  }

  /** [[sssp]] rooted at the graph's minimum vertex id, with the weighted
    * edge set persisted ONCE for both the root scan and the traversal —
    * calling `wedges.agg(min)` and then [[sssp]] separately re-runs the
    * whole upstream pipeline (sort/limit/groupBy) twice. */
  def ssspFromMin(spark: SparkSession, wedges: DataFrame): DataFrame = {
    val cached = wedges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val local = cached.count() <= graft.Gates.localBfsMaxEdges.limit(spark)
      val root = cached.agg(min(col("src"))).head().getLong(0)
      if (local) ssspLocal(spark, cached, root).localCheckpoint(eager = true)
      else ssspDistributed(spark, cached, root)
    } finally cached.unpersist(blocking = false)
  }

  /** [[ssspFromMin]] from a RAW directed weighted list (loops and
    * duplicate edges allowed): under the gate, loop-drop, symmetrization
    * and min-weight duplicate merge happen in-kernel from ONE collected
    * triple array — no groupBy shuffle, no separate root agg (the
    * reference's construction order, like [[Bfs.prepareRaw]]). Above
    * [[graft.Gates.localSsspMaxEdges]] the groupBy construction +
    * gate-dispatched relaxation take over. */
  def ssspFromMinRaw(spark: SparkSession, raw: DataFrame): DataFrame = {
    val cached = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cached.count() > graft.Gates.localSsspMaxEdges.limit(spark))
        ssspFromMin(spark, weightedEdges(cached))
      else {
        val flat = collectTriples(cached)
        val nIn = flat.length / 3
        // vertex ids = endpoints of non-loop edges; root = their minimum
        val eb = new scala.collection.mutable.ArrayBuilder.ofLong
        var i = 0
        while (i < nIn) {
          val a = flat(3 * i); val b = flat(3 * i + 1)
          if (a != b) { eb += a; eb += b }
          i += 1
        }
        val endpoints = eb.result()
        if (endpoints.isEmpty)
          return graft.functions.Ship.df(spark,
            "vertex" -> Array.empty[Long], "dist" -> Array.empty[Long],
            "pred" -> Array.empty[Long])
        java.util.Arrays.sort(endpoints)
        var nV = 0
        i = 0
        while (i < endpoints.length) {
          if (nV == 0 || endpoints(nV - 1) != endpoints(i)) {
            endpoints(nV) = endpoints(i); nV += 1
          }
          i += 1
        }
        val ids = java.util.Arrays.copyOf(endpoints, nV)
        val root = ids(0)
        // both directions per non-loop edge, sorted by (src, dst, w) so
        // the min-weight duplicate survives the adjacent merge
        val encV = new Array[Long](2 * nIn) // (sDense<<32 | dDense), aligned with ws
        val ws = new Array[Long](2 * nIn)
        val ord = new Array[Integer](2 * nIn)
        var m = 0
        i = 0
        while (i < nIn) {
          val a = flat(3 * i); val b = flat(3 * i + 1); val w = flat(3 * i + 2)
          if (a != b) {
            val s = java.util.Arrays.binarySearch(ids, a)
            val d = java.util.Arrays.binarySearch(ids, b)
            encV(m) = (s.toLong << 32) | (d.toLong & 0xffffffffL); ws(m) = w; m += 1
            encV(m) = (d.toLong << 32) | (s.toLong & 0xffffffffL); ws(m) = w; m += 1
          }
          i += 1
        }
        i = 0
        while (i < m) { ord(i) = i; i += 1 }
        java.util.Arrays.sort(ord, 0, m, new java.util.Comparator[Integer] {
          def compare(x: Integer, y: Integer): Int = {
            val byKey = java.lang.Long.compare(encV(x), encV(y))
            if (byKey != 0) byKey else java.lang.Long.compare(ws(x), ws(y))
          }
        })
        // adjacent merge: first (= min-w) entry per (src, dst) wins
        val rowStarts = new Array[Int](nV + 1)
        val dstB = new scala.collection.mutable.ArrayBuilder.ofInt
        val wB = new scala.collection.mutable.ArrayBuilder.ofLong
        var prev = -1L
        i = 0
        while (i < m) {
          val k = ord(i).intValue()
          if (encV(k) != prev) {
            prev = encV(k)
            rowStarts((encV(k) >>> 32).toInt + 1) += 1
            dstB += (encV(k) & 0xffffffffL).toInt
            wB += ws(k)
          }
          i += 1
        }
        var v = 0
        while (v < nV) { rowStarts(v + 1) += rowStarts(v); v += 1 }
        relaxOnCsr(spark, ids, rowStarts, dstB.result(), wB.result(), root)
          .localCheckpoint(eager = true)
      }
    } finally cached.unpersist(blocking = false)
  }

  /** Local kernel: weighted adjacency collected as primitive chunks; the
    * SAME round-synchronous relaxation as the DataFrame loop (per round:
    * best lexicographic (dist, pred) candidate per target from the
    * improved-frontier's edges, applied only on strict improvement), so
    * the deterministic pred tree is identical. */
  private[graft] def ssspLocal(spark: SparkSession, wedges: DataFrame,
                               root: Long): DataFrame = {
    val flat = collectTriples(wedges)
    val nE = flat.length / 3

    // sorted distinct vertex ids (symmetric ⇒ srcs cover all)
    val srcs = new Array[Long](nE)
    var i = 0
    while (i < nE) { srcs(i) = flat(3 * i); i += 1 }
    java.util.Arrays.sort(srcs)
    var nV = 0
    i = 0
    while (i < nE) {
      if (nV == 0 || srcs(nV - 1) != srcs(i)) { srcs(nV) = srcs(i); nV += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(srcs, nV)

    // CSR (counting sort by src; intra-row order irrelevant — every
    // candidate is min-merged explicitly)
    val rowStarts = new Array[Int](nV + 1)
    i = 0
    while (i < nE) {
      rowStarts(java.util.Arrays.binarySearch(ids, flat(3 * i)) + 1) += 1
      i += 1
    }
    var v = 0
    while (v < nV) { rowStarts(v + 1) += rowStarts(v); v += 1 }
    val fill = java.util.Arrays.copyOf(rowStarts, nV)
    val adjDst = new Array[Int](nE)
    val adjW = new Array[Long](nE)
    i = 0
    while (i < nE) {
      val s = java.util.Arrays.binarySearch(ids, flat(3 * i))
      adjDst(fill(s)) = java.util.Arrays.binarySearch(ids, flat(3 * i + 1))
      adjW(fill(s)) = flat(3 * i + 2)
      fill(s) += 1
      i += 1
    }
    relaxOnCsr(spark, ids, rowStarts, adjDst, adjW, root)
  }

  /** Collect (src, dst, w) triples as one flat primitive array. */
  private def collectTriples(wedges: DataFrame): Array[Long] = {
    val chunks: Array[Array[Long]] = wedges.select("src", "dst", "w")
      .queryExecution.toRdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => b += r.getLong(0); b += r.getLong(1); b += r.getLong(2) }
        Iterator.single(b.result())
      }.collect()
    val flat = new Array[Long](chunks.iterator.map(_.length).sum)
    var off = 0
    chunks.foreach { c => System.arraycopy(c, 0, flat, off, c.length); off += c.length }
    flat
  }

  /** Round-synchronous relaxation over a weighted CSR (see [[ssspLocal]]). */
  private def relaxOnCsr(spark: SparkSession, ids: Array[Long],
                         rowStarts: Array[Int], adjDst: Array[Int],
                         adjW: Array[Long], root: Long): DataFrame = {
    import spark.implicits._
    val nV = ids.length
    val r0 = java.util.Arrays.binarySearch(ids, root)
    if (r0 < 0) return Seq((root, 0L, root)).toDF("vertex", "dist", "pred")

    val Inf = Long.MaxValue
    val dist = Array.fill(nV)(Inf)
    val pred = Array.fill(nV)(-1)
    dist(r0) = 0L
    pred(r0) = r0
    var frontier = Array(r0)
    val bestDist = Array.fill(nV)(Inf)
    val bestPred = new Array[Int](nV)
    while (frontier.nonEmpty) {
      val touched = new scala.collection.mutable.ArrayBuilder.ofInt
      var fi = 0
      while (fi < frontier.length) {
        val u = frontier(fi)
        var k = rowStarts(u)
        val end = rowStarts(u + 1)
        while (k < end) {
          val t = adjDst(k)
          val nd = dist(u) + adjW(k)
          if (nd < bestDist(t) ||
            (nd == bestDist(t) && ids(u) < ids(bestPred(t)))) {
            if (bestDist(t) == Inf) touched += t
            bestDist(t) = nd
            bestPred(t) = u
          }
          k += 1
        }
        fi += 1
      }
      val next = new scala.collection.mutable.ArrayBuilder.ofInt
      touched.result().foreach { t =>
        if (bestDist(t) < dist(t)) {
          dist(t) = bestDist(t)
          pred(t) = bestPred(t)
          next += t
        }
        bestDist(t) = Inf
      }
      frontier = next.result()
    }

    // reached vertices only (the distributed loop's dist table likewise
    // contains only settled vertices)
    val outV = new scala.collection.mutable.ArrayBuilder.ofLong
    val outD = new scala.collection.mutable.ArrayBuilder.ofLong
    val outP = new scala.collection.mutable.ArrayBuilder.ofLong
    var vi = 0
    while (vi < nV) {
      if (dist(vi) != Inf) {
        outV += ids(vi)
        outD += dist(vi)
        outP += (if (pred(vi) < 0) -1L else ids(pred(vi)))
      }
      vi += 1
    }
    graft.functions.Ship.df(spark, "vertex" -> outV.result(),
      "dist" -> outD.result(), "pred" -> outP.result())
  }

  /** Distributed frontier loop (see [[sssp]]). */
  private[graft] def ssspDistributed(spark: SparkSession, wedges: DataFrame,
                                     root: Long): DataFrame = {
    import spark.implicits._
    val edges = wedges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()

    var dist = Seq((root, 0L, root)).toDF("vertex", "dist", "pred")
      .localCheckpoint(eager = true)
    var frontier = dist
    var improvedCount = 1L

    while (improvedCount > 0) {
      val cand = edges
        .join(frontier, edges("src") === frontier("vertex"))
        .select(edges("dst").as("vertex"),
          (col("dist") + col("w")).as("dist"),
          edges("src").as("pred"))
      // best candidate per vertex this round, then keep only improvements
      val best = cand.groupBy("vertex")
        .agg(min(struct(col("dist"), col("pred"))).as("s"))
        .select(col("vertex"), col("s.dist").as("dist"),
          col("s.pred").as("pred"))
      // lazy checkpoint + count = one job per round (Bfs loop pattern:
      // the count materializes and caches every checkpointed partition)
      val improved = best
        .join(dist.select(col("vertex"), col("dist").as("old")),
          Seq("vertex"), "left_outer")
        .filter(col("old").isNull || col("dist") < col("old"))
        .select("vertex", "dist", "pred")
        .localCheckpoint(eager = false)
      improvedCount = improved.count()
      if (improvedCount > 0) {
        dist = dist.join(improved.select(col("vertex").as("iv")),
            col("vertex") === col("iv"), "left_anti")
          .union(improved)
          .localCheckpoint(eager = true)
        frontier = improved
      }
    }
    edges.unpersist(blocking = false)
    dist
  }
}
