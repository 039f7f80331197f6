package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Single-source shortest paths over a weighted edge list (src, dst, w)
 * — the query the reference's SSSP machinery was built for but never
 * finished (empty `prepare_sssp/run_sssp/end_sssp`, mpi/bfs.hpp:2569-
 * 2571, weighted generator graph_generator.hpp:479-506), which puts its
 * weighted path on the graph the BFS builds.
 *
 * So does this one: [[ssspFromMinRaw]] is the one entry, with one gate
 * decision on the graph gate ([[graft.Gates.localBfsMaxEdges]], the rule
 * of [[Bfs.prepareRaw]]) and, under it, the one CSR construction
 * ([[LocalCsr.buildFromRawPairs]]) plus a per-slot min weight. Above it
 * the graph is [[weightedEdges]]' relation and the search is the
 * distributed frontier loop.
 *
 * Both paths relax round-synchronously (Bellman-Ford with a delta
 * frontier): each round relaxes only the edges out of the vertices whose
 * distance improved in the previous round, takes the best (dist, pred)
 * candidate per target, and applies it only on a strict improvement.
 * The round count is the hop length of the longest optimal path, not
 * |V|. Distances are exact shortest paths, and the pred tree is the same
 * deterministic one on both paths. Unreached vertices are absent from
 * the result.
 */
object Sssp {

  /** Symmetrized min-weight edge set from a directed weighted list. */
  private def weightedEdges(raw: DataFrame): DataFrame = {
    val noLoops = raw.filter(col("src") =!= col("dst"))
    noLoops
      .union(noLoops.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
  }

  /** (vertex, dist, pred) for every vertex reachable from the graph's
    * minimum vertex id, from a RAW directed weighted list (loops and
    * duplicate edges at any weights allowed; an edge's weight is the
    * least of its rows in either direction). The raw list is persisted
    * once for the gate count and either path. */
  def ssspFromMinRaw(spark: SparkSession, raw: DataFrame): DataFrame = {
    val cached = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cached.count() * 2 <= graft.Gates.localBfsMaxEdges.limit(spark))
        // checkpoint the (small) result while the input cache is alive
        kernel(spark, cached).localCheckpoint(eager = true)
      else {
        val root = cached.filter(col("src") =!= col("dst"))
          .agg(min(least(col("src"), col("dst")))).head()
        if (root.isNullAt(0)) empty(spark)
        else ssspDistributed(spark, weightedEdges(cached), root.getLong(0))
      }
    } finally cached.unpersist(blocking = false)
  }

  private def empty(spark: SparkSession): DataFrame =
    graft.functions.Ship.df(spark, "vertex" -> Array.emptyLongArray,
      "dist" -> Array.emptyLongArray, "pred" -> Array.emptyLongArray)

  /** The kernel path: ONE collect of the pairs and their weights, the
    * graph's CSR ([[LocalCsr.buildFromRawPairs]]: loops dropped, both
    * directions, duplicates merged, rows sorted), then each raw row's
    * weight lowers the min of its two slots — (a, b) in row a and (b, a)
    * in row b, each found by a binary search of the sorted row. */
  private def kernel(spark: SparkSession, raw: DataFrame): DataFrame = {
    val (pairs, ws) = collectWeighted(raw)
    val csr = LocalCsr.buildFromRawPairs(pairs)
    if (csr.nVerts == 0) return empty(spark)
    val rs = csr.rowStarts
    val nbrs = csr.nbrs
    val map = LocalCsr.IdMap.ofSorted(csr.ids, pairs.length)
    val slotW = Array.fill(nbrs.length)(Long.MaxValue)
    def lower(a: Int, b: Int, w: Long): Unit = {
      val k = java.util.Arrays.binarySearch(nbrs, rs(a), rs(a + 1), b)
      if (w < slotW(k)) slotW(k) = w
    }
    var i = 0
    while (i < ws.length) {
      val s = pairs(2 * i); val d = pairs(2 * i + 1)
      if (s != d) {
        val a = map(s); val b = map(d)
        lower(a, b, ws(i)); lower(b, a, ws(i))
      }
      i += 1
    }
    relaxOnCsr(spark, csr, slotW)
  }

  /** The (src, dst) pairs as one flat array ([src,dst,src,dst,...], as
    * [[LocalCsr.collectPairs]]) and their weights, aligned, from ONE
    * collect job of primitive chunks. A row with a NULL is skipped. */
  private def collectWeighted(raw: DataFrame): (Array[Long], Array[Long]) = {
    val chunks = raw.select("src", "dst", "w").queryExecution.toRdd
      .mapPartitions { it =>
        val p = new scala.collection.mutable.ArrayBuilder.ofLong
        val w = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
            p += r.getLong(0); p += r.getLong(1); w += r.getLong(2)
          }
        }
        Iterator.single((p.result(), w.result()))
      }.collect()
    (Array.concat(chunks.map(_._1).toIndexedSeq: _*),
      Array.concat(chunks.map(_._2).toIndexedSeq: _*))
  }

  /** Round-synchronous relaxation over the weighted CSR from its minimum
    * vertex (dense 0): per round, the best lexicographic (dist, pred)
    * candidate per target from the improved frontier's edges, applied
    * only on a strict improvement — the rounds of [[ssspDistributed]],
    * so the pred tree is identical. Dense order is id order, so the
    * lesser dense pred is the lesser id. */
  private def relaxOnCsr(spark: SparkSession, csr: LocalCsr,
                         slotW: Array[Long]): DataFrame = {
    val ids = csr.ids
    val rowStarts = csr.rowStarts
    val nbrs = csr.nbrs
    val nV = ids.length
    val Inf = Long.MaxValue
    val dist = Array.fill(nV)(Inf)
    val pred = new Array[Int](nV)
    dist(0) = 0L
    var frontier = Array(0)
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
          val t = nbrs(k)
          val nd = dist(u) + slotW(k)
          if (nd < bestDist(t) || (nd == bestDist(t) && u < bestPred(t))) {
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
        outP += ids(pred(vi))
      }
      vi += 1
    }
    graft.functions.Ship.df(spark, "vertex" -> outV.result(),
      "dist" -> outD.result(), "pred" -> outP.result())
  }

  /** The distributed frontier loop over [[weightedEdges]]' relation: the
    * weighted generalization of the BFS level loop, with the same
    * shuffle profile — the edge table is partitioned once (by src) and
    * joined per round against a small frontier; the distance table
    * updates via groupBy-min. Per-round candidates merge by min
    * (dist, pred) struct; first-settled wins on later ties. */
  private def ssspDistributed(spark: SparkSession, wedges: DataFrame,
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
