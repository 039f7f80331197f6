package graft.bfs

import org.apache.spark.sql.DataFrame

/**
 * In-memory CSR + direction-optimizing BFS kernel — the small-graph fast
 * path of the hybrid BFS executor (see [[Bfs]] for the gate).
 *
 * This is the same physical design as the reference's compressed graph +
 * level loop (Graph2DCSR, mpi/graph_constructor.hpp:24-143; top-down /
 * bottom-up kernels, mpi/bfs.hpp:962-1137, 1839-1967) reduced to one
 * node: a sorted-id CSR with sorted adjacency rows, Beamer's edge-count
 * direction switch, a frontier bitmap for bottom-up, and a
 * predecessor/depth array per run. Rationale: a BFS level
 * on a graph this small is microseconds of work, while ANY distributed
 * level costs a fixed multi-job scheduling overhead; the reference's
 * single-node numbers are only matchable by doing what the reference
 * does when the data fits — run the kernel where the data is. The
 * distributed DataFrame level loop behind [[Bfs.bfsMinParentMulti]] is
 * the general path and takes over past [[Bfs]]'s size gate.
 *
 * Determinism contract (shared with the distributed loop): ids sorted,
 * adjacency rows sorted, top-down processes the frontier in ascending id
 * order (first writer = min parent), bottom-up scans each row ascending
 * and stops at the first frontier neighbor (= min parent). Both
 * directions therefore produce the same canonical min-parent tree.
 */
final class LocalCsr(val ids: Array[Long], val rowStarts: Array[Int],
                     val nbrs: Array[Int]) {

  def nVerts: Int = ids.length

  /** The cleaned symmetric edge set (original ids, both directions, no
    * loops or duplicates — exactly EdgeOps.cleanEdges' relation) as a
    * distributed DataFrame: broadcast arrays + range lookup, so no
    * distinct() shuffle and no boxed LocalRelation re-serialization on
    * downstream scans. */
  def toCleanDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val srcDense = new Array[Int](nbrs.length)
    var v = 0
    while (v < nVerts) {
      var k = rowStarts(v)
      while (k < rowStarts(v + 1)) { srcDense(k) = v; k += 1 }
      v += 1
    }
    val bcIds = spark.sparkContext.broadcast(ids)
    val bcSrc = spark.sparkContext.broadcast(srcDense)
    val bcDst = spark.sparkContext.broadcast(nbrs)
    import org.apache.spark.sql.functions.{col, udf}
    val srcOf = udf((i: Long) => bcIds.value(bcSrc.value(i.toInt)))
    val dstOf = udf((i: Long) => bcIds.value(bcDst.value(i.toInt)))
    spark.range(nbrs.length.toLong)
      .select(srcOf(col("id")).as("src"), dstOf(col("id")).as("dst"))
  }

  /** (vertex, degree) ≡ EdgeOps.degrees over the cleaned relation — the
    * degree is a rowStarts difference, no groupBy shuffle. */
  def degreesDf(spark: org.apache.spark.sql.SparkSession): DataFrame =
    graft.functions.Ship.df(spark, "vertex" -> ids,
      "degree" -> Array.tabulate(nVerts)(v => (rowStarts(v + 1) - rowStarts(v)).toLong))

  /** (vertex, new_id) ≡ EdgeOps.reorderMap(clean, mode): 0/1 = vertex-id
    * order (every CSR vertex has an edge, so isolated-last ≡ identity),
    * 2 = degree descending, ties by vertex id. The permutation is
    * computed in one driver-side packed sort; rows materialize
    * distributed. */
  def reorderDf(spark: org.apache.spark.sql.SparkSession,
                mode: Int): DataFrame = {
    require(mode >= 0 && mode <= 2, s"reorder mode $mode")
    val newId = new Array[Long](nVerts)
    if (mode == 2) {
      // pack (degree desc, dense id asc) into one sortable long:
      // ids are sorted, so dense order == vertex-id order for ties
      val packed = new Array[Long](nVerts)
      var v = 0
      while (v < nVerts) {
        val deg = rowStarts(v + 1) - rowStarts(v)
        packed(v) = ((Int.MaxValue - deg).toLong << 32) | v.toLong
        v += 1
      }
      java.util.Arrays.parallelSort(packed)
      var k = 0
      while (k < nVerts) { newId((packed(k) & 0xffffffffL).toInt) = k; k += 1 }
    } else {
      var v = 0
      while (v < nVerts) { newId(v) = v; v += 1 }
    }
    graft.functions.Ship.df(spark, "vertex" -> ids, "new_id" -> newId)
  }

  /** (vertex, new_id) over the FULL universe 0..nVertices-1, isolated
    * last ≡ EdgeOps.reorderMapIsolatedLast. The permutation is closed
    * form from the sorted CSR id array — members map to their dense
    * index, gaps to nVerts + (id − members-below-id) — so the kernel
    * needs no sort at all, just a binary search per row. */
  def reorderIsolatedLastDf(spark: org.apache.spark.sql.SparkSession,
                            nVertices: Long): DataFrame = {
    val bcIds = spark.sparkContext.broadcast(ids)
    import org.apache.spark.sql.functions.{col, udf}
    val newOf = udf { (v: Long) =>
      val a = bcIds.value
      val idx = java.util.Arrays.binarySearch(a, v)
      if (idx >= 0) idx.toLong
      else {
        val below = -idx - 1 // members with id < v
        a.length.toLong + (v - below)
      }
    }
    spark.range(nVertices)
      .select(col("id").as("vertex"), newOf(col("id")).as("new_id"))
  }

  /** Single-row graph summary ≡ EdgeOps.graphCounts. */
  def graphCountsDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq((nVerts.toLong, ids.last, nbrs.length.toLong / 2))
      .toDF("non_isolated_vertices", "max_used_vertex", "undirected_edge_count")
  }

  /** Exact 2-hop reach of the top-k hubs ≡ EdgeOps.twoHopReach(clean, k):
    * one |V|-bit set per hub over DENSE ids — each wedge costs a single
    * bit-set instead of a hashed (hub, vertex) row, and the distinct IS
    * the bitset, so the union+distinct multiset never materializes.
    * Hubs run in parallel on the common pool (k independent bitsets,
    * k·|V| bits total — 20 hubs × 32M verts = 80 MB worst case under
    * the kernel gate). Ties at the k-th degree break to the smaller
    * original id, matching the distributed orderBy(degree desc, src). */
  def twoHopReachDf(spark: org.apache.spark.sql.SparkSession,
                    k: Int): DataFrame = {
    import spark.implicits._
    val nV = nVerts
    val kk = math.min(k, nV)
    // Dense index order IS ascending original-id order, so scanning v
    // upward and replacing only on STRICTLY greater degree realizes the
    // (degree desc, id asc) tie-break with a k-slot insertion list.
    val hub = new Array[Int](kk)
    var filled = 0
    var v = 0
    while (v < nV) {
      val d = rowStarts(v + 1) - rowStarts(v)
      if (filled < kk) {
        var i = filled
        while (i > 0 && (rowStarts(hub(i - 1) + 1) - rowStarts(hub(i - 1))) < d) {
          hub(i) = hub(i - 1); i -= 1
        }
        hub(i) = v; filled += 1
      } else if (d > rowStarts(hub(kk - 1) + 1) - rowStarts(hub(kk - 1))) {
        var i = kk - 1
        while (i > 0 && (rowStarts(hub(i - 1) + 1) - rowStarts(hub(i - 1))) < d) {
          hub(i) = hub(i - 1); i -= 1
        }
        hub(i) = v
      }
      v += 1
    }
    val rows = new Array[(Long, Long, Long)](filled)
    java.util.stream.IntStream.range(0, filled).parallel().forEach { i =>
      val h = hub(i)
      val seen = new java.util.BitSet(nV)
      var p = rowStarts(h)
      val pe = rowStarts(h + 1)
      while (p < pe) {
        val u = nbrs(p)
        seen.set(u)
        var q = rowStarts(u)
        val qe = rowStarts(u + 1)
        while (q < qe) { seen.set(nbrs(q)); q += 1 }
        p += 1
      }
      seen.clear(h)
      rows(i) = (ids(h), (pe - rowStarts(h)).toLong, seen.cardinality().toLong)
    }
    rows.toSeq.toDF("vertex", "degree", "reach_2hop")
  }

  /** Degree-assortativity moments ≡ EdgeOps.assortativityMoments: exact
    * long sums (n, Σdeg(src), Σdeg(src)², Σdeg(src)·deg(dst)) over every
    * directed adjacency entry — one pass over the CSR neighbor array,
    * chunked across the common pool; long addition is associative so the
    * chunked fold is bit-identical to the sequential sum. */
  def assortMomentsDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val nV = nVerts
    val nChunks = math.min(LocalCsr.Threads * 4, math.max(1, nV))
    val acc = new Array[Array[Long]](nChunks)
    java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
      val from = (nV.toLong * c / nChunks).toInt
      val to = (nV.toLong * (c + 1) / nChunks).toInt
      var sd = 0L; var sd2 = 0L; var sxy = 0L
      var u = from
      while (u < to) {
        val du = (rowStarts(u + 1) - rowStarts(u)).toLong
        sd += du * du // u appears deg(u) times as src, deg(u) each
        sd2 += du * du * du
        var p = rowStarts(u)
        val pe = rowStarts(u + 1)
        while (p < pe) {
          val w = nbrs(p)
          sxy += du * (rowStarts(w + 1) - rowStarts(w))
          p += 1
        }
        u += 1
      }
      acc(c) = Array(sd, sd2, sxy)
    }
    var sd = 0L; var sd2 = 0L; var sxy = 0L
    var c = 0
    while (c < nChunks) {
      sd += acc(c)(0); sd2 += acc(c)(1); sxy += acc(c)(2); c += 1
    }
    Seq((nbrs.length.toLong, sd, sd2, sxy))
      .toDF("n_edges", "sum_d", "sum_d2", "sum_dxdy")
  }

  /** Unvisited-vertex edges (`m_u`) above which a bottom-up level runs
    * on the common ForkJoin pool instead of one thread. Fork/join
    * overhead beats the speedup below ~1M edge-work per level (measured
    * at SCALE 18). Test-visible so specs can force the parallel kernel
    * on tiny graphs. */
  private[bfs] var parallelWork = 1L << 20

  /** Min-parent BFS from `root` (original vertex id). Returns dense
    * (pred, depth) arrays (−1 = unset/unreached) + per-level sizes.
    *
    * Direction per level is Beamer's edge-count rule
    * ([[LocalCsr.nextBottomUp]]): top-down until the frontier's
    * out-edges `m_f` exceed 1/14 of the unvisited vertices' edges `m_u`
    * (`m_f·14 > m_u`), then bottom-up until the frontier is shrinking
    * and holds fewer than 1/24 of the vertices (`n_f·24 < nV`). `m_u`
    * starts at |nbrs| − deg(root) and drops by each new frontier's
    * out-edges. A bottom-up level tests frontier membership against a
    * `long[]` bitmap of nV/64 words built from the frontier array (the
    * reference's in-queue bitmap, bfs.hpp:1839-1967), and runs PARALLEL
    * across the common pool above 1M edge-work ([[parallelWork]], the
    * reference's OpenMP sections, bfs.hpp:2225): contiguous vertex
    * ranges, each vertex written by exactly one thread. Top-down levels
    * stay sequential (see [[topDown]]).
    */
  def bfs(root: Long): (Array[Int], Array[Int], Seq[(Int, Long)]) = {
    val nV = ids.length
    bfsInto(root, new Array[Int](nV), new Array[Int](nV))
  }

  private def degree(v: Int): Int = rowStarts(v + 1) - rowStarts(v)

  /** Σ degree over `vs` — a frontier's out-edge count `m_f`. */
  private def edgesOf(vs: Array[Int]): Long = {
    var m = 0L
    var i = 0
    while (i < vs.length) { m += degree(vs(i)); i += 1 }
    m
  }

  /** [[bfs]] into caller-provided work arrays (benchmark loops reuse
    * them across runs — per-run array churn otherwise lands a GC pause
    * in one run's time, which the harmonic mean amplifies). */
  def bfsInto(root: Long, pred: Array[Int],
              depth: Array[Int]): (Array[Int], Array[Int], Seq[(Int, Long)]) = {
    val v0 = java.util.Arrays.binarySearch(ids, root)
    require(v0 >= 0, s"root $root has no edges in this graph")
    val nV = ids.length
    java.util.Arrays.fill(pred, -1)
    java.util.Arrays.fill(depth, -1)
    pred(v0) = v0
    depth(v0) = 0
    var frontier = Array(v0)
    var mf = degree(v0).toLong
    var mu = nbrs.length.toLong - mf
    var prevNf = 0
    var bottomUp = false
    var bits: Array[Long] = null
    var level = 0
    val sizes = scala.collection.mutable.ArrayBuffer((0, 1L))

    while (frontier.nonEmpty) {
      level += 1
      bottomUp = LocalCsr.nextBottomUp(bottomUp, mf, mu, frontier.length,
        prevNf, nV)
      val next: Array[Int] =
        if (bottomUp) {
          if (bits == null) bits = new Array[Long]((nV + 63) >>> 6)
          else java.util.Arrays.fill(bits, 0L)
          var fi = 0
          while (fi < frontier.length) {
            val u = frontier(fi)
            bits(u >>> 6) |= 1L << u
            fi += 1
          }
          bottomUpLevel(bits, pred, depth, level, parallel = mu > parallelWork)
        } else {
          val next = topDown(frontier, pred, depth, level)
          java.util.Arrays.sort(next)
          next
        }
      prevNf = frontier.length
      frontier = next
      mf = edgesOf(next)
      mu -= mf
      if (frontier.nonEmpty) sizes += ((level, frontier.length.toLong))
    }
    (pred, depth, sizes.toSeq)
  }

  /** The kernel's per-level trace of one run, derived afterwards from its
    * depth array by replaying [[LocalCsr.nextBottomUp]] — the kernel
    * itself records nothing. One step per expanded frontier, the last
    * one finding no new vertex. */
  def levelTrace(depth: Array[Int]): Seq[LocalCsr.LevelStep] = {
    val nV = ids.length
    var maxD = -1
    var v = 0
    while (v < nV) { if (depth(v) > maxD) maxD = depth(v); v += 1 }
    val nfAt = new Array[Long](maxD + 2)
    val mfAt = new Array[Long](maxD + 2)
    v = 0
    while (v < nV) {
      val d = depth(v)
      if (d >= 0) { nfAt(d) += 1; mfAt(d) += degree(v) }
      v += 1
    }
    val steps = scala.collection.mutable.ArrayBuffer.empty[LocalCsr.LevelStep]
    var mu = nbrs.length.toLong - mfAt(0)
    var bottomUp = false
    var prevNf = 0L
    var level = 1
    while (level <= maxD + 1) {
      val nf = nfAt(level - 1)
      val mf = mfAt(level - 1)
      bottomUp = LocalCsr.nextBottomUp(bottomUp, mf, mu, nf, prevNf, nV)
      steps += LocalCsr.LevelStep(level, bottomUp, nf, mf, mu)
      prevNf = nf
      mu -= mfAt(level)
      level += 1
    }
    steps.toSeq
  }

  /** Top-down, always sequential: frontier ascending ⇒ first writer = min
    * parent (reference top-down, bfs.hpp:962-1137). Under the edge-count
    * switch the heavy levels go bottom-up, and no top-down level of a
    * Kronecker graph up to SCALE 20 (the largest under the kernel gate)
    * reaches [[parallelWork]] edges. */
  private def topDown(frontier: Array[Int], pred: Array[Int],
                      depth: Array[Int], level: Int): Array[Int] = {
    val next = new scala.collection.mutable.ArrayBuilder.ofInt
    var fi = 0
    while (fi < frontier.length) {
      val u = frontier(fi)
      var k = rowStarts(u)
      val end = rowStarts(u + 1)
      while (k < end) {
        val v = nbrs(k)
        if (depth(v) < 0) { pred(v) = u; depth(v) = level; next += v }
        k += 1
      }
      fi += 1
    }
    next.result()
  }

  /** One bottom-up level, on the common pool when `parallel`. The chunks
    * are contiguous ascending vertex ranges, so their concatenation is
    * ascending — the next frontier needs no sort. */
  private def bottomUpLevel(bits: Array[Long], pred: Array[Int],
                            depth: Array[Int], level: Int,
                            parallel: Boolean): Array[Int] = {
    val nV = ids.length
    if (!parallel) bottomUpRange(bits, pred, depth, level, 0, nV)
    else {
      val nChunks = LocalCsr.Threads * 4
      val buffers = new Array[Array[Int]](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
        buffers(c) = bottomUpRange(bits, pred, depth, level,
          (nV.toLong * c / nChunks).toInt, (nV.toLong * (c + 1) / nChunks).toInt)
      }
      concat(buffers)
    }
  }

  /** Bottom-up over unvisited vertices in [from, to): scan each row
    * ascending; the first (= min, rows sorted) neighbor in the frontier
    * bitmap adopts the vertex (reference bottom-up, bfs.hpp:1839-1967).
    * Each vertex is written only by the thread that owns its range and
    * the bitmap is read-only, so concurrent ranges are race-free. */
  private def bottomUpRange(bits: Array[Long], pred: Array[Int],
                            depth: Array[Int], level: Int,
                            from: Int, to: Int): Array[Int] = {
    val next = new scala.collection.mutable.ArrayBuilder.ofInt
    var v = from
    while (v < to) {
      if (depth(v) < 0) {
        var k = rowStarts(v)
        val end = rowStarts(v + 1)
        while (k < end) {
          val u = nbrs(k)
          if ((bits(u >>> 6) & (1L << u)) != 0L) {
            pred(v) = u; depth(v) = level; next += v; k = end
          } else k += 1
        }
      }
      v += 1
    }
    next.result()
  }

  private def concat(buffers: Array[Array[Int]]): Array[Int] = {
    var n = 0
    buffers.foreach(b => n += (if (b == null) 0 else b.length))
    val out = new Array[Int](n)
    var off = 0
    buffers.foreach { b =>
      if (b != null) { System.arraycopy(b, 0, out, off, b.length); off += b.length }
    }
    out
  }
}

object LocalCsr {

  private[bfs] val Threads: Int =
    math.max(2, Runtime.getRuntime.availableProcessors())

  /** One level of [[LocalCsr.levelTrace]]: the level it produced, its
    * direction, and the frontier size / out-edges / unvisited edges the
    * switch decided on. */
  final case class LevelStep(level: Int, bottomUp: Boolean, nf: Long,
                             mf: Long, mu: Long)

  /** Top-down → bottom-up once the frontier's out-edges exceed 1/Alpha of
    * the unvisited vertices' edges (Beamer et al., SC'12, α = 14). */
  private[bfs] val Alpha = 14L

  /** Bottom-up → top-down once the frontier is shrinking and holds fewer
    * than 1/BetaVerts of the vertices (Beamer's β = 24). */
  private[bfs] val BetaVerts = 24L

  /** The kernel's direction for the next level: `mf` = frontier
    * out-edges, `mu` = edges of the unvisited vertices, `nf` / `prevNf`
    * = this and the previous frontier's size, `nV` = vertex count. */
  private[bfs] def nextBottomUp(wasBottomUp: Boolean, mf: Long, mu: Long,
                                nf: Long, prevNf: Long, nV: Long): Boolean =
    if (!wasBottomUp) mf * Alpha > mu
    else !(nf * BetaVerts < nV && nf < prevNf)

  /** Build straight from a RAW flat pair array (a cleaned relation is a
    * valid one) in the reference's construction order
    * (graph_constructor.hpp:296-311, 1363-1412): dense ids ([[IdMap]]),
    * a degree count and a scatter of each non-loop pair in both
    * directions, then a sort of each row merging duplicates
    * ([[sortRows]]). The raw list is collected ONCE (vs collecting a
    * DataFrame union that scans the source twice and ships both
    * directions over the wire). */
  def buildFromRawPairs(flat: Array[Long]): LocalCsr = {
    val map = IdMap.ofPairs(flat)
    val (starts, entries) = groupRows(flat.length / 2, map.ids.length) {
      (from, to, sink) =>
        var j = from
        while (j < to) {
          val s = flat(2 * j); val d = flat(2 * j + 1)
          if (s != d) {
            val a = map(s); val b = map(d)
            sink.put(a, b); sink.put(b, a)
          }
          j += 1
        }
    }
    val (rowStarts, nbrs, _) = sortRows(starts, entries, merge = true, counted = false)
    new LocalCsr(map.ids, rowStarts, nbrs)
  }

  /** Collect (src, dst) pairs as ONE primitive long array
    * ([src,dst,src,dst,...]) — primitive chunks serialize compactly, no
    * driver-side deserialization of millions of boxed tuples; reading
    * InternalRow (queryExecution.toRdd) skips the Row conversion layer.
    * A row with a NULL endpoint is skipped, as the loop filter of
    * [[graft.etl.EdgeOps.cleanEdges]] drops it. */
  def collectPairs(df: DataFrame): Array[Long] = {
    val chunks: Array[Array[Long]] = df.select(col("src"), col("dst"))
      .queryExecution.toRdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) { b += r.getLong(0); b += r.getLong(1) }
        }
        Iterator.single(b.result())
      }.collect()
    val flat = new Array[Long](chunks.iterator.map(_.length).sum)
    var off = 0
    chunks.foreach { c => System.arraycopy(c, 0, flat, off, c.length); off += c.length }
    flat
  }

  /** `body(from, to)` over `Threads * 4` contiguous slices of [0, n), in
    * parallel on the common pool. */
  private[graft] def inStripes(n: Int)(body: (Int, Int) => Unit): Unit = {
    val nStripes = Threads * 4
    java.util.stream.IntStream.range(0, nStripes).parallel().forEach { st =>
      body((n.toLong * st / nStripes).toInt, (n.toLong * (st + 1) / nStripes).toInt)
    }
  }

  /** Where [[groupRows]]' `entries` puts each entry of one slice: it
    * first counts the entries of each row in `slots`, then, once `out`
    * is set and `slots` holds the slice's first slot in each row,
    * scatters them. One class for both passes keeps `put` monomorphic. */
  private[graft] final class RowSink private[LocalCsr] (slots: Array[Int]) {
    private[LocalCsr] var out: Array[Int] = _
    def put(row: Int, value: Int): Unit =
      if (out == null) slots(row) += 1
      else { out(slots(row)) = value; slots(row) += 1 }
  }

  /** Groups entries into rows by a counting sort: `entries(from, to,
    * sink)` puts the entries of input items [from, to) into `sink`, the
    * same ones on every call. It is called twice per slice of the
    * [0, nItems) items, once to count each row's entries and once to
    * scatter them. Each slice counts and scatters into slots of its own,
    * so no write is shared; there are no more slices than `nItems /
    * nRows`, so the counts take no more room than the entries. Returns
    * each row's start and the entries, in no set order within a row. */
  private[graft] def groupRows(nItems: Int, nRows: Int)(
      entries: (Int, Int, RowSink) => Unit): (Array[Int], Array[Int]) = {
    val nSlices = math.max(1, math.min(Threads, nItems / math.max(1, nRows)))
    val slots = Array.fill(nSlices)(new Array[Int](nRows))
    val sinks = slots.map(new RowSink(_))
    def slices(): Unit =
      java.util.stream.IntStream.range(0, nSlices).parallel().forEach { sl =>
        entries((nItems.toLong * sl / nSlices).toInt,
          (nItems.toLong * (sl + 1) / nSlices).toInt, sinks(sl))
      }
    slices()
    // each slice's count becomes its first slot in the row
    val starts = new Array[Int](nRows + 1)
    var pos = 0
    var r = 0
    while (r < nRows) {
      starts(r) = pos
      var sl = 0
      while (sl < nSlices) {
        val n = slots(sl)(r); slots(sl)(r) = pos; pos += n; sl += 1
      }
      r += 1
    }
    starts(nRows) = pos
    val out = new Array[Int](pos)
    sinks.foreach(_.out = out)
    slices()
    (starts, out)
  }

  /** Sorted distinct vertex ids and the map from an id to its dense index,
    * its position in `ids`. */
  private[graft] abstract class IdMap(val ids: Array[Long]) {
    /** The dense index of `x`, or -1 when `x` is not an id. */
    def apply(x: Long): Int
  }

  /** Dense ids — non-negative, with a bitmap over [0, max id] no larger
    * than the pair array they come from — map through that bitmap and a
    * per-word prefix popcount, the reference's `row_bitmap_` /
    * `row_sums_` (graph_constructor.hpp:24-143): two reads and a
    * popcount per lookup. Other ids map through an open-addressed hash
    * over the sorted ids. */
  private[graft] object IdMap {

    private def dense(min: Long, max: Long, budget: Long): Boolean =
      min >= 0L && (max >>> 6) < budget

    /** The map over sorted distinct `ids`, taken from a pair array of
      * `budget` longs. */
    def ofSorted(ids: Array[Long], budget: Long): IdMap =
      if (ids.nonEmpty && !dense(ids(0), ids.last, budget)) new Hashed(ids)
      else {
        val bits = new Array[Long](if (ids.isEmpty) 0 else (ids.last >>> 6).toInt + 1)
        ids.foreach(v => bits((v >>> 6).toInt) |= 1L << v)
        new Ranked(bits, ids)
      }

    /** The map over the vertices of a raw pair array: both endpoints of
      * every non-loop pair. */
    def ofPairs(flat: Array[Long]): IdMap = {
      val nIn = flat.length / 2
      def each(from: Int, to: Int)(f: Long => Unit): Unit = {
        var j = from
        while (j < to) {
          val s = flat(2 * j); val d = flat(2 * j + 1)
          if (s != d) { f(s); f(d) }
          j += 1
        }
      }
      val bounds = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      inStripes(nIn) { (from, to) =>
        var min = Long.MaxValue; var max = Long.MinValue
        var j = from
        while (j < to) {
          val s = flat(2 * j); val d = flat(2 * j + 1)
          if (s != d) {
            if (math.min(s, d) < min) min = math.min(s, d)
            if (math.max(s, d) > max) max = math.max(s, d)
          }
          j += 1
        }
        bounds.add((min, max))
      }
      var min = Long.MaxValue; var max = Long.MinValue
      bounds.forEach { case (a, b) => min = math.min(min, a); max = math.max(max, b) }
      if (min > max) new Ranked(Array.emptyLongArray, Array.emptyLongArray)
      else if (dense(min, max, flat.length)) {
        // concurrent bit-sets: a set bit is never written again, so a
        // CAS runs only the first few times a vertex is seen
        val shared = new java.util.concurrent.atomic.AtomicLongArray((max >>> 6).toInt + 1)
        inStripes(nIn) { (from, to) =>
          each(from, to) { v =>
            val w = (v >>> 6).toInt
            val m = 1L << v
            var old = shared.get(w)
            while ((old & m) == 0L && !shared.compareAndSet(w, old, old | m))
              old = shared.get(w)
          }
        }
        val bits = Array.tabulate(shared.length)(shared.get)
        val ids = new Array[Long](bits.iterator.map(java.lang.Long.bitCount).sum)
        var k = 0
        var w = 0
        while (w < bits.length) {
          var word = bits(w)
          while (word != 0L) {
            ids(k) = (w.toLong << 6) + java.lang.Long.numberOfTrailingZeros(word)
            k += 1
            word &= word - 1
          }
          w += 1
        }
        new Ranked(bits, ids)
      } else {
        // sparse: distinct sorted ids by a primitive parallel sort and an
        // in-place dedup
        val endpoints = new scala.collection.mutable.ArrayBuilder.ofLong
        endpoints.sizeHint(nIn * 2)
        each(0, nIn)(endpoints += _)
        val a = endpoints.result()
        java.util.Arrays.parallelSort(a)
        var n = 0
        var i = 0
        while (i < a.length) {
          if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
          i += 1
        }
        new Hashed(java.util.Arrays.copyOf(a, n))
      }
    }

    private final class Ranked(bits: Array[Long], ids: Array[Long]) extends IdMap(ids) {
      /** Set bits in the words before each word. */
      private val rank: Array[Int] = {
        val r = new Array[Int](bits.length)
        var c = 0
        var w = 0
        while (w < bits.length) { r(w) = c; c += java.lang.Long.bitCount(bits(w)); w += 1 }
        r
      }
      def apply(x: Long): Int = {
        val w = x >>> 6 // past the bitmap for a negative x too
        if (w >= bits.length) -1
        else {
          val word = bits(w.toInt)
          val m = 1L << x
          if ((word & m) == 0L) -1
          else rank(w.toInt) + java.lang.Long.bitCount(word & (m - 1))
        }
      }
    }

    /** Linear probing at ≤ 50% load: ~1.5 probes per hit, against
      * log2(nV) dependent cache misses for a binary search. */
    private final class Hashed(ids: Array[Long]) extends IdMap(ids) {
      private val mask =
        (java.lang.Integer.highestOneBit(math.max(2, ids.length) * 2 - 1) << 1) - 1
      private val keys = new Array[Long](mask + 1)
      private val vals = Array.fill(mask + 1)(-1)
      ids.indices.foreach { i =>
        var h = slot(ids(i))
        while (vals(h) >= 0) h = (h + 1) & mask
        keys(h) = ids(i); vals(h) = i
      }
      private def slot(x: Long): Int = ((x * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
      def apply(x: Long): Int = {
        var h = slot(x)
        while (vals(h) >= 0 && keys(h) != x) h = (h + 1) & mask
        vals(h)
      }
    }
  }

  /** Sorts each row `vals(starts(v) until starts(v + 1))` ascending, on
    * the common pool in chunks of rows balanced by entries. With
    * `merge`, each run of equal values in a row becomes one value, and
    * with `counted` its run length is recorded beside it. Returns the
    * rows' starts, values and (when counted) run lengths; `vals` itself
    * when nothing merged. */
  private[graft] def sortRows(starts: Array[Int], vals: Array[Int], merge: Boolean,
                              counted: Boolean): (Array[Int], Array[Int], Array[Int]) = {
    val nRows = starts.length - 1
    val total = starts(nRows)
    val nChunks = Threads * 4
    // chunk c covers rows [cut(c), cut(c + 1)): the first row starting
    // at or after its share of the entries
    val cut = Array.tabulate(nChunks + 1) { c =>
      if (c == nChunks) nRows
      else {
        val target = total.toLong * c / nChunks
        var lo = 0; var hi = nRows
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (starts(mid) < target) lo = mid + 1 else hi = mid
        }
        lo
      }
    }
    def chunks(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
        var v = cut(c)
        while (v < cut(c + 1)) { body(v); v += 1 }
      }
    val mult = if (counted) new Array[Int](total) else null
    val kept = new Array[Int](nRows + 1) // kept(v + 1): values row v keeps
    chunks { v =>
      val s = starts(v); val e = starts(v + 1)
      java.util.Arrays.sort(vals, s, e)
      if (!merge) kept(v + 1) = e - s
      else {
        var w = s
        var k = s
        while (k < e) {
          val x = vals(k)
          var r = k + 1
          while (r < e && vals(r) == x) r += 1
          vals(w) = x
          if (counted) mult(w) = r - k
          w += 1
          k = r
        }
        kept(v + 1) = w - s
      }
    }
    var v = 0
    while (v < nRows) { kept(v + 1) += kept(v); v += 1 }
    if (kept(nRows) == total) (starts, vals, mult)
    else {
      val outV = new Array[Int](kept(nRows))
      val outM = if (counted) new Array[Int](kept(nRows)) else null
      chunks { v =>
        val n = kept(v + 1) - kept(v)
        System.arraycopy(vals, starts(v), outV, kept(v), n)
        if (counted) System.arraycopy(mult, starts(v), outM, kept(v), n)
      }
      (kept, outV, outM)
    }
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
