package graft.bfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Triangle counting over an undirected graph via degree-ordered edge
 * orientation — the standard skew-proof formulation (Latapy's
 * compact-forward / "oriented wedge + closing-edge check").
 *
 * The reference engine's analytics surface stops at BFS/SSSP stubs
 * (mpi/bfs.hpp:2569-2571); triangle counting is the next query a graph
 * user runs, and its naive form (join every wedge) is the canonical
 * skew disaster on power-law graphs: a hub of degree d contributes
 * O(d²) wedges. Orienting every edge from its (degree, id)-smaller
 * endpoint to its larger one bounds the oriented out-degree by
 * O(sqrt(m)), so the wedge join touches O(m^1.5) rows worst-case
 * instead of Σd² — this is the difference between "finishes at 100 TB"
 * and "one straggler task owns the hub".
 *
 * Physical shape (distributed path): two shuffles on vertex keys for
 * the degree join, one self-join on the wedge apex (the exchange is
 * shared by both sides), and one left join against the oriented edge
 * set for the closing-edge check — every join an equi-join, no
 * cartesian anywhere. The one-row output (n_wedges, n_triangles)
 * aggregates with a partial-agg map side.
 *
 * The family's graph is the co-purchase graph of a (group, member)
 * list, and [[coPurchase]] is its one construction and one gate decision
 * on the graph gate ([[graft.Gates.localBfsMaxEdges]]): under it a
 * [[LocalCsr]] built from pairs expanded in-kernel, which the `*Csr`
 * readers sweep (sorted adjacency rows make the closing-edge check a
 * merge intersection of two oriented rows); above it the persisted
 * [[TriangleTables]], which the `*FromTables` plans reduce.
 */
object Triangles {

  /** The distributed triangle-family machinery over one cleaned graph:
    * the degree table, the degree-ordered oriented edge set (a, b, bd),
    * and the enumerated triangle rows (a, b, c) — count, local-cc and
    * edge-Jaccard are all cheap reductions of `tri`, so a caller
    * serving the whole family builds (and persists) these ONCE instead
    * of re-running the degree joins and the O(m^1.5) wedge join per
    * query (at sf0.1 the repeated wedge join was the entire
    * forced-distributed cost of the second and third family member).
    * All three frames are lazy; persistence is the caller's call. */
  final case class TriangleTables(deg: DataFrame, ori: DataFrame,
                                  tri: DataFrame) {
    def persistAll(): this.type = {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      deg.persist(lvl); ori.persist(lvl); tri.persist(lvl); this
    }
  }

  /** Build the family tables from a cleaned symmetric loop-free edge
    * DataFrame (both directions present). `tri` enumerates each
    * triangle with ranks x < y < z exactly once as (a=x, b=y, c=z):
    * the wedge at apex x closed by the oriented edge y -> z. */
  def triangleTables(clean: DataFrame): TriangleTables = {
    val deg = clean.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val ori = clean
      .join(deg.select(col("v").as("src"), col("d").as("sd")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("dd")), "dst")
      .where(col("sd") < col("dd") ||
        (col("sd") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"), col("dd").as("bd"))
    val tri = ori.as("e1")
      .join(ori.select(col("a"), col("b").as("c"), col("bd").as("cd"))
        .as("e2"), "a")
      .where(col("bd") < col("cd") ||
        (col("bd") === col("cd") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
      .join(ori.select(col("a").as("b"), col("b").as("c")),
        Seq("b", "c"), "left_semi")
    TriangleTables(deg, ori, tri)
  }

  /** One-row (n_wedges, n_triangles) of the graph the shared tables were
    * built from — [[countCsr]]'s result. The wedge
    * count is the closed form Σ_a od(a)·(od(a)−1)/2 over the oriented
    * out-degrees — exactly the wedge join's row count (each apex
    * contributes its out-pairs), derived WITHOUT materializing the
    * wedge rows; triangles are the size of the enumerated `tri`. */
  def countFromTables(spark: SparkSession, t: TriangleTables): DataFrame = {
    val w = t.ori.groupBy("a").agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("w"))
      .head().getLong(0)
    val nTri = t.tri.count()
    import spark.implicits._
    Seq((w, nTri)).toDF("n_wedges", "n_triangles")
  }

  /** Degree-ordered orientation of a symmetric CSR in rank space:
    * (rankOf dense→rank, inverse rank→dense, oriStarts, ori) with every
    * oriented row sorted — the shared front half of the counting
    * kernels. */
  private def orientCsr(csr: LocalCsr)
      : (Array[Int], Array[Int], Array[Int], Array[Int]) = {
    val nV = csr.nVerts
    val rs = csr.rowStarts
    val nbrs = csr.nbrs
    // rank permutation: sort (deg, dense id) packed into one long —
    // dense ids are id-sorted, so the packed sort realizes rankLt
    val packed = new Array[Long](nV)
    var v = 0
    while (v < nV) {
      packed(v) = ((rs(v + 1) - rs(v)).toLong << 32) | v.toLong
      v += 1
    }
    java.util.Arrays.parallelSort(packed)
    val rankOf = new Array[Int](nV)
    val denseOf = new Array[Int](nV)
    var r = 0
    while (r < nV) {
      val d = (packed(r) & 0xffffffffL).toInt
      rankOf(d) = r
      denseOf(r) = d
      r += 1
    }

    // oriented adjacency in rank space, per-row sorted
    val oriStarts = new Array[Int](nV + 1)
    v = 0
    while (v < nV) {
      var k = rs(v)
      var c = 0
      while (k < rs(v + 1)) {
        if (rankOf(v) < rankOf(nbrs(k))) c += 1
        k += 1
      }
      oriStarts(rankOf(v) + 1) = c
      v += 1
    }
    var i = 0
    while (i < nV) { oriStarts(i + 1) += oriStarts(i); i += 1 }
    val ori = new Array[Int](oriStarts(nV))
    val fill = new Array[Int](nV)
    v = 0
    while (v < nV) {
      val ru = rankOf(v)
      var k = rs(v)
      while (k < rs(v + 1)) {
        val rw = rankOf(nbrs(k))
        if (ru < rw) { ori(oriStarts(ru) + fill(ru)) = rw; fill(ru) += 1 }
        k += 1
      }
      v += 1
    }
    r = 0
    while (r < nV) {
      java.util.Arrays.sort(ori, oriStarts(r), oriStarts(r + 1))
      r += 1
    }
    (rankOf, denseOf, oriStarts, ori)
  }

  /** [[countCsr]] rendered as the one-row (n_wedges, n_triangles)
    * DataFrame contract. */
  def countCsrDf(spark: SparkSession, csr: LocalCsr): DataFrame = {
    val (w, t) = countCsr(csr)
    import spark.implicits._
    Seq((w, t)).toDF("n_wedges", "n_triangles")
  }

  /** In-kernel count on a symmetric CSR (sorted ids, sorted rows). The
    * graph is relabeled into rank space — rank = position in the
    * (degree, id) sort — so orientation is "smaller rank -> larger
    * rank" and the closing-edge check is a merge intersection of two
    * rank-sorted oriented rows. Each triangle with ranks x < y < z is
    * counted exactly once, at oriented edge (x, y): z ∈ out(x) ∩ out(y). */
  def countCsr(csr: LocalCsr): (Long, Long) = {
    val nV = csr.nVerts
    val (_, _, oriStarts, ori) = orientCsr(csr)

    // intersection sweep, parallel over vertex stripes (reads only)
    val nStripes = math.min(nV, Runtime.getRuntime.availableProcessors * 4)
    val wedgeAcc = new Array[Long](math.max(nStripes, 1))
    val triAcc = new Array[Long](math.max(nStripes, 1))
    java.util.stream.IntStream.range(0, nStripes).parallel().forEach { st =>
      val from = (nV.toLong * st / nStripes).toInt
      val to = (nV.toLong * (st + 1) / nStripes).toInt
      var wedges = 0L
      var triangles = 0L
      var u = from
      while (u < to) {
        val od = (oriStarts(u + 1) - oriStarts(u)).toLong
        wedges += od * (od - 1) / 2
        var k = oriStarts(u)
        while (k < oriStarts(u + 1)) {
          val w = ori(k)
          var i2 = oriStarts(u)
          var j2 = oriStarts(w)
          while (i2 < oriStarts(u + 1) && j2 < oriStarts(w + 1)) {
            val x = ori(i2); val y = ori(j2)
            if (x == y) { triangles += 1; i2 += 1; j2 += 1 }
            else if (x < y) i2 += 1
            else j2 += 1
          }
          k += 1
        }
        u += 1
      }
      wedgeAcc(st) = wedges
      triAcc(st) = triangles
    }
    (wedgeAcc.sum, triAcc.sum)
  }

  /** The co-purchase graph of a (group, member) list — an edge between
    * two members that share a group — built once and gated once: under
    * the gate a kernel CSR from pairs expanded in-kernel
    * ([[coPurchasePairFlat]]), so the gated path never runs the
    * distributed self-join (the group-key sort-merge join plus its
    * re-execution for the collect was 2-3× the cost of everything else
    * at sf0.1); above the gate — or when keys exceed the 32-bit pack
    * range — the family tables over the distributed self-join, persisted.
    * Per-group fan-out is the (bounded) group size, so the join is
    * skew-safe. */
  def coPurchase(groupMember: DataFrame): Either[LocalCsr, TriangleTables] = {
    val gm = groupMember.select(col("src"), col("dst"))
    coPurchasePairFlat(gm) match {
      case Some(flat) => Left(LocalCsr.buildFromRawPairs(flat))
      case None => Right(triangleTables(
        graft.etl.EdgeOps.cleanEdges(coPurchaseSelfJoin(gm))).persistAll())
    }
  }

  /** Top-k EDGES by neighborhood Jaccard similarity of their
    * endpoints — tie strength, the link-analysis primitive behind
    * Jaccard graph sparsification (keep strong edges) and
    * "customers-who-bought-X-also-bought-Y" ranking:
    * J(a,b) = |N(a)∩N(b)| / (|N(a)| + |N(b)| − 2 − |N(a)∩N(b)|) for an
    * edge (a,b) — the common count is exactly the triangles through
    * the edge, the −2 removes a and b from each other's neighborhood
    * union.
    *
    * Scale shape: per-edge common counts ride the SAME degree-ordered
    * oriented wedge join as [[countFromTables]] — oriented out-degree
    * is O(√m), so the wedge mass is O(m^1.5) however hubby the graph
    * (an unoriented all-pairs common-neighbor count is Σdeg², which
    * measured 24 s vs ~1 s at sf0.1 on the co-purchase graph); each
    * closed triangle credits its three normalized edges via a 3-way
    * explode, one partial-agg'd groupBy per edge, TakeOrdered top-k on
    * the rounded score. Only edges in ≥ 1 triangle appear (a zero
    * common count carries no ranking signal). Only `tri` and `deg` are
    * consumed. */
  def jaccardFromTables(t: TriangleTables, k: Int): DataFrame = {
    val credits = t.tri.select(explode(array(
        struct(least(col("a"), col("b")).as("va"),
          greatest(col("a"), col("b")).as("vb")),
        struct(least(col("a"), col("c")).as("va"),
          greatest(col("a"), col("c")).as("vb")),
        struct(least(col("b"), col("c")).as("va"),
          greatest(col("b"), col("c")).as("vb")))).as("e"))
      .select(col("e.va").as("va"), col("e.vb").as("vb"))
    val common = credits.groupBy("va", "vb")
      .agg(count(lit(1)).as("common"))
    val out = common
      .join(t.deg.select(col("v").as("va"), col("d").as("deg_a")), "va")
      .join(t.deg.select(col("v").as("vb"), col("d").as("deg_b")), "vb")
      .select(col("va").as("vertex_a"), col("vb").as("vertex_b"),
        col("common"), col("deg_a"), col("deg_b"),
        round(col("common").cast("double") /
          (col("deg_a") + col("deg_b") - lit(2) - col("common"))
            .cast("double"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("vertex_a"), col("vertex_b"))
      .limit(k)
    out.localCheckpoint(true)
  }

  /** Distributed co-occurrence pair expansion: the per-group self-join.
    * Per-group fan-out is the (bounded) group size, so the join is
    * skew-safe. */
  private def coPurchaseSelfJoin(gm: DataFrame): DataFrame =
    gm.as("a").join(gm.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("src"), col("b.dst").as("dst"))

  /** Kernel-side co-occurrence pair expansion: collects the raw (group,
    * member) projection when it fits the gate AND the (32, 32)-bit pack
    * range, and emits each distinct unordered pair once per group.
    * None ⇒ [[coPurchase]] takes the distributed self-join instead. The
    * gate probes the INPUT row count (one cheap scan-count), not the
    * pair count; pair blow-up beyond the gate is caught by the
    * pack-range / builder-size recheck. */
  private def coPurchasePairFlat(gm: DataFrame): Option[Array[Long]] = {
    if (!graft.Gates.localBfsMaxEdges.fits(gm)) None
    else {
      val flat = LocalCsr.collectPairs(gm)
      val nIn = flat.length / 2
      var packable = true
      var i = 0
      while (i < flat.length && packable) {
        // group key and member key must fit the (32, 32) bit pack
        if (flat(i) < 0 || flat(i) > Int.MaxValue ||
          flat(i + 1) < 0 || flat(i + 1) > 0xffffffffL) packable = false
        i += 2
      }
      if (!packable) None
      else {
        val packed = new Array[Long](nIn)
        i = 0
        while (i < nIn) {
          packed(i) = (flat(2 * i) << 32) | flat(2 * i + 1)
          i += 1
        }
        java.util.Arrays.parallelSort(packed)
        // per group (sorted run of the high word): members are sorted;
        // emit each distinct unordered pair once per group
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        var lo = 0
        while (lo < nIn) {
          var hi = lo + 1
          while (hi < nIn && (packed(hi) >>> 32) == (packed(lo) >>> 32)) hi += 1
          var a = lo
          while (a < hi) {
            // skip duplicate members within the group (sorted ⇒ adjacent)
            if (a == lo || packed(a) != packed(a - 1)) {
              val ma = packed(a) & 0xffffffffL
              var c = a + 1
              while (c < hi) {
                if (packed(c) != packed(c - 1)) {
                  b += ma; b += packed(c) & 0xffffffffL
                }
                c += 1
              }
            }
            a += 1
          }
          lo = hi
        }
        Some(b.result())
      }
    }
  }

  /** Per-vertex local clustering coefficients, top-k vertices by
    * (degree desc, id asc), in-kernel: the orientation sweep credits
    * each triangle's THREE corners (a CAS-add per corner — ranks are
    * random-ish, so contention is negligible), then cc_v =
    * 2·t_v / (d_v·(d_v−1)) is rendered exactly like the SQL oracle
    * (HALF_UP at 6 dp on the same IEEE double). */
  def localCcTopCsr(spark: SparkSession, csr: LocalCsr,
                    k: Int): DataFrame = {
    val nV = csr.nVerts
    val rs = csr.rowStarts
    val (_, denseOf, oriStarts, ori) = orientCsr(csr)
    val triOf = new java.util.concurrent.atomic.AtomicLongArray(nV)
    val nStripes = math.min(nV, Runtime.getRuntime.availableProcessors * 4)
    java.util.stream.IntStream.range(0, nStripes).parallel().forEach { st =>
      val from = (nV.toLong * st / nStripes).toInt
      val to = (nV.toLong * (st + 1) / nStripes).toInt
      var u = from
      while (u < to) {
        var k2 = oriStarts(u)
        var uCredit = 0L
        while (k2 < oriStarts(u + 1)) {
          val w = ori(k2)
          var i2 = oriStarts(u)
          var j2 = oriStarts(w)
          var wCredit = 0L
          while (i2 < oriStarts(u + 1) && j2 < oriStarts(w + 1)) {
            val x = ori(i2); val y = ori(j2)
            if (x == y) {
              uCredit += 1; wCredit += 1; triOf.addAndGet(x, 1L)
              i2 += 1; j2 += 1
            }
            else if (x < y) i2 += 1
            else j2 += 1
          }
          if (wCredit != 0) triOf.addAndGet(w, wCredit)
          k2 += 1
        }
        if (uCredit != 0) triOf.addAndGet(u, uCredit)
        u += 1
      }
    }
    // top-k by (degree desc, id asc): degree packed descending-friendly
    val rows = (0 until nV).map { r =>
      val dense = denseOf(r)
      val d = (rs(dense + 1) - rs(dense)).toLong
      (csr.ids(dense), d, triOf.get(r))
    }.sortBy { case (id, d, _) => (-d, id) }.take(k).map {
      case (id, d, t) =>
        val cc =
          if (d < 2) 0.0
          else BigDecimal(2.0 * t / (d * (d - 1)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, d, t, cc)
    }
    import spark.implicits._
    rows.toDF("v", "degree", "n_tri", "local_cc")
  }

  /** Per-vertex local clustering coefficients, top-k vertices by
    * (degree desc, id asc), from the shared tables — [[localCcTopCsr]]'s
    * rows: each enumerated triangle credits its three corners via a
    * 3-way explode, and the k result rows come back through TakeOrdered
    * — per-partition bounded heaps, never a global sort. Only `tri` and
    * `deg` are consumed. */
  def localCcFromTables(spark: SparkSession, t: TriangleTables,
                        k: Int): DataFrame = {
    val tv = t.tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    val out = t.deg.join(tv, Seq("v"), "left")
      .select(col("v"), col("d").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("local_cc", round(
        when(col("degree") >= 2,
          lit(2.0) * col("n_tri") / (col("degree") * (col("degree") - 1)))
          .otherwise(0.0), 6))
      .orderBy(col("degree").desc, col("v")).limit(k)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    import spark.implicits._
    out.toDF("v", "degree", "n_tri", "local_cc")
  }

  /** Kernel twin of [[jaccardFromTables]]: the same orientation sweep, but
    * each triangle credits its three ORIENTED EDGES (CAS-add on the
    * oriented-adjacency position — the wedge edge k2 and the two
    * intersection cursors i2/j2 each name one edge of the triangle),
    * then per-edge J renders with full degrees exactly like the
    * distributed plan. */
  def jaccardTopCsr(spark: SparkSession, csr: LocalCsr, k: Int): DataFrame = {
    val nV = csr.nVerts
    val rs = csr.rowStarts
    val (_, denseOf, oriStarts, ori) = orientCsr(csr)
    val triOfEdge =
      new java.util.concurrent.atomic.AtomicLongArray(ori.length)
    val nStripes = math.min(nV, Runtime.getRuntime.availableProcessors * 4)
    java.util.stream.IntStream.range(0, nStripes).parallel().forEach { st =>
      val from = (nV.toLong * st / nStripes).toInt
      val to = (nV.toLong * (st + 1) / nStripes).toInt
      var u = from
      while (u < to) {
        var k2 = oriStarts(u)
        while (k2 < oriStarts(u + 1)) {
          val w = ori(k2)
          var i2 = oriStarts(u)
          var j2 = oriStarts(w)
          var k2Credit = 0L
          while (i2 < oriStarts(u + 1) && j2 < oriStarts(w + 1)) {
            val x = ori(i2); val y = ori(j2)
            if (x == y) {
              k2Credit += 1
              triOfEdge.addAndGet(i2, 1L)
              triOfEdge.addAndGet(j2, 1L)
              i2 += 1; j2 += 1
            }
            else if (x < y) i2 += 1
            else j2 += 1
          }
          if (k2Credit != 0) triOfEdge.addAndGet(k2, k2Credit)
          k2 += 1
        }
        u += 1
      }
    }
    def realId(rank: Int): Long = csr.ids(denseOf(rank))
    def degOf(rank: Int): Long = {
      val dense = denseOf(rank)
      (rs(dense + 1) - rs(dense)).toLong
    }
    // top-k via a bounded heap over the edge scan — never materialize
    // or sort the per-edge table (the per-edge row count is O(m)).
    // Weakest kept entry first: jaccard asc, then (va, vb) DESC so the
    // heap evicts the lexicographically-largest among score ties.
    final case class E(va: Long, vb: Long, c: Long, da: Long, db: Long,
                       j: Double)
    val weakestFirst = new java.util.Comparator[E] {
      def compare(x: E, y: E): Int = {
        val byJ = java.lang.Double.compare(x.j, y.j)
        if (byJ != 0) byJ
        else {
          val byA = java.lang.Long.compare(y.va, x.va)
          if (byA != 0) byA else java.lang.Long.compare(y.vb, x.vb)
        }
      }
    }
    val heap = new java.util.PriorityQueue[E](k + 1, weakestFirst)
    var u = 0
    while (u < nV) {
      var p = oriStarts(u)
      while (p < oriStarts(u + 1)) {
        val c = triOfEdge.get(p)
        if (c > 0) {
          val w = ori(p)
          val (ia, ib) = (realId(u), realId(w))
          val (va, vb) = if (ia <= ib) (ia, ib) else (ib, ia)
          val (da, db) =
            if (ia <= ib) (degOf(u), degOf(w)) else (degOf(w), degOf(u))
          val j = BigDecimal(c.toDouble / (da + db - 2 - c))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val e = E(va, vb, c, da, db, j)
          if (heap.size < k) heap.offer(e)
          else if (weakestFirst.compare(e, heap.peek()) > 0) {
            heap.poll(); heap.offer(e)
          }
        }
        p += 1
      }
      u += 1
    }
    val top = scala.collection.mutable.ArrayBuffer.empty[E]
    heap.forEach(e => { top += e; () })
    import spark.implicits._
    top.sortBy(e => (-e.j, e.va, e.vb))
      .map(e => (e.va, e.vb, e.c, e.da, e.db, e.j)).toSeq
      .toDF("vertex_a", "vertex_b", "common", "deg_a", "deg_b", "jaccard")
  }
}
