package graft.validate

import org.apache.spark.sql.DataFrame

/**
 * In-memory validation kernel — the hybrid fast path of [[Validator]]
 * for benchmark loops whose graphs fit under the local-kernel gate
 * ([[graft.Gates.localBfsMaxEdges]]).
 *
 * The reference validates each BFS run with five checks over the RAW
 * edge list, each a scan that runs in parallel on every rank
 * (mpi/validate.hpp:507-802); at benchmark scales that list lives in
 * memory, and a DataFrame validation pass costs ~1.5 s of fixed job
 * overhead per run. This kernel collects the raw list ONCE (primitive
 * chunks), precomputes each edge's dense endpoints against the graph's
 * sorted vertex ids, and then validates a run's dense (pred, depth)
 * arrays in one pass over `availableProcessors() * 4` stripes on the
 * common pool, as [[graft.bfs.LocalCsr]]'s kernels do: each stripe
 * covers a slice of the vertices AND a slice of the raw edges and keeps
 * its own eight counters, which the caller's thread then sums. Long
 * addition is associative, so the counters are exactly those of a
 * sequential pass — identical to [[Validator.validate]]
 * (LocalValidatorSpec proves equality on multi-stripe Kronecker lists,
 * including the SQL null-propagation corner cases).
 *
 * The pred-edge check looks (lo, hi) up in the distinct undirected raw
 * edges, kept as rows: `loStart` (nV+1 offsets) indexes the his of each
 * lo endpoint, sorted, so a lookup binary-searches one row, not the
 * whole edge set. The rows are derived from the raw list, never from
 * the BFS's CSR, so validation stays independent of what it checks.
 *
 * Counter semantics replicated exactly from the DataFrame queries:
 *  - root_errors:   error iff (pred ≠ root) OR (depth set AND ≠ 0) —
 *                   a NULL depth makes the OR's right side NULL, which
 *                   `when` treats as no-count.
 *  - depth_chain:   for reached non-root v: error iff parent depth NULL,
 *                   or v's depth set and ≠ parent depth + 1.
 *  - edge checks:   per raw edge WITH multiplicity (self-loops included);
 *                   endpoint depth is NULL if the vertex is isolated
 *                   (absent from the cleaned graph) or unreached.
 */
final class LocalValidator(clean_ids: Array[Long], rawPairs: Array[Long]) {

  /** Collects the raw list itself (primitive chunks). Prefer the primary
    * constructor when the flat pair array already exists (e.g. from the
    * construction stage) — the list then ships from the executors ONCE. */
  def this(clean_ids: Array[Long], rawEdges: DataFrame) =
    this(clean_ids, graft.bfs.LocalCsr.collectPairs(rawEdges))

  private val nStripes = Runtime.getRuntime.availableProcessors() * 4
  private val NCounters = 8

  /** Start of stripe `st` of [0, n), which spans
    * [bound(n, st), bound(n, st + 1)). */
  private def bound(n: Int, st: Int): Int = (n.toLong * st / nStripes).toInt

  /** Runs `body(stripe, from, to)` over the `nStripes` stripes of
    * [0, n), in parallel on the common pool. */
  private def forStripes(n: Int)(body: (Int, Int, Int) => Unit): Unit =
    java.util.stream.IntStream.range(0, nStripes).parallel().forEach { st =>
      body(st, bound(n, st), bound(n, st + 1))
    }

  // dense endpoint per raw edge; -1 = endpoint not in the cleaned graph
  private val (edgeU, edgeV) = {
    val nE = rawPairs.length / 2
    val u = new Array[Int](nE)
    val v = new Array[Int](nE)
    // two binary searches per edge dominate construction otherwise
    forStripes(nE) { (_, from, to) =>
      var i = from
      while (i < to) {
        val s = java.util.Arrays.binarySearch(clean_ids, rawPairs(2 * i))
        val d = java.util.Arrays.binarySearch(clean_ids, rawPairs(2 * i + 1))
        u(i) = if (s < 0) -1 else s
        v(i) = if (d < 0) -1 else d
        i += 1
      }
    }
    (u, v)
  }

  /** Distinct undirected raw edges (loops and endpoints outside the
    * cleaned graph dropped) as rows — membership oracle for the
    * pred-edge check: the his of lo sit sorted in
    * `undirectedHi(loStart(lo) until loStart(lo + 1))`. */
  private val (loStart, undirectedHi) = {
    def kept(i: Int): Boolean = {
      val a = edgeU(i); val c = edgeV(i)
      a >= 0 && c >= 0 && a != c
    }
    // per-stripe counts → offsets → parallel fill of packed (lo, hi)
    val nE = edgeU.length
    val counts = new Array[Int](nStripes)
    forStripes(nE) { (st, from, to) =>
      var c = 0
      var i = from
      while (i < to) { if (kept(i)) c += 1; i += 1 }
      counts(st) = c
    }
    val offs = counts.scanLeft(0)(_ + _)
    val packed = new Array[Long](offs(nStripes))
    forStripes(nE) { (st, from, to) =>
      var w = offs(st)
      var i = from
      while (i < to) {
        if (kept(i)) {
          val a = edgeU(i); val c = edgeV(i)
          packed(w) = (math.min(a, c).toLong << 32) | math.max(a, c)
          w += 1
        }
        i += 1
      }
    }
    java.util.Arrays.parallelSort(packed)
    // in-place dedup, then split into row offsets + his
    var n = 0
    var j = 0
    while (j < packed.length) {
      if (n == 0 || packed(n - 1) != packed(j)) { packed(n) = packed(j); n += 1 }
      j += 1
    }
    val nV = clean_ids.length
    val start = new Array[Int](nV + 1)
    val hi = new Array[Int](n)
    j = 0
    while (j < n) {
      hi(j) = packed(j).toInt
      start((packed(j) >>> 32).toInt + 1) += 1
      j += 1
    }
    var v = 0
    while (v < nV) { start(v + 1) += start(v); v += 1 }
    (start, hi)
  }

  def nRawEdges: Int = edgeU.length

  /** Error counters + traversed-edge count for one run's dense kernel
    * output — same order as [[Validator.validate]]'s output row:
    * (range, root, self_parent, depth_presence, depth_chain,
    *  pred_edge_missing, edge_depth, edge_visit_count). */
  def validate(pred: Array[Int], depth: Array[Int], rootDense: Int,
               nGlobalVerts: Long): Array[Long] = {
    val nV = clean_ids.length
    val nE = edgeU.length
    val perStripe = new Array[Long](nStripes * NCounters)
    forStripes(nV) { (st, vFrom, vTo) =>
      var range = 0L; var rootE = 0L; var selfPar = 0L; var presence = 0L
      var chain = 0L; var missing = 0L
      var v = vFrom
      while (v < vTo) {
        val p = pred(v)
        val pOrig = if (p < 0) -1L else clean_ids(p)
        if (pOrig < -1 || pOrig >= nGlobalVerts) range += 1
        if (v == rootDense &&
          (p != rootDense || (depth(v) != -1 && depth(v) != 0))) rootE += 1
        if (v != rootDense && p == v) selfPar += 1
        if ((p < 0) != (depth(v) == -1)) presence += 1
        if (p >= 0 && v != rootDense) {
          val pd = depth(p)
          if (pd == -1 || (depth(v) != -1 && depth(v) != pd + 1)) chain += 1
          val lo = math.min(v, p)
          if (java.util.Arrays.binarySearch(undirectedHi, loStart(lo),
            loStart(lo + 1), math.max(v, p)) < 0) missing += 1
        }
        v += 1
      }
      var edgeDepth = 0L; var visits = 0L
      var i = bound(nE, st)
      val eTo = bound(nE, st + 1)
      while (i < eTo) {
        val a = edgeU(i); val c = edgeV(i)
        val da = if (a < 0) -1 else depth(a)
        val dc = if (c < 0) -1 else depth(c)
        if (da != -1 && dc != -1) {
          if (math.abs(da - dc) > 1) edgeDepth += 1 else visits += 1
        } else if ((da == -1) != (dc == -1)) edgeDepth += 1
        i += 1
      }
      val o = st * NCounters
      perStripe(o) = range; perStripe(o + 1) = rootE
      perStripe(o + 2) = selfPar; perStripe(o + 3) = presence
      perStripe(o + 4) = chain; perStripe(o + 5) = missing
      perStripe(o + 6) = edgeDepth; perStripe(o + 7) = visits
    }
    val out = new Array[Long](NCounters)
    var k = 0
    while (k < perStripe.length) { out(k % NCounters) += perStripe(k); k += 1 }
    out
  }
}
