package graft.validate

import org.apache.spark.sql.DataFrame

/**
 * In-memory validation kernel — [[Validator]]'s five checks on the BFS
 * kernel's dense (pred, depth) arrays, for callers whose graphs fit
 * under the local-kernel gate ([[graft.Gates.localBfsMaxEdges]]): every
 * Graph500 protocol's run loop and `q8_validate`.
 *
 * The reference validates each BFS run with five checks over the RAW
 * edge list, each a scan that runs in parallel on every rank
 * (mpi/validate.hpp:507-802); at benchmark scales that list lives in
 * memory, and a DataFrame validation pass costs ~1.5 s of fixed job
 * overhead per run. This kernel reduces the raw list ONCE, against the
 * graph's sorted vertex ids, to its distinct undirected edges: rows
 * `loStart` (nV+1 offsets) holding, per dense endpoint lo, its his above
 * lo with each edge's raw multiplicity (both directions and repeats
 * counted), plus one list of the self-loops with their counts per
 * vertex. The raw list itself is not kept. `clean_ids` must be the ids
 * of the graph built from that raw list: a non-loop endpoint missing
 * from them is a construction fault and fails the constructor, naming
 * the vertex; a loop on a vertex absent from them (construction drops
 * loop-only vertices) is skipped. The rows are derived from
 * the raw list, never from the BFS's CSR, so validation stays
 * independent of what it checks.
 *
 * A run's dense (pred, depth) arrays are then validated in one pass over
 * the rows, in `availableProcessors() * 4` stripes on the common pool,
 * as [[graft.bfs.LocalCsr]]'s kernels do: each stripe covers a range of
 * lo (balanced by edges plus vertices) and a slice of the self-loop
 * list and keeps its own counters, which the caller's thread then sums.
 * Long addition is associative, so the counters are exactly those of a
 * sequential pass — identical to [[Validator.validate]]
 * (LocalValidatorSpec proves equality on multi-stripe Kronecker lists,
 * including the SQL null-propagation corner cases).
 *
 * Counter semantics replicated exactly from the DataFrame queries:
 *  - root_errors:   error iff (pred ≠ root) OR (depth set AND ≠ 0) —
 *                   a NULL depth makes the OR's right side NULL, which
 *                   `when` treats as no-count.
 *  - depth_chain:   for reached non-root v: error iff parent depth NULL,
 *                   or v's depth set and ≠ parent depth + 1.
 *  - pred_edge_missing: reached non-root vertices minus those whose
 *                   (v, pred(v)) is a row edge; the row pass counts
 *                   the latter, pred(hi) = lo or pred(lo) = hi, each
 *                   endpoint only when it is not the root. A vertex's
 *                   pred pair is unique, so it matches at most once.
 *  - edge checks:   per raw edge WITH multiplicity (self-loops included);
 *                   endpoint depth is NULL if the vertex is isolated
 *                   (absent from the cleaned graph) or unreached. So a
 *                   self-loop is a visit iff its vertex is reached.
 */
final class LocalValidator private (clean_ids: Array[Long],
                                    rows: LocalValidator.Rows) {

  /** Reduces the raw pair list (src, dst interleaved) to the rows; the
    * array is not referenced after construction. Throws
    * IllegalArgumentException naming a non-loop endpoint missing from
    * `clean_ids`. */
  def this(clean_ids: Array[Long], rawPairs: Array[Long]) =
    this(clean_ids, LocalValidator.rowsOf(clean_ids, rawPairs))

  /** Collects the raw list itself (primitive chunks; a row with a NULL
    * endpoint is skipped, as [[graft.bfs.LocalCsr.collectPairs]] skips
    * it). Prefer the pair-array constructor when the flat array already
    * exists (e.g. from the construction stage) — the list then ships
    * from the executors ONCE. */
  def this(clean_ids: Array[Long], rawEdges: DataFrame) =
    this(clean_ids, graft.bfs.LocalCsr.collectPairs(rawEdges))

  private val nStripes = LocalValidator.nStripes
  private val NCounters = 8

  /** Stripe `st` covers lo ∈ [loBound(st), loBound(st + 1)): the cuts
    * split loStart(v) + v, edges plus vertices before v, evenly. A row
    * is never split, so one hub row can fill a stripe on its own. */
  private val loBound: Array[Int] = {
    val nV = clean_ids.length
    val total = rows.loStart(nV).toLong + nV
    Array.tabulate(nStripes + 1) { st =>
      val target = total * st / nStripes
      var lo = 0; var hi = nV // smallest v with loStart(v) + v >= target
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (rows.loStart(mid).toLong + mid < target) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Error counters + traversed-edge count for one run's dense kernel
    * output — same order as [[Validator.validate]]'s output row:
    * (range, root, self_parent, depth_presence, depth_chain,
    *  pred_edge_missing, edge_depth, edge_visit_count). */
  def validate(pred: Array[Int], depth: Array[Int], rootDense: Int,
               nGlobalVerts: Long): Array[Long] = {
    val loStart = rows.loStart; val his = rows.hi; val mult = rows.mult
    val loopV = rows.loopV; val nLoops = rows.nLoops
    val nLoopV = loopV.length
    val perStripe = new Array[Long](nStripes * NCounters)
    java.util.stream.IntStream.range(0, nStripes).parallel().forEach { st =>
      var range = 0L; var rootE = 0L; var selfPar = 0L; var presence = 0L
      var chain = 0L; var reached = 0L; var matched = 0L
      var edgeDepth = 0L; var visits = 0L
      var v = loBound(st)
      val vTo = loBound(st + 1)
      while (v < vTo) {
        val p = pred(v)
        val dv = depth(v)
        val pOrig = if (p < 0) -1L else clean_ids(p)
        if (pOrig < -1 || pOrig >= nGlobalVerts) range += 1
        if (v == rootDense && (p != rootDense || (dv != -1 && dv != 0))) rootE += 1
        if (v != rootDense && p == v) selfPar += 1
        if ((p < 0) != (dv == -1)) presence += 1
        if (p >= 0 && v != rootDense) {
          reached += 1
          val pd = depth(p)
          if (pd == -1 || (dv != -1 && dv != pd + 1)) chain += 1
        }
        var k = loStart(v)
        val kTo = loStart(v + 1)
        while (k < kTo) {
          val h = his(k)
          val dh = depth(h)
          if (dv != -1 && dh != -1) {
            if (math.abs(dv - dh) > 1) edgeDepth += mult(k) else visits += mult(k)
          } else if ((dv == -1) != (dh == -1)) edgeDepth += mult(k)
          if (pred(h) == v && h != rootDense) matched += 1
          if (p == h && v != rootDense) matched += 1
          k += 1
        }
        v += 1
      }
      var i = (nLoopV.toLong * st / nStripes).toInt
      val iTo = (nLoopV.toLong * (st + 1) / nStripes).toInt
      while (i < iTo) {
        if (depth(loopV(i)) != -1) visits += nLoops(i)
        i += 1
      }
      val o = st * NCounters
      perStripe(o) = range; perStripe(o + 1) = rootE
      perStripe(o + 2) = selfPar; perStripe(o + 3) = presence
      perStripe(o + 4) = chain; perStripe(o + 5) = reached - matched
      perStripe(o + 6) = edgeDepth; perStripe(o + 7) = visits
    }
    val out = new Array[Long](NCounters)
    var k = 0
    while (k < perStripe.length) { out(k % NCounters) += perStripe(k); k += 1 }
    out
  }
}

object LocalValidator {

  private val nStripes = Runtime.getRuntime.availableProcessors() * 4

  /** The distinct undirected edges between graph vertices as rows — the
    * his of lo, ascending, in `hi(loStart(lo) until loStart(lo + 1))`,
    * each with its raw multiplicity in `mult` — and the self-loops as
    * (vertex `loopV(i)`, loop count `nLoops(i)`). */
  private[validate] final class Rows(val loStart: Array[Int], val hi: Array[Int],
                                     val mult: Array[Int], val loopV: Array[Int],
                                     val nLoops: Array[Int])

  /** The rows grouped the way the CSR build groups its own
    * ([[graft.bfs.LocalCsr.groupRows]], [[graft.bfs.LocalCsr.sortRows]]):
    * each non-loop edge's hi into the row of its lo, each row sorted,
    * and each run of equal his one edge with the run length as its
    * multiplicity. Ids map through [[graft.bfs.LocalCsr.IdMap]]. */
  private[validate] def rowsOf(ids: Array[Long], raw: Array[Long]): Rows = {
    val map = graft.bfs.LocalCsr.IdMap.ofSorted(ids, raw.length)
    val nV = ids.length
    val nE = raw.length / 2
    val (starts, his) = graft.bfs.LocalCsr.groupRows(nE, nV) { (from, to, sink) =>
      var i = from
      while (i < to) {
        val s = raw(2 * i); val d = raw(2 * i + 1)
        if (d != s) {
          val a = map(s); val c = map(d)
          if (a < 0 || c < 0)
            throw new IllegalArgumentException(
              s"raw edge ($s, $d): vertex ${if (a < 0) s else d} is not in " +
                "the graph's ids — the ids must come from this raw list")
          sink.put(math.min(a, c), math.max(a, c))
        }
        i += 1
      }
    }
    val (loStart, hi, mult) =
      graft.bfs.LocalCsr.sortRows(starts, his, merge = true, counted = true)
    // loops are few: one atomic add each
    val loops = new java.util.concurrent.atomic.AtomicIntegerArray(nV)
    graft.bfs.LocalCsr.inStripes(nE) { (from, to) =>
      var i = from
      while (i < to) {
        val s = raw(2 * i)
        if (raw(2 * i + 1) == s) {
          val a = map(s)
          if (a >= 0) loops.incrementAndGet(a)
        }
        i += 1
      }
    }
    val loopV = (0 until nV).filter(loops.get(_) > 0).toArray
    new Rows(loStart, hi, mult, loopV, loopV.map(loops.get))
  }
}
