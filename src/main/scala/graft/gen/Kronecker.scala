package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.rng.Mrg

/**
 * Deterministic Kronecker (R-MAT) edge generator — Graph500 spec semantics
 * (reference: generator/graph_generator.hpp:602-705): A=0.57, B=C=0.19,
 * D=0.05 expressed as numerators over 10000, clip-and-flip for
 * undirectedness, endpoints scrambled by a multiplicative/bit-reverse hash
 * in lieu of a random permutation (graph_generator.hpp:457-469).
 *
 * Edge i is a pure function of (scale, seed1, seed2, i): the MRG stream is
 * skipped to offset i·2^64 (mid word = i) and the 4-way Bernoulli descent
 * consumes draws from there. That makes generation an embarrassingly
 * parallel scan over the index range, split as `spark.range(numEdges)`
 * splits it, with no shuffle and linear scaling in the number of
 * executors. Within a partition the scan's indices are consecutive, so
 * [[Source]] steps one base state from edge i's stream to edge i+1's
 * instead of re-skipping from the seed per edge, and fills primitive
 * blocks of edges that the partition's rows are read from ([[scan]]).
 */
object Kronecker {
  final val ANumerator = 5700
  final val BCNumerator = 1900
  final val Denominator = 10000
  // Draws below 0xFFFFFFFF % 10000 are rejected. This is the reference's
  // constant, derived for 32-bit draws; over the MRG's [0, 2^31-1) it does
  // NOT remove the modulo bias (2^31-1-7295 is no multiple of 10000). It
  // is kept for bit-compatibility with the reference's edge stream.
  private final val RejectLimit = 0xFFFFFFFFL % Denominator

  val DefaultSeed1 = 2L
  val DefaultSeed2 = 3L
  val DefaultEdgeFactor = 16L

  /** Scramble multipliers derived from the seed stream at offset
    * 50·2^128 + 7·2^64 (graph_generator.hpp:376-383). uint64 wraparound
    * matches JVM Long arithmetic. */
  def scrambleVals(seed1: Long, seed2: Long): (Long, Long) = {
    val st = Mrg.makeSeed(seed1, seed2)
    st.skip(50L, 7L, 0L)
    val v0 = st.nextUint() * 0xFFFFFFFFL + st.nextUint()
    val v1 = st.nextUint() * 0xFFFFFFFFL + st.nextUint()
    (v0, v1)
  }

  /** The vertex-permutation hash (graph_generator.hpp:457-469). */
  def scramble(v0: Long, scale: Int, val0: Long, val1: Long): Long = {
    var v = v0
    v += val0 + val1
    v *= (val0 | 0x4519840211493211L)
    v = java.lang.Long.reverse(v) >>> (64 - scale)
    v *= (val1 | 0x3050852102C843A5L)
    v = java.lang.Long.reverse(v) >>> (64 - scale)
    v
  }

  /** One draw in [0, 10000) above the rejection threshold, mapped to a
    * quadrant: 1 = B, 2 = C, 0 = A, 3 = D (order per reference
    * generate_4way_bernoulli, graph_generator.hpp:651-677). */
  private def quadrant(st: Mrg.State): Int = {
    var v = st.nextUint()
    while (v < RejectLimit) v = st.nextUint()
    // v < 2^31-1: an Int remainder by a literal compiles to a multiply
    var r = v.toInt % Denominator
    if (r < BCNumerator) return 1
    r -= BCNumerator
    if (r < BCNumerator) return 2
    r -= BCNumerator
    if (r < ANumerator) 0 else 3
  }

  /** R-MAT descent from `st` (positioned at the start of an edge's
    * stream); writes the scrambled (src, dst) to `out(off)`,
    * `out(off + 1)`. */
  private def descend(st: Mrg.State, scale: Int, val0: Long, val1: Long,
                      out: Array[Long], off: Int): Unit = {
    var nverts = 1L << scale
    var baseSrc = 0L
    var baseTgt = 0L
    while (nverts > 1) {
      val q = quadrant(st)
      var srcOff = q / 2
      var tgtOff = q % 2
      if (baseSrc == baseTgt && srcOff > tgtOff) {
        val t = srcOff; srcOff = tgtOff; tgtOff = t
      }
      nverts /= 2
      baseSrc += nverts * srcOff
      baseTgt += nverts * tgtOff
    }
    out(off) = scramble(baseSrc, scale, val0, val1)
    out(off + 1) = scramble(baseTgt, scale, val0, val1)
  }

  /** R-MAT descent for edge `edgeIndex`; returns scrambled (src, dst). */
  def makeEdge(scale: Int, edgeIndex: Long, seed1: Long, seed2: Long,
               val0: Long, val1: Long): (Long, Long) = {
    val st = Mrg.makeSeed(seed1, seed2)
    st.skip(0L, edgeIndex, 0L)
    val e = new Array[Long](2)
    descend(st, scale, val0, val1, e, 0)
    (e(0), e(1))
  }

  /** Edges for one scan: [[edge]] `(i)` equals [[makeEdge]] for any `i`.
    * A base state sits at the start of the next index's stream; a call at
    * that index draws from a copy and steps the base by one A^(2^64)
    * application, and any other index re-skips the base from the seed. */
  final class Source(scale: Int, seed1: Long, seed2: Long,
                     val0: Long, val1: Long) {
    private val base = Mrg.makeSeed(seed1, seed2)
    private val st = base.copy()
    private var next = 0L

    /** The state at the start of edge i's stream (offset i·2^64), as
      * `makeSeed` + `skip(0, i, 0)` gives it; the next call reuses it. */
    private def stream(i: Long): Mrg.State = {
      if (i != next) {
        base.set(Mrg.makeSeed(seed1, seed2))
        base.skip(0L, i, 0L)
      }
      st.set(base)
      base.nextEdge()
      next = i + 1
      st
    }

    def edge(i: Long): (Long, Long) = {
      val e = new Array[Long](2)
      edgeInto(i, e, 0)
      (e(0), e(1))
    }

    /** [[edge]] `(i)` written to `out(off)`, `out(off + 1)`. */
    def edgeInto(i: Long, out: Array[Long], off: Int): Unit =
      descend(stream(i), scale, val0, val1, out, off)

    /** [[generateUniform]]'s edge i: two draws from edge i's stream,
      * masked to [0, 2^scale) and scrambled, written to `out(off)`,
      * `out(off + 1)`. */
    def uniformEdgeInto(i: Long, out: Array[Long], off: Int): Unit = {
      val st = stream(i)
      val mask = (1L << scale) - 1
      out(off) = scramble(st.nextUint() & mask, scale, val0, val1)
      out(off + 1) = scramble(st.nextUint() & mask, scale, val0, val1)
    }
  }

  /** Edges a partition fills into its reused block at a time: the block
    * stays 2^16 edges at any SCALE, so a task's memory is flat. */
  private[gen] final val BlockEdges = 1 << 16

  private val EdgeSchema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /**
   * The scan the [[Source]]-based generators share. The indices
   * [0, numEdges) split into the partitions `spark.range` makes of them
   * (`spark.sql.leafNodeDefaultParallelism`, consecutive ranges in
   * order). Each partition calls `newFill()` once, then fills a reused
   * primitive block, `schema.length` longs per edge, with
   * `fill(first, n, block)` for at most [[BlockEdges]] consecutive
   * indices at a time, and emits one row per edge from the block, in
   * index order. The third field, when there is one, is an INT.
   *
   * The plan's size estimate is the one a `spark.range` scan projected
   * to these fields gets: 8 B per index, scaled by the row sizes.
   */
  private def scan(spark: SparkSession, numEdges: Long, schema: StructType)(
      newFill: () => (Long, Int, Array[Long]) => Unit): DataFrame = {
    val nParts = GraftShims.leafParallelism(spark)
    val width = schema.length
    val types = schema.map(_.dataType)
    val rows = spark.sparkContext.parallelize(0 until nParts, nParts)
      .mapPartitionsWithIndex { (p, _) =>
        var first = (BigInt(p) * numEdges / nParts).toLong
        val end = (BigInt(p + 1) * numEdges / nParts).toLong
        val fill = newFill()
        val block = new Array[Long](width * math.min(BlockEdges.toLong, end - first).toInt)
        val row = new SpecificInternalRow(types)
        new Iterator[InternalRow] {
          private var n = 0 // edges in the block
          private var k = 0 // the next edge of the block to emit
          def hasNext: Boolean = k < n || first < end
          def next(): InternalRow = {
            if (k == n) {
              n = math.min(BlockEdges.toLong, end - first).toInt
              fill(first, n, block)
              first += n
              k = 0
            }
            val o = k * width
            row.setLong(0, block(o))
            row.setLong(1, block(o + 1))
            if (width == 3) row.setInt(2, block(o + 2).toInt)
            k += 1
            row
          }
        }
      }
    GraftShims.rowsToDataFrame(spark, rows, schema,
      BigInt(numEdges) * (8 + schema.defaultSize) / 2)
  }

  /**
   * Distributed generation: `edgefactor * 2^scale` edges as DataFrame
   * (src BIGINT, dst BIGINT). Pure narrow scan — partitions of the index
   * range generate independently; at cluster scale this saturates all cores
   * with zero communication. Each partition streams its consecutive
   * indices through one [[Source]], block by block ([[scan]]).
   */
  def generate(spark: SparkSession, scale: Int,
               edgeFactor: Long = DefaultEdgeFactor,
               seed1: Long = DefaultSeed1, seed2: Long = DefaultSeed2): DataFrame = {
    val (val0, val1) = scrambleVals(seed1, seed2)
    scan(spark, edgeFactor << scale, EdgeSchema) { () =>
      val src = new Source(scale, seed1, seed2, val0, val1)
      (first, n, block) => {
        var k = 0
        while (k < n) { src.edgeInto(first + k, block, 2 * k); k += 1 }
      }
    }
  }

  /**
   * Initial-edge generators (reference S4, graph_generator.hpp:512-542,
   * counts at 388-394): a deterministic backbone prepended to the edge
   * stream in spec2012 mode. BINARY_TREE emits n−1 edges
   * (scramble(i+1), scramble((i+1)/2)); HAMILTONIAN_CYCLE emits n edges
   * (scramble(i), scramble(i+1)) with the closing edge
   * (scramble(n), scramble(0)) — bug-compatible with the reference's
   * out-of-range scramble(n) on the last edge. Narrow scans, no shuffle.
   */
  def binaryTreeEdges(spark: SparkSession, scale: Int,
                      seed1: Long = DefaultSeed1,
                      seed2: Long = DefaultSeed2): DataFrame = {
    import spark.implicits._
    val (val0, val1) = scrambleVals(seed1, seed2)
    val n = 1L << scale
    spark.range(0L, n - 1)
      .mapPartitions(_.map(i =>
        (scramble(i + 1, scale, val0, val1),
          scramble((i + 1) / 2, scale, val0, val1))))
      .toDF("src", "dst")
  }

  def hamiltonianCycleEdges(spark: SparkSession, scale: Int,
                            seed1: Long = DefaultSeed1,
                            seed2: Long = DefaultSeed2): DataFrame = {
    import spark.implicits._
    val (val0, val1) = scrambleVals(seed1, seed2)
    val n = 1L << scale
    spark.range(0L, n)
      .mapPartitions(_.map { i =>
        if (i < n - 1)
          (scramble(i, scale, val0, val1), scramble(i + 1, scale, val0, val1))
        else
          (scramble(n, scale, val0, val1), scramble(0L, scale, val0, val1))
      })
      .toDF("src", "dst")
  }

  /** Uniform random generator (reference S5, RandomGraphGenerator,
    * graph_generator.hpp:571-600): endpoints = scramble(uint & (n−1)) from
    * the per-edge MRG state at offset i·2^64. Same embarrassingly parallel
    * scan shape as the Kronecker path, streamed the same way: each
    * partition steps one [[Source]] ([[Source.uniformEdgeInto]]). */
  def generateUniform(spark: SparkSession, scale: Int,
                      edgeFactor: Long = DefaultEdgeFactor,
                      seed1: Long = DefaultSeed1,
                      seed2: Long = DefaultSeed2): DataFrame = {
    val (val0, val1) = scrambleVals(seed1, seed2)
    scan(spark, edgeFactor << scale, EdgeSchema) { () =>
      val src = new Source(scale, seed1, seed2, val0, val1)
      (first, n, block) => {
        var k = 0
        while (k < n) { src.uniformEdgeInto(first + k, block, 2 * k); k += 1 }
      }
    }
  }

  /** Weighted generation (reference S7, graph_generator.hpp:479-506): the
    * intended per-edge-addressable weight stream at MRG offset
    * 30·2^128 + 46·2^64 + i, weight = (uint mod maxWeight) + 1. (The
    * reference ships with a debug 0xBEEF constant, `#if 1` at 499-501;
    * we implement the real stream its SSSP path was built for.) Each
    * partition streams its edges through one [[Source]]; the weight
    * offsets of consecutive indices are consecutive draws, so its
    * weights step one state, re-skipping from the seed only at an index
    * that does not follow the previous one. */
  def generateWeighted(spark: SparkSession, scale: Int,
                       maxWeight: Int = 255,
                       edgeFactor: Long = DefaultEdgeFactor,
                       seed1: Long = DefaultSeed1,
                       seed2: Long = DefaultSeed2): DataFrame = {
    val (val0, val1) = scrambleVals(seed1, seed2)
    val schema = EdgeSchema.add(StructField("weight", IntegerType, nullable = false))
    scan(spark, edgeFactor << scale, schema) { () =>
      val src = new Source(scale, seed1, seed2, val0, val1)
      val w = Mrg.makeSeed(seed1, seed2)
      var next = -1L
      (first, n, block) => {
        if (first != next) {
          w.set(Mrg.makeSeed(seed1, seed2)); w.skip(30L, 46L, first)
        }
        next = first + n
        var k = 0
        while (k < n) {
          src.edgeInto(first + k, block, 3 * k)
          block(3 * k + 2) = (w.nextUint() % maxWeight) + 1
          k += 1
        }
      }
    }
  }

  /**
   * Deterministic BFS-root sampling with rejection (reference:
   * mpi/benchmark_helper.hpp:475-508): candidate = ⌊(d0+d1)·n⌋ mod n from
   * the seed PRNG stream; reject duplicates and vertices with no edges.
   * `hasEdge` is the non-isolated vertex set — at real scale, pass a Bloom
   * filter or broadcast set built from `EdgeOps.degrees`.
   */
  def sampleRoots(nRoots: Int, nGlobalVerts: Long, hasEdge: Long => Boolean,
                  seed1: Long = DefaultSeed1, seed2: Long = DefaultSeed2): Array[Long] = {
    val roots = scala.collection.mutable.ArrayBuffer.empty[Long]
    var counter = 0L
    while (roots.length < nRoots && counter <= 2 * nGlobalVerts) {
      val d = Mrg.makeRandomNumbers(2, seed1, seed2, counter)
      val root = (((d(0) + d(1)) * nGlobalVerts).toLong) % nGlobalVerts
      counter += 2
      if (!roots.contains(root) && hasEdge(root)) roots += root
    }
    roots.toArray
  }

  /**
   * [[sampleRoots]] against a DISTRIBUTED vertex table with NO driver-side
   * collect of the vertex set — the Spark analogue of the reference's
   * distributed has_edge probe (mpi/benchmark_helper.hpp:475-508, which
   * rejects candidates against a partitioned bitmap).
   *
   * An executor-built broadcast Bloom filter answers the rejection probes;
   * because the PRNG consumes two draws per candidate REGARDLESS of the
   * answer, the probe sequence depends on answers only through duplicate
   * rejection and termination — so the (pure-CPU, driver-side) sampling
   * pass is simply re-run, each round exactly confirming every
   * newly-probed candidate with one pushed-down `IN` membership scan,
   * until a pass consumed only exact answers. A Bloom false positive can
   * therefore never leak into the accepted roots, and the rounds converge
   * (the exactly-answered probe prefix grows every round; with fpp 0.1%
   * two passes is the norm).
   *
   * `vertices` may contain duplicates (e.g. the `src` column of a
   * symmetrized edge list); only membership is consulted.
   */
  def sampleRootsDistributed(vertices: DataFrame, vertexCol: String,
                             nRoots: Int, nGlobalVerts: Long,
                             seed1: Long = DefaultSeed1,
                             seed2: Long = DefaultSeed2): Array[Long] = {
    import org.apache.spark.sql.functions.col
    // expected distinct items: nGlobalVerts bounds it; cap the sketch at
    // 2^28 expected (~460 MB at 0.1% fpp) — beyond that the fpp degrades
    // gracefully and the exact-confirm loop still guarantees correctness
    val expected = math.max(1024L, math.min(nGlobalVerts, 1L << 28))
    val bloom = vertices.stat.bloomFilter(vertexCol, expected, 0.001)
    val memo = scala.collection.mutable.HashMap.empty[Long, Boolean]
    var result: Array[Long] = null
    while (result == null) {
      val probedNew = scala.collection.mutable.LinkedHashSet.empty[Long]
      val roots = sampleRoots(nRoots, nGlobalVerts,
        v => memo.getOrElse(v, { probedNew += v; bloom.mightContain(v) }),
        seed1, seed2)
      if (probedNew.isEmpty) result = roots
      else {
        val cand = probedNew.toSeq
        // small candidate sets confirm via a pushed-down IN scan; a
        // sparse id space can reject thousands-to-millions of probes per
        // pass, where a multi-million-literal IN predicate would blow up
        // the plan — those confirm with one broadcast semi-join against
        // a candidate table instead
        val present: Set[Long] =
          if (cand.size <= 1000)
            vertices.filter(col(vertexCol).isInCollection(cand))
              .select(vertexCol).distinct()
              .collect().map(_.getLong(0)).toSet
          else {
            val spark = vertices.sparkSession
            import spark.implicits._
            vertices.join(
                org.apache.spark.sql.functions.broadcast(
                  cand.toDF(vertexCol)),
                Seq(vertexCol), "left_semi")
              .select(vertexCol).distinct()
              .collect().map(_.getLong(0)).toSet
          }
        cand.foreach(v => memo(v) = present(v))
      }
    }
    result
  }
}
