package graft.rng

/**
 * L'Ecuyer multiple recursive generator (MRG), order k=5, modulus m = 2^31-1,
 * with O(1) skip-ahead — the PRNG underlying the Graph500 Kronecker generator
 * (reference: generator/splittable_mrg.{h,c}; recurrence constants from
 * L'Ecuyer, Blouin & Couture 1993, table 3, m = 2^31-1, k = 5).
 *
 * The recurrence is z' = x*z1 + y*z5 (mod m) with x = 107374182, y = 104480,
 * i.e. state transition by the companion matrix
 *
 *   A = | x 0 0 0 y |
 *       | 1 0 0 0 0 |
 *       | 0 1 0 0 0 |
 *       | 0 0 1 0 0 |
 *       | 0 0 0 1 0 |
 *
 * Skip-ahead treats the step count as a 192-bit integer and applies
 * A^(b*256^i) per nonzero byte b at position i (reference:
 * generator/splittable_mrg.c:185-201). The reference ships the 24×256 matrix
 * table as 6 kLoC of generated constants (generator/mrg_transitions.c); we
 * instead compute the same powers at class-load time by plain 5×5 modular
 * matrix exponentiation — a few hundred thousand mulmods, microseconds of JVM
 * time, and bit-identical results.
 *
 * Every product is reduced by Mersenne folding ([[mod]]), never by a
 * 64-bit `%`: m = 2^31-1 makes 2^31 ≡ 1, so a division is two
 * shift-and-adds and one conditional subtract. A scan over consecutive
 * per-edge streams (offsets i·2^64, (i+1)·2^64, ...) steps from one
 * edge's state to the next with one application of A^(2^64)
 * ([[State.nextEdge]]) instead of re-skipping from the seed.
 */
object Mrg {
  final val Mod = 0x7FFFFFFFL // 2^31 - 1
  final val X = 107374182L
  final val Y = 104480L

  /** x mod (2^31-1) for 0 ≤ x < 2^62, without a division: each fold
    * (x & m) + (x >>> 31) keeps x's residue (2^31 ≡ 1) and two of them
    * bring x under m + 2; one conditional subtract finishes. */
  @inline def mod(x: Long): Long = {
    var r = (x & Mod) + (x >>> 31)
    r = (r & Mod) + (r >>> 31)
    if (r >= Mod) r - Mod else r
  }

  /** Dense 5×5 matrix over GF(2^31-1), row-major. */
  private type Mat = Array[Long]

  private def matIdentity: Mat = {
    val m = new Array[Long](25)
    var i = 0
    while (i < 5) { m(i * 5 + i) = 1L; i += 1 }
    m
  }

  private def matA: Mat = {
    val m = new Array[Long](25)
    m(0) = X; m(4) = Y
    m(5) = 1L; m(11) = 1L; m(17) = 1L; m(23) = 1L
    m
  }

  private def matMul(a: Mat, b: Mat): Mat = {
    val r = new Array[Long](25)
    var i = 0
    while (i < 5) {
      var j = 0
      while (j < 5) {
        var acc = 0L
        var k = 0
        while (k < 5) {
          acc = mod(acc + mod(a(i * 5 + k) * b(k * 5 + j)))
          k += 1
        }
        r(i * 5 + j) = acc
        j += 1
      }
      i += 1
    }
    r
  }

  /**
   * skipMatrices(i)(b) = A^(b * 256^i) for byte position i ∈ [0,24), value
   * b ∈ [0,256). Computed once per JVM; ~24*256 5×5 modular multiplies.
   */
  private lazy val skipMatrices: Array[Array[Mat]] = {
    val table = Array.ofDim[Mat](24, 256)
    var base = matA // A^(256^i)
    var i = 0
    while (i < 24) {
      table(i)(0) = matIdentity
      var b = 1
      while (b < 256) {
        table(i)(b) = matMul(table(i)(b - 1), base)
        b += 1
      }
      // base <- base^256
      base = matMul(table(i)(255), base)
      i += 1
    }
    table
  }

  /** A^(2^64): the distance between consecutive per-edge streams. */
  private lazy val edgeStride: Mat = skipMatrices(8)(1)

  /** Mutable 5-word PRNG state (values in [0, 2^31-1)). */
  final class State(
      var z1: Long, var z2: Long, var z3: Long, var z4: Long, var z5: Long) {
    def copy(): State = new State(z1, z2, z3, z4, z5)

    /** Overwrites this state with `o`'s words. */
    def set(o: State): Unit = {
      z1 = o.z1; z2 = o.z2; z3 = o.z3; z4 = o.z4; z5 = o.z5
    }

    /** One step of the raw recurrence; returns nothing (use nextUint). */
    private[Mrg] def step(): Unit = {
      val zNew = mod(X * z1 + Y * z5)
      z5 = z4; z4 = z3; z3 = z2; z2 = z1; z1 = zNew
    }

    /** Next integer in [0, 2^31-1). */
    def nextUint(): Long = { step(); z1 }

    /** Next double in [0, 1) — two PRNG draws, identical rounding to the
      * reference (splittable_mrg.c:272-275). */
    def nextDouble(): Double =
      nextUint().toDouble * 4.65661287524579692e-10 +
        nextUint().toDouble * 2.168404346990492787e-19

    private def applyMat(m: Mat): Unit = {
      val v0 = z1; val v1 = z2; val v2 = z3; val v3 = z4; val v4 = z5
      def row(r: Int): Long =
        mod(mod(m(r * 5) * v0) + mod(m(r * 5 + 1) * v1) + mod(m(r * 5 + 2) * v2) +
          mod(m(r * 5 + 3) * v3) + mod(m(r * 5 + 4) * v4))
      val n0 = row(0); val n1 = row(1); val n2 = row(2); val n3 = row(3); val n4 = row(4)
      z1 = n0; z2 = n1; z3 = n2; z4 = n3; z5 = n4
    }

    /** Advance by 2^64 steps — from the start of edge i's stream
      * (offset i·2^64) to edge i+1's; equals skip(0, 1, 0). */
    def nextEdge(): Unit = applyMat(edgeStride)

    /** Advance the stream by the 192-bit count (high‖mid‖low). */
    def skip(high: Long, mid: Long, low: Long): Unit = {
      var v = low; var idx = 0
      while (v != 0) {
        val byte = (v & 0xFF).toInt
        if (byte != 0) applyMat(skipMatrices(idx)(byte))
        v >>>= 8; idx += 1
      }
      v = mid; idx = 8
      while (v != 0) {
        val byte = (v & 0xFF).toInt
        if (byte != 0) applyMat(skipMatrices(idx)(byte))
        v >>>= 8; idx += 1
      }
      v = high; idx = 16
      while (v != 0) {
        val byte = (v & 0xFF).toInt
        if (byte != 0) applyMat(skipMatrices(idx)(byte))
        v >>>= 8; idx += 1
      }
    }
  }

  /** Spread two 64-bit user seeds into the 5-word state — same packing as the
    * reference (generator/graph_generator.hpp:325-337). */
  def makeSeed(userseed1: Long, userseed2: Long): State = new State(
    (userseed1 & 0x3FFFFFFFL) + 1,
    ((userseed1 >>> 30) & 0x3FFFFFFFL) + 1,
    (userseed2 & 0x3FFFFFFFL) + 1,
    ((userseed2 >>> 30) & 0x3FFFFFFFL) + 1,
    ((userseed2 >>> 60) << 4) + (userseed1 >>> 60) + 1
  )

  /** Random-access vector of doubles — mirrors make_random_numbers
    * (generator/graph_generator.hpp:338-354): each double consumes two PRNG
    * outputs, so position p starts at raw-stream offset 2^65 + 2p. */
  def makeRandomNumbers(
      nvalues: Int, userseed1: Long, userseed2: Long, position: Long): Array[Double] = {
    val st = makeSeed(userseed1, userseed2)
    st.skip(2L, 0L, 2L * position)
    Array.fill(nvalues)(st.nextDouble())
  }
}
