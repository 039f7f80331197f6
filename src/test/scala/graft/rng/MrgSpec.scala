package graft.rng

import org.scalatest.funsuite.AnyFunSuite

class MrgSpec extends AnyFunSuite {

  test("skip(0,0,n) equals n sequential steps") {
    for (n <- Seq(1L, 2L, 7L, 255L, 256L, 1000L, 65537L)) {
      val a = Mrg.makeSeed(2, 3)
      val b = Mrg.makeSeed(2, 3)
      a.skip(0, 0, n)
      var i = 0L
      while (i < n) { b.nextUint(); i += 1 }
      assert((a.z1, a.z2, a.z3, a.z4, a.z5) === (b.z1, b.z2, b.z3, b.z4, b.z5),
        s"n=$n")
    }
  }

  test("skip is additive: skip(a) then skip(b) == skip(a+b)") {
    val a = Mrg.makeSeed(42, 7)
    a.skip(0, 0, 123456789L)
    a.skip(0, 0, 987654321L)
    val b = Mrg.makeSeed(42, 7)
    b.skip(0, 0, 123456789L + 987654321L)
    assert((a.z1, a.z2, a.z3, a.z4, a.z5) === (b.z1, b.z2, b.z3, b.z4, b.z5))
  }

  test("mid-word skip consistent with low-word squaring: 2^32 + 2^32 spans bytes") {
    // skip(0,1,0) = 2^64 steps must equal four skips of 2^62.
    val a = Mrg.makeSeed(5, 11)
    a.skip(0, 1, 0)
    val b = Mrg.makeSeed(5, 11)
    val q = 1L << 62
    b.skip(0, 0, q); b.skip(0, 0, q); b.skip(0, 0, q); b.skip(0, 0, q)
    assert((a.z1, a.z2, a.z3, a.z4, a.z5) === (b.z1, b.z2, b.z3, b.z4, b.z5))
  }

  test("state words stay in [0, 2^31-1) and stream is deterministic") {
    val st = Mrg.makeSeed(2, 3)
    val vals = Array.fill(10000)(st.nextUint())
    assert(vals.forall(v => v >= 0 && v < Mrg.Mod))
    val st2 = Mrg.makeSeed(2, 3)
    val vals2 = Array.fill(10000)(st2.nextUint())
    assert(vals.sameElements(vals2))
  }

  test("nextDouble in [0,1); makeRandomNumbers position-addressable") {
    val d = Mrg.makeRandomNumbers(100, 2, 3, 0)
    assert(d.forall(x => x >= 0.0 && x < 1.0))
    // Position p slice must equal the tail of the position-0 stream.
    val shifted = Mrg.makeRandomNumbers(10, 2, 3, 17)
    assert(Mrg.makeRandomNumbers(27, 2, 3, 0).drop(17).sameElements(shifted))
  }

  test("folding reduction equals % on the edges of its domain and at random") {
    val m = Mrg.Mod
    for (x <- Seq(0L, m - 1, m, m + 1, 2 * m, (1L << 62) - 1))
      assert(Mrg.mod(x) === x % m, s"x=$x")
    val rnd = new scala.util.Random(62)
    for (_ <- 0 until 100000) {
      val x = rnd.nextLong() >>> 2 // uniform in [0, 2^62)
      assert(Mrg.mod(x) === x % m, s"x=$x")
    }
  }

  test("a 2M-step stream equals the recurrence with a 64-bit division") {
    val st = Mrg.makeSeed(2, 3)
    var z1 = st.z1; var z2 = st.z2; var z3 = st.z3; var z4 = st.z4; var z5 = st.z5
    var i = 0
    while (i < 2000000) {
      val z = (107374182L * z1 + 104480L * z5) % 0x7FFFFFFFL
      z5 = z4; z4 = z3; z3 = z2; z2 = z1; z1 = z
      val got = st.nextUint()
      if (got != z) fail(s"step $i: $got != $z")
      i += 1
    }
    assert((st.z2, st.z3, st.z4, st.z5) === (z2, z3, z4, z5))
  }

  test("nextEdge equals skip(0, 1, 0): edge i's stream to edge i+1's") {
    val a = Mrg.makeSeed(2, 3)
    a.skip(0, 41, 0)
    val b = a.copy()
    a.nextEdge()
    b.skip(0, 1, 0)
    val c = Mrg.makeSeed(2, 3)
    c.skip(0, 42, 0)
    assert((a.z1, a.z2, a.z3, a.z4, a.z5) === (b.z1, b.z2, b.z3, b.z4, b.z5))
    assert((a.z1, a.z2, a.z3, a.z4, a.z5) === (c.z1, c.z2, c.z3, c.z4, c.z5))
  }
}
