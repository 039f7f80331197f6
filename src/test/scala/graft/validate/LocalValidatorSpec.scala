package graft.validate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.bfs.{Bfs, LocalCsr}
import graft.etl.EdgeOps
import graft.gen.Kronecker

/** The local validation kernel must produce the exact counters of the
  * DataFrame validator — on valid kernel trees AND on corrupted ones
  * (null-propagation corner cases included). */
class LocalValidatorSpec extends SparkSpec {

  private def denseTreeDf(ids: Array[Long], pred: Array[Int],
                          depth: Array[Int]) = {
    val s = spark; import s.implicits._
    ids.indices.map { i =>
      (ids(i), if (pred(i) < 0) -1L else ids(pred(i)),
        if (depth(i) < 0) None else Some(depth(i).toLong))
    }.toDF("vertex", "pred", "depth")
  }

  /** The relational plan's counters on a dense tree. */
  private def relational(raw: DataFrame, ids: Array[Long], p: Array[Int],
                         d: Array[Int], root: Long, nGlobal: Long): Seq[Long] = {
    val row = Validator.validate(spark, raw, denseTreeDf(ids, p, d), root,
      nGlobal).head()
    (0 until row.length).map(row.getLong)
  }

  /** A small raw list (loops and repeats as given), its CSR, the kernel
    * validator, and a check of the kernel's counters against the
    * relational plan's on any (pred, depth) over the CSR's vertices. */
  private final class Case(pairs: Seq[(Long, Long)]) {
    val raw: DataFrame = {
      val s = spark; import s.implicits._
      pairs.toDF("src", "dst")
    }
    val flat: Array[Long] = pairs.flatMap { case (a, b) => Seq(a, b) }.toArray
    val csr: LocalCsr = LocalCsr.buildFromRawPairs(flat)
    val lv = new LocalValidator(csr.ids, flat)
    val nGlobal: Long = flat.max + 1
    def dense(v: Long): Int = java.util.Arrays.binarySearch(csr.ids, v)
    def bfs(root: Long): (Array[Int], Array[Int]) = {
      val (p, d, _) = csr.bfs(root); (p, d)
    }
    def check(p: Array[Int], d: Array[Int], root: Long, label: String): Seq[Long] = {
      val local = lv.validate(p, d, dense(root), nGlobal).toSeq
      assert(local === relational(raw, csr.ids, p, d, root, nGlobal), label)
      local
    }
  }

  test("repeated edges count with their multiplicity, in both directions") {
    // 0-1 three times each way, 1-2 once, 2-3 three times one way
    val c = new Case(Seq.fill(3)(Seq((0L, 1L), (1L, 0L))).flatten ++
      Seq((1L, 2L)) ++ Seq.fill(3)((3L, 2L)))
    val (p, d) = c.bfs(0L)
    assert(c.check(p, d, 0L, "valid tree") === Seq(0, 0, 0, 0, 0, 0, 0, 10))
    val d2 = d.clone(); d2(c.dense(3)) += 2
    assert(c.check(p, d2, 0L, "wrong depth on a repeated edge")(6) === 3L)
  }

  test("self-loops: on a reached, an unreached and a loop-only vertex") {
    // component {0, 1, 2} with a loop on 1, component {5, 6} with a loop
    // on 5, and vertex 9 whose only edge is its loop (not in the graph)
    val c = new Case(Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 1L), (1L, 1L),
      (5L, 6L), (5L, 5L), (9L, 9L)))
    assert(c.dense(9L) < 0)
    val (p, d) = c.bfs(0L)
    val valid = c.check(p, d, 0L, "valid tree")
    assert(valid === Seq(0, 0, 0, 0, 0, 0, 0, 5))
    // a self-parent on the looped vertex is still a missing pred edge
    val p2 = p.clone(); p2(c.dense(1L)) = c.dense(1L)
    assert(c.check(p2, d, 0L, "self parent on a looped vertex")(5) === 1L)
    // reaching the looped vertex 5 without its component: its loop
    // becomes a visit, its edge to 6 a depth error
    val p3 = p.clone(); val d3 = d.clone()
    p3(c.dense(5L)) = c.dense(0L); d3(c.dense(5L)) = 1
    c.check(p3, d3, 0L, "unreached loop reached")
  }

  test("a 2-cycle pred corruption matches the relational plan") {
    val c = new Case(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val (p, d) = c.bfs(0L)
    val (a, b) = (c.dense(2L), c.dense(3L))
    val p2 = p.clone(); p2(a) = b; p2(b) = a
    val out = c.check(p2, d, 0L, "2-cycle")
    assert(out(5) === 0L && out(4) > 0L, out) // 2-3 is an edge: chain errors only
    val (x, y) = (c.dense(2L), c.dense(4L)) // no 2-4 edge
    val p3 = p.clone(); p3(x) = y; p3(y) = x
    assert(c.check(p3, d, 0L, "2-cycle on a non-edge")(5) === 2L)
  }

  test("a hub row longer than one stripe's share of the edges") {
    val nStripes = Runtime.getRuntime.availableProcessors() * 4
    // vertex 0 holds the row of every spoke: more than half the edges
    val spokes = (1L to 40L * nStripes).map(v => (0L, v))
    val tail = (1L until 10L * nStripes).map(v => (v, v + 1))
    val c = new Case(spokes ++ tail ++ Seq((7L, 7L)))
    val (p, d) = c.bfs(0L)
    assert(c.check(p, d, 0L, "valid tree").init.forall(_ == 0L))
    val far = c.dense(40L * nStripes)
    val d2 = d.clone(); d2(far) = 3
    c.check(p, d2, 0L, "wrong depth on a spoke")
    val p2 = p.clone(); p2(far) = c.dense(5L) // 5 is no neighbour of far
    assert(c.check(p2, d, 0L, "missing edge into the hub's stripe")(5) === 1L)
    // the root's pred moved onto a neighbour in its own row, then onto
    // one whose row holds the root: never a matched pred edge
    val p3 = p.clone(); p3(c.dense(0L)) = c.dense(1L)
    c.check(p3, d, 0L, "root pred moved up")
    // rooted inside the tail: the hub is reached at depth > 0
    val (pt, dt) = c.bfs(5L)
    c.check(pt, dt, 5L, "valid tree from the tail")
    val pt2 = pt.clone(); pt2(c.dense(5L)) = c.dense(4L)
    c.check(pt2, dt, 5L, "root pred moved down")
  }

  test("a tree that reaches only its root: every relational counter is 0 " +
    "or a count, never NULL") {
    val c = new Case(Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L)))
    val root = c.dense(0L)
    val p = Array.fill(c.csr.nVerts)(-1); p(root) = root
    val d = Array.fill(c.csr.nVerts)(-1); d(root) = 0
    val row = Validator.validate(spark, c.raw, denseTreeDf(c.csr.ids, p, d),
      0L, c.nGlobal).head()
    assert(!row.anyNull, row)
    // edges 0-1 and 2-0 leave the lone root: one depth error each
    assert(c.check(p, d, 0L, "root only") === Seq(0, 0, 0, 0, 0, 0, 2, 0))
  }

  test("validateMulti equals the kernel per run, over all runs and over a " +
    "non-dense subset of run ids") {
    val s = spark; import s.implicits._
    val raw = Kronecker.generate(spark, 10).persist()
    try {
      val flat = LocalCsr.collectPairs(raw)
      val csr = LocalCsr.buildFromRawPairs(flat)
      val lv = new LocalValidator(csr.ids, flat)
      val nGlobal = flat.max + 1
      val roots = Kronecker.sampleRoots(8, nGlobal,
        v => java.util.Arrays.binarySearch(csr.ids, v) >= 0)
      def dense(v: Long) = java.util.Arrays.binarySearch(csr.ids, v)
      val trees = roots.map(r => { val (p, d, _) = csr.bfs(r); (p, d) })
      def reachedNonRoot(run: Int) = (0 until csr.nVerts)
        .find(v => v != dense(roots(run)) && trees(run)._2(v) > 0).get
      // run 3: a wrong depth; run 5: a pred edge that is not in the graph
      val v3 = reachedNonRoot(3)
      trees(3)._2(v3) += 5
      val v5 = reachedNonRoot(5)
      val nbrs5 = (csr.rowStarts(v5) until csr.rowStarts(v5 + 1)).map(csr.nbrs).toSet
      trees(5)._1(v5) = (0 until csr.nVerts).find(u => u != v5 && !nbrs5(u)).get
      val treesDf = trees.indices.flatMap { run =>
        val (p, d) = trees(run)
        csr.ids.indices.map(i => (run.toLong, csr.ids(i),
          if (p(i) < 0) -1L else csr.ids(p(i)),
          if (d(i) < 0) None else Some(d(i).toLong)))
      }.toDF("run", "vertex", "pred", "depth")
      def expected(run: Int): Seq[Long] =
        lv.validate(trees(run)._1, trees(run)._2, dense(roots(run)), nGlobal).toSeq
      assert(expected(3).init.sum > 0L)
      assert(expected(5)(5) === 1L)

      // all runs; a non-dense subset given only its own trees (one pass of
      // a batch), then given every run's trees (the others are ignored);
      // each under the default broadcast cap, then with every join shuffled
      val subset = Seq(3, 4, 5)
      val subsetTrees = treesDf.filter(col("run").isin(subset: _*))
      val shuffled = Seq("spark.graft.validateBroadcastVerts" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      for (confs <- Seq(Nil, shuffled);
           (runs, given) <- Seq(roots.indices -> treesDf, subset -> subsetTrees,
                                subset -> treesDf)) {
        val rootsDf = runs.map(i => (i.toLong, roots(i))).toDF("run", "root")
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val rows = try Validator.validateMulti(spark, raw, given, rootsDf, nGlobal)
          .collect().map(r => r.getLong(0).toInt -> (1 until r.length).map(r.getLong))
          .toMap
        finally confs.foreach { case (k, _) => spark.conf.unset(k) }
        assert(rows.keySet === runs.toSet, confs)
        for (run <- runs)
          assert(rows(run) === expected(run), s"run $run of $runs $confs")
      }
    } finally raw.unpersist()
  }

  test("an edge to a vertex outside the tree counts as the plan counts it") {
    val s = spark; import s.implicits._
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 3L), (4L, 5L)).toDF("src", "dst")
    // vertex 3 is left out of the tree: 2-3 has one NULL-depth side, one
    // edge depth error; the loop on 3 has two NULL sides, no error
    val tree = Seq((0L, 0L, Some(0L)), (1L, 0L, Some(1L)), (2L, 1L, Some(2L)),
      (4L, -1L, None), (5L, -1L, None)).toDF("vertex", "pred", "depth")
    val row = Validator.validate(spark, raw, tree, 0L, 6L).head()
    assert((0 until row.length).map(row.getLong) === Seq(0, 0, 0, 0, 0, 0, 1, 2))
    // the kernel takes no such tree: ids without 3 fail its construction
    val e = intercept[IllegalArgumentException](
      new LocalValidator(Array(0L, 1L, 2L, 4L, 5L), raw))
    assert(e.getMessage.contains("vertex 3 "), e.getMessage)
  }

  test("ids missing a raw endpoint: construction throws naming the vertex") {
    val flat = Array(0L, 1L, 1L, 2L, 7L, 7L, 2L, 3L)
    val ids = LocalCsr.buildFromRawPairs(flat).ids
    // the loop-only vertex 7 is not in the graph, and that is fine
    assert(ids.toSeq === Seq(0L, 1L, 2L, 3L))
    new LocalValidator(ids, flat)
    // an endpoint missing on the dst side, then on the src side
    for ((missing, at) <- Seq(3L -> "dst", 0L -> "src")) {
      val e = intercept[IllegalArgumentException](
        new LocalValidator(ids.filter(_ != missing), flat))
      assert(e.getMessage.contains(s"vertex $missing "), s"$at: ${e.getMessage}")
    }
    // one vertex of a large list, found by whichever stripe holds it
    val big = (0L until 10000L).flatMap(v => Seq(v, v + 1)).toArray
    val e = intercept[IllegalArgumentException](
      new LocalValidator((0L to 10000L).filter(_ != 6543L).toArray, big))
    assert(e.getMessage.contains("vertex 6543 "), e.getMessage)
  }

  test("the validator holds no reference to the raw pair array") {
    val flat = Array(0L, 1L, 1L, 2L, 2L, 0L, 1L, 1L)
    val lv = new LocalValidator(LocalCsr.buildFromRawPairs(flat).ids, flat)
    val held = classOf[LocalValidator].getDeclaredFields.toSeq.map { f =>
      f.setAccessible(true); f.getName -> f.get(lv)
    }
    assert(held.nonEmpty)
    for ((name, value) <- held)
      assert(!(value.asInstanceOf[AnyRef] eq flat), s"field $name holds the raw pairs")
  }

  test("local validator equals DataFrame validator on kernel trees and corruptions") {
    val s = spark; import s.implicits._
    for (seed <- 30L until 34L) {
      val rnd = new scala.util.Random(seed)
      // raw list WITH self-loops and duplicates, as the benchmark uses it
      val raw = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .toDF("src", "dst")
        .persist()
      val clean = EdgeOps.cleanEdges(raw)
      if (clean.count() > 0) {
        val g = Bfs.prepareRaw(clean)
        try {
          val csr = g.csr
          val root = csr.ids(0)
          val (pred, depth, _) = csr.bfs(root)
          val lv = new LocalValidator(csr.ids, raw)
          val maxV = raw.agg(max(greatest(col("src"), col("dst"))))
            .head().getLong(0)

          def compare(p: Array[Int], d: Array[Int], label: String): Unit = {
            val local = lv.validate(p, d, 0, maxV + 1)
            val df = relational(raw, csr.ids, p, d, root, maxV + 1)
            assert(local.toSeq === df, s"seed=$seed $label: $local vs $df")
          }

          compare(pred, depth, "valid tree")

          // corruption 1: wrong depth on a reached non-root vertex
          if (csr.nVerts > 2 && depth(1) >= 0) {
            val d2 = depth.clone(); d2(1) = d2(1) + 5
            compare(pred, d2, "wrong depth")
          }
          // corruption 2: self-parent + presence mismatch
          if (csr.nVerts > 3) {
            val p2 = pred.clone(); p2(2) = 2
            val d3 = depth.clone(); d3(3) = -1
            compare(p2, depth, "self parent")
            compare(pred, d3, "presence mismatch")
          }
          // corruption 3: pred edge that does not exist in raw
          if (csr.nVerts > 4 && pred(4) >= 0) {
            val p3 = pred.clone()
            // point 4 at a non-neighbor (itself+? use vertex 0 unless adjacent)
            val nonNbr = (0 until csr.nVerts).find { c =>
              c != 4 && !(csr.rowStarts(4) until csr.rowStarts(5))
                .exists(k => csr.nbrs(k) == c)
            }
            nonNbr.foreach { c => p3(4) = c; compare(p3, depth, "missing pred edge") }
          }
        } finally g.unpersist()
      }
      raw.unpersist()
    }
  }

  test("striped kernel equals the relational plan on a Kronecker list, " +
    "corruptions in the first and last stripe and at the row-index edges") {
    // SCALE 11 raw list as the benchmark uses it: loops and duplicates kept
    val raw = Kronecker.generate(spark, 11).persist()
    try {
      val flat = LocalCsr.collectPairs(raw)
      val nE = flat.length / 2
      assert((0 until nE).exists(i => flat(2 * i) == flat(2 * i + 1)), "no loops")
      assert((0 until nE).map(i => (flat(2 * i), flat(2 * i + 1))).distinct.size < nE,
        "no duplicates")
      val csr = LocalCsr.buildFromRawPairs(flat)
      val nV = csr.nVerts
      val nStripes = Runtime.getRuntime.availableProcessors() * 4
      assume(nV >= nStripes, s"$nV vertices cannot fill $nStripes stripes")
      def nbrs(v: Int) = (csr.rowStarts(v) until csr.rowStarts(v + 1)).map(csr.nbrs)
      val rootDense = (0 until nV).maxBy(v => csr.rowStarts(v + 1) - csr.rowStarts(v))
      val root = csr.ids(rootDense)
      val (pred, depth, _) = csr.bfs(root)
      val maxV = flat.max
      val lv = new LocalValidator(csr.ids, flat)

      def compare(p: Array[Int], d: Array[Int], label: String): Seq[Long] = {
        val local = lv.validate(p, d, rootDense, maxV + 1).toSeq
        assert(lv.validate(p, d, rootDense, maxV + 1).toSeq === local,
          s"$label: a second call on the same arrays differs")
        assert(local === relational(raw, csr.ids, p, d, root, maxV + 1), label)
        local
      }
      def rewired(v: Int, p: Int) = { val a = pred.clone(); a(v) = p; a }

      val valid = compare(pred, depth, "valid tree")
      assert(valid.init.forall(_ == 0L) && valid.last > 0L)

      // reached non-root vertices inside the first and the last stripe
      def reached(v: Int) = v != rootDense && pred(v) >= 0
      val first = (0 until nV / nStripes).find(reached).get
      val last = (nV - 1 to (nV.toLong * (nStripes - 1) / nStripes).toInt by -1)
        .find(reached).get
      for ((v, where) <- Seq(first -> "first", last -> "last")) {
        val d = depth.clone(); d(v) += 5
        compare(pred, d, s"wrong depth, $where stripe")
        val d2 = depth.clone(); d2(v) = -1
        compare(pred, d2, s"presence mismatch, $where stripe")
        compare(rewired(v, v), depth, s"self parent, $where stripe")
      }

      // the row of lo holds the neighbors of lo above it
      def row(lo: Int) = nbrs(lo).filter(_ > lo).toSet
      val lastRow = (0 until nV).filter(row(_).nonEmpty).max
      // a pred edge in the last non-empty row is found...
      val hiIn = row(lastRow).max
      if (hiIn != rootDense) {
        val c = compare(rewired(hiIn, lastRow), depth, "pred edge in the last row")
        assert(c(5) === 0L)
      }
      // ...one that is absent from it is missing
      val hiOut = (lastRow + 1 until nV).find(h => h != rootDense && !row(lastRow)(h)).get
      assert(compare(rewired(hiOut, lastRow), depth, "missing edge, last row")(5) === 1L)
      // an empty row inside the index, and the row of the last vertex
      // (reachable only as a self parent)
      val empty = (0 until nV - 1).find(v => row(v).isEmpty).get
      val hi = (empty + 1 until nV).find(_ != rootDense).get
      assert(compare(rewired(hi, empty), depth, "missing edge, empty row")(5) === 1L)
      if (nV - 1 != rootDense)
        assert(compare(rewired(nV - 1, nV - 1), depth, "self parent, last vertex")(5) === 1L)
    } finally raw.unpersist()
  }

  test("the relational plan counts a pred outside the vertex universe") {
    val s = spark; import s.implicits._
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    // pred(2) = 99 is in [−1, nGlobalVerts) but no vertex of the tree:
    // no dense (pred, depth) array can hold it, so only the relational
    // plan sees such a tree
    val tree = Seq((0L, 0L, Some(0L)), (1L, 0L, Some(1L)), (2L, 99L, Some(1L)))
      .toDF("vertex", "pred", "depth")
    val row = Validator.validate(spark, raw, tree, 0L, 100L).head()
    // the bogus pred shows up as chain + missing-edge errors
    assert((0 until row.length).map(row.getLong) === Seq(0, 0, 0, 0, 1, 1, 0, 3))
  }

  test("SCALE 16, seeds (2, 3): pinned construction, and validator rows " +
    "that hold each raw non-loop edge once") {
    val flat = LocalCsr.collectPairs(Kronecker.generate(spark, 16))
    val csr = LocalCsr.buildFromRawPairs(flat)
    assert(csr.nVerts === 46815)
    assert(csr.nbrs.length === 1819202)
    val rows = LocalValidator.rowsOf(csr.ids, flat)
    assert(rows.hi.length === 909601)
    val nonLoops = (0 until flat.length / 2).count(i => flat(2 * i) != flat(2 * i + 1))
    assert(rows.mult.iterator.map(_.toLong).sum === nonLoops.toLong)
    // the two constructions agree: row lo holds the CSR neighbours above lo
    for (v <- 0 until csr.nVerts) {
      val above = (csr.rowStarts(v) until csr.rowStarts(v + 1)).map(csr.nbrs).filter(_ > v)
      val his = (rows.loStart(v) until rows.loStart(v + 1)).map(rows.hi)
      if (his != above) fail(s"row $v: $his, CSR $above")
    }
  }
}
