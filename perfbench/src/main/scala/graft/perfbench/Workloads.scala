package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.bench.Graph500
import graft.bfs.Bfs
import graft.gen.Kronecker
import graft.stats.Teps
import graft.validate.{LocalValidator, Validator}

/** Correctness facts a workload collects (untimed). */
final class Checks {
  var validationErrors = 0L
  var maxNedge = 0L
  var goldenNedge: Option[Long] = None
  /** query -> (columns, types, rows) of its first checked execution */
  val outputs = scala.collection.mutable.LinkedHashMap
    .empty[String, (Seq[String], Seq[String], Array[Row])]
  /** query -> digest of its first execution; a later execution that
    * differs is a failed operation */
  val digests = scala.collection.mutable.HashMap.empty[String, String]
}

/** A workload runs whole passes after an untimed set-up that runs the
  * same code first: a cold JVM spends most of a first pass in JIT and
  * code generation, which would otherwise land unevenly in the timed
  * numbers.
  *
  * Every pass gets a session of its own (`SparkSession.newSession`), so
  * the program's per-session memo caches (`SparkEntry`'s graph handle,
  * dedup pairs and the like) start empty and each pass pays for the
  * builds it uses. Code generation and JIT stay warm: they are per JVM. */
trait Workload {
  /** Untimed set-up before the first timed pass: by default one whole
    * pass, in a session of its own, with its results dropped. */
  def setup(spark: SparkSession): Unit = {
    val s = spark.newSession()
    pass(s, new Recorder, new Checks, traced = false)()
    Workloads.release(s)
  }
  /** One timed pass; operations are recorded in `rec`. Returns the
    * untimed work that follows the pass: checks, trace annotations and
    * clean-up, which the caller runs after it has read the pass wall. */
  def pass(spark: SparkSession, rec: Recorder, checks: Checks,
           traced: Boolean): () => Unit
}

object Workloads {

  def family(query: String): String = query.takeWhile(_ != '_') match {
    case f @ ("rel" | "tx" | "ev" | "dd" | "sim" | "gr") => f
    case "st" => "streaming"
    case _ => "other"
  }

  def apply(name: String, seed: Long, smoke: Boolean, dataDir: String,
            cpus: Int): Workload = name match {
    case "g500_kernel" =>
      new G500Kernel(if (smoke) 10 else 16, if (smoke) 4 else 64, seed)
    case "g500_dist" =>
      new G500Dist(if (smoke) 8 else 10, if (smoke) 4 else 16, seed)
    case "surface" =>
      new Queries(if (smoke) SurfaceSmoke else Surface, seed, dataDir, cpus)
    case "surface_full" =>
      new Queries(SparkEntry.queries.keys.toSeq.sorted, seed, dataDir, cpus)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The queries of `surface`: a sample of `SparkEntry.queries`
    * stratified by family and latency, chosen by `perfbench/profile.py`
    * from a profile of all 163 on sf0.01 (`perfbench/README.md` records
    * it): per family, the query at the middle of its latency order. */
  val Surface = Seq("rel_promoshare", "tx_bigram_lm", "ev_hll", "dd_ngram",
    "sim_pq", "gr_kcore", "mm_audio", "st_userstats")

  val SurfaceSmoke = Seq("rel_pricing", "gr_2hop", "st_exact")

  /** Drop every cached block between passes, so a pass starts from the
    * same storage state as the one before it. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}

/** The Graph500 stages both protocols share: generate and persist the
  * raw edge list (`Kronecker.generate`), then construct
  * (`Bfs.prepareRaw`). Workload seed 0 is the spec's Kronecker seed pair
  * (2, 3); seed n is (2 + n, 3 + n). */
abstract class G500Protocol(seed: Long) extends Workload {
  protected val seeds =
    (Kronecker.DefaultSeed1 + seed, Kronecker.DefaultSeed2 + seed)

  protected def generate(spark: SparkSession, rec: Recorder,
                         scale: Int): (DataFrame, Bfs.PreparedGraph) = {
    val (raw, nRaw) = rec.span("gen") {
      val raw = Kronecker.generate(spark, scale,
        Kronecker.DefaultEdgeFactor, seeds._1, seeds._2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (raw, raw.count())
    }
    rec.annotate(rec.spans.size - 1, Map("edges" -> nRaw))
    (raw, rec.span("bfs.prepare")(Bfs.prepareRaw(raw, knownCount = nRaw)))
  }

  protected def statBlock(spark: SparkSession, rec: Recorder,
                          runs: Seq[(Double, Long)]): Unit = {
    import spark.implicits._
    rec.span("stats") {
      Teps.statBlock(runs.zipWithIndex.map { case ((t, ne), i) =>
        (i.toLong, t, 0.0, ne.toDouble)
      }.toDF("run", "bfs_time", "validate_time", "nedge")).head()
    }
  }

  /** Untimed: the spec's checks over one pass's per-root results. */
  protected def check(checks: Checks, scale: Int, nedges: Seq[Long],
                      errors: Seq[Long]): Unit = {
    checks.validationErrors += errors.sum
    checks.maxNedge = math.max(checks.maxNedge, nedges.max)
    if (seed == 0) checks.goldenNedge = Graph500.PfNedge.get(scale)
  }
}

/** The spec protocol on the in-JVM kernels, as `Graph500.run` takes it
  * under the local gate: construction builds the CSR on the driver, each
  * root is one `LocalCsr.bfsInto` followed by one `LocalValidator`
  * pass. The operation is one root's run, its BFS and its validation. */
final class G500Kernel(scale: Int, nRoots: Int, seed: Long)
    extends G500Protocol(seed) {

  def pass(spark: SparkSession, rec: Recorder, checks: Checks,
           traced: Boolean): () => Unit = {
    val levels = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[(Int, Long)])]
    val (raw, g, nedges, errors) = rec.span("protocol") {
      val (raw, g) = generate(spark, rec, scale)
      val csr = g.csrIfBuilt.getOrElse(throw new IllegalStateException(
        s"SCALE $scale did not take the local kernel path"))
      val maxV = csr.ids.last
      val roots = rec.span("gen.roots")(Kronecker.sampleRoots(nRoots,
        maxV + 1, v => java.util.Arrays.binarySearch(csr.ids, v) >= 0,
        seeds._1, seeds._2))
      val lv = rec.span("validate")(g.takeRawPairs() match {
        case Some(flat) => new LocalValidator(csr.ids, flat)
        case None => new LocalValidator(csr.ids, raw)
      })
      val pred = new Array[Int](csr.nVerts)
      val depth = new Array[Int](csr.nVerts)
      // the warm-up that Graph500.run makes before its timed runs, with a
      // fixed count so that the pass does the same work on any host, and
      // its collection, so that a pause does not land in one run's time
      rec.span("bfs.warmup") {
        roots.take(4).foreach { r =>
          csr.bfsInto(r, pred, depth)
          lv.validate(pred, depth, java.util.Arrays.binarySearch(csr.ids, r), maxV + 1)
        }
        System.gc()
      }
      val results = roots.map { r =>
        val b0 = System.nanoTime()
        val (p, d, lvl) = rec.span("bfs.search")(csr.bfsInto(r, pred, depth))
        val b1 = System.nanoTime()
        levels += ((rec.spans.size - 1, lvl))
        val c = rec.span("validate")(lv.validate(p, d,
          java.util.Arrays.binarySearch(csr.ids, r), maxV + 1))
        (r, (b1 - b0) / 1e6, (System.nanoTime() - b0) / 1e6, c.last, c.init.sum)
      }
      statBlock(spark, rec, results.map { case (_, bfs, _, ne, _) => (bfs / 1e3, ne) })
      results.foreach { case (r, bfs, ms, ne, err) =>
        rec.ops += OpResult(rec.pass, s"bfs_root_$r", "bfs", ok = err == 0,
          ms, ne.toDouble, if (err == 0) "" else s"$err validation errors", bfs)
      }
      (raw, g, results.map(_._4).toSeq, results.map(_._5).toSeq)
    }
    () => {
      check(checks, scale, nedges, errors)
      levels.foreach { case (i, lvl) =>
        rec.annotate(i, Map("levels" -> lvl.size.toLong,
          "max_frontier" -> lvl.map(_._2).max))
      }
      raw.unpersist(blocking = true)
      g.unpersist()
    }
  }
}

/** The batched protocol with every hybrid gate off: one multi-source
  * distributed BFS (`Bfs.bfsMinParentMulti`) and one
  * `Validator.validateMulti` pass. Each root's run takes the batched
  * search and validation walls divided by the number of roots (its BFS
  * part the search's), so a pass gives one real sample. */
final class G500Dist(scale: Int, nRoots: Int, seed: Long)
    extends G500Protocol(seed) {

  def pass(spark: SparkSession, rec: Recorder, checks: Checks,
           traced: Boolean): () => Unit = {
    import spark.implicits._
    graft.Gates.forceDistributed(spark)
    val (raw, g, trees, searchSpan, nedges, errors) = rec.span("protocol") {
      val (raw, g) = generate(spark, rec, scale)
      val (maxV, roots) = rec.span("gen.roots") {
        val mv = g.all.agg(max(col("vertex"))).head().getLong(0)
        (mv, Kronecker.sampleRootsDistributed(g.all.toDF("vertex"), "vertex",
          nRoots, mv + 1, seeds._1, seeds._2))
      }
      val b0 = System.nanoTime()
      val trees = rec.span("bfs.search") {
        val t = Bfs.bfsMinParentMulti(spark, g, roots.toSeq)
          .persist(StorageLevel.MEMORY_AND_DISK)
        t.count()
        t
      }
      val perRoot = (System.nanoTime() - b0) / 1e9 / roots.length
      val searchSpan = rec.spans.size - 1
      val rows = rec.span("validate") {
        val rootsDf = roots.toSeq.zipWithIndex
          .map { case (r, i) => (i.toLong, r) }.toDF("run", "root")
        Validator.validateMulti(spark, raw, trees, rootsDf, maxV + 1)
          .collect().sortBy(r => r.getLong(r.fieldIndex("run")))
      }
      val perRun = (System.nanoTime() - b0) / 1e9 / roots.length
      val nedges = rows.map(r => r.getLong(r.fieldIndex("edge_visit_count"))).toSeq
      val errors = rows.map { r =>
        (0 until r.length).filter(i => r.schema(i).name != "run" &&
          r.schema(i).name != "edge_visit_count").map(r.getLong).sum
      }.toSeq
      statBlock(spark, rec, nedges.map(ne => (perRoot, ne)))
      roots.indices.foreach { i =>
        rec.ops += OpResult(rec.pass, s"bfs_root_${roots(i)}", "bfs",
          ok = errors(i) == 0, perRun * 1e3, nedges(i).toDouble,
          if (errors(i) == 0) "" else s"${errors(i)} validation errors",
          perRoot * 1e3)
      }
      (raw, g, trees, searchSpan, nedges, errors)
    }
    () => {
      check(checks, scale, nedges, errors)
      if (traced) {
        // level count and widest frontier of the batched search
        val lv = trees.filter(col("depth").isNotNull)
          .groupBy("run", "depth").count()
          .agg(max("depth"), max("count")).head()
        rec.annotate(searchSpan, Map("levels" -> (lv.getLong(0) + 1),
          "max_frontier" -> lv.getLong(1)))
      }
      trees.unpersist(blocking = true)
      raw.unpersist(blocking = true)
      g.unpersist()
    }
  }
}

/** Named `SparkEntry.queries` over the fixed tables, run one at a time in
  * an order permuted by the seed. Each operation is the query function
  * call (`build`: DataFrame construction plus any eager driver work, which
  * for an `st_*` replay is the whole micro-batch replay) and the collect
  * of its rows (`exec`). */
final class Queries(names: Seq[String], seed: Long, dir: String, cpus: Int)
    extends Workload {
  private val order = new scala.util.Random(seed).shuffle(names)
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

  /** Warm-up: one round of every query in a session of its own,
    * concurrent on at most `cpus` threads (the queries are independent and
    * the program's per-session caches are built atomically). It costs
    * about half of a sequential pass, and leaves the first timed pass
    * 10-25% slower than the next. A failure here is reported by the
    * timed pass. */
  override def setup(spark: SparkSession): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(cpus, names.size))
    val s = spark.newSession()
    try names.map(n => pool.submit(new Runnable {
      def run(): Unit = try fns(n)(s, dir).collect() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] warm-up $n failed: $e")
      }
    })).foreach(_.get())
    finally pool.shutdownNow()
    Workloads.release(s)
  }

  def pass(spark: SparkSession, rec: Recorder, checks: Checks,
           traced: Boolean): () => Unit = {
    val results = order.map { n =>
      val out = rec.timedOp(n, Workloads.family(n)) {
        val df = rec.span("build")(fns(n)(spark, dir))
        (df.schema, rec.span("exec")(df.collect()))
      }
      (n, rec.ops.size - 1, out)
    }
    () => results.foreach { case (n, i, out) =>
      out.foreach { case (schema, rows) =>
        val digest = Queries.digest(rows)
        checks.digests.get(n) match {
          case None =>
            checks.digests(n) = digest
            checks.outputs(n) = (schema.fieldNames.toSeq,
              schema.fields.map(_.dataType.typeName).toSeq, rows)
          case Some(d) if d != digest =>
            rec.ops(i) = rec.ops(i).copy(ok = false, ms = Double.NaN,
              error = "result differs from this query's first execution")
          case _ =>
        }
      }
    }
  }
}

object Queries {
  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
