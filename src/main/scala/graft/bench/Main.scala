package graft.bench

import org.apache.spark.sql.SparkSession

/**
 * Reference-style CLI: `runMain graft.bench.Main <SCALE> [edgefactor]
 * [nRoots]` — the invocation shape of the reference binary
 * (mpi/main.cc:208-230, `./runnable SCALE edgefactor`) — runs the full
 * protocol and prints the reference's "Result" block verbatim: the
 * main.cc:163-173 prologue plus print_bfs_result's key set
 * (mpi/logfile.h:46-107), including the Norris harmonic-stddev formula.
 */
object Main {

  /** The reference's get_statistics (mpi/logfile.h:19-44), verbatim:
    * (min, q1, median, q3, max, mean, sample stddev) with its exact
    * order-statistic indexing. */
  private[graft] def stats(x: Seq[Double]): Array[Double] = {
    val n = x.size
    val mean = x.sum / n
    // sample stddev needs n ≥ 2; report 0 for a single run instead of NaN
    val std =
      if (n < 2) 0.0
      else math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / (n - 1))
    val xx = x.sorted.toArray
    Array(
      xx(0),
      (xx((n - 1) / 4) + xx(n / 4)) * .5,
      (xx((n - 1) / 2) + xx(n / 2)) * .5,
      (xx(n - 1 - (n - 1) / 4) + xx(n - 1 - n / 4)) * .5,
      xx(n - 1),
      mean, std)
  }

  private def line(key: String, v: String): String =
    (key + ":").padTo(32, ' ') + v

  /** Apply SPARK_GRAFT_CONF="k=v;k=v" session-conf overrides. Empty
    * segments (doubled/trailing ';') are tolerated; a non-empty segment
    * without '=' fails fast with a message naming the env var and the
    * bad segment instead of a bare MatchError after the JVM has spun up. */
  private[graft] def applyConfOverrides(
      spark: SparkSession,
      raw: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): Unit =
    raw.foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ if kv.trim.isEmpty => () // tolerate ";;" and trailing ";"
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF: segment '$kv' is not key=value")
      }
    })

  /** The reference result block (main.cc prologue + print_bfs_result). */
  private[graft] def resultBlock(s: Graph500.Summary): String = {
    val sb = new StringBuilder
    sb.append("============= Result ==============\n")
    sb.append(line("SCALE", s.scale.toString)).append('\n')
    sb.append(line("edgefactor", s.edgeFactor.toString)).append('\n')
    sb.append(line("NBFS", s.nRoots.toString)).append('\n')
    sb.append(line("graph_generation", f"${s.generationTime}%.6g")).append('\n')
    sb.append(line("num_mpi_processes", "1")).append('\n')
    sb.append(line("construction_time", f"${s.constructionTime}%.6g")).append('\n')
    // the shuffle service plays the redistribution stage's role
    sb.append(line("redistribution_time", "0")).append('\n')
    def block(vals: Seq[Double], suffix: String, prec: String): Unit = {
      val st = stats(vals)
      val names = Seq("min", "firstquartile", "median", "thirdquartile",
        "max", "mean", "stddev")
      names.zip(st).foreach { case (nm, v) =>
        sb.append(line(s"${nm}_$suffix", prec.format(v))).append('\n')
      }
    }
    block(s.runs.map(_.bfs_time), "time", "%.12g")
    block(s.runs.map(_.nedge), "nedge", "%.11g")
    val spe = s.runs.map(r => r.bfs_time / r.nedge)
    val st = stats(spe)
    sb.append(line("min_TEPS", f"${1.0 / st(4)}%.12g")).append('\n')
    sb.append(line("firstquartile_TEPS", f"${1.0 / st(3)}%.12g")).append('\n')
    sb.append(line("median_TEPS", f"${1.0 / st(2)}%.12g")).append('\n')
    sb.append(line("thirdquartile_TEPS", f"${1.0 / st(1)}%.12g")).append('\n')
    sb.append(line("max_TEPS", f"${1.0 / st(0)}%.12g")).append('\n')
    sb.append(line("harmonic_mean_TEPS", f"${1.0 / st(5)}%.12g")).append('\n')
    // Norris 1940 harmonic stddev, as in logfile.h:91 (0 for a single run —
    // the formula divides by sqrt(n−1))
    val hstd =
      if (s.runs.size < 2) 0.0
      else st(6) / (st(5) * st(5) * math.sqrt(s.runs.size - 1.0))
    sb.append(line("harmonic_stddev_TEPS", f"$hstd%.12g")).append('\n')
    block(s.runs.map(_.validate_time), "validate", "%.12g")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Main <SCALE> [edgefactor] [nRoots]")
    val scale = args(0).toInt
    val edgeFactor = if (args.length > 1) args(1).toLong else 16L
    val nRoots = if (args.length > 2) args(2).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF="k=v;k=v": session conf overrides (e.g.
    // spark.graft.validateBroadcastVerts at SCALE 25+).
    Main.applyConfOverrides(spark)
    // SPARK_GRAFT_WARM_SCALE=<n>: run one untimed full protocol at a
    // smaller scale first — the reference likewise warms the entire
    // pipeline before its timed runs (PRE_EXEC, mpi/main.cc:91-103).
    // A fresh JVM otherwise pays tier-up JIT of the whole shuffle/sort/
    // window machinery inside the TIMED construction stage (measured at
    // SCALE 24: ~2x CPU and ~20x GC vs the same plan warm).
    sys.env.get("SPARK_GRAFT_WARM_SCALE").map(_.toInt).filter(_ > 0)
      .foreach { ws =>
        // Gate forced to 0 so the warm-up JITs the DISTRIBUTED plans
        // (construction shuffle+sort+window, level-loop joins,
        // DataFrame validation) — at a small warm scale the hybrid
        // gate would otherwise route everything to the local kernel.
        graft.Gates.localBfsMaxEdges.withLimit(spark, 0L) {
          Graph500.run(spark, ws, 1, validate = true, edgeFactor = edgeFactor)
        }
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      }
    val s = Graph500.run(spark, scale, nRoots, validate = true,
      edgeFactor = edgeFactor)
    val errors = s.runs.map(_.errors).sum
    if (errors > 0) println("No results printed for invalid run.")
    else print(resultBlock(s))
    spark.stop()
  }
}
