package graft.stats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/**
 * Graph500 benchmark statistics block (reference: mpi/logfile.h:18-107):
 * min / 1st quartile / median / 3rd quartile / max / mean / sample stddev
 * over the per-run measurement vectors, plus the headline
 * harmonic-mean TEPS = 1 / mean(time / traversed_edges) (logfile.h:74-82).
 *
 * Like the reference, which computes the block over a 64-element vector
 * on rank 0, the block is computed on the driver: the input has one row
 * per BFS run, so it is collected (at most [[MaxRuns]] rows) and the block
 * is plain arithmetic over two arrays. The result is bit-identical to the
 * SQL aggregates `round(min|percentile|max|avg|stddev_samp(x), 6)`
 * (TepsSpec keeps that Column block as its reference):
 *  - quartiles: `percentile`'s linear interpolation at (n−1)·p over the
 *    sorted values, returning the lower value outright when the position
 *    is integral or both neighbours are equal;
 *  - mean: the row-order sum divided by the count (`avg`);
 *  - stddev: `stddev_samp`'s streaming (n, mean, m2) update, NULL for
 *    n < 2;
 *  - rounding: `round(x, 6)` = `BigDecimal(x).setScale(6, HALF_UP)`.
 * NULL inputs are skipped as the aggregates skip them, and time / nedge
 * over a zero nedge is NULL, or a DIVIDE_BY_ZERO error under ANSI mode,
 * as SQL division gives. An input the driver already holds (a local
 * Seq's DataFrame) is collected without a Spark job.
 */
object Teps {

  /** The most rows [[statBlock]] collects: 1024 times the spec's 64 runs. */
  final val MaxRuns = 65536

  private val Stats = Seq("min", "q1", "median", "q3", "max", "mean", "stddev")

  /** The block's schema: every column DOUBLE and nullable, as the SQL
    * aggregates type it. */
  private val Schema: StructType = StructType(
    (Seq("time", "nedge").flatMap(p => Stats.map(st => s"${p}_$st")) :+
      "harmonic_mean_teps").map(StructField(_, DoubleType, nullable = true)))

  /** `round(x, 6)`; NULL, NaN and the infinities pass through as they are. */
  private def round6(x: java.lang.Double): java.lang.Double =
    if (x == null || x.isNaN || x.isInfinite) x
    else BigDecimal(x.doubleValue).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `percentile(x, p)` over ascending `sorted` (non-empty). */
  private def percentile(sorted: Array[Double], p: Double): Double = {
    val pos = (sorted.length - 1).toLong * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val lower = sorted(lo.toInt)
    val upper = sorted(hi.toInt)
    if (hi == lo || upper == lower) lower
    else (hi - pos) * lower + (pos - lo) * upper
  }

  /** `avg(x)`: row-order sum over the count. */
  private def mean(x: Array[Double]): Double = {
    var s = 0.0
    x.foreach(s += _)
    s / x.length
  }

  /** `stddev_samp(x)`: the streaming (n, mean, m2) update; NULL for
    * n < 2. */
  private def stddevSamp(x: Array[Double]): java.lang.Double = {
    var n = 0.0; var avg = 0.0; var m2 = 0.0
    x.foreach { v =>
      val newN = n + 1.0
      val delta = v - avg
      val deltaN = delta / newN
      avg += deltaN
      m2 += delta * (delta - deltaN)
      n = newN
    }
    if (x.length < 2) null else math.sqrt(m2 / (n - 1.0))
  }

  /** The seven statistics of `x` (row order), before rounding; all NULL
    * for an empty `x`. */
  private def block(x: Array[Double]): Seq[java.lang.Double] =
    if (x.isEmpty) Seq.fill(Stats.size)(null)
    else {
      val sorted = x.clone()
      java.util.Arrays.sort(sorted)
      Seq[java.lang.Double](sorted.head, percentile(sorted, 0.25),
        percentile(sorted, 0.5), percentile(sorted, 0.75), sorted.last,
        mean(x), stddevSamp(x))
    }

  /**
   * `runStats` schema: (run, bfs_time, validate_time, nedge), with
   * `bfs_time` and `nedge` DOUBLE. Returns a single row with the full
   * stat block for time and nedge plus harmonic_mean_teps. Fails when
   * the input has more than [[MaxRuns]] rows.
   */
  def statBlock(runStats: DataFrame): DataFrame = {
    val Seq(t, ne) = Seq("bfs_time", "nedge").map { c =>
      val dt = runStats.schema(c).dataType
      require(dt == DoubleType, s"statBlock: $c must be DOUBLE, got ${dt.sql}")
      runStats.schema.fieldIndex(c)
    }
    val rows = runStats.limit(MaxRuns + 1).collect()
    require(rows.length <= MaxRuns,
      s"statBlock: the input has more than $MaxRuns rows " +
        s"(${rows.length} collected before the limit stopped it)")
    def present(c: Int) = rows.filter(!_.isNullAt(c)).map(_.getDouble(c))
    val spark = runStats.sparkSession
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    // a / b as SQL divides doubles: NULL for a zero divisor, except that
    // ANSI mode fails on it
    def divide(a: Double, b: Double, what: String): Option[Double] =
      if (b != 0.0) Some(a / b)
      else if (ansi) throw new ArithmeticException(s"[DIVIDE_BY_ZERO] statBlock: $what")
      else None
    val perEdge = rows.filter(r => !r.isNullAt(t) && !r.isNullAt(ne)).flatMap(r =>
      divide(r.getDouble(t), r.getDouble(ne), "bfs_time / nedge with nedge = 0"))
    val teps: java.lang.Double =
      if (perEdge.isEmpty) null
      else divide(1.0, mean(perEdge), "1 / mean(bfs_time / nedge) with a zero mean")
        .map(Double.box).orNull
    val values = (block(present(t)) ++ block(present(ne)) :+ teps).map(round6)
    spark.createDataFrame(java.util.List.of(Row.fromSeq(values)), Schema)
  }
}
