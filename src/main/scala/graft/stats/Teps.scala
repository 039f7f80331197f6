package graft.stats

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * Graph500 benchmark statistics block (reference: mpi/logfile.h:18-107):
 * min / 1st quartile / median / 3rd quartile / max / mean / sample stddev
 * over the per-run measurement vectors, plus the headline
 * harmonic-mean TEPS = 1 / mean(time / traversed_edges) (logfile.h:74-82).
 *
 * Quartiles use linear interpolation (`percentile`), matching the
 * reference's sorted-array midpoint formula on the 64-run vector and ANSI
 * `quantile_cont`. Values are rounded to 6 decimals so results hash-compare
 * stably across summation orders.
 */
object Teps {

  private def block(x: Column, prefix: String): Seq[Column] = Seq(
    round(min(x), 6).as(s"${prefix}_min"),
    round(expr(s"percentile(${x.toString}, 0.25)"), 6).as(s"${prefix}_q1"),
    round(expr(s"percentile(${x.toString}, 0.5)"), 6).as(s"${prefix}_median"),
    round(expr(s"percentile(${x.toString}, 0.75)"), 6).as(s"${prefix}_q3"),
    round(max(x), 6).as(s"${prefix}_max"),
    round(avg(x), 6).as(s"${prefix}_mean"),
    round(stddev_samp(x), 6).as(s"${prefix}_stddev"))

  /**
   * `runStats` schema: (run, bfs_time, validate_time, nedge). Returns a
   * single row with the full stat block for time and nedge plus
   * harmonic_mean_teps.
   *
   * The input is one row per BFS run (64 in the spec protocol), so the
   * aggregate runs over `coalesce(1)`: one partition already satisfies
   * the global aggregate's distribution, and the plan needs no
   * partial-aggregate → single-partition Exchange → final-aggregate
   * stage pair.
   */
  def statBlock(runStats: DataFrame): DataFrame = {
    val cols =
      block(col("bfs_time"), "time") ++
        block(col("nedge"), "nedge") :+
        round(lit(1.0) / avg(col("bfs_time") / col("nedge")), 6)
          .as("harmonic_mean_teps")
    runStats.coalesce(1).agg(cols.head, cols.tail: _*)
  }
}
