package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skew-mitigation utilities. AQE's skew-join splitting
 * (`spark.sql.adaptive.skewJoin.enabled`, on by default) is the first
 * line of defense — the runtime analogue of the reference's hand-rolled
 * `top_down_send_large` (mpi/bfs.hpp:932-960). Salting is the explicit
 * fallback for aggregations whose skew AQE can't see (e.g. a
 * non-shuffle-boundary hot key, or pre-Spark-3 clusters).
 */
object Skew {

  /**
   * Two-phase (salted partial) aggregation: count per `key` with the
   * first combine keyed by (key, salt) — bounds any single reducer's
   * input for hot keys even when upstream partial aggregation is
   * defeated (e.g. high upstream cardinality per partition).
   */
  def saltedCount(df: DataFrame, key: String, factor: Int = 8): DataFrame =
    df.withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(factor)))
      .groupBy(col(key), col("_salt")).agg(count(lit(1)).as("c"))
      .groupBy(col(key)).agg(sum("c").as("count"))
}
