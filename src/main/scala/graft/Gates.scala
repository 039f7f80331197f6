package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The hybrid executor's size gates — the ONLY place that knows a gate's
  * conf name, default, parse rule and size probe. A gate is a
  * `spark.graft.<name>` row-count limit: at or under it a query runs a
  * driver-local kernel, above it the distributed plan; 0 = always
  * distributed. Every gate is declared through [[gate]], so [[all]] and
  * [[forceDistributed]] cannot miss one (a gate missing from the
  * force-distributed list silently leaves its kernel active in a
  * "whole-suite distributed" run — the recorded numbers then never
  * exercise that distributed path). */
object Gates {

  final class Gate private[Gates] (name: String, val default: Long) {
    val conf: String = s"spark.graft.$name"

    /** The effective limit on `spark`: the conf when set, else the
      * default ([[longConf]]'s rule). */
    def limit(spark: SparkSession): Long = longConf(spark, conf, default)

    def set(spark: SparkSession, v: Long): Unit = spark.conf.set(conf, v)

    /** Runs `body` with the gate at `v`, then restores the prior setting. */
    def withLimit[A](spark: SparkSession, v: Long)(body: => A): A = {
      val prior = spark.conf.getOption(conf)
      set(spark, v)
      try body
      finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    }

    /** True iff `df` has at most [[limit]] rows; false without a job when
      * the gate is 0. One `limit(n + 1).count()` probe, so a huge input
      * is never counted in full; a limit past Spark's Int `limit` range
      * takes a plain count instead of wrapping negative. */
    def fits(df: DataFrame): Boolean = {
      val n = limit(df.sparkSession)
      n > 0 && (if (n >= Int.MaxValue) df.count() else
        df.limit((n + 1).toInt).count()) <= n
    }

    /** A collect memo over this gate: `df` → `Some(collect(df))` when it
      * is a batch table of at most [[limit]] rows (one count of its
      * `idCol`, then the collect), None otherwise. Collected values are
      * keyed weakly on the DataFrame instance — kernels that consume the
      * same per-dir cached table share one collect, and DataFrames are
      * immutable, so an identity hit can never be stale. A hit is
      * re-checked against the gate by its `size` (no job), so setting
      * the gate to 0 still forces the distributed path. */
    def memo[A <: AnyRef](idCol: String, size: A => Int)
                         (collect: DataFrame => A): DataFrame => Option[A] = {
      val cache = java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[DataFrame, A]())
      df => {
        val n = if (df.isStreaming) 0L else limit(df.sparkSession)
        if (n <= 0) None
        else Option(cache.get(df)) match {
          case Some(hit) => Some(hit).filter(size(_) <= n)
          case None =>
            if (df.select(idCol).count() > n) None
            else {
              val a = collect(df)
              cache.put(df, a)
              Some(a)
            }
        }
      }
    }
  }

  /** The integer conf `conf` on `spark` when set, else `default`. A value
    * that is not an integer fails naming the conf. The one parse rule for
    * the gates and the other `spark.graft.*` size caps. */
  def longConf(spark: SparkSession, conf: String, default: => Long): Long =
    spark.conf.getOption(conf) match {
      case None => default
      case Some(v) => v.trim.toLongOption.getOrElse(throw
        new IllegalArgumentException(s"$conf='$v' is not an integer"))
    }

  private val table = scala.collection.mutable.ArrayBuffer.empty[Gate]
  private def gate(name: String, default: Long): Gate = {
    val g = new Gate(name, default)
    table += g
    g
  }

  /** Graph edges for the [[graft.bfs.LocalCsr]] kernels of every graph
    * family — BFS, validation, components, SSSP, the co-purchase
    * triangle family — decided once per graph: BFS and SSSP against
    * twice the raw pair rows (both directions), the co-purchase graph
    * against its (group, member) rows; ~1.3 GB of primitive arrays at
    * the limit (SCALE 20 included). */
  val localBfsMaxEdges: Gate = gate("localBfsMaxEdges", 64000000L)
  /** Documents for the [[graft.ops.LocalDedup]] kernels. */
  val localDedupMaxDocs: Gate = gate("localDedupMaxDocs", 100000L)
  /** Vectors for the [[graft.ops.LocalSimilarity]] kernels. */
  val localAnnMaxVecs: Gate = gate("localAnnMaxVecs", 100000L)
  /** Event rows for the [[graft.streaming.LocalEvents]] kernels. */
  val localEventsMaxRows: Gate = gate("localEventsMaxRows", 1000000L)
  /** Word types for [[graft.ops.Bpe]]'s driver merge loop. */
  val localBpeMaxTypes: Gate = gate("localBpeMaxTypes", 1000000L)
  /** Not a driver-kernel gate but the embedding family's strategy switch
    * (exact broadcast block vs hyperplane-LSH): 0 forces the LSH plans —
    * the corpus-scale path — and [[SparkEntry.oracleSql]] swaps in the
    * LSH-replay oracles ([[LshOracleSql]]) for the four affected
    * queries, keyed on this same gate. */
  val embeddingBlockMaxVecs: Gate = gate("embeddingBlockMaxVecs", 200000L)

  /** Every gate, in declaration order. */
  lazy val all: Seq[Gate] = table.toSeq

  /** Zero every hybrid gate on `spark` — the force-distributed switch. */
  def forceDistributed(spark: SparkSession): Unit =
    all.foreach(_.set(spark, 0L))
}
