package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the oracles of the same queries), for the
  * DuckDB oracle compare (tools/check.py). Exits 1 after dumping every query it could
  * if any query threw, so a failure never passes as a missing dump. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_FORCE_DISTRIBUTED=1: zero every hybrid gate so the
    // oracle exercises the distributed (cluster-scale) plans end-to-end
    // instead of the driver-local kernels.
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      Gates.forceDistributed(spark)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c: builder-side iteration filter (unset in
    // driver runs — all queries dump as always).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val failed = selected.toSeq.filter { case (name, fn) =>
      try {
        dump(fn(spark, sfDir), s"$outDir/$name")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    writeOracles(s"$outDir/oracle_sql.json", selected.keySet)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }

  /** `df` as one parquet file under `path`, replacing it. A `file:`
    * write goes through [[streaming.NioLocalFileSystem]] (scoped to this
    * write, the cached file system untouched): without the native
    * `libhadoop`, Hadoop's local file system forks a `chmod` per created
    * file and directory. */
  private[graft] def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("fs.file.impl", classOf[streaming.NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(path)

  /** The oracle SQL of the named queries, as one JSON object. */
  private[graft] def writeOracles(path: String, names: Set[String]): Unit =
    bench.Json.write(path, SparkEntry.oracleSql.filter(kv => names(kv._1)))
}
