package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit tool: dumps `explain("formatted")` for every SparkEntry
  * query so scan pruning / pushdown / join strategies / codegen spans can
  * be reviewed (see PLANS.md). Usage: runMain graft.Explain <sfDir> <out>
  * [q1,q2,…] — the optional third arg restricts the dump to the named
  * queries (per-query before/after plan files for optimization rounds). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val onlySet = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Force every hybrid gate to the DISTRIBUTED path: this audit exists
    // to review the plans that run at cluster scale — the driver-local
    // kernels have no relational plan to review.
    // That includes the embedding strategy switch: the hyperplane-LSH
    // path is the corpus-scale plan (the broadcast-block path under the
    // limit has no relational plan worth auditing).
    Gates.forceDistributed(spark)
    // also force the PageRank/k-core shuffle loops (below the cap the
    // |V|-sized round state rides the driver and the output is a
    // broadcast range-lookup — no relational plan worth auditing)
    spark.conf.set("spark.graft.iterBroadcastVerts", "0")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans per query (auto-generated by graft.Explain)\n")
    sb.append(s"\nInput: `$sfDir`. All hybrid-executor gates forced to 0, " +
      "so these are the DISTRIBUTED (cluster-scale) plans.\n" +
      s"Regenerate: `sbt \"runMain graft.Explain <sfDir> PLANS.md\"`.\n")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlySet.forall(_(n)) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch { case e: Throwable =>
        sb.append(s"\n## $name\n\nexplain failed: ${e.getMessage}\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
