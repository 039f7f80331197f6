package graft

/** The gate table: one conf name, default and parse rule per gate, and
  * the force-distributed switch derived from it. */
class GatesSpec extends SparkSpec {

  private def restoring[A](body: => A): A = {
    val prior = Gates.all.map(g => g -> spark.conf.getOption(g.conf))
    try body
    finally prior.foreach { case (g, v) =>
      v.fold(spark.conf.unset(g.conf))(spark.conf.set(g.conf, _))
    }
  }

  test("forceDistributed zeroes every gate in the table; unset reads the default") {
    assert(Gates.all.map(_.conf) === Seq("localBfsMaxEdges",
      "localDedupMaxDocs", "localAnnMaxVecs",
      "localEventsMaxRows", "localBpeMaxTypes", "embeddingBlockMaxVecs")
      .map("spark.graft." + _))
    restoring {
      Gates.all.foreach(g => spark.conf.unset(g.conf))
      assert(Gates.all.forall(g => g.limit(spark) == g.default))
      assert(Gates.localBfsMaxEdges.default == 64000000L)
      Gates.forceDistributed(spark)
      assert(Gates.all.forall(_.limit(spark) == 0L))
    }
  }

  test("limit: a non-integer value fails naming its conf") {
    restoring {
      spark.conf.set(Gates.localBpeMaxTypes.conf, "lots")
      val e = intercept[IllegalArgumentException](
        Gates.localBpeMaxTypes.limit(spark))
      assert(e.getMessage.contains("spark.graft.localBpeMaxTypes='lots'"))
    }
  }

  /** `body` with `conf` set to a non-integer fails naming it. */
  private def failsNaming(conf: String)(body: => Any): Unit = {
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, "lots")
    try {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(s"$conf='lots'"))
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  private def clean = graft.etl.EdgeOps.cleanEdges(
    spark.range(6).selectExpr("id as src", "(id + 1) % 6 as dst"))

  test("iterBroadcastVerts: a non-integer value fails naming its conf") {
    failsNaming("spark.graft.iterBroadcastVerts")(
      graft.bfs.PageRank.pagerank(spark, clean, 2))
    failsNaming("spark.graft.iterBroadcastVerts")(
      graft.bfs.KCore.kcore(spark, clean, 2, 2))
  }

  test("validateBroadcastVerts: a non-integer value fails naming its conf") {
    failsNaming("spark.graft.validateBroadcastVerts")(
      graft.validate.Validator.broadcastVerts(spark))
  }

  test("twoHopBitsetMaxBits: a non-integer value fails naming its conf") {
    failsNaming("spark.graft.twoHopBitsetMaxBits")(
      graft.etl.EdgeOps.twoHopReach(clean, 2, maxVertex = Some(5L)))
  }

  test("fits: at most the limit, 0 never, a limit past Int range counts") {
    val df = spark.range(5).toDF()
    val g = Gates.localBpeMaxTypes
    restoring {
      assert(g.withLimit(spark, 5L)(g.fits(df)))
      assert(!g.withLimit(spark, 4L)(g.fits(df)))
      assert(!g.withLimit(spark, 0L)(g.fits(df)))
      assert(g.withLimit(spark, Int.MaxValue.toLong)(g.fits(df)))
      assert(g.withLimit(spark, 3000000000L)(g.fits(df)))
    }
  }
}
