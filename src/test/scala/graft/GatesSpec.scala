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
      "localSsspMaxEdges", "localDedupMaxDocs", "localAnnMaxVecs",
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
