package graft.ops

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Seeded-random fuzz of the hybrid kernels against their distributed
  * twins on ADVERSARIAL text/event corpora — unicode, CJK, NBSP, tabs,
  * newlines, zero-width joiners, empty and whitespace-only documents,
  * exact duplicates. The fixed-fixture equality specs prove the happy
  * paths; this one hunts tokenization/hashing/rounding divergence.
  * Every failure prints its seed. */
class KernelFuzzSpec extends SparkSpec {

  private val alphabets = Array(
    "the quick brown fox and dog cat runs over lazy".split(" ").toSeq,
    Seq("el", "la", "de", "que", "los", "perro", "gato"),
    Seq("汉字", "测试", "数据", "引擎"),
    Seq("a", "b", " ", "‍", "µ", "✓", "word-with-dash", "x1"),
    Seq("")) // empty token source → whitespace-only runs

  private val seps = Array(" ", "  ", "\t", "\n", " \t ", "")

  private def randomDoc(rnd: scala.util.Random): String = {
    val alpha = alphabets(rnd.nextInt(alphabets.length))
    val n = rnd.nextInt(12)
    val body = Seq.fill(n)(alpha(rnd.nextInt(alpha.size)))
      .mkString(seps(rnd.nextInt(seps.length)))
    // random leading/trailing junk: spaces trim, tabs must NOT
    (if (rnd.nextBoolean()) "  " else "\t") + body +
      (if (rnd.nextBoolean()) " " else "\n")
  }

  private def corpus(seed: Long, nDocs: Int): DataFrame = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    val base = Seq.tabulate(nDocs)(i => (i.toLong, randomDoc(rnd)))
    // force exact duplicates so LSH buckets and hamming-0 pairs exist
    val rows = base.map { case (i, t) =>
      if (i % 5 == 4) (i, base((i - 1).toInt)._2) else (i, t)
    }
    rows.toDF("doc_id", "text")
  }

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toSeq.sortBy(_.mkString("|"))

  private def bothWays(gateConf: String)(q: => DataFrame)
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    spark.conf.unset(gateConf)
    val local = sorted(q)
    spark.conf.set(gateConf, "0")
    val dist = try sorted(q)
    finally spark.conf.unset(gateConf)
    (local, dist)
  }

  test("dedup kernels ≡ distributed on adversarial corpora (8 seeds)") {
    for (seed <- 0L until 8L) {
      val docs = corpus(seed, 40).persist()
      try {
        for ((name, q) <- Seq[(String, () => DataFrame)](
          ("minhash", () => Dedup.minhashDedup(docs, 0.4)),
          ("ngram", () => Dedup.ngramJaccardDedup(docs, 0.4)),
          ("simhash_sig", () => Dedup.simhash(docs)),
          ("simhash", () => Dedup.simhashDedup(docs, 5)))) {
          val (l, d) = bothWays("spark.graft.localDedupMaxDocs")(q())
          assert(l === d, s"seed=$seed $name")
        }
      } finally docs.unpersist()
    }
  }

  test("tfidf kernel ≡ distributed on adversarial corpora (8 seeds)") {
    for (seed <- 100L until 108L) {
      val docs = corpus(seed, 40).persist()
      try {
        val (l, d) = bothWays("spark.graft.localDedupMaxDocs")(
          TextOps.tfidf(docs, 3))
        assert(l === d, s"seed=$seed tfidf")
      } finally docs.unpersist()
    }
  }

  test("tfidf kernel ≡ distributed when doc_ids repeat across rows") {
    val s = spark; import s.implicits._
    // duplicate ids are ONE logical document for the distributed
    // groupBy(doc_id, token) — the kernel must merge, not double-count
    // df or emit two rank lists
    val d = Seq(
      (0L, "apple banana apple"),
      (0L, "banana cherry"),
      (1L, "apple cherry banana banana"),
      (2L, "cherry"), (2L, "cherry"))
      .toDF("doc_id", "text")
    val (l, dist) = bothWays("spark.graft.localDedupMaxDocs")(
      TextOps.tfidf(d, 3))
    assert(l === dist)
  }

  test("pack: distributed prefix sum ≡ reference cumsum on random strata (8 seeds)") {
    val s = spark; import s.implicits._
    for (seed <- 0L until 8L) {
      val rnd = new scala.util.Random(seed)
      val nStrata = 1 + rnd.nextInt(6)
      val rows = Seq.tabulate(300 + rnd.nextInt(700)) { i =>
        (i.toLong, s"s${rnd.nextInt(nStrata)}", rnd.nextInt(200).toLong)
      }
      val d = rows.toDF("doc_id", "source", "n_tokens")
        .repartition(1 + rnd.nextInt(19))
      val budget = 1L + rnd.nextInt(500)
      // reference: per-stratum exclusive cumsum in doc_id order
      val want = rows.groupBy(_._2).values.flatMap { st =>
        val byId = st.sortBy(_._1)
        val offs = byId.scanLeft(0L)(_ + _._3)
        byId.zip(offs).map { case ((id, s, t), off) =>
          Vector(s, id, t, off, off / budget)
        }
      }.toSeq.sortBy(_.mkString("|"))
      val got = sorted(
        Mix.pack(d, org.apache.spark.sql.functions.col("source"), budget))
      assert(got === want, s"seed=$seed pack budget=$budget")
    }
  }

  test("tokens/shingles primitives ≡ column expressions on raw strings") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7L)
    val strings = Seq.fill(200)(randomDoc(rnd)) ++
      Seq("", " ", "\t", " ", "a b", " x ", "\na\n")
    val df = strings.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").persist()
    try {
      val sparkTokens = TextOps.tokenized(df).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toMap
      strings.zipWithIndex.foreach { case (t, i) =>
        assert(LocalDedup.tokens(t).toList === sparkTokens(i.toLong),
          s"tokens #$i ${t.map(_.toInt)}")
      }
      val sparkShingles = TextOps.shingles(df, 3).collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      strings.zipWithIndex.foreach { case (t, i) =>
        val local = LocalDedup.shingleStrings(LocalDedup.tokens(t)).toSet
        assert(local === sparkShingles.getOrElse(i.toLong, Set.empty),
          s"shingles #$i ${t.map(_.toInt)}")
      }
    } finally df.unpersist()
  }

  test("ANN kernels ≡ distributed on random corpora incl. edge shapes (6 seeds)") {
    val s = spark; import s.implicits._
    for (seed <- 0L until 6L) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(80)
      val dims = 2 + rnd.nextInt(14)
      val base = Seq.fill(n)(Array.fill(dims)(rnd.nextFloat() * 2f - 1f))
      val rows = base.zipWithIndex.map { case (v, i) =>
        // duplicates (ties) and a scaled copy (cosine-1 but distinct)
        if (i % 4 == 3) (i.toLong, base(i - 1))
        else if (i % 7 == 6) (i.toLong, base(i - 2).map(_ * 2f))
        else (i.toLong, v)
      }
      val emb = rows.toDF("vec_id", "embedding").persist()
      try {
        val k = 1 + rnd.nextInt(6)
        val nQ = 1 + rnd.nextInt(n)
        val nC = 1 + rnd.nextInt(n)
        val nP = 1 + rnd.nextInt(nC)
        for ((name, q) <- Seq[(String, () => DataFrame)](
          ("brute", () => Similarity.bruteForceTopK(emb, k, nQ)),
          ("ivf", () => Similarity.ivfTopK(emb, k, nQ, nC, nP)),
          ("ivf_kmeans", () => Similarity.ivfTopK(emb, k, nQ, nC, nP, nIter = 2)),
          ("emb_pairs", () => Dedup.embeddingDedup(emb, 0.2)))) {
          val (l, d) = bothWays("spark.graft.localAnnMaxVecs")(q())
          assert(l === d, s"seed=$seed $name k=$k nQ=$nQ nC=$nC nP=$nP")
        }
      } finally emb.unpersist()
    }
  }

  test("dedupClusters ≡ union-find over minhash pairs (4 seeds)") {
    for (seed <- 0L until 4L) {
      val docs = corpus(seed, 40).persist()
      try {
        val pairs = Dedup.minhashDedup(docs, 0.4).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        // reference union-find on the driver
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = docs.collect().map(_.getLong(0))
          .map(id => id -> find(id)).toMap
        val got = Dedup.dedupClusters(docs, 0.4).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"seed=$seed")
      } finally docs.unpersist()
    }
  }

  test("events kernels ≡ distributed on random streams (8 seeds)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    for (seed <- 0L until 8L) {
      val rnd = new scala.util.Random(seed)
      val halfHourUs = 1800L * 1000000
      var prevUs = 0L
      val ev = Seq.tabulate(300) { i =>
        // bias timestamps onto exact window/bin boundaries (range-join
        // inclusive/exclusive edges) and exact duplicates (as-of ties)
        val raw = rnd.nextLong(6L * 3600 * 1000000) // µs within 6 hours
        val us = rnd.nextInt(4) match {
          case 0 => raw - raw % halfHourUs
          case 1 => prevUs
          case _ => raw
        }
        prevUs = us
        // props: valid {"k": n} (negatives included) and nulls — the
        // shapes the strict kernel parser handles; exotic-JSON
        // fallback is pinned separately below
        val props = rnd.nextInt(6) match {
          case 0 => null
          case 1 => s"""{"k": ${-(rnd.nextInt(1000) + 1)}}"""
          case _ => s"""{"k": ${rnd.nextInt(10000)}}"""
        }
        (i.toLong, us,
          (rnd.nextInt(5) + 1).toLong,
          Seq("click", "view", "buy")(rnd.nextInt(3)),
          math.round(rnd.nextDouble() * 10000) / 100.0,
          props)
      }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
        .persist()
      try {
        for ((name, q) <- Seq[(String, () => DataFrame)](
          ("window", () => graft.streaming.Events.windowedCounts(ev)),
          ("sessions", () => graft.streaming.Events.sessionize(ev)),
          ("topusers", () => graft.streaming.Events.topUsers(ev, 3)),
          ("asof", () => graft.streaming.Events.asofJoin(ev, "buy", "click")),
          ("range", () => graft.streaming.Events.rangeJoinCounts(
            ev, "buy", "click", halfHourUs)),
          ("funnel", () => graft.streaming.Events.funnel(
            ev, Seq("view", "click", "buy"))),
          ("retention", () => graft.streaming.Events.retention(ev)),
          ("props", () => graft.streaming.Events.propsProfile(ev)),
          ("active", () => graft.streaming.Events.activeUsers(ev)),
          ("peak", () => graft.streaming.Events.peakConcurrency(ev)))) {
          val (l, d) = bothWays("spark.graft.localEventsMaxRows")(q())
          assert(l === d, s"seed=$seed $name")
        }
      } finally ev.unpersist()
    }
  }

  test("triangle + pagerank kernels ≡ distributed on random graphs (6 seeds)") {
    val s = spark; import s.implicits._
    for (seed <- 0L until 6L) {
      val rnd = new scala.util.Random(seed)
      // random multigraph with loops, duplicates, hubs (vertex 0 hot),
      // and isolated id gaps
      val n = 10 + rnd.nextInt(40)
      val pairs = Seq.fill(n * 4) {
        val a = if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(n).toLong * 3
        val b = rnd.nextInt(n).toLong * 3
        (a, b)
      }
      val df = pairs.toDF("src", "dst").persist()
      // each pair a group of its two members: the co-purchase graph is
      // the pair graph itself
      val gm = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq((i.toLong, a), (i.toLong, b)) }.toDF("src", "dst")
      try {
        val (lt, dt) = bothWays("spark.graft.localBfsMaxEdges")(
          graft.bfs.Triangles.coPurchase(gm) match {
            case Left(csr) => graft.bfs.Triangles.countCsrDf(spark, csr)
            case Right(t) =>
              try graft.bfs.Triangles.countFromTables(spark, t)
              finally Seq(t.deg, t.ori, t.tri).foreach(_.unpersist(blocking = false))
          })
        assert(lt === dt, s"seed=$seed triangles")
        // pagerank: kernel on the cleaned CSR vs the distributed loop —
        // integer fixed point ⇒ exact equality
        val noLoops = pairs.filter(p => p._1 != p._2)
        if (noLoops.nonEmpty) {
          val csr = graft.bfs.LocalCsr.buildFromRawPairs(
            noLoops.flatMap(p => Seq(p._1, p._2)).toArray)
          val kernel = csr.ids.zip(graft.bfs.PageRank.pagerankCsr(csr, 10))
            .toMap
          val clean = graft.etl.EdgeOps.cleanEdges(df)
          val dist = graft.bfs.PageRank.pagerank(spark, clean, 10)
            .as[(Long, Long)].collect().toMap
          assert(dist === kernel, s"seed=$seed pagerank")
        }
      } finally df.unpersist()
    }
  }

  test("covarianceMoments Gram kernel ≡ naive moments (6 seeds)") {
    val s = spark; import s.implicits._
    for (seed <- 0L until 6L) {
      val rnd = new scala.util.Random(seed)
      // ragged dims, nulls, empties, negative and large-ish magnitudes,
      // and enough rows to span several of the 32 shuffle partitions
      val n = 50 + rnd.nextInt(100)
      val dmax = 1 + rnd.nextInt(7)
      val rows: Seq[Array[Float]] = Seq.tabulate(n) { i =>
        if (i % 17 == 16) null
        else {
          val d = 1 + rnd.nextInt(dmax)
          Array.fill(d)(((rnd.nextGaussian() * 40) *
            (if (rnd.nextInt(10) == 0) 100 else 1)).toFloat)
        }
      }
      val df = rows.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
        .repartition(11)
      val out = Similarity.covarianceMoments(df.select("embedding"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      // naive oracle over the SAME micro-unit quantization
      // mirror Spark's Round-on-double exactly: the multiply happens in
      // double, then BigDecimal.valueOf (canonical string repr) rounds
      val qs = rows.filter(v => v != null && v.nonEmpty)
        .map(_.map(x => BigDecimal(
          java.math.BigDecimal.valueOf(x.toDouble * 1000000.0)
            .setScale(0, java.math.RoundingMode.HALF_UP))))
      val dTop = if (qs.isEmpty) 0 else qs.map(_.length).max
      assert(out.size === dTop * (dTop + 1) / 2, s"seed=$seed size")
      for (i <- 0 until dTop; j <- i until dTop) {
        val present = qs.filter(_.length > j)
        val (nn, sx, sy, sxy) = out((i + 1L, j + 1L))
        assert(nn === present.size.toLong, s"seed=$seed n($i,$j)")
        val expSx = qs.filter(_.length > i).map(_(i)).sum / BigDecimal(1e6)
        val expSy = qs.filter(_.length > j).map(_(j)).sum / BigDecimal(1e6)
        val expSxy = present.map(v => v(i) * v(j)).sum / BigDecimal(1e12)
        assert(math.abs(sx - expSx.toDouble) <= math.ulp(expSx.toDouble),
          s"seed=$seed sx($i,$j)")
        assert(math.abs(sy - expSy.toDouble) <= math.ulp(expSy.toDouble),
          s"seed=$seed sy($i,$j)")
        assert(math.abs(sxy - expSxy.toDouble) <=
          4 * math.ulp(expSxy.toDouble), s"seed=$seed sxy($i,$j)")
      }
    }
  }
}
