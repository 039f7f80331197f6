package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit specs for the training-data pipeline operators on tiny
  * hand-checkable inputs. */
class OpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- TextOps ----

  test("tokenCounts: whitespace vs BPE-ish") {
    val d = docs((0L, "ab c1, d!"), (1L, "   "), (2L, ""))
    val r = TextOps.tokenCounts(d).orderBy("doc_id").collect()
    // "ab c1, d!": ws tokens [ab, c1,, d!]; bpe: ab|c|1|,|d|!
    assert(r(0).getLong(1) === 3L && r(0).getLong(2) === 6L)
    assert(r(1).getLong(1) === 0L)
    assert(r(2).getLong(1) === 0L && r(2).getLong(2) === 0L)
  }

  test("shingles: 3-gram over tokens, short docs fall back to whole text") {
    val d = docs((0L, "a b c d"), (1L, "x y"))
    val sh = TextOps.shingles(d, 3).orderBy("doc_id", "shingle").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSeq === Seq((0L, "a b c"), (0L, "b c d"), (1L, "x y")))
  }

  test("fingerprint: rolling hash matches hand computation") {
    val d = docs((0L, "hi"))
    val fp = TextOps.fingerprint(d).head().getLong(1)
    assert(fp === (('h'.toLong * 31) + 'i'.toLong) % 1000000007L)
  }

  test("winnow: window minima over k-gram hashes, hand-checked") {
    def ph(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000000007L)
    val d = docs((0L, "a b c d e f g h"), (1L, "x y"))
    val out = TextOps.winnow(d, 4, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 tokens, k=4 → 5 shingle hashes; w=4 → windows [1..4],[2..5]
    val toks = "a b c d e f g h".split(" ")
    val hs = (0 to 4).map(i => ph(toks.slice(i, i + 4).mkString(" ")))
    val exp0 = Set(hs.slice(0, 4).min, hs.slice(1, 5).min)
      .map((0L, _))
    // 2 tokens < k → single whole-list shingle, single window
    assert(out === exp0 + ((1L, ph("x y"))))
  }

  test("winnow guarantee: docs sharing a ≥ w+k-1 token run share a print") {
    val shared = "q w e r t y u" // 7 = w+k-1 tokens
    val d = docs((0L, s"alpha beta $shared gamma"),
      (1L, s"one two three $shared four"))
    val byDoc = TextOps.winnow(d, 4, 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    assert((byDoc(0L) intersect byDoc(1L)).nonEmpty)
  }

  test("winnow: native expression ≡ composed formulation on fuzz input") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab \t\n  é世c.x "
    val rows = (0L until 120L).map { i =>
      val len = rnd.nextInt(60)
      (i, Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val d = docs(rows: _*)
    for ((k, w) <- Seq((4, 4), (2, 3), (1, 1), (5, 2))) {
      val native = TextOps.winnow(d, k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val composed = TextOps.winnowComposed(d, k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(native === composed, s"k=$k w=$w")
    }
  }

  test("winnowDedup: kernel ≡ distributed; shared-run pairs found") {
    val s = spark; import s.implicits._
    val shared = "one two three four five six seven" // ≥ w+k-1 tokens
    val d = docs(
      (1L, s"alpha $shared beta"),
      (2L, s"gamma delta $shared"),
      (3L, "completely different text with no overlap at all here"))
    def run() = Dedup.winnowDedup(d, 4, 4, 1, 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    spark.conf.unset("spark.graft.localDedupMaxDocs")
    val local = run()
    spark.conf.set("spark.graft.localDedupMaxDocs", "0")
    val dist = try run()
    finally spark.conf.unset("spark.graft.localDedupMaxDocs")
    assert(local === dist)
    // the shared 7-token run guarantees ≥ 1 shared fingerprint for (1,2)
    assert(local.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L))
    assert(!local.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("winnowDedup: hot fingerprints leave the index") {
    val s = spark; import s.implicits._
    // every doc shares the same text → every fingerprint has df = 4 >
    // maxDf = 3 → no pairs survive
    val d = docs((1L to 4L).map(i => (i, "common boilerplate run of words here")): _*)
    val out = Dedup.winnowDedup(d, 4, 4, 1, 3).collect()
    assert(out.isEmpty)
    // raising the cap restores all 6 pairs
    val out2 = Dedup.winnowDedup(d, 4, 4, 1, 100).collect()
    assert(out2.length === 6)
  }

  test("ngramStats: types/occurrences/hapaxes per n, short docs safe") {
    val d = docs((0L, "a b a"), (1L, "a"), (2L, ""))
    val out = TextOps.ngramStats(d, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((2L, 4L, 1L)))  // a×3, b×1 → 2 types, hapax b
    assert(out(2L) === ((2L, 2L, 2L)))  // "a b", "b a"
    assert(out(3L) === ((1L, 1L, 1L)))  // "a b a"
    assert(out.size === 3)
  }

  test("oovRate: top-k vocab membership, count-desc token-asc ties") {
    val d = docs((1L, "a a b c"), (2L, "a b b d"))
    val out = TextOps.oovRate(d, 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // counts: a=3, b=3, c=1, d=1 → vocab {a, b}; c and d are OOV
    assert(out.toSeq === Seq((1L, 4L, 1L, 0.25), (2L, 4L, 1L, 0.25)))
  }

  test("langId: marker argmax with zh override") {
    val d = docs(
      (0L, "the cat and the dog is of to"),
      (1L, "el que la los de de"),
      (2L, "中文 the the the"))
    val r = TextOps.langId(d).orderBy("doc_id").collect()
      .map(_.getAs[String]("lang_pred"))
    assert(r.toSeq === Seq("en", "es", "zh"))
  }

  test("quality: ratios and gate") {
    val d = docs((0L, "one two three"))  // 3 tokens < 10 => score -1
    val r = TextOps.quality(d).head()
    assert(r.getAs[Long]("n_tokens") === 3L)
    assert(r.getAs[Double]("quality_score") === -1.0)
  }

  test("piiScrub: counts and redacts emails, phones, IPv4s") {
    val d = docs(
      (0L, "mail a.b+c@ex-ample.org or call 555-123-4567 from 10.0.0.1"),
      (1L, "no pii here"),
      (2L, "two mails x@y.io z@w.ai and ip 192.168.1.255"))
    val r = TextOps.piiScrub(d).orderBy("doc_id").collect()
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) === ((1L, 1L, 1L)))
    assert(r(0).getString(4) === "mail <EMAIL> or call <PHONE> from <IP>")
    assert((r(1).getLong(1), r(1).getLong(2), r(1).getLong(3)) === ((0L, 0L, 0L)))
    assert(r(1).getString(4) === "no pii here")
    assert((r(2).getLong(1), r(2).getLong(3)) === ((2L, 1L)))
  }

  test("repetition: distinct token/bigram fractions") {
    val d = docs(
      (0L, "a b a b"),   // tokens 4/2 distinct; bigrams [a b, b a, a b] → 3/2
      (1L, "x"),          // single token: no bigrams
      (2L, ""))           // empty: ratios degenerate to 1 - 0/1 = 1.0? no — 0 tokens
    val r = TextOps.repetition(d).orderBy("doc_id").collect()
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
      === ((4L, 2L, 3L, 2L)))
    assert(r(0).getDouble(5) === 0.5)
    assert(r(0).getDouble(6) === Math.round((1.0 - 2.0 / 3) * 1e6) / 1e6)
    assert((r(1).getLong(1), r(1).getLong(3)) === ((1L, 0L)))
    assert(r(1).getDouble(5) === 0.0 && r(1).getDouble(6) === 1.0)
    assert((r(2).getLong(1), r(2).getLong(3)) === ((0L, 0L)))
  }

  // ---- Dedup ----

  test("normalizedExact collapses case/punctuation/whitespace variants") {
    val d = docs(
      (7L, "Hello,  World!"), (3L, "hello world"), (5L, "hello-world"),
      (9L, "different"))
    val r = Dedup.normalizedExact(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq === Seq((3L, 3L), (5L, 3L), (7L, 3L), (9L, 9L)))
  }

  test("exact dedup groups identical texts to min doc_id") {
    val d = docs((5L, "same text"), (2L, "same text"), (9L, "other"))
    val r = Dedup.exact(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(r.toSeq === Seq((2L, 2L), (5L, 2L), (9L, 9L)))
  }

  test("streaming exact dedup keeps first occurrence per content hash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Dedup.exactStream(
        mem.toDF().toDF("doc_id", "ts", "text"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dd_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      mem.addData((1L, t(0), "alpha"), (2L, t(1), "alpha"), (3L, t(1), "beta"))
      q.processAllAvailable()
      // duplicate arriving in a LATER batch, inside the watermark window
      mem.addData((4L, t(2), "alpha"), (5L, t(3), "gamma"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dd_stream").collect()
        .map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("streaming simhash suppression: first doc per signature survives") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Dedup.simhashStream(
        mem.toDF().toDF("doc_id", "ts", "text"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("sh_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      val base = "the quick brown fox jumps over the lazy dog"
      mem.addData((1L, t(0), base), (2L, t(1), "unrelated text here"),
        (3L, t(1), ""))
      q.processAllAvailable()
      // same signature arriving later (identical tokens, different order
      // of duplicate words does not change the distinct-token simhash),
      // plus another zero-token doc — which must NOT be suppressed
      mem.addData((4L, t(2), base), (5L, t(3), ""))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, simhash FROM sh_stream").collect()
      val ids = rows.map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 3L, 5L), s"got $ids")
      // surviving signature equals the batch simhash pipeline's
      val sig1 = rows.find(_.getLong(0) == 1L).get.getLong(1)
      val batchSig = Dedup.simhash(Seq((1L, base)).toDF("doc_id", "text"))
        .head().getLong(1)
      assert(sig1 === batchSig)
      // zero-token docs carry no signature
      assert(rows.filter(r => r.getLong(0) == 3L || r.getLong(0) == 5L)
        .forall(_.isNullAt(1)))
    } finally q.stop()
  }

  test("minhash LSH finds identical and near-identical docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs((0L, base), (1L, base), (2L, base + " extra"),
      (3L, "completely different words entirely unrelated content here now"))
    val pairs = Dedup.minhashDedup(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedupClusters: transitive closure to min-id canonical, singletons self") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs((0L, base), (1L, base), (2L, base + " extra"),
      (3L, "completely different words entirely unrelated content here now"))
    val got = Dedup.dedupClusters(d, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0-1 identical, 0-2 near-dup → one cluster canonicalized to 0, even
    // if 1-2 was never a direct pair (transitivity via components)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  test("keepCanonical: surviving docs with cluster sizes") {
    val s = spark; import s.implicits._
    val d = docs((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
    val pairs = Seq((0L, 1L, 1.0), (1L, 3L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val r = Dedup.keepCanonical(d, pairs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // {0,1,3} collapse onto 0 (size 3); 2 survives alone
    assert(r == Map(0L -> 3L, 2L -> 1L))
  }

  test("dedupSummary: one-row dashboard over the cluster map") {
    val s = spark; import s.implicits._
    // clusters: {0,1,3} → 0 (size 3), {2} → 2 (size 1)
    val clusters = Seq((0L, 0L), (1L, 0L), (3L, 0L), (2L, 2L))
      .toDF("doc_id", "canonical_id")
    val r = Dedup.dedupSummary(clusters).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) === ((4L, 2L, 3L, 2L, 0.5)))
  }

  test("sourceShingleSimilarity: exact set Jaccard between sources") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "a b c d", "s1"),   // shingles: "a b c", "b c d"
      (2L, "a b c", "s2"),     // "a b c"
      (3L, "x y z", "s2"),     // "x y z"
      (4L, "p q", "s3")        // short → whole-text "p q"
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceShingleSimilarity(d).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // s1 = {abc, bcd}, s2 = {abc, xyz}, s3 = {pq}
    assert(out === Map(
      ("s1", "s2") -> ((1L, 2L, 2L, graft.ops.LocalDedup.round6(1.0 / 3)))))
  }

  test("sourceShingleSimilarity: a null-source row is dropped, not an NPE") {
    val s = spark; import s.implicits._
    val docs = Seq[(Long, String, String)](
      (1L, "a b c d", "s1"), (2L, "a b c", "s2"), (3L, "x y z", "s2"))
    // the null-source doc shares a shingle with s1 and s2
    val withNull = docs :+ ((4L, "a b c", null))
    def run(rows: Seq[(Long, String, String)]) =
      Dedup.sourceShingleSimilarity(rows.toDF("doc_id", "text", "source"))
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(run(withNull) === run(docs))
  }

  test("sourceShingleSimilarity: more than 100000 sources fail, stating the count") {
    val d = spark.range(Dedup.MaxSources + 1L)
      .select(col("id").as("doc_id"), lit("a b c").as("text"),
        col("id").cast("string").as("source"))
    val e = intercept[IllegalArgumentException](Dedup.sourceShingleSimilarity(d))
    assert(e.getMessage.contains("100001 distinct sources"), e.getMessage)
    assert(e.getMessage.contains("limit of 100000"), e.getMessage)
  }

  test("sourceOverlap: cross-source cluster matrix, diagonal needs ≥2") {
    val s = spark; import s.implicits._
    // cluster 1: docs in srcA (×2) + srcB → diagonal (A,A) and (A,B)
    // cluster 10: docs in srcB + srcC → (B,C)
    // cluster 20: singleton in srcC → nothing
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L)
    ).toDF("doc_id", "canonical_id")
    val meta = Seq(
      (1L, "srcA"), (2L, "srcA"), (3L, "srcB"),
      (10L, "srcB"), (11L, "srcC"),
      (20L, "srcC")
    ).toDF("doc_id", "source")
    val out = Dedup.sourceOverlap(clusters, meta).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    assert(out === Array(
      ("srcA", "srcA", 1L), ("srcA", "srcB", 1L), ("srcB", "srcC", 1L)))
  }

  test("keepBestFromClusters: argmax quality, min doc_id on ties") {
    val s = spark; import s.implicits._
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "canonical_id")
    val scores = Seq((0L, 0.1), (1L, 0.9), (2L, 0.9), (3L, -1.0), (4L, -1.0))
      .toDF("doc_id", "quality_score")
    val r = Dedup.keepBestFromClusters(clusters, scores)
      .orderBy("canonical_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    // cluster 0: 1 and 2 tie at 0.9 → min id 1; cluster 3: tie → 3
    assert(r.toSeq === Seq((0L, 3L, 1L, 0.9), (3L, 2L, 3L, -1.0)))
  }

  test("heavyHitters: exact counts equal brute force, partition-proof") {
    val s = spark; import s.implicits._
    // skewed corpus: "the" ~40%, "of" ~20%, tail of near-hapax tokens
    val rnd = new scala.util.Random(17L)
    val d = Seq.tabulate(300) { i =>
      val body = Seq.fill(10) {
        val x = rnd.nextInt(10)
        if (x < 4) "the" else if (x < 6) "of" else s"tail${rnd.nextInt(800)}"
      }.mkString(" ")
      (i.toLong, body)
    }.toDF("doc_id", "text")
    val brute = TextOps.tokenized(d)
      .select(explode(col("tk")).as("t")).groupBy("t").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val n = brute.values.sum
    val expect = brute.filter { case (_, c) => c * 50L >= n }
      .map { case (t, c) =>
        (t, c, BigDecimal(c.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.sortBy(_._1)
    // θ = 1/50 on 1, 7, and 32 input partitions: the Misra-Gries
    // candidate pass must stay a superset under any partitioning
    for (p <- Seq(1, 7, 32)) {
      val got = TextOps.heavyHitters(d.repartition(p), 1L, 50L)
        .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
        .toSeq.sortBy(_._1)
      assert(got === expect, s"partitions=$p")
    }
  }

  test("corpusStats: counts, exact mean quality, token share") {
    val s = spark; import s.implicits._
    val d = docs(
      (0L, "the a of to in is it and the a"),   // 10 tokens, all stopwords
      (1L, "one two three"),                    // < 10 tokens → score -1
      (2L, "x y z"))
    val meta = Seq((0L, "en", "web"), (1L, "en", "web"), (2L, "fr", "book"))
      .toDF("doc_id", "lang", "source")
    val r = TextOps.corpusStats(d, meta)
      .orderBy("source", "lang").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(4),
        x.getDouble(5), x.getDouble(6)))
    // doc0: stop_ratio 1.0 → score 2.0; doc1: -1 → (web,en) mean 0.5
    assert(r.toSeq === Seq(
      ("book", "fr", 1L, 3L, -1.0, 0.1875),
      ("web", "en", 2L, 13L, 0.5, 0.8125)))
  }

  test("tokenHistogram: integer bit-length buckets, powers exact") {
    val s = spark; import s.implicits._
    val d = docs(
      (0L, "a"),            // 1 token  → bucket 0
      (1L, "a b"),          // 2        → bucket 1
      (2L, "a b c"),        // 3        → bucket 1
      (3L, "a b c d"),      // 4        → bucket 2 (the log2 FP trap)
      (4L, "a b c d e f g h"), // 8     → bucket 3
      (5L, ""))             // 0        → bucket 0
    val r = TextOps.tokenHistogram(d).orderBy("bucket").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.toSeq === Seq(
      (0L, 2L, 1L, 0L, 1L), (1L, 2L, 5L, 2L, 3L),
      (2L, 1L, 4L, 4L, 4L), (3L, 1L, 8L, 8L, 8L)))
  }

  test("jaccard pairs: exact value") {
    val d = docs((0L, "a b c d"), (1L, "a b c e"))
    // shingles: {abc,bcd} vs {abc,bce} => J = 1/3
    val j = Dedup.jaccardPairs(TextOps.shingles(d, 3)).head().getDouble(2)
    assert(j === 0.333333)
  }

  test("jaccardPairs maxDf drops ultra-hot shingles from the index") {
    val common = "alpha beta gamma"
    val d = docs(
      (0L, s"$common one two three four"),
      (1L, s"$common one two three four"),
      (2L, s"$common nine ten eleven twelve"))
    val sh = TextOps.shingles(d, 3)
    val full = Dedup.jaccardPairs(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.jaccardPairs(sh, Some(2L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full index links 0-2 through the boilerplate shingle (df=3)
    assert(full.contains((0L, 2L)))
    // capped index keeps the real near-dup pair, drops boilerplate-only links
    assert(capped.contains((0L, 1L)) && !capped.contains((0L, 2L)))
  }

  test("simhash: identical docs collide, hamming 0 pair found") {
    val d = docs((0L, "spark scala data"), (1L, "spark scala data"),
      (2L, "zz yy xx ww vv"))
    val sigs = Dedup.simhash(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sigs(0)._2 === sigs(1)._2)
    val pairs = Dedup.simhashDedup(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 0L)))
  }

  test("embedding dedup: parallel vectors have cosine 1") {
    val s = spark; import s.implicits._
    val e = Seq((0L, Array(1f, 0f, 2f)), (1L, Array(2f, 0f, 4f)),
      (2L, Array(-1f, 5f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Dedup.embeddingDedup(e, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(r.toSeq === Seq((0L, 1L, 1.0)))
  }

  test("semanticClusters: transitive closure over cosine pairs") {
    val s = spark; import s.implicits._
    // 0∥1 and 1∥2 (cosine 1), 3 orthogonal → cluster {0,1,2} + singleton
    val e = Seq((0L, Array(1f, 0f)), (1L, Array(2f, 0f)),
      (2L, Array(3f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val r = Dedup.semanticClusters(e, 0.99).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  // ---- Similarity ----

  test("bruteForceTopK ranks by cosine desc") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(1f, 0.5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(e, k = 2, nQueries = 1)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(r.toSeq === Seq(1L, 3L))  // closest to (1,0) first
  }

  test("ivfTopK with all cells probed equals brute force") {
    val s = spark; import s.implicits._
    val e = (0L until 20L).map(i =>
      (i, Array((i % 7).toFloat + 1f, (i % 3).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(e, 3, 4).orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ivf = Similarity.ivfTopK(e, 3, 4, nCentroids = 4, nProbe = 4)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bf.toSeq === ivf.toSeq)
  }

  test("tokenEntropy: hand-checked values, degenerate repetition near 0") {
    val d = docs(
      (0L, "a a b"),          // H = ln3 − (2·ln2)/3 = 0.636514
      (1L, "x x x x"),        // single type → H = 0
      (2L, "p q r s"),        // uniform → H = ln 4 = 1.386294
      (3L, "   "))            // token-less → no row
    val r = TextOps.tokenEntropy(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    assert(r(0L) == ((3L, 2L, 0.636514)))
    assert(r(1L) == ((4L, 1L, 0.0)))
    assert(r(2L) == ((4L, 4L, 1.386294)))
    assert(!r.contains(3L))
  }

  test("tfidf: tf·ln(N/df) scoring with deterministic rank ties") {
    val d = docs(
      (0L, "apple apple banana"),
      (1L, "banana cherry"),
      (2L, "cherry cherry cherry date"))
    val r = TextOps.tfidf(d, 3).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getLong(5)))
    val byDocRank = r.map(x => (x._1, x._6) -> x).toMap
    // doc 0: apple tf=2 df=1 → 2·ln3 = 2.197225; banana tf=1 df=2 → ln1.5
    assert(byDocRank((0L, 1L))._2 == "apple")
    assert(byDocRank((0L, 1L))._5 == 2.197225)
    assert(byDocRank((0L, 2L))._2 == "banana")
    assert(byDocRank((0L, 2L))._5 == 0.405465)
    // doc 1: banana and cherry tie on (score, tf, df) → token asc
    assert(byDocRank((1L, 1L))._2 == "banana")
    assert(byDocRank((1L, 2L))._2 == "cherry")
    // doc 2: cherry tf=3 beats date's ln3
    assert(byDocRank((2L, 1L))._2 == "cherry")
    assert(byDocRank((2L, 1L))._5 == 1.216395)
    assert(byDocRank((2L, 2L))._2 == "date")
    // k bounds output per doc
    assert(r.groupBy(_._1).forall(_._2.length <= 3))
    // kernel ≡ distributed twin
    spark.conf.set("spark.graft.localDedupMaxDocs", "0")
    val dist = try {
      TextOps.tfidf(d, 3).collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
          x.getDouble(4), x.getLong(5))).toSet
    } finally spark.conf.unset("spark.graft.localDedupMaxDocs")
    assert(r.toSet == dist)
  }

  test("pmiCollocations: bigram-marginal PMI, minCount gate, ordered top-k") {
    val d = docs(
      (0L, "new york new york big city"),
      (1L, "new york big apple"),
      (2L, "big city big city"))
    // bigrams: new york ×3, york new ×1, york big ×2, big city ×3,
    // big apple ×1, city big ×1 → N = 11; left marginals new 3 york 3
    // big 4 city 1; right marginals york 3 big 3 city 3 new 1 apple 1
    val r = TextOps.pmiCollocations(d, 2L, 10).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5)))
    val m = r.map(x => (x._1, x._2) -> x).toMap
    assert(m(("new", "york"))._3 == 3L)
    assert(m(("new", "york"))._4 == 3L && m(("new", "york"))._5 == 3L)
    assert(m(("new", "york"))._6 ==
      math.round(math.log(3.0 * 11 / (3.0 * 3)) * 1e6) / 1e6)
    assert(m(("big", "city"))._6 ==
      math.round(math.log(3.0 * 11 / (4.0 * 3)) * 1e6) / 1e6)
    assert(m(("york", "big"))._6 ==
      math.round(math.log(2.0 * 11 / (3.0 * 3)) * 1e6) / 1e6)
    // minCount drops the single-occurrence bigrams ("york new", ...)
    assert(r.length == 3 && r.forall(_._3 >= 2L))
    // ordered by pmi desc: new york 1.299283 > big city 1.011601 >
    // york big 0.893818
    assert(r.map(x => (x._1, x._2)).toSeq ==
      Seq(("new", "york"), ("big", "city"), ("york", "big")))
  }

  test("chunks: overlapping windows, short tail, token-less docs dropped") {
    val d = docs(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens: exact fit
      (1L, "a b c"),                                  // 3 tokens, one chunk
      (2L, "   "),                                    // no tokens → no rows
      (3L, (1 to 11).map(i => s"u$i").mkString(" "))) // 11 tokens: 2-token tail
    val r = TextOps.chunks(d, chunkSize = 4, stride = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4)))
      .sortBy(x => (x._1, x._2))
    // doc 0: (10-4) divides stride → starts 1,4,7 cover everything, no tail
    assert(r.filter(_._1 == 0L).map(x => (x._3, x._4)).toSeq ===
      Seq((1L, 4L), (4L, 4L), (7L, 4L)))
    assert(r.find(x => x._1 == 0L && x._2 == 1L).get._5 === "t4 t5 t6 t7")
    assert(r.find(x => x._1 == 0L && x._2 == 2L).get._5 === "t7 t8 t9 t10")
    // doc 3: starts 1,4,7,10 — last chunk is the 2-token tail
    assert(r.filter(_._1 == 3L).map(x => (x._3, x._4)).toSeq ===
      Seq((1L, 4L), (4L, 4L), (7L, 4L), (10L, 2L)))
    assert(r.find(x => x._1 == 3L && x._2 == 3L).get._5 === "u10 u11")
    // doc 1: exactly one chunk with all 3 tokens
    assert(r.filter(_._1 == 1L).toSeq ===
      Seq((1L, 0L, 1L, 3L, "a b c")))
    // doc 2: absent
    assert(!r.exists(_._1 == 2L))
    // every token index is covered by at least one chunk
    for (doc <- Seq(0L -> 10L, 3L -> 11L)) {
      val covered = r.filter(_._1 == doc._1)
        .flatMap(x => x._3 until (x._3 + x._4)).toSet
      assert(covered === (1L to doc._2).toSet)
    }
  }

  test("chunks runs unchanged under Structured Streaming (stateless map)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq((0L, (1 to 11).map(i => s"u$i").mkString(" ")),
      (1L, "a b c"))
    val batch = TextOps.chunks(docs(rows: _*), 4, 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(4))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = TextOps.chunks(mem.toDF().toDF("doc_id", "text"), 4, 3)
      .writeStream.format("memory").queryName("chunks_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM chunks_stream").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getString(4))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("centroidOutliers: exact-integer cosine to the label mean") {
    val s = spark; import s.implicits._
    val e = Seq(
      (1L, "a", Array(1f, 0f)), (2L, "a", Array(0f, 1f)), // centroid (.5,.5)
      (3L, "b", Array(1f, 1f)), (4L, "b", Array(-1f, -1f)) // centroid (0,0)
    ).toDF("vec_id", "label", "embedding")
    val r = Similarity.centroidOutliers(e, 0.8)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)), x.getLong(3)))
      .toMap
    // label a: cos((1,0),(.5,.5)) = .5/(1·√.5) = 0.707107 < 0.8 → outlier
    assert(r(1L) === ((Some(0.707107), 1L)))
    assert(r(2L) === ((Some(0.707107), 1L)))
    // label b centroid is the zero vector → no direction: NULL cosine,
    // never flagged (and no ANSI divide-by-zero)
    assert(r(3L) === ((None, 0L)))
    assert(r(4L) === ((None, 0L)))
  }

  test("quantizeInt8: symmetric scale, saturating poles, zero vector") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(127f, 64f, -32f, 0f)),
      (1L, Array(1f, -1f)),
      (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(e).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3)))
      .toMap
    assert(r((0L, 0L)) == ((127L, 1.0)))
    assert(r((0L, 1L)) == ((64L, 1.0)))
    assert(r((0L, 2L)) == ((-32L, 1.0)))
    assert(r((0L, 3L)) == ((0L, 1.0)))
    assert(r((1L, 0L))._1 == 127L && r((1L, 1L))._1 == -127L)
    assert(r((2L, 0L)) == ((0L, 0.0)) && r((2L, 1L)) == ((0L, 0.0)))
    // reconstruction: q·scale ≈ v within scale/2
    assert(math.abs(r((1L, 0L))._1 * (1.0 / 127) - 1.0) <= (1.0 / 127) / 2 + 1e-9)
  }

  test("quantizeInt8 runs unchanged under Structured Streaming") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq((0L, Array(127f, -64f)), (1L, Array(0f, 0f)))
    val batch = Similarity.quantizeInt8(rows.toDF("vec_id", "embedding"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Similarity.quantizeInt8(mem.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM quant_stream").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  // ---- Multimodal ----

  test("decode/resize/frames/featurize plumbing") {
    val s = spark; import s.implicits._
    val d = Seq((2L, "x" * 600)).toDF("doc_id", "text")  // kind=video
    val media = Multimodal.mediaFromDocuments(d)
    // raw (un-encoded) payload falls back to the stub header parse
    val dec = Multimodal.decodeMeta(spark, media).head()
    assert(dec.getAs[String]("kind") === "video")
    assert(dec.getAs[Long]("n_bytes") === 600L)
    assert(dec.getAs[Int]("width") === 16 + ('x' % 64))
    assert(dec.getAs[Int]("channels") === 1)
    val rs = Multimodal.resize(Multimodal.decodeMeta(spark, media)).head()
    assert(rs.getAs[Long]("n_bytes") === 300L)
    // 600 source bytes => 3 frames in the AVI; stride 4 samples frame 0
    // only, and its offset/len come from the real movi chunk walk
    val enc = Multimodal.encodeVideo(spark, media)
    val fr = Multimodal.frameSample(spark, enc).collect()
    val l = Multimodal.aviFrameLen(16 + ('x' % 64), 16 + ('x' % 64))
    assert(fr.length === 1 && fr(0).getLong(1) === 0L)
    assert(fr(0).getLong(2) === Multimodal.AviFrameDataOffset)
    assert(fr(0).getLong(3) === l)
    // a non-AVI video payload contributes no frames (total map)
    assert(Multimodal.frameSample(spark, media).count() === 0L)
    val ft = Multimodal.featurize(spark, media).head()
    val f = ft.getAs[scala.collection.Seq[Long]]("feature")
    assert(f.length === 8 && f.sum === 600L * 'x'.toLong)
  }

  test("video decode walks a real AVI container (round-trip)") {
    val s = spark; import s.implicits._
    val text = "mn" + ("z" * 700)                   // 702 bytes → 3 frames
    val d = Seq((2L, text)).toDF("doc_id", "text")  // kind=video
    val enc = Multimodal.encodeVideo(
      spark, Multimodal.mediaFromDocuments(d))
    val payload = enc.select("payload").head().getAs[Array[Byte]](0)
    val w = 16 + ('m' % 64)
    val h = 16 + ('n' % 64)
    // the deterministic closed-form byte layout the oracle predicts
    assert(payload.length === Multimodal.aviSize(w, h, 3L))
    // the container structure is real RIFF: tags at their spec offsets
    assert(new String(payload.slice(0, 4)) === "RIFF")
    assert(new String(payload.slice(8, 12)) === "AVI ")
    assert(new String(payload.slice(224, 228)) === "00dc")
    // decodeMeta walks avih/strf: dims + 24bpp MJPEG → 3 channels
    val dec = Multimodal.decodeMeta(spark, enc).head()
    assert(dec.getAs[Int]("width") === w)
    assert(dec.getAs[Int]("height") === h)
    assert(dec.getAs[Int]("channels") === 3)
    assert(dec.getAs[Long]("n_bytes") === Multimodal.aviSize(w, h, 3L))
    // every frame the movi walk reports is itself a real JPEG that the
    // actual javax.imageio codec parses back to the stream dims
    val l = Multimodal.aviFrameLen(w, h).toInt
    val off = Multimodal.AviFrameDataOffset.toInt
    val frame = payload.slice(off, off + l)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(frame))
    assert(img !== null)
    assert(img.getWidth === w && img.getHeight === h)
    // frame sampling: stride 4 over 3 frames = frame 0; idx1 agrees —
    // the index entry's (offset-from-movi + movi data position) lands
    // on the same chunk the walk found
    val fr = Multimodal.frameSample(spark, enc).collect()
    assert(fr.length === 1)
    assert(fr(0).getLong(2) === off.toLong && fr(0).getLong(3) === l.toLong)
    // image/audio kinds pass through encodeVideo untouched
    val i2 = Multimodal.encodeVideo(
      spark, Multimodal.mediaFromDocuments(
        Seq((3L, text)).toDF("doc_id", "text"))).head()
    assert(i2.getAs[Array[Byte]]("payload").length === text.length)
  }

  test("video decode walks a real MP4 box tree (round-trip)") {
    val s = spark; import s.implicits._
    val text = "mn" + ("z" * 700)                   // 702 bytes → 3 frames
    val d = Seq((5L, text)).toDF("doc_id", "text")  // kind=video, %6=5 → MP4
    val enc = Multimodal.encodeVideo(
      spark, Multimodal.mediaFromDocuments(d))
    val payload = enc.select("payload").head().getAs[Array[Byte]](0)
    val w = 16 + ('m' % 64)
    val h = 16 + ('n' % 64)
    // the deterministic closed-form byte layout the oracle predicts
    assert(payload.length === Multimodal.mp4Size(w, h, 3L))
    // the container structure is real ISO-BMFF: box tags in place
    assert(new String(payload.slice(4, 8)) === "ftyp")
    assert(new String(payload.slice(24, 28)) === "moov")
    // decodeMeta walks moov→trak→tkhd + stsd: dims + depth 24 → 3 ch
    val dec = Multimodal.decodeMeta(spark, enc).head()
    assert(dec.getAs[Int]("width") === w)
    assert(dec.getAs[Int]("height") === h)
    assert(dec.getAs[Int]("channels") === 3)
    assert(dec.getAs[Long]("n_bytes") === Multimodal.mp4Size(w, h, 3L))
    // every frame the stsz/stco table read reports is itself a real
    // JPEG the actual javax.imageio codec parses back to stream dims
    val l = Multimodal.jpegSize(w, h).toInt
    val off = Multimodal.mp4FrameDataOffset(3L).toInt
    val frame = payload.slice(off, off + l)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(frame))
    assert(img !== null)
    assert(img.getWidth === w && img.getHeight === h)
    // frame sampling: stride 4 over 3 frames = frame 0, offset/len
    // from the real sample tables; frames pack at stride L (no RIFF
    // word-alignment padding in ISO-BMFF)
    val fr = Multimodal.frameSample(spark, enc).collect()
    assert(fr.length === 1 && fr(0).getLong(1) === 0L)
    assert(fr(0).getLong(2) === off.toLong && fr(0).getLong(3) === l.toLong)
  }

  test("corrupt MP4 payloads degrade to the stub parse, never throw") {
    val s = spark; import s.implicits._
    // ftyp magic but garbage after: the top-level box walk hits the
    // corrupt leading size field → no moov → stub parse, no frames
    val garbage = new Array[Byte](64)
    "????ftyp".getBytes("ISO-8859-1").copyToArray(garbage)
    val rows = Seq((5L, "video", garbage)).toDF("media_id", "kind", "payload")
    val dec = Multimodal.decodeMeta(spark, rows).head()
    assert(dec.getAs[Long]("n_bytes") === garbage.length.toLong)
    assert(dec.getAs[Int]("width") === 16 + ('?' % 64)) // stub dims
    assert(Multimodal.frameSample(spark, rows).count() === 0L)
    // a real MP4 truncated mid-mdat: moov still fits → dims parse, but
    // every stco seek target past the byte bound is dropped
    val text = "ab" + ("c" * 700)
    val full = Multimodal.encodeVideo(
      spark, Multimodal.mediaFromDocuments(Seq((5L, text)).toDF("doc_id", "text")))
      .select("payload").head().getAs[Array[Byte]](0)
    val cut = full.slice(0, Multimodal.mp4FrameDataOffset(3L).toInt + 10)
    val cutRows = Seq((6L, "video", cut)).toDF("media_id", "kind", "payload")
    assert(Multimodal.frameSample(spark, cutRows).count() === 0L)
    val dec2 = Multimodal.decodeMeta(spark, cutRows).head()
    assert(dec2.getAs[Int]("width") === 16 + ('a' % 64))
  }

  test("audio windows read real RIFF fmt/data chunks (round-trip)") {
    val s = spark; import s.implicits._
    // 'b' & 1 = 0 → mono; 1300 chars → 1300 sample frames → 3 windows
    val text = "b" * 1300
    val d = Seq((1L, text)).toDF("doc_id", "text")  // kind=audio
    val enc = Multimodal.encodeAudio(
      spark, Multimodal.mediaFromDocuments(d))
    val ws = Multimodal.audioWindows(spark, enc).collect()
      .sortBy(_.getLong(1))
    assert(ws.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(ws.map(_.getLong(2)).toSeq === Seq(0L, 512L, 1024L))
    assert(ws.map(_.getLong(3)).toSeq === Seq(1024L, 788L, 276L))
    // mono 16-bit: block align 2, data chunk at byte 44
    assert(ws.map(_.getLong(4)).toSeq === Seq(44L, 44L + 512 * 2, 44L + 1024 * 2))
    // stereo ('a' & 1 = 1): same frame windows, doubled byte stride
    val d2 = Seq((4L, "a" * 600)).toDF("doc_id", "text")
    val ws2 = Multimodal.audioWindows(spark, Multimodal.encodeAudio(
      spark, Multimodal.mediaFromDocuments(d2))).collect().sortBy(_.getLong(1))
    assert(ws2.map(_.getLong(3)).toSeq === Seq(600L, 88L))
    assert(ws2.map(_.getLong(4)).toSeq === Seq(44L, 44L + 512 * 4))
    // a truncated WAV yields only windows inside the byte bound
    val full = enc.select("payload").head().getAs[Array[Byte]](0)
    val cut = full.slice(0, 44 + 600 * 2)           // 600 of 1300 frames
    val cutRows = Seq((1L, "audio", cut)).toDF("media_id", "kind", "payload")
    val ws3 = Multimodal.audioWindows(spark, cutRows).collect()
      .sortBy(_.getLong(1))
    assert(ws3.map(_.getLong(3)).toSeq === Seq(600L, 88L))
    // non-WAV audio payload contributes no windows (total map)
    val raw = Multimodal.mediaFromDocuments(d)
    assert(Multimodal.audioWindows(spark, raw).count() === 0L)
  }

  test("container parsers never throw on arbitrary bytes (fuzz)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260815)
    val magics = Seq(
      "RIFF????AVI ", "RIFF????WAVE", "????ftyp", "BM??", "PNG",
      "ÿØÿ", "")
    val rows = (0 until 200).map { i =>
      val body = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(body)
      val magic = magics(i % magics.length).getBytes("ISO-8859-1")
      val payload = magic ++ body
      (i.toLong, Seq("image", "audio", "video")(i % 3), payload)
    }
    val df = rows.toDF("media_id", "kind", "payload")
    // every stage is a TOTAL map over arbitrary bytes: decode degrades
    // to the stub parse, samplers to empty output — nothing throws
    assert(Multimodal.decodeMeta(spark, df).count() === 200L)
    Multimodal.frameSample(spark, df).count()
    Multimodal.audioWindows(spark, df).count()
    assert(Multimodal.featurize(spark, df).count() === 200L)
  }

  test("image decode is the real javax.imageio codec (BMP round-trip)") {
    val s = spark; import s.implicits._
    val text = "abcdef"
    val d = Seq((3L, text)).toDF("doc_id", "text")  // kind=image
    val enc = Multimodal.encodeImages(
      spark, Multimodal.mediaFromDocuments(d))
    val payload = enc.select("payload").head().getAs[Array[Byte]](0)
    val w = 16 + ('a' % 64)
    val h = 16 + ('b' % 64)
    assert(payload.length === Multimodal.bmpSize(w, h))
    // ImageIO itself must parse the hand-rolled BMP: real dims + pixels
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img !== null)
    assert(img.getWidth === w && img.getHeight === h)
    val g0 = img.getRGB(0, 0) & 0xff          // pixel (0,0) = text byte 0
    assert(g0 === 'a'.toInt)
    val g1 = img.getRGB(1, 0) & 0xff          // pixel (1,0) = text byte 1
    assert(g1 === 'b'.toInt)
    // decodeMeta goes through the same codec, 3 bands, BMP byte length
    val dec = Multimodal.decodeMeta(spark, enc).head()
    assert(dec.getAs[Int]("width") === w)
    assert(dec.getAs[Int]("height") === h)
    assert(dec.getAs[Int]("channels") === 3)
    assert(dec.getAs[Long]("n_bytes") === Multimodal.bmpSize(w, h))
    // audio/video kinds pass through encodeImages untouched
    val a = Seq((1L, text)).toDF("doc_id", "text")  // kind=audio
    val aRow = Multimodal.encodeImages(
      spark, Multimodal.mediaFromDocuments(a)).head()
    assert(aRow.getAs[Array[Byte]]("payload").length === text.length)
  }

  test("audio decode is the real javax.sound WAV parser (round-trip)") {
    val s = spark; import s.implicits._
    val text = "hello world"                       // 'h' = 0x68 → even → 1 ch
    val d = Seq((1L, text)).toDF("doc_id", "text") // kind=audio
    val enc = Multimodal.encodeAudio(
      spark, Multimodal.mediaFromDocuments(d))
    val payload = enc.select("payload").head().getAs[Array[Byte]](0)
    assert(payload.length === 44 + text.length * 1 * 2)
    // javax.sound itself must parse the hand-rolled WAV
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(payload))
    assert(aff.getFrameLength === text.length)
    assert(aff.getFormat.getChannels === 1)
    assert(aff.getFormat.getSampleRate === 8000f)
    assert(aff.getFormat.getSampleSizeInBits === 16)
    // decodeMeta goes through the same parser
    val dec = Multimodal.decodeMeta(spark, enc).head()
    assert(dec.getAs[Int]("width") === text.length)     // frames
    assert(dec.getAs[Int]("height") === 8000)           // sample rate
    assert(dec.getAs[Int]("channels") === 1)
    assert(dec.getAs[Long]("n_bytes") === 44L + text.length * 2)
    // odd first byte → stereo, frames unchanged, bytes doubled
    val st = "iodine"                               // 'i' = 0x69 → odd → 2 ch
    val e2 = Multimodal.encodeAudio(
      spark, Multimodal.mediaFromDocuments(
        Seq((4L, st)).toDF("doc_id", "text")))      // 4 % 3 = 1 → audio
    val dec2 = Multimodal.decodeMeta(spark, e2).head()
    assert(dec2.getAs[Int]("channels") === 2)
    assert(dec2.getAs[Int]("width") === st.length)
    assert(dec2.getAs[Long]("n_bytes") === 44L + st.length * 4)
    // image/video kinds pass through encodeAudio untouched
    val v = Multimodal.encodeAudio(
      spark, Multimodal.mediaFromDocuments(
        Seq((2L, text)).toDF("doc_id", "text"))).head()
    assert(v.getAs[Array[Byte]]("payload").length === text.length)
  }

  test("image decode is the real javax.imageio codec (JPEG round-trip)") {
    val s = spark; import s.implicits._
    val text = "qrstuv"
    val d = Seq((6L, text)).toDF("doc_id", "text")  // 6 % 6 = 0 → JPEG
    val enc = Multimodal.encodeImages(
      spark, Multimodal.mediaFromDocuments(d))
    val payload = enc.select("payload").head().getAs[Array[Byte]](0)
    val w = 16 + ('q' % 64)
    val h = 16 + ('r' % 64)
    // the deterministic closed-form byte layout the oracle predicts
    assert(payload.length === Multimodal.jpegSize(w, h))
    // ImageIO itself must parse the hand-rolled baseline JFIF: real
    // dims, grayscale band, every pixel the uniform mid-gray 128
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img !== null)
    assert(img.getWidth === w && img.getHeight === h)
    assert(img.getRaster.getNumBands === 1)
    assert(img.getRaster.getSample(0, 0, 0) === 128)
    assert(img.getRaster.getSample(w - 1, h - 1, 0) === 128)
    // decodeMeta goes through the same codec
    val dec = Multimodal.decodeMeta(spark, enc).head()
    assert(dec.getAs[Int]("width") === w)
    assert(dec.getAs[Int]("height") === h)
    assert(dec.getAs[Int]("channels") === 1)
    assert(dec.getAs[Long]("n_bytes") === Multimodal.jpegSize(w, h))
  }

  test("decodeMeta parses externally-encoded JPEG payloads (JFIF sniff)") {
    val s = spark; import s.implicits._
    val img = new java.awt.image.BufferedImage(
      11, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(4, 2, 0x406080)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val rows = Seq((9L, "image", bos.toByteArray))
      .toDF("media_id", "kind", "payload")
    val dec = Multimodal.decodeMeta(spark, rows).head()
    assert(dec.getAs[Int]("width") === 11)
    assert(dec.getAs[Int]("height") === 6)
    assert(dec.getAs[Int]("channels") === 3)
    assert(dec.getAs[Long]("n_bytes") === bos.size().toLong)
  }

  test("decodeMeta parses PNG payloads through the real codec too") {
    val s = spark; import s.implicits._
    val img = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(2, 3, 0xff8040)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val rows = Seq((9L, "image", bos.toByteArray))
      .toDF("media_id", "kind", "payload")
    val dec = Multimodal.decodeMeta(spark, rows).head()
    assert(dec.getAs[Int]("width") === 7)
    assert(dec.getAs[Int]("height") === 5)
    assert(dec.getAs[Int]("channels") === 3)
    assert(dec.getAs[Long]("n_bytes") === bos.size().toLong)
  }

  test("corrupt AVI payloads degrade to the stub parse, never throw") {
    val s = spark; import s.implicits._
    // RIFF/'AVI ' magic but garbage after: header walk finds no hdrl →
    // decode falls back to the stub; movi walk finds no frames
    val garbage = ("RIFF????AVI " + ("x" * 40)).getBytes("ISO-8859-1")
    val rows = Seq((5L, "video", garbage)).toDF("media_id", "kind", "payload")
    val dec = Multimodal.decodeMeta(spark, rows).head()
    assert(dec.getAs[Long]("n_bytes") === garbage.length.toLong)
    assert(dec.getAs[Int]("width") === 16 + ('R' % 64)) // stub dims
    assert(Multimodal.frameSample(spark, rows).count() === 0L)
    // a real AVI truncated mid-movi: the walk stops at the byte bound
    val text = "ab" + ("c" * 700)
    val full = Multimodal.encodeVideo(
      spark, Multimodal.mediaFromDocuments(Seq((2L, text)).toDF("doc_id", "text")))
      .select("payload").head().getAs[Array[Byte]](0)
    val cut = full.slice(0, Multimodal.AviFrameDataOffset.toInt + 10)
    val cutRows = Seq((6L, "video", cut)).toDF("media_id", "kind", "payload")
    // truncated first chunk: size field points past the bytes → no frames
    assert(Multimodal.frameSample(spark, cutRows).count() === 0L)
    // header region intact → dims still parse
    val dec2 = Multimodal.decodeMeta(spark, cutRows).head()
    assert(dec2.getAs[Int]("width") === 16 + ('a' % 64))
  }

  test("multi-root BFS matches single-root BFS per run") {
    val s = spark; import s.implicits._
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val clean = graft.etl.EdgeOps.cleanEdges(raw)
    val g = graft.bfs.Bfs.prepareRaw(clean)
    val roots = Seq(0L, 6L)
    val multi = graft.bfs.Bfs.bfsMinParentMulti(spark, g, roots)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    roots.zipWithIndex.foreach { case (root, i) =>
      val single = graft.bfs.Bfs.bfsMinParent(spark, g, root).tree
        .collect().map(r => (i.toLong, r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(single.subsetOf(multi), s"run $i mismatch")
    }
    g.unpersist()
  }

  test("sourceShingleSimilarity: random corpora match a set model (pair generation)") {
    val s = spark; import s.implicits._
    // mirrors TextOps.shingles: 3-gram over whitespace tokens; short
    // texts yield one whole-prefix shingle
    def modelShingles(text: String): Set[String] = {
      val tk = text.trim.split("\\s+").filter(_.nonEmpty)
      (1 to math.max(tk.length - 2, 1))
        .map(i => tk.slice(i - 1, i - 1 + 3).mkString(" ")).toSet
    }
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val sources = Vector("s0", "s1", "s2", "s3")
      val docs = (0 until 40).map { i =>
        val words = Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, words.mkString(" "), sources(rnd.nextInt(sources.size)))
      }
      val bySource = docs.groupBy(_._3).view
        .mapValues(_.flatMap(d => modelShingles(d._2)).toSet).toMap
      val expected = (for {
        a <- bySource.keys; b <- bySource.keys if a < b
        common = (bySource(a) & bySource(b)).size if common > 0
      } yield ((a, b), (common.toLong, bySource(a).size.toLong,
        bySource(b).size.toLong,
        LocalDedup.round6(common.toDouble /
          (bySource(a).size + bySource(b).size - common))))).toMap
      val got = Dedup.sourceShingleSimilarity(
          docs.toDF("doc_id", "text", "source")).collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      assert(got === expected, s"seed $seed")
    }
  }
}
