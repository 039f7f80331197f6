package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for decontamination, duplicated-span coverage, and the mixing
  * operators on tiny hand-checkable inputs. */
class MixDecontamSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- decontaminate ----

  test("decontaminate flags verbatim n-gram overlap with the benchmark slice") {
    val bench = "the quick brown fox jumps over the lazy dog"
    val d = docs(
      (0L, bench), // benchmark (id % 2 == 0 in this spec)
      (1L, s"prefix words here $bench suffix"), // contains the full 8-gram
      (3L, "completely unrelated text with eight tokens padding now"),
      (5L, "the quick brown fox walks under a lazy dog")) // shares words, no 8-gram
    val out = TextOps.decontaminate(d, col("doc_id") % 2 === 0, n = 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    val byId = out.map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(byId(1L)._1 >= 2L && byId(1L)._2 == 1L) // ≥2 overlapping 8-grams
    assert(byId(3L) == ((0L, 0L)))
    assert(byId(5L) == ((0L, 0L)))
  }

  test("decontaminate matches short benchmark docs whole (sub-n fallback)") {
    val d = docs(
      (0L, "tiny eval prompt"), // benchmark, 3 tokens < n
      (1L, "tiny eval prompt"), // verbatim copy → its whole-text shingle matches
      (3L, "tiny eval prompt plus several more trailing tokens here"))
    val out = TextOps.decontaminate(d, col("doc_id") % 2 === 0, n = 8)
      .orderBy("doc_id").collect()
    val byId = out.map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(byId(1L) == 1L)
    // doc 3 is longer: its single 8-token-window shingle ≠ the 3-token one
    assert(byId(3L) == 0L)
  }

  test("decontaminateStream matches the batch operator row-for-row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = "the quick brown fox jumps over the lazy dog"
    val corpusRows = Seq(
      (1L, s"prefix words here $bench suffix"),
      (3L, "completely unrelated text with eight tokens padding now"),
      (5L, "the quick brown fox walks under a lazy dog"))
    val all = docs((corpusRows :+ (0L, bench)): _*)
    val batch = TextOps.decontaminate(all, col("doc_id") % 2 === 0, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val mem = MemoryStream[(Long, String)]
    val q = TextOps.decontaminateStream(
        mem.toDF().toDF("doc_id", "text"), docs((0L, bench)), n = 8)
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    try {
      mem.addData(corpusRows: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM decontam_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  // ---- duplicatedSpans ----

  test("duplicatedSpans: shared span coverage with overlapping-window union") {
    val span = "one two three four five six seven eight" // 8 tokens
    val d = docs(
      (0L, s"$span tail0 tail1"),         // 10 tokens, windows at 1,2,3
      (1L, s"head0 head1 $span"),         // 10 tokens, windows at 1,2,3
      (2L, "nothing shared among these eight tokens of filler text"))
    val out = Dedup.duplicatedSpans(d, 8).orderBy("doc_id").collect()
    val r0 = out(0)
    // only the exact span window duplicates: start=1 in doc0, start=3 in doc1
    assert(r0.getLong(1) == 10L && r0.getLong(2) == 3L) // n_tokens, n_windows
    assert(r0.getLong(3) == 1L && r0.getLong(4) == 8L)  // n_dup_windows, covered
    assert(math.abs(r0.getDouble(5) - 0.8) < 1e-9)
    val r2 = out(2)
    assert(r2.getLong(3) == 0L && r2.getLong(4) == 0L && r2.getDouble(5) == 0.0)
  }

  test("duplicatedSpans: overlapping duplicated windows merge intervals") {
    val nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9" // 9 tokens → both 8-windows dup
    val d = docs((0L, nine), (1L, nine))
    val out = Dedup.duplicatedSpans(d, 8).orderBy("doc_id").collect()
    // starts 1 and 2: union covers 9 tokens (8 + min(gap=1, 8))
    assert(out(0).getLong(3) == 2L && out(0).getLong(4) == 9L)
    assert(out(0).getDouble(5) == 1.0)
  }

  test("duplicatedSpans: within-doc repetition alone is not a duplicate") {
    val rep = "a b c d e f g h a b c d e f g h" // same window twice in ONE doc
    val d = docs((0L, rep), (1L, "totally different words fill this document body here"))
    val out = Dedup.duplicatedSpans(d, 8).orderBy("doc_id").collect()
    assert(out(0).getLong(3) == 0L)
  }

  // ---- label centroids / quality percentiles ----

  test("labelCentroids: per-(label, dim) mean in long form") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 2.0f), 0),
      (1L, Seq(3.0f, 6.0f), 0),
      (2L, Seq(10.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCentroids(e.select("label", "embedding"))
      .collect().map(x => (x.getInt(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3)))
      .toMap
    assert(r((0, 0L)) == ((2L, 2.0)) && r((0, 1L)) == ((2L, 4.0)))
    assert(r((1, 0L)) == ((1L, 10.0)) && r((1, 1L)) == ((1L, 0.0)))
  }

  test("qualityPercentiles: exact interpolated quartiles per stratum") {
    val s = spark; import s.implicits._
    // quality_score is -1.0 for docs under 10 tokens → known constant
    val d = docs(
      (0L, "short doc"), (1L, "also short"), (2L, "tiny"), (3L, "small one"))
    val strata = Seq((0L, "a"), (1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("doc_id", "stratum")
    val r = TextOps.qualityPercentiles(d, strata).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
      .toMap
    assert(r("a") == ((3L, -1.0, -1.0, -1.0)))
    assert(r("b") == ((1L, -1.0, -1.0, -1.0)))
  }

  // ---- vocabulary / bigram LM ----

  test("vocabulary ranks by (occurrences desc, token), counts doc frequency") {
    val d = docs(
      (0L, "apple banana apple"),
      (1L, "apple cherry banana banana"),
      (2L, "cherry"))
    val v = TextOps.vocabulary(d, 3).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // apple 3×/2 docs, banana 3×/2 docs (tie → banana after apple), cherry 2×/2
    assert(v.toSeq == Seq(
      (1L, "apple", 2L, 3L), (2L, "banana", 2L, 3L), (3L, "cherry", 2L, 2L)))
  }

  test("vocabulary limit keeps exactly top-k under the total order") {
    val d = docs((0L, "a a a b b c"))
    val v = TextOps.vocabulary(d, 2).orderBy("rank").collect()
    assert(v.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("bigramConditional: counts and P(w2|w1) with minCount pruning") {
    val d = docs(
      (0L, "to be or not to be"),
      (1L, "to be to be to go"))
    val r = TextOps.bigramConditional(d, 2L).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    // "to *": to be ×4, to go ×1, (not to handled under "not")
    // c1 counts ALL bigram starts of w1 (incl. pruned tails)
    assert(r(("to", "be")) == ((4L, 5L, 0.8)))
    // "be *": be or ×1, be to ×2, be(end) not a bigram → c1 = 3
    assert(r(("be", "to")) == ((2L, 3L, 0.666667)))
    assert(!r.contains(("to", "go"))) // below minCount
  }

  // ---- Mix ----

  test("stratifiedSample: deterministic, monotone in rate, exact at the poles") {
    val s = spark; import s.implicits._
    val meta = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val full = Mix.stratifiedSample(meta, col("lang"),
      Map("a" -> 10000L, "b" -> 0L), 5000L).collect()
    val byLang = full.groupBy(_.getString(1))
    assert(byLang("a").forall(_.getLong(3) == 1L)) // rate 1.0 keeps all
    assert(byLang("b").forall(_.getLong(3) == 0L)) // rate 0.0 keeps none
    // monotone: kept set at 2000 buckets ⊆ kept at 6000 buckets
    def keptSet(cut: Long) = Mix.stratifiedSample(meta, col("lang"),
      Map("a" -> cut, "b" -> cut), cut).collect()
      .filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    val k2 = keptSet(2000L); val k6 = keptSet(6000L)
    assert(k2.subsetOf(k6) && k2.nonEmpty && k6.size > k2.size)
    // deterministic across evaluations
    assert(keptSet(2000L) == k2)
  }

  test("upsample: q div n base, hash-salted remainder, downsample to 0") {
    val s = spark; import s.implicits._
    val meta = (0L until 100L).map(i => (i, if (i < 40) "small" else "big"))
      .toDF("doc_id", "lang")
    // small: n=40, q=100 → base 2, remainder 20 → thr = 20*10000/40 = 5000
    // big:   n=60, q=30  → base 0, remainder 30 → thr = 30*10000/60 = 5000
    val r = Mix.upsample(meta, col("lang"),
        Map("small" -> 100L, "big" -> 30L), 0L)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val small = r.filter(_._2 == "small")
    val big = r.filter(_._2 == "big")
    assert(small.forall(x => x._3 == 2L || x._3 == 3L))
    assert(big.forall(x => x._3 == 0L || x._3 == 1L)) // downsampling path
    // expected totals: E[small] = 100, E[big] = 30; binomial wobble is
    // bounded — totals must land within the hash's deterministic spread
    val totSmall = small.map(_._3).sum
    val totBig = big.map(_._3).sum
    assert(totSmall >= 80L && totSmall <= 120L, totSmall)
    assert(totBig >= 15L && totBig <= 45L, totBig)
    // pure row function: repartitioned input assigns identical counts
    val r2 = Mix.upsample(meta.repartition(7), col("lang"),
        Map("small" -> 100L, "big" -> 30L), 0L)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.sortBy(_._1).toSeq === r2.sortBy(_._1).toSeq)
  }

  test("TopKPairMin: bounded-heap aggregate == window rank, incl. SQL form") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    // skewed groups: group 0 holds ~80% of rows; many partitions force
    // partial-buffer serialization + merges
    val rows = Seq.tabulate(4000) { i =>
      val g = if (rnd.nextInt(5) > 0) 0L else rnd.nextInt(4).toLong
      (g, rnd.nextInt(100).toLong, i.toLong)
    }
    val df = rows.toDF("g", "score", "id").repartition(16).persist()
    try {
      val agg = df.groupBy("g")
        .agg(graft.functions.TopKPairMin.topk(col("score"), col("id"), 7).as("p"))
        .select(col("g"), posexplode(col("p")).as(Seq("pos", "x")))
        .select(col("g"), col("x.score"), col("x.id"), (col("pos") + 1).as("rk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.map(r => (r._2, r._3)).sorted.take(7).zipWithIndex
          .map { case ((sc, id), i) => (g, sc, id, i + 1) }
      }.toSet
      assert(agg === expected)
      // SQL registration path
      df.createOrReplaceTempView("topk_in")
      val viaSql = spark.sql(
        "SELECT g, topk_pair_min(score, id, 7) AS p FROM topk_in GROUP BY g")
        .select(col("g"), explode(col("p.id")).as("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaSql === expected.map(e => (e._1, e._3)))
    } finally { df.unpersist(); () }
  }

  test("exactStratifiedSample hits the quota exactly and deterministically") {
    val s = spark; import s.implicits._
    val meta = (0L until 300L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val r = Mix.exactStratifiedSample(meta, col("lang"), 4).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.count(_._1 == "a") == 4 && r.count(_._1 == "b") == 4)
    // rk is 1..4 by (bucket, doc_id) within each stratum
    r.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1L, 2L, 3L, 4L))
      assert(sorted.map(x => (x._3, x._2)).toSeq ==
        sorted.map(x => (x._3, x._2)).sortBy(identity).toSeq)
    }
    // deterministic across evaluations
    val again = Mix.exactStratifiedSample(meta, col("lang"), 4).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(again.toSet == r.toSet)
    // quota above stratum size returns the whole stratum
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "lang")
    assert(Mix.exactStratifiedSample(tiny, col("lang"), 10).count() == 2L)
  }

  test("mixingWeights levels token budget across strata, capped at 1") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "s1", 100L), (1L, "s1", 100L), // s1: 200 tokens
      (2L, "s2", 500L), (3L, "s2", 500L), // s2: 1000 tokens
      (4L, "s3", 50L)                     // s3: 50 tokens
    ).toDF("doc_id", "source", "n_tokens")
    val w = Mix.mixingWeights(d, col("source")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // total 1250, 3 strata → share 416.67
    assert(w("s1")._3 == 1.0 && w("s3")._3 == 1.0) // below share: never upsample
    assert(math.abs(w("s2")._3 - 0.416667) < 1e-9)
    assert(w("s2")._4 == 416L)
    assert(w("s1") == ((2L, 200L, 1.0, 200L)))
  }

  test("pack: greedy document-contiguous shards in doc_id order") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "a", 30L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 30L),
      (10L, "b", 150L), (11L, "b", 1L)
    ).toDF("doc_id", "source", "n_tokens")
    val r = Mix.pack(d, col("source"), 50L).collect()
      .map(x => x.getLong(1) -> (x.getString(0), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    // stratum a offsets 0,30,60,90 → shards 0,0,1,1
    assert(r(1L) == (("a", 30L, 0L, 0L)))
    assert(r(2L) == (("a", 30L, 30L, 0L)))
    assert(r(3L) == (("a", 30L, 60L, 1L)))
    assert(r(4L) == (("a", 30L, 90L, 1L)))
    // stratum b: doc 10 starts shard 0 (overruns budget), doc 11 at 150 → shard 3
    assert(r(10L) == (("b", 150L, 0L, 0L)))
    assert(r(11L) == (("b", 1L, 150L, 3L)))
  }

  test("interleave: exact-integer stride schedule, weighted round-robin") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "en"), (1L, "en"), (2L, "en"), (3L, "en"),
      (4L, "de"), (5L, "xx")).toDF("doc_id", "lang")
    val r = Mix.interleave(d, col("lang"), Map("en" -> 4L, "de" -> 1L))
      .collect()
      .map(x => x.getLong(1) -> (x.getString(0), x.getLong(2), x.getLong(3)))
      .toMap
    // lcm(4,1,1)=4: en stride 1 → keys 1,3,5,7; de/xx stride 4 → key 4
    assert(r(0L) == (("en", 0L, 1L)) && r(1L) == (("en", 1L, 3L)))
    assert(r(2L) == (("en", 2L, 5L)) && r(3L) == (("en", 3L, 7L)))
    assert(r(4L) == (("de", 0L, 4L)) && r(5L) == (("xx", 0L, 4L)))
    // sorted epoch: en appears 4× for every one de/xx appearance
    val order = r.toSeq.sortBy { case (id, (_, _, k)) => (k, id) }
      .map(_._2._1)
    assert(order === Seq("en", "en", "de", "xx", "en", "en"))
  }

  test("pack: two-phase prefix sum ≡ window cumsum, also under coalesce(1)") {
    val s = spark; import s.implicits._
    val d = (0L until 2000L)
      .map(i => (i, s"s${i % 3}", i % 37 + 1))
      .toDF("doc_id", "source", "n_tokens")
      .repartition(17) // force stratum runs to straddle range partitions
    val got = Mix.pack(d, col("source"), 100L).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = d
      .select(col("source").as("stratum"), col("doc_id"), col("n_tokens"))
      .withColumn("start_offset", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("shard", floor(col("start_offset") / 100L))
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toSet
    assert(got == want)
    // regression: a downstream coalesce(1) (Verify's writer) must not
    // rebind the partition index the base-offset table is keyed on
    val viaCoalesce = Mix.pack(d, col("source"), 100L).coalesce(1).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toSet
    assert(viaCoalesce == want)
  }
}
