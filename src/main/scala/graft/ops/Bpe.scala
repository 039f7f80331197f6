package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * BPE merge-rule training over the corpus — the tokenizer-prep step a
 * training-data pipeline runs before anything tokenizes: learn the
 * `nMerges` highest-frequency adjacent symbol pairs (Sennrich/Haddow/
 * Birch ACL'16), merging greedily left-to-right after each selection.
 *
 * Determinism contract: pair counts are exact integer sums of word
 * frequencies; each round selects by (count desc, left asc, right asc);
 * the merge rewrites every word greedily left-to-right (after a merge
 * at position i the scan resumes at i+2). Kernel ≡ distributed is
 * pinned by LocalBpeSpec, content by a GoldenContentSpec digest, and
 * the driver runs a FULL DuckDB oracle: the fixed-round loop unrolls
 * into one CTE chain per round, with the greedy rewrite expressed as a
 * sequential `replace` over a separator-encoded symbol string
 * (SparkEntry.BpeSql).
 *
 * Scale shape (distributed path): the corpus collapses to the
 * |word-types|-sized frequency table FIRST (one explode + partial-agg'd
 * groupBy — the only corpus-sized stage); each of the `nMerges` rounds
 * is a flatMap over word types → one partial-agg'd groupBy(pair) →
 * TakeOrdered(1) (a bounded single-row collect), then a narrow typed
 * map applies the merge. Lineage is cut with a localCheckpoint every
 * four rounds. Word types, not corpus rows, bound every per-round cost.
 */
object Bpe {

  /** Public: the typed-Dataset encoder codegen needs access. */
  case class WordFreq(syms: Seq[String], freq: Long)

  /** (rank, left, right, n): the learned merge table. */
  def learnMerges(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val words = TextOps.tokenized(docs)
      .select(explode(col("tk")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    if (graft.Gates.localBpeMaxTypes.fits(words)) {
      val rows = words.collect().map(r => (r.getString(0), r.getLong(1)))
      val merges = learnLocal(rows, nMerges)
      graft.functions.Ship.df(spark,
        "rank" -> merges.indices.map(i => (i + 1).toLong).toArray,
        "left" -> merges.map(_._1).toArray,
        "right" -> merges.map(_._2).toArray,
        "n" -> merges.map(_._3).toArray)
    } else learnDistributed(spark, words, nMerges)
  }

  /** Classic driver loop on the (bounded) word-frequency table. */
  private[ops] def learnLocal(words: Array[(String, Long)],
                              nMerges: Int): Array[(String, String, Long)] = {
    var ws = words.map { case (w, f) => (splitSymbols(w), f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Array[Long]]()
      ws.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          counts.computeIfAbsent((syms(i), syms(i + 1)),
            _ => new Array[Long](1))(0) += f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestN = -1L
        counts.forEach { (p, n) =>
          if (n(0) > bestN || (n(0) == bestN && {
            val byL = cpCompare(p._1, best._1)
            byL < 0 || (byL == 0 && cpCompare(p._2, best._2) < 0)
          })) {
            best = p; bestN = n(0)
          }
        }
        out += ((best._1, best._2, bestN))
        ws = ws.map { case (syms, f) => (mergePair(syms, best._1, best._2), f) }
        r += 1
      }
    }
    out.toArray
  }

  /** Same rounds over a word-type Dataset: per round one groupBy(pair)
    * + TakeOrdered(1), then a narrow typed merge map. */
  private def learnDistributed(spark: SparkSession,
                               words: DataFrame,
                               nMerges: Int): DataFrame = {
    import spark.implicits._
    var ws: Dataset[WordFreq] = words.as[(String, Long)]
      .map { case (w, f) => WordFreq(splitSymbols(w), f) }
      .localCheckpoint(eager = true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val top = ws.flatMap { wf =>
          (0 until wf.syms.length - 1).iterator
            .map(i => (wf.syms(i), wf.syms(i + 1), wf.freq))
        }
        .toDF("l", "r", "f")
        .groupBy("l", "r").agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val row = top(0)
        val (l, rr, n) = (row.getString(0), row.getString(1), row.getLong(2))
        out += (((r + 1).toLong, l, rr, n))
        val next = ws.map(wf => WordFreq(mergePair(wf.syms, l, rr), wf.freq))
        ws = if ((r + 1) % 4 == 0) next.localCheckpoint(eager = true) else next
        r += 1
      }
    }
    graft.functions.Ship.df(spark,
      "rank" -> out.map(_._1).toArray,
      "left" -> out.map(_._2).toArray,
      "right" -> out.map(_._3).toArray,
      "n" -> out.map(_._4).toArray)
  }

  /** Train → APPLY: per-document token accounting after encoding with
    * the learned merge table — the second half of the tokenizer-prep
    * story (what the pipeline charges against a token budget).
    * Emits (doc_id, n_words, n_syms, n_tokens): pre-merge symbol count
    * (code points of the words) vs post-merge BPE token count.
    *
    * Scale shape: the merge table is ≤ nMerges rows (a constant) —
    * collected once and broadcast. Encoding is a NARROW mapPartitions
    * over the exploded words with a bounded per-partition word-type
    * memo (word types repeat heavily — Zipf — so the memo turns most
    * rows into a hash probe), followed by ONE doc-keyed partial-agg'd
    * groupBy. No corpus-sized shuffle beyond that aggregation. */
  def encode(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = learnMerges(docs, nMerges)
      .orderBy("rank").select("left", "right")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bc = spark.sparkContext.broadcast(merges)
    TextOps.tokenized(docs)
      .select(col("doc_id"), explode(col("tk")).as("word"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val memo = new java.util.HashMap[String, (Long, Long)]()
        it.map { case (id, w) =>
          var v = memo.get(w)
          if (v == null) {
            var syms = splitSymbols(w)
            val n0 = syms.length.toLong
            ms.foreach { case (l, r) => syms = mergePair(syms, l, r) }
            v = (n0, syms.length.toLong)
            if (memo.size < 65536) memo.put(w, v)
          }
          (id, v._1, v._2)
        }
      }.toDF("doc_id", "n_syms", "n_toks")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_syms").as("n_syms"),
        sum("n_toks").as("n_tokens"))
  }

  /** Code-point lexicographic order — ≡ UTF-8 byte order ≡ Spark's
    * UTF8String binary comparison ≡ DuckDB's collation, so all three
    * argmax tie-breaks (driver kernel, distributed orderBy, oracle SQL)
    * agree. Java's String.compareTo is UTF-16 code-UNIT order, which
    * sorts supplementary-plane symbols below U+E000–U+FFFF and would
    * let the kernel diverge from the other two on such ties. */
  private[ops] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Initial symbol sequence: one symbol per Unicode code point. */
  private[ops] def splitSymbols(w: String): Seq[String] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val cc = Character.charCount(cp)
      b += w.substring(i, i + cc)
      i += cc
    }
    b.toSeq
  }

  /** Greedy left-to-right merge of every (l, r) occurrence. */
  private[ops] def mergePair(syms: Seq[String], l: String,
                             r: String): Seq[String] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.toSeq
  }
}
