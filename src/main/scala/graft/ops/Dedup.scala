package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Deduplication operators for training-data pipelines, each designed around
 * one shuffle pattern that survives 100 TB:
 *
 *  - exact:      hash-groupBy on content digest (one shuffle, no compare)
 *  - minhash:    shingle → k-minhash signature → banded LSH bucket join →
 *                exact-Jaccard verification of candidates only. The
 *                all-pairs comparison never happens; cost is
 *                O(docs · shingles · k) map-side + a bucket-key shuffle.
 *  - simhash:    64-bit fingerprint; near-dups by Hamming distance
 *  - n-gram Jaccard: exact pairwise via inverted shingle index (the
 *                verification path of minhash, usable standalone; the
 *                shingle join only pairs documents that SHARE a shingle)
 *  - embedding:  cosine near-dup pairs over normalized vectors
 *
 * All hashing goes through md5 (available and bit-identical in every SQL
 * engine) so results are portable and oracle-checkable; no engine-specific
 * hash functions.
 */
object Dedup {

  /** First 15 hex chars of md5 as a 60-bit non-negative Long column. */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  val MinhashK = 32
  val BandRows = 4
  val HashMod = 2147483647L // 2^31-1: keeps (2k+1)*x + c*k inside Long

  /** (doc_id, text) collected when the corpus is under
    * [[graft.Gates.localDedupMaxDocs]] — the driver-local [[LocalDedup]]
    * kernels (identical output — see LocalDedupSpec); larger corpora
    * take the distributed shuffle pipelines below, the only shape that
    * survives 100 TB. The five dedup kernels share one collect of the
    * per-dir cached docs table, and the count probe scans only the
    * `doc_id` column, so probing a huge corpus never touches its text
    * bytes. */
  private[ops] val localDocs: DataFrame => Option[(Array[Long], Array[String])] =
    graft.Gates.localDedupMaxDocs.memo("doc_id",
      (c: (Array[Long], Array[String])) => c._1.length) { docs =>
      val rows = docs.select(col("doc_id"), col("text")).collect()
      (rows.map(_.getLong(0)), rows.map(_.getString(1)))
    }

  /** Gate + kernel dispatch: run `f` on the collected corpus when it fits
    * under the local gate; fall back to the distributed pipeline when the
    * corpus is large, streaming, or the kernel's candidate enumeration
    * overflows its in-memory budget. */
  private def viaLocal(docs: DataFrame)
                      (f: (Array[Long], Array[String]) => DataFrame)
                      (distributed: => DataFrame): DataFrame =
    localDocs(docs).flatMap { case (ids, texts) =>
      try Some(f(ids, texts))
      catch { case _: LocalDedup.Overflow => None }
    }.getOrElse(distributed)

  /** Exact dedup: every doc mapped to the smallest doc_id sharing its
    * content digest. (doc_id, canonical_id, content_hash). */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      .select(col("doc_id"), col("canonical_id"), col("content_hash"))

  /** Canonical text form for fuzzy-exact dedup: lowercase, strip
    * non-alphanumerics to spaces, collapse runs of whitespace, trim —
    * collapses case/punctuation/spacing variants onto one digest. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Normalized ("fuzzy-exact") dedup: [[exact]] over [[normalizedText]].
    * The standard first rung between byte-exact and MinHash dedup — same
    * one-shuffle hash-groupBy shape, so it holds at 100 TB.
    * (doc_id, canonical_id, norm_hash). */
  def normalizedExact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(normalizedText(col("text"))).as("norm_hash"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("norm_hash"))))
      .select(col("doc_id"), col("canonical_id"), col("norm_hash"))

  /** Duplicate-overlap matrix between corpus sources — the audit a
    * multi-dump ingest (e.g. successive web crawls) runs before
    * picking what to keep: for each source pair `(source_a ≤
    * source_b)`, how many NEAR-DUP clusters (a `(doc_id,
    * canonical_id)` labelling, e.g. [[dedupClusters]]'s output) have a
    * member in both. The diagonal (`source_a = source_b`) counts
    * clusters with ≥ 2 members inside one source.
    *
    * Scale shape: the labelling first collapses to one row per
    * (cluster, source) with its multiplicity — one partially-
    * aggregated groupBy after a doc-keyed metadata join; the overlap
    * join is then cluster-keyed, and its fan-out per cluster is
    * bounded by the number of sources touching it (sources are O(100)
    * however big the corpus). The final rollup is O(sources²) groups.
    * Never an all-pairs document join. */
  def sourceOverlap(clusters: DataFrame, meta: DataFrame): DataFrame = {
    val m = clusters
      .join(meta.select("doc_id", "source"), "doc_id")
      .groupBy("canonical_id", "source")
      .agg(count(lit(1)).as("n"))
    val a = m.select(col("canonical_id"), col("source").as("source_a"),
      col("n").as("na"))
    val b = m.select(col("canonical_id"), col("source").as("source_b"),
      col("n").as("nb"))
    a.join(b, Seq("canonical_id"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("na") >= 2))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Distinct sources [[sourceShingleSimilarity]] encodes on the driver;
    * a corpus with more fails up front rather than collecting them. */
  val MaxSources = 100000

  /** Corpus-level similarity matrix between sources: Jaccard over each
    * source's distinct 3-token shingle TYPE set — the dataset-overlap
    * measure a mix designer reads before weighting two crawls (high
    * shingle Jaccard ⇒ the sources largely restate each other, their
    * weights should not double-count). Exact integer intersections and
    * set sizes; the coefficient is a 6-dp rendering.
    *
    * Scale shape: ONE shingle-keyed aggregation collapses the corpus to
    * per-shingle sorted source SETS (collect_set dedups occurrences
    * map-side; set size is bounded by the source count, O(100) however
    * big the corpus). Pairs are then generated MAP-SIDE from each set
    * row and partially aggregated before the pair shuffle — a
    * stop-shingle present in all S sources costs C(S,2) in-memory
    * struct rows on one executor, never C(S,2) shuffled join rows; the
    * rollup shuffle moves at most O(sources²) groups per partition.
    * (Replaces the earlier shingle self-join: one exchange fewer and no
    * unguarded per-shingle join fan-out.)
    *
    * The shingle generation is a NARROW map straight off the (source,
    * text) row into the collect_set partial aggregation: per-document
    * shingle dedup is unnecessary (the set dedups occurrences), so the
    * per-(doc_id, shingle) `distinct()` exchange an earlier version
    * paid — plus the doc-keyed join re-attaching `source` — is gone;
    * the ONLY occurrence-sized data movement left is the map-side
    * hash-agg insert. Input must carry (source, text). */
  def sourceShingleSimilarity(corpus: DataFrame): DataFrame = {
    val n = 3
    // a null source belongs to no source set (collect_set drops nulls),
    // and a null dictionary entry would break the sorted code order
    val docs = corpus.where(col("source").isNotNull)
    // Source names are O(100) whatever the corpus size: encode them as
    // INTEGER codes up front (codes assigned in sorted-string order, so
    // code order ≡ string order and every a < b comparison below is
    // unchanged), and decode only the final O(sources²) rows. The heavy
    // middle of the pipeline — 10⁵-10⁹ collect_set elements, pair
    // structs and pair group keys — previously carried the source
    // STRING through every hash, compare and copy; per guide §2.3
    // ("narrower types") the same exact computation runs on ints, and
    // the pair key packs into ONE long. The dictionary pass is a
    // narrow column scan with partial aggregation (≪ the shingle scan
    // that follows), and the decode is a literal array lookup on the
    // final rollup only.
    val distinctSources = docs.select(col("source")).distinct()
    val srcNames = distinctSources.limit(MaxSources + 1)
      .collect().map(_.getString(0)).sorted
    if (srcNames.length > MaxSources)
      throw new IllegalArgumentException(
        s"sourceShingleSimilarity: ${distinctSources.count()} distinct " +
          s"sources exceed the driver-side dictionary limit of $MaxSources")
    val codeOf = typedLit(srcNames.zipWithIndex.toMap)
    val nameOf = typedLit(srcNames.toSeq)
    // two consumers (sizes + pairs) — materialize the per-shingle
    // source-set table once (shingle TYPES rows, not occurrences); the
    // shingle key itself is dropped before the checkpoint, only the
    // encoded set survives
    val sets = docs
      .select(element_at(codeOf, col("source")).as("sc"),
        TextOps.tokens(col("text")).as("tk"))
      .select(col("sc"),
        explode(transform(
          sequence(lit(1), greatest(size(col("tk")) - (n - 1), lit(1))),
          i => concat_ws(" ", slice(col("tk"), i, lit(n))))).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_set(col("sc"))).as("srcs"))
      .select(col("srcs"))
      .localCheckpoint(true)
    val sizes = sets.select(explode(col("srcs")).as("sc"))
      .groupBy(col("sc")).agg(count(lit(1)).as("n"))
    // all ordered pairs (a < b) of each sorted set, built from array
    // builtins so the generation stays inside codegen; the pair is one
    // packed long (a·2³² + b — codes are dense ints), so the rollup
    // hashes and compares single longs, not string pairs
    // sizes is O(sources) rows but sits above a localCheckpoint, so the
    // planner has no size estimate and would pick a sort-merge join
    // (2 exchanges + 2 sorts per join, measured in the plan audit);
    // broadcast is the right strategy at ANY corpus size — the table is
    // bounded by the source count, not the data volume.
    sets.select(explode(flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          y => shiftleft(x.cast("long"), 32) + y.cast("long"))))).as("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("n_common"))
      .select(shiftright(col("pk"), 32).cast("int").as("ca"),
        col("pk").bitwiseAND(lit(0xffffffffL)).cast("int").as("cb"),
        col("n_common"))
      .join(broadcast(sizes.select(col("sc").as("ca"),
        col("n").as("na"))), "ca")
      .join(broadcast(sizes.select(col("sc").as("cb"),
        col("n").as("nb"))), "cb")
      .select(
        element_at(nameOf, col("ca") + 1).as("source_a"),
        element_at(nameOf, col("cb") + 1).as("source_b"),
        col("n_common"), col("na"), col("nb"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** STREAMING exact dedup: emit only the first document seen per
    * content digest (`dropDuplicatesWithinWatermark` — state bounded by
    * the event-time watermark, so it runs forever on an unbounded
    * ingest stream; the batch equivalent of "keep canonical_id only"
    * from [[exact]]). Input must carry an event-time column `tsCol`. */
  def exactStream(docs: DataFrame, tsCol: String = "ts",
                  watermark: String = "1 hour"): DataFrame =
    docs.withColumn("content_hash", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** k minhash values per doc over its distinct shingles:
    * m_i = min over shingles of ((2i+1)·h(s) + 104729·i) mod (2^31−1).
    * (doc_id, i, m)
    *
    * One groupBy pass with k partial-aggregating min columns — NOT an
    * explode to k rows per shingle (which multiplies the shuffle input
    * k-fold; at corpus scale that k× blowup is the whole cost). */
  def minhashSignatures(shingleDf: DataFrame, k: Int = MinhashK): DataFrame = {
    val hx = shingleDf
      .select(col("doc_id"), (hash64(col("shingle")) % HashMod).as("xv"))
    val minCols = (0 until k).map { i =>
      min((col("xv") * (2 * i + 1) + i * 104729L) % HashMod).as(s"m$i")
    }
    hx.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until k).map(i => col(s"m$i")): _*))
          .as(Seq("i", "m")))
  }

  /** LSH candidate pairs: docs agreeing on ALL rows of any band. The
    * self-join's sides share one canonical exchange (Spark reuses it),
    * so the signature pipeline runs once. */
  def lshCandidates(signatures: DataFrame, bandRows: Int = BandRows): DataFrame = {
    val bands = signatures
      .groupBy(col("doc_id"), (col("i") / bandRows).cast("int").as("band"))
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m"))).as("sig"))
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard for every document pair sharing ≥1 shingle, via an
    * inverted index (never all-pairs). (doc_a, doc_b, jaccard).
    *
    * `maxDf`: skew guard for corpus scale — shingles appearing in more
    * than maxDf documents are dropped from the index BEFORE the
    * self-join (a boilerplate 3-gram shared by 1M docs would emit 10¹²
    * pairs). Sizes (`na`/`nb`) still use full shingle sets, so capped
    * scores are a LOWER BOUND on true Jaccard (exact when a pair shares
    * no capped shingle); pairs connected solely through ultra-hot
    * shingles are missed — both acceptable for near-dup mining, where
    * hot shingles are boilerplate. Off by default so oracle comparisons
    * stay exhaustive. */
  def jaccardPairs(shingleDf: DataFrame, maxDf: Option[Long] = None): DataFrame = {
    val sizes = shingleDf.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val index = maxDf match {
      case Some(cap) =>
        val hot = shingleDf.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        shingleDf.join(broadcast(hot), Seq("shingle"), "left_anti")
      case None => shingleDf
    }
    val l = index.select(col("doc_id").as("doc_a"), col("shingle"))
    val r = index.select(col("doc_id").as("doc_b"), col("shingle"))
    l.join(r, "shingle").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("na") + col("nb") - col("common")), 6).as("jaccard"))
  }

  /** Exact Jaccard for a given set of candidate pairs only: candidates
    * are joined back to the shingle table on each side, so verification
    * cost is O(|candidates| · shingles-per-doc) — independent of how many
    * non-candidate pairs share a shingle. (doc_a, doc_b, jaccard). */
  def jaccardFor(cands: DataFrame, shingleDf: DataFrame,
                 maxDf: Option[Long] = None): DataFrame = {
    val sizes = shingleDf.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Same skew guard / lower-bound semantics as jaccardPairs: sizes stay
    // full, ultra-hot shingles leave the scoring index.
    val index = maxDf match {
      case Some(cap) =>
        val hot = shingleDf.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        shingleDf.join(broadcast(hot), Seq("shingle"), "left_anti")
      case None => shingleDf
    }
    val l = index.select(col("doc_id").as("doc_a"), col("shingle"))
    val r = index.select(col("doc_id").as("doc_b"), col("shingle"))
    cands.join(l, "doc_a")
      .join(r, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("na") + col("nb") - col("common")), 6).as("jaccard"))
  }

  /** MinHash+LSH near-dup pairs, verified by exact Jaccard ≥ threshold.
    * Exact scoring touches ONLY the LSH candidate set ([[jaccardFor]]) —
    * the whole point of LSH at corpus scale: the all-pairs (or
    * all-co-shingle-pairs) comparison never happens. */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.8,
                   maxDf: Option[Long] = None): DataFrame = {
    def dist = {
      // the shingle table feeds the signature pass AND three scans inside
      // jaccardFor — cache it once, checkpoint the (tiny) result before
      // dropping the cache
      val sh = TextOps.shingles(docs, 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cands = lshCandidates(minhashSignatures(sh))
        jaccardFor(cands, sh, maxDf)
          .filter(col("jaccard") >= threshold)
          .localCheckpoint(eager = true)
      } finally sh.unpersist(blocking = false)
    }
    if (maxDf.nonEmpty) dist
    else viaLocal(docs) { (ids, texts) =>
      val r = LocalDedup.minhashPairs(ids, texts, threshold)
      graft.functions.Ship.df(docs.sparkSession,
        "doc_a" -> r.map(_._1).toArray, "doc_b" -> r.map(_._2).toArray,
        "jaccard" -> r.map(_._3).toArray)
    }(dist)
  }

  /** Near-dup CLUSTERS — the terminal canonicalization step of a dedup
    * pipeline: MinHash+LSH verified pairs ([[minhashDedup]]) form an
    * undirected graph; connected components
    * ([[graft.bfs.ConnectedComponents]]) elect each cluster's min doc_id
    * as its canonical document; documents in no pair map to themselves.
    * (doc_id, canonical_id).
    *
    * Composes two operators that already hold at corpus scale: bucketed
    * LSH pair generation (never all-pairs) and O(log d)-round
    * pointer-jumping components over the pair graph — which is tiny
    * relative to the corpus (near-dup pairs, not documents). */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    clustersFromPairs(docs, minhashDedup(docs, threshold))

  /** [[dedupClusters]] from an already-computed pair set (doc_a, doc_b,
    * ...) — callers that materialized the pairs for their own output
    * (the driver runs `dd_minhash` and `dd_clusters` over the same
    * corpus) skip recomputing the LSH pipeline. */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = graft.bfs.ConnectedComponents.components(docs.sparkSession,
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("vertex"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
  }

  /** Deduplicated-corpus view — the terminal filter of the dedup
    * pipeline: one row per SURVIVING (canonical) document with its
    * cluster size (singletons size 1). Downstream training reads
    * exactly these doc_ids. One groupBy over the |docs|-sized cluster
    * map on top of [[clustersFromPairs]] — partial-aggregated, no new
    * scan of the corpus text. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame): DataFrame =
    keepFromClusters(clustersFromPairs(docs, pairs))

  /** [[keepCanonical]] over an already-computed cluster map (callers
    * that share the map across queries aggregate it directly). */
  def keepFromClusters(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("canonical_id").as("doc_id"))
      .agg(count(lit(1)).as("cluster_size"))

  /** One-row dedup dashboard over a cluster map: corpus size, cluster
    * count, how many documents are members of a multi-doc cluster, the
    * surviving count, and the 6-dp duplicate rate — the numbers a
    * pipeline report leads with. Two partially-aggregated passes over
    * the (already tiny relative to the corpus) cluster map; the final
    * row is a global aggregate. */
  def dedupSummary(clusters: DataFrame): DataFrame = {
    val sizes = clusters
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("sz"))
    sizes.agg(
        sum(col("sz")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("sz") > 1, col("sz")).otherwise(0L))
          .as("n_docs_in_dup_clusters"),
        count(lit(1)).as("n_keep"),
        round((sum(col("sz")) - count(lit(1))).cast("double") /
          sum(col("sz")).cast("double"), 6).as("dup_rate"))
  }

  /** SemDeDup-style semantic clustering: connected components over the
    * embedding-cosine near-dup pair graph ([[embeddingDedup]] — LSH
    * bands above the broadcast gate, exact cosine on candidates only),
    * min-id canonical per component, singletons self-canonical. The
    * output (vec_id, canonical_id) is the semantic analogue of the
    * minhash cluster map: downstream keeps one representative per
    * semantic cluster. Component walk is the same pointer-jumping
    * kernel the text path uses — no new scale surface. */
  def semanticClusters(embeddings: DataFrame,
                       threshold: Double = 0.95): DataFrame =
    clustersFromPairs(
      embeddings.select(col("vec_id").as("doc_id")),
      embeddingDedup(embeddings, threshold)
        .select(col("vec_id_a").as("doc_a"), col("vec_id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("canonical_id"))

  /** Quality-aware survivor selection: per near-dup cluster, keep the
    * member with the HIGHEST quality score (min doc_id on ties) — the
    * RefinedWeb/C4-style policy that beats min-id canonical when
    * near-dups differ in boilerplate. `clusters` carries
    * (doc_id, canonical_id); `scores` carries (doc_id, quality_score).
    *
    * One equi-join + one groupBy(canonical_id): the argmax is a
    * `max(struct(quality_score, -doc_id))` — struct max partially
    * aggregates map-side (unlike a row_number window, which sorts
    * whole clusters in single tasks), so the exchange carries one
    * candidate row per (cluster, partition) even for a pathological
    * million-member cluster. Output: (canonical_id, n_members,
    * best_doc_id, best_score). */
  def keepBestFromClusters(clusters: DataFrame, scores: DataFrame): DataFrame =
    clusters.join(scores, "doc_id")
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      .select(col("canonical_id"), col("n_members"),
        (-col("best.neg_id")).as("best_doc_id"),
        col("best.quality_score").as("best_score"))

  /** Standalone exact n-gram Jaccard dedup (no LSH): all pairs sharing a
    * shingle with jaccard ≥ threshold. */
  def ngramJaccardDedup(docs: DataFrame, threshold: Double = 0.8,
                        maxDf: Option[Long] = None): DataFrame = {
    def dist = {
      val sh = TextOps.shingles(docs, 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        jaccardPairs(sh, maxDf)
          .filter(col("jaccard") >= threshold)
          .localCheckpoint(eager = true)
      } finally sh.unpersist(blocking = false)
    }
    if (maxDf.nonEmpty) dist
    else viaLocal(docs) { (ids, texts) =>
      val r = LocalDedup.ngramJaccardPairs(ids, texts, threshold)
      graft.functions.Ship.df(docs.sparkSession,
        "doc_a" -> r.map(_._1).toArray, "doc_b" -> r.map(_._2).toArray,
        "jaccard" -> r.map(_._3).toArray)
    }(dist)
  }

  /** Winnowing overlap pairs — the MOSS detector run as a dedup stage:
    * documents sharing ≥ `minShared` selected fingerprints (see
    * [[graft.functions.WinnowFingerprints]]; any shared token run of
    * ≥ w+k−1 tokens guarantees a shared fingerprint, and only ~2/(w+1)
    * of shingles enter the index). Ultra-hot fingerprints (df > maxDf —
    * boilerplate) leave the index before the pair join, the n-gram
    * family's skew guard. Scale shape: narrow fingerprint map → one
    * df groupBy → inverted-index equi-join on the fingerprint key →
    * partially-aggregated pair counts; never all-pairs.
    * (doc_id_a, doc_id_b, n_shared), a < b. */
  def winnowDedup(docs: DataFrame, k: Int = 4, w: Int = 4,
                  minShared: Long = 2, maxDf: Long = 100): DataFrame =
    viaLocal(docs) { (ids, texts) =>
      val r = LocalDedup.winnowPairs(ids, texts, k, w, minShared, maxDf)
      graft.functions.Ship.df(docs.sparkSession,
        "doc_id_a" -> r.map(_._1).toArray,
        "doc_id_b" -> r.map(_._2).toArray,
        "n_shared" -> r.map(_._3).toArray)
    } {
      val fps = TextOps.winnow(docs, k, w)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val hot = fps.groupBy("fingerprint").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("fingerprint")
        val idx = fps.join(broadcast(hot), Seq("fingerprint"), "left_anti")
        val l = idx.select(col("doc_id").as("doc_id_a"), col("fingerprint"))
        val r = idx.select(col("doc_id").as("doc_id_b"), col("fingerprint"))
        l.join(r, "fingerprint").filter(col("doc_id_a") < col("doc_id_b"))
          .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= minShared)
          .localCheckpoint(eager = true)
      } finally fps.unpersist(blocking = false)
    }

  /** 60-bit SimHash per document over distinct whitespace tokens: bit j is
    * set iff sum over tokens of ±1 (by bit j of md5-hash64(token)) > 0.
    *
    * One groupBy pass with 60 partial-aggregating bit-sum columns (no
    * 60× row explode — see [[minhashSignatures]]). */
  def simhash(docs: DataFrame): DataFrame = viaLocal(docs) { (ids, texts) =>
    val r = LocalDedup.simhashSigs(ids, texts)
    graft.functions.Ship.df(docs.sparkSession,
      "doc_id" -> r.map(_._1).toArray, "simhash" -> r.map(_._2).toArray)
  } {
    // per-doc token dedup map-side (doc_id unique per row) — the
    // (doc_id, tok) distinct() this replaces paid a full exchange of
    // every token occurrence before the signature aggregation
    val toks = TextOps.tokenized(docs)
      .select(col("doc_id"), explode(array_distinct(col("tk"))).as("tok"))
      .select(col("doc_id"), hash64(col("tok")).as("h"))
    val bitSums = (0 until 60).map { j =>
      sum(when(expr(s"shiftright(h, $j) % 2 = 1"), 1L).otherwise(-1L)).as(s"s$j")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming. Banded by the
    * four 15-bit chunks of the fingerprint (pigeonhole: distance ≤ 3 ⇒ some
    * chunk equal), so the join is on a bucket key, not all-pairs. */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    viaLocal(docs) { (ids, texts) =>
      val r = LocalDedup.simhashPairs(ids, texts, maxHamming)
      graft.functions.Ship.df(docs.sparkSession,
        "doc_a" -> r.map(_._1).toArray, "doc_b" -> r.map(_._2).toArray,
        "hamming" -> r.map(_._3).toArray)
    } {
    val sig = simhash(docs)
    val chunks = sig.withColumn("c", explode(sequence(lit(0), lit(3))))
      .withColumn("chunk", expr("shiftright(simhash, c * 15)") % (1L << 15))
    val a = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
      col("c"), col("chunk"))
    val b = chunks.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("c"), col("chunk"))
    a.join(b, Seq("c", "chunk")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** STREAMING near-dup suppression: per-document 60-bit SimHash computed
    * in a narrow per-row map (no cross-row aggregation, so the transform
    * runs identically under `readStream`), then
    * `dropDuplicatesWithinWatermark` on the signature — only the FIRST
    * document per signature within the event-time watermark survives.
    * Suppresses signature-equal (Hamming-0) near-dups, the streaming
    * analogue of [[simhashDedup]]'s exact-collision bucket; state is
    * watermark-bounded like [[exactStream]], so it runs forever on an
    * unbounded ingest stream. Zero-token documents carry no signature
    * and pass through undeduplicated (explode semantics of the batch
    * pipeline). Signatures are bit-identical to [[simhash]]
    * (LocalDedupSpec pins the kernel ≡ column pipeline). */
  def simhashStream(docs: DataFrame, tsCol: String = "ts",
                    watermark: String = "1 hour"): DataFrame = {
    // null-safe: a NULL text row must not kill a forever-running stream —
    // it behaves like a zero-token doc (no signature, never suppressed)
    val sigOf = udf((text: String) =>
      if (text == null) null
      else LocalDedup.simhashOf(text).map(java.lang.Long.valueOf).orNull)
    docs.withColumn("simhash", sigOf(col("text")))
      // zero-token docs get a unique negative key (signatures are 60-bit
      // non-negative) so they are never suppressed — and never collide
      // with each other, which deduplicating on a NULL signature would do
      .withColumn("dedup_key",
        coalesce(col("simhash"), -col("doc_id") - 1))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("dedup_key")
      .drop("dedup_key")
  }

  /** Signed-random-projection (hyperplane) LSH banding for the
    * above-block-limit path: [[HyperplaneBands]] bands of
    * [[HyperplaneBandBits]] sign bits each. A sign bit is
    * sign(v · r) for a deterministic Rademacher (±1-component) hyperplane
    * r; P(two vectors at cosine c agree on a bit) = 1 − acos(c)/π
    * (Charikar, STOC'02 — the same argument behind [[simhash]]). At the
    * default 0.95 threshold that is ≈0.90 per bit, so candidate recall is
    * 1 − (1 − 0.90¹⁶)¹⁶ ≈ 0.96, rising to ≈0.999 at cosine 0.98 — the
    * ε-recall tradeoff every LSH dedup path here accepts. */
  val HyperplaneBands = 16
  val HyperplaneBandBits = 16

  /** splitmix64 finalizer — deterministic Rademacher component source. */
  private[ops] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Per-dimension Rademacher multiplier tables (±1.0 per (plane, dim)),
    * derived from [[mix64]] once per JVM and dimension — the signs are
    * input-independent, and recomputing the hash per (vector, plane,
    * dim) triple would put 256·dim mix64 calls in every UDF invocation.
    * Keyed by dim (embedding width), computed deterministically, so the
    * keys are identical on every executor. */
  private val signTables =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def signTable(dims: Int): Array[Array[Double]] =
    signTables.computeIfAbsent(dims, _ =>
      Array.tabulate(HyperplaneBands * HyperplaneBandBits, dims) {
        (plane, i) =>
          // unique mix input per (plane, dim): plane·2^32 + plane + i
          if ((mix64(plane.toLong * 0x100000001L + i) & 1L) == 0L) 1.0
          else -1.0
      })

  /** The [[HyperplaneBands]] band keys of one vector: band index folded
    * into the key so one equi-join column carries (band, signature). */
  private[ops] def hyperplaneBandKeys(v: Seq[Double]): Array[Long] = {
    val va = v.toArray
    val signs = signTable(va.length)
    val keys = new Array[Long](HyperplaneBands)
    var b = 0
    while (b < HyperplaneBands) {
      var key = 0L
      var j = 0
      while (j < HyperplaneBandBits) {
        val row = signs(b * HyperplaneBandBits + j)
        var s = 0.0
        var i = 0
        while (i < va.length) {
          s += row(i) * va(i)
          i += 1
        }
        if (s > 0) key |= 1L << j
        j += 1
      }
      keys(b) = (b.toLong << HyperplaneBandBits) | key
      b += 1
    }
    keys
  }

  /** Embedding cosine near-dup pairs (vec_id_a < vec_id_b, cos ≥ threshold).
    * Dot products via a sequential index-order fold so results are
    * bit-stable (identical to [[Similarity.dot]] / DuckDB
    * list_dot_product).
    *
    * All-pairs exact scoring is inherently O(n²); the efficient physical
    * shape is a block nested loop over PRIMITIVE vectors, not a join that
    * materializes both arrays into every pair row. When the corpus fits
    * in a broadcast ([[graft.Gates.embeddingBlockMaxVecs]]), each
    * partition streams its vectors against the broadcast block in a
    * tight fused loop — no shuffle, no per-pair array copies; pairs
    * above (threshold − ε) are the only rows ever materialized.
    *
    * Beyond the block limit (or on a stream), candidates come from
    * hyperplane-LSH banding ([[hyperplaneBandKeys]]): a narrow map emits
    * 16 band keys per vector, candidates are the bucket-equi-join (never
    * a cartesian product), and exact cosine verification touches ONLY the
    * candidate pairs — the same candidates-then-verify shape as
    * [[minhashDedup]], with the same ε recall loss. */
  def embeddingDedup(embeddings: DataFrame, threshold: Double = 0.95): DataFrame = {
    Similarity.localCorpus(embeddings) match {
      case Some(c) =>
        val r = LocalSimilarity.embeddingPairs(c, threshold)
        return graft.functions.Ship.df(embeddings.sparkSession,
          "vec_id_a" -> r.map(_._1).toArray, "vec_id_b" -> r.map(_._2).toArray,
          "cosine" -> r.map(_._3).toArray)
      case None =>
    }
    val spark = embeddings.sparkSession
    import spark.implicits._
    val blockLimit = graft.Gates.embeddingBlockMaxVecs.limit(spark)
    val n = Similarity.withNorm(embeddings)
    if (embeddings.isStreaming || n.count() > blockLimit) {
      val bandKeysUdf = udf((v: Seq[Double]) => hyperplaneBandKeys(v))
      val sigs = n.select(col("vec_id"), explode(bandKeysUdf(col("v"))).as("bk"))
      val sa = sigs.select(col("vec_id").as("vec_id_a"), col("bk"))
      val sb = sigs.select(col("vec_id").as("vec_id_b"), col("bk"))
      val cands = sa.join(sb, "bk").filter(col("vec_id_a") < col("vec_id_b"))
        .select("vec_id_a", "vec_id_b").distinct()
      val va = n.select(col("vec_id").as("vec_id_a"), col("v").as("va"),
        col("nrm").as("na"))
      val vb = n.select(col("vec_id").as("vec_id_b"), col("v").as("vb"),
        col("nrm").as("nb"))
      cands.join(va, "vec_id_a").join(vb, "vec_id_b")
        .select(col("vec_id_a"), col("vec_id_b"),
          round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cosine"))
        .filter(col("cosine") >= threshold)
    } else {
      val typed = n.select(col("vec_id"), col("v"), col("nrm"))
        .as[(Long, Array[Double], Double)]
      val block = typed.collect().sortBy(_._1)
      val bc = spark.sparkContext.broadcast(block)
      // ε-margin below the threshold: round(·, 6) moves a double by at
      // most 5e-7, so no pair that rounds past the threshold is lost.
      val eps = 1e-6
      val pairs = typed.mapPartitions { it =>
        val arr = bc.value
        it.flatMap { case (ida, va, na) =>
          // binary search: first block index with id > ida
          var lo = 0
          var hi = arr.length
          while (lo < hi) {
            val m = (lo + hi) >>> 1
            if (arr(m)._1 <= ida) lo = m + 1 else hi = m
          }
          Iterator.range(lo, arr.length).flatMap { j =>
            val (idb, vb, nb) = arr(j)
            var s = 0.0
            var i = 0
            while (i < va.length) { s += va(i) * vb(i); i += 1 }
            val c = s / (na * nb)
            if (c >= threshold - eps) Iterator.single((ida, idb, c))
            else Iterator.empty
          }
        }
      }.toDF("vec_id_a", "vec_id_b", "raw")
      pairs.select(col("vec_id_a"), col("vec_id_b"),
          round(col("raw"), 6).as("cosine"))
        .filter(col("cosine") >= threshold)
    }
  }

  /** Exact duplicated-SPAN detection (the substring-level complement of
    * document-level near-dup): for every document, how much of it is
    * covered by k-token windows that appear verbatim in at least one
    * OTHER document. This is the span analysis behind
    * "deduplicating training data" pipelines — repeated boilerplate is
    * span-duplicated long before whole documents are near-dups.
    *
    * Per doc (every doc, including ones shorter than k):
    * (doc_id, n_tokens, n_windows, n_dup_windows, covered_tokens,
    * dup_fraction) where covered_tokens is the size of the union of the
    * duplicated windows' [start, start+k-1] token intervals — computed
    * with a per-document lag window (each new duplicated start adds
    * min(gap, k) tokens), not an interval sweep.
    *
    * 100 TB shape: windows are a narrow per-row explode (stride 1, k
    * tokens); the duplicate test is one groupBy on the window string
    * (at real scale you'd group on a 128-bit window hash — same plan,
    * smaller shuffle payload; the string keeps the oracle exact here);
    * the semi-join back and the per-document lag window both partition
    * on doc_id, whose cardinality is the corpus itself — no skew,
    * since per-document window counts are bounded by document length. */
  def duplicatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val tk = TextOps.tokenized(docs)
    val base = tk.select(col("doc_id"),
      size(col("tk")).cast("long").as("n_tokens"),
      greatest(size(col("tk")) - (k - 1), lit(0)).cast("long").as("n_windows"))
    val wins = tk.where(size(col("tk")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - (k - 1)),
          i => struct(i.cast("long").as("start"),
            concat_ws(" ", slice(col("tk"), i, lit(k))).as("w")))).as("sw"))
      .select(col("doc_id"), col("sw.start").as("start"), col("sw.w").as("w"))
    // windows seen in ≥2 distinct docs; (doc_id, w) distinct first so a
    // within-doc repeat doesn't fake a cross-doc duplicate
    val dupW = wins.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("w")
    val dupStarts = wins.join(dupW, Seq("w"), "left_semi")
      .select("doc_id", "start")
    val wnd = Window.partitionBy("doc_id").orderBy("start")
    val cov = dupStarts
      .withColumn("gap", col("start") - lag("start", 1).over(wnd))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_dup_windows"),
        sum(when(col("gap").isNull, k.toLong)
          .otherwise(least(col("gap"), lit(k.toLong)))).as("covered_tokens"))
    base.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_fraction"))
  }
}
