package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-mixing operators: the sampling / weighting stage that turns a
 * filtered corpus into a training mix.
 *
 * Sampling is DETERMINISTIC-BY-KEY, not rand(): each document's keep
 * decision is a pure function of (doc_id, stratum) via the same
 * polynomial hash the fingerprint operator uses
 * ([[graft.functions.StringPolyHash]] — codegen'd, SQL-mirrorable), so
 * a re-run, a retry after a lost task, or a different partitioning all
 * sample the SAME documents — the property that makes a 100 TB sample
 * reproducible and incrementally extendable (rate bumps strictly grow
 * the kept set: bucket < r1*B ⊂ bucket < r2*B for r1 < r2).
 *
 * Both operators are a narrow map (+ one small groupBy for weights);
 * nothing here shuffles the corpus.
 */
object Mix {

  /** Buckets per unit of sampling rate: rates are expressed as
    * thousandths-of-10 (bucket space 0..9999). */
  val Buckets = 10000L

  /** Per-stratum keep decision: bucket = polyhash(doc_id ":" stratum)
    * mod 10000, kept iff bucket < rate(stratum) * 10000. Emits every
    * row with its bucket and 0/1 keep flag — the caller filters
    * `kept = 1` for the sampled corpus (keeping the flag makes the
    * decision auditable and oracle-checkable over the full input). */
  def stratifiedSample(docs: DataFrame, stratum: Column,
                       rateBuckets: Map[String, Long],
                       defaultBuckets: Long): DataFrame = {
    val bucket = pmod(graft.functions.StringPolyHash.fingerprint(
      concat(col("doc_id").cast("string"), lit(":"), stratum)), lit(Buckets))
    val cut = rateBuckets.foldLeft(lit(defaultBuckets)) {
      case (acc, (k, v)) => when(stratum === k, lit(v)).otherwise(acc)
    }
    docs.select(col("doc_id"), stratum.as("stratum"),
      bucket.as("bucket"),
      when(bucket < cut, 1L).otherwise(0L).as("kept"))
  }

  /** Deterministic per-stratum resampling to a document quota — the
    * epoch-weighting step that repeats under-represented sources and
    * thins over-represented ones. Every document of a stratum with
    * `n` docs and quota `q` gets `q div n` repeats, plus one more iff
    * its salted hash bucket clears `((q mod n)·10000) div n` — so the
    * expected stratum size is `q` up to the 1/10000 bucket granularity
    * (the floored threshold under-shoots `q mod n` by at most
    * n/10000 docs), the assignment is a pure
    * row function (retries / repartitions / corpus growth never flip
    * a document's count), and `n_repeats = 0` expresses deterministic
    * downsampling. Strict exact-count selection is [[exactQuota]]'s
    * job; this operator trades the ±√n binomial wobble for a fully
    * narrow plan: one partially-aggregated stratum count broadcast
    * back, then a codegen map. Output: (doc_id, stratum, n_repeats). */
  def upsample(docs: DataFrame, stratum: Column,
               quotas: Map[String, Long], defaultQuota: Long): DataFrame = {
    val base = docs.select(col("doc_id"), stratum.as("stratum"))
    val counts = base.groupBy("stratum").agg(count(lit(1)).as("n"))
    val quota = quotas.foldLeft(lit(defaultQuota)) {
      case (acc, (k, v)) => when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    val bucket = pmod(graft.functions.StringPolyHash.fingerprint(
      concat(col("doc_id").cast("string"), lit(":"), col("stratum"),
        lit("#up"))), lit(Buckets))
    base.join(broadcast(counts), "stratum")
      .select(col("doc_id"), col("stratum"), col("n"),
        quota.cast("long").as("q"), bucket.as("b"))
      // `div` is exact integer division at any magnitude (a `/` on
      // longs would detour through double)
      .selectExpr("doc_id", "stratum",
        "(q div n) + (CASE WHEN b < ((q % n) * 10000 div n)" +
          " THEN 1 ELSE 0 END) AS n_repeats")
  }

  /** Deterministic stratified train/val/test assignment: bucket =
    * polyhash(doc_id ":" stratum "#split") mod 10000 (a DIFFERENT hash
    * stream than [[stratifiedSample]]'s, via the "#split" salt — the
    * split must not correlate with the sampling decision), split =
    * train below `trainCut`, val below `valCut`, test otherwise.
    *
    * Same reproducibility contract as sampling: the assignment is a
    * pure row function — retries, repartitions and incremental corpus
    * growth never move a document between splits, and growing a cut
    * only promotes documents monotonically (test→val→train). A narrow
    * codegen map; nothing shuffles. */
  def assignSplits(docs: DataFrame, stratum: Column,
                   trainCut: Long, valCut: Long): DataFrame = {
    val bucket = pmod(graft.functions.StringPolyHash.fingerprint(
      concat(col("doc_id").cast("string"), lit(":"), stratum,
        lit("#split"))), lit(Buckets))
    docs.select(col("doc_id"), stratum.as("stratum"),
      bucket.as("bucket"),
      when(bucket < trainCut, "train")
        .when(bucket < valCut, "val")
        .otherwise("test").as("split"))
  }

  /** Train→eval contamination audit over [[assignSplits]]: for every
    * (split, stratum) outside train, how many documents share a
    * normalized content digest ([[Dedup.normalizedText]] → md5, the
    * fuzzy-exact dedup rung) with ANY train document — the leakage an
    * eval split must report before its numbers mean anything.
    *
    * Scale shape: the digest and the split are both narrow scan-time
    * expressions; the train digest set is `distinct`-ed BEFORE the
    * probe join (a hot boilerplate digest in train must not multiply
    * eval rows), and the probe is one digest-keyed equi-join feeding a
    * ~|splits×strata|-group aggregate. Two scans of the corpus (build
    * side, probe side) — the standard semi-join audit shape.
    *
    * Output: (split, stratum, n_docs, n_leaked). */
  def splitLeakage(docs: DataFrame, stratum: Column,
                   trainCut: Long, valCut: Long): DataFrame = {
    val bucket = pmod(graft.functions.StringPolyHash.fingerprint(
      concat(col("doc_id").cast("string"), lit(":"), stratum,
        lit("#split"))), lit(Buckets))
    val assigned = docs.select(col("doc_id"), stratum.as("stratum"),
      when(bucket < trainCut, "train")
        .when(bucket < valCut, "val")
        .otherwise("test").as("split"),
      md5(Dedup.normalizedText(col("text"))).as("h"))
    val trainH = assigned.filter(col("split") === "train")
      .select("h").distinct()
    assigned.filter(col("split") =!= "train")
      .join(trainH.withColumn("in_train", lit(1L)), Seq("h"), "left")
      .groupBy("split", "stratum")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("in_train").isNotNull, 1L).otherwise(0L))
          .as("n_leaked"))
  }

  /** EXACT-size stratified sample: the k documents per stratum with the
    * smallest (bucket, doc_id) hash rank — the fixed-quota counterpart
    * of [[stratifiedSample]]'s rate-based keep. Deterministic for the
    * same reason (pure hash of (doc_id, stratum)), and the quota is hit
    * exactly (or the stratum size, if smaller).
    *
    * Scale shape: one groupBy(stratum) whose aggregate is the
    * [[graft.functions.TopKPairMin]] bounded-heap
    * TypedImperativeAggregate — partial aggregation keeps ≤k pairs per
    * (stratum, map partition), so the exchange payload is O(k) per
    * partition however skewed the strata are. The window-rank
    * formulation this replaces sorts each stratum in one task.
    *
    * Output: (stratum, doc_id, bucket, rk) with rk = 1..k by hash rank. */
  def exactStratifiedSample(docs: DataFrame, stratum: Column,
                            k: Int): DataFrame = {
    val bucket = pmod(graft.functions.StringPolyHash.fingerprint(
      concat(col("doc_id").cast("string"), lit(":"), stratum)), lit(Buckets))
    docs
      .select(stratum.as("stratum"), bucket.as("bucket"), col("doc_id"))
      .groupBy("stratum")
      .agg(graft.functions.TopKPairMin
        .topk(col("bucket"), col("doc_id"), k).as("picks"))
      .select(col("stratum"), posexplode(col("picks")).as(Seq("pos", "p")))
      .select(col("stratum"), col("p.id").as("doc_id"),
        col("p.score").as("bucket"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** Token-budget shard packing: assign each document a contiguous
    * training shard of ~`budget` tokens within its stratum, in doc_id
    * order. `shard = floor(start_offset / budget)` where `start_offset`
    * is the exact number of tokens in earlier (same-stratum, lower
    * doc_id) documents — the greedy document-contiguous sharding a
    * sequence-packing stage feeds the tokenizer (a shard may overrun
    * the budget by the tail of its last document; documents are never
    * split).
    *
    * Scale shape: the naive formulation is a running cumulative sum,
    * i.e. `sum() OVER (PARTITION BY stratum ORDER BY doc_id)` — with a
    * handful of strata that is one task sorting a corpus-sized
    * partition, the classic 100 TB window anti-pattern. This
    * implementation is a TWO-PHASE DISTRIBUTED PREFIX SUM instead:
    *
    *  1. range-partition by (stratum, doc_id) and sort within
    *     partitions — order is global across the partition index;
    *  2. pass 1 (`mapPartitions`): per-(partition, stratum) token
    *     subtotals — one tiny row per stratum run, collected to the
    *     driver (O(partitions), not O(rows));
    *  3. exclusive-scan the subtotals per stratum in partition order,
    *     broadcast the resulting base-offset table;
    *  4. pass 2 (`mapPartitions` over the SAME persisted partitions):
    *     local running sum + broadcast base = exact global offset.
    *
    * Every pass is a narrow scan; the only shuffle is the initial
    * range exchange, and no task ever holds more than its partition.
    *
    * The two passes go through `RDD.mapPartitionsWithIndex` (the one
    * genuinely per-partition-imperative operator here), NOT
    * `TaskContext.getPartitionId()`/`spark_partition_id()`: those name
    * the running TASK, which a downstream `coalesce` (e.g. a writer's
    * `coalesce(1)`) silently rebinds — the index that keys the base-
    * offset table must be the DATA partition's, bound at plan time.
    *
    * Output: (stratum, doc_id, n_tokens, start_offset, shard). */
  def pack(docsWithTokens: DataFrame, stratum: Column,
           budget: Long): DataFrame = {
    require(budget > 0, s"pack: budget must be positive, got $budget")
    val spark = docsWithTokens.sparkSession
    import spark.implicits._
    val src = docsWithTokens
      .select(stratum.cast("string").as("stratum"),
        col("doc_id").cast("long").as("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"))
    val sorted = src
      .as[(String, Long, Long)]
      .repartitionByRange(col("stratum"), col("doc_id"))
      .sortWithinPartitions("stratum", "doc_id")
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: per-(partition, stratum) subtotals. Strata are contiguous
    // runs inside a sorted partition, so this is a single streaming scan.
    val subtotals: Array[(Int, String, Long)] =
      sorted.mapPartitionsWithIndex { (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
        var cur: String = null
        var acc = 0L
        it.foreach { case (s, _, t) =>
          if (s != cur) {
            if (cur != null) runs += ((pid, cur, acc))
            cur = s; acc = 0L
          }
          acc += t
        }
        if (cur != null) runs += ((pid, cur, acc))
        runs.iterator
      }.collect()
    // exclusive scan per stratum in partition order → base offsets
    val base: Map[(Int, String), Long] = {
      val out = Map.newBuilder[(Int, String), Long]
      val running = scala.collection.mutable.HashMap.empty[String, Long]
      subtotals.sortBy(_._1).foreach { case (pid, s, t) =>
        out += ((pid, s) -> running.getOrElse(s, 0L))
        running(s) = running.getOrElse(s, 0L) + t
      }
      out.result()
    }
    val bcBase = spark.sparkContext.broadcast(base)
    // pass 2: same persisted partitions → exact global running offset.
    // Eagerly materialize the result (localCheckpoint) so the sorted
    // RDD unpersists before return — without it every pack() call
    // leaked a session-lifetime persisted RDD.
    val out = sorted.mapPartitionsWithIndex { (pid, it) =>
        var cur: String = null
        var acc = 0L
        it.map { case (s, id, t) =>
          if (s != cur) { cur = s; acc = bcBase.value.getOrElse((pid, s), 0L) }
          val off = acc
          acc += t
          (s, id, t, off, off / budget)
        }
      }.toDF("stratum", "doc_id", "n_tokens", "start_offset", "shard")
      .localCheckpoint(true)
    sorted.unpersist(blocking = false)
    out
  }

  /** Token-budget mixing weights: per stratum (source), the sampling
    * weight that levels every stratum to an equal share of the total
    * token budget, capped at 1.0 (never upsample):
    * weight = min(1, total_tokens / (n_strata * stratum_tokens)).
    * One small groupBy(stratum) + a broadcast of the two scalar totals;
    * the corpus-sized input is touched once. */
  def mixingWeights(docsWithTokens: DataFrame, stratum: Column): DataFrame = {
    val per = docsWithTokens.groupBy(stratum.as("stratum")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"))
    val tot = per.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_strata"))
    val w = least(lit(1.0),
      col("total_tokens").cast("double") /
        (col("n_strata") * col("n_tokens")))
    per.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        round(w, 6).as("sample_weight"),
        floor(round(w, 6) * col("n_tokens")).cast("long")
          .as("expected_tokens"))
  }

  /** Deterministic stride-scheduled interleaving — the training-order
    * schedule: stratum s with integer weight w_s contributes its i-th
    * document (doc_id order) at key (2i+1)·(L/w_s), L = lcm of the
    * weights. Sorting by the key yields the classic stride schedule: a
    * weight-4 stratum appears 4× as often as a weight-1 stratum,
    * evenly spread, reproducible across runs and engines because the
    * key is EXACT integer arithmetic (w_s | L, so no division
    * truncates and no float ever orders the epoch).
    *
    * The per-stratum rank is [[pack]] with unit token counts — the
    * two-phase distributed prefix sum, NOT a per-stratum `row_number`
    * window (one task per stratum at corpus scale). Output:
    * (stratum, doc_id, rank_in_stratum, interleave_key). */
  def interleave(meta: DataFrame, stratum: Column,
                 weights: Map[String, Long],
                 defaultWeight: Long = 1L): DataFrame = {
    require(defaultWeight > 0 && weights.values.forall(_ > 0),
      "interleave: weights must be positive")
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (weights.values.toSeq :+ defaultWeight)
      .foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val ranked = pack(
        meta.select(col("doc_id"), lit(1L).as("n_tokens"),
          stratum.cast("string").as("stratum")),
        col("stratum"), 1L)
      .select(col("stratum"), col("doc_id"),
        col("start_offset").as("rank_in_stratum"))
    val stride = weights.foldLeft(lit(lcm / defaultWeight)) {
      case (acc, (k, w)) =>
        when(col("stratum") === k, lit(lcm / w)).otherwise(acc)
    }
    ranked.select(col("stratum"), col("doc_id"), col("rank_in_stratum"),
      ((col("rank_in_stratum") * 2L + 1L) * stride).as("interleave_key"))
  }
}
