package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver-verifiable harness for the STREAMING twins: each runner feeds
 * the scale-factor table through a `MemoryStream` in several
 * micro-batches (so cross-batch state genuinely carries), runs the
 * streaming operator to completion, and canonicalizes the sink into a
 * batch-comparable table. Registered as `st_*` driver queries with full
 * DuckDB oracles — the streaming engine passes the SAME
 * rows/schema/hash gate as every batch operator, not just unit specs.
 *
 * Scale note: collecting the feed to the driver is inherent to REPLAY
 * VERIFICATION (a MemoryStream is driver-side by definition), not to
 * the operators — production deployments read Kafka/files via
 * `readStream` with the identical transforms. The collected feed is
 * bounded by the verification scale factor.
 *
 * Feed order: (ts, step-priority, event_id) — priority puts rights
 * before lefts (clicks before purchases) and funnel predecessors
 * before successors at equal timestamps, matching the batch
 * tie-breaks; within a micro-batch the stateful twins re-sort by us,
 * and Scala's stable sort preserves this feed order for ties.
 */
object StreamVerify {

  case class EvRow(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class DocRow(doc_id: Long, text: String, ts: Timestamp)
  case class EmbRow(vec_id: Long, embedding: Array[Float])

  private val qid = new java.util.concurrent.atomic.AtomicInteger(0)

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val replayConfLock = new Object
  private[streaming] val RocksDbConf = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider"),
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Run `transform` over a MemoryStream fed `batches`, one
    * micro-batch per non-empty element, into a uniquely-named memory
    * sink; returns the sink table.
    *
    * The query starts with replay-scoped session confs, `extraConf`
    * on top of two that every replay takes:
    *  - checkpoint files go through [[NioCheckpointFileManager]]. The
    *    per-batch cost of a replay is its checkpoint commits, and
    *    without the native `libhadoop` Hadoop's local file system forks
    *    a child process for them: a `chmod` per created file and mkdir,
    *    a `readlink` per rename. A JFR `jdk.ProcessStart` recording on
    *    sf0.01 at 8 partitions counted 911 child processes per
    *    `st_userstats` replay (239 `chmod`, 600 `readlink`, 72 `rm`)
    *    and 5,390 per `st_range`; with the manager (and, for RocksDB,
    *    [[NioLocalFileSystem]]) only Spark's `rm -rf` of local RocksDB
    *    directories is left.
    *  - at most 8 shuffle partitions: a stateful operator pins one
    *    state store per partition and every micro-batch commits each
    *    one. Replay results are partition-count-independent (the same
    *    oracles pass at 8 and 32).
    * The streaming plan is built on the caller's confs. The overrides
    * hold only while `start()` runs, under one lock so that concurrent
    * replays on one session cannot restore each other's values; the
    * running query keeps them because `StreamExecution` clones the
    * session when it is constructed. The caller's session is left as
    * it was, and its streaming listeners see the replay.
    *
    * Fails loudly when the query did not run exactly one data
    * micro-batch per non-empty fed batch (watermark-only batches read
    * no rows and are not counted). */
  private[streaming] def run[T](spark: SparkSession, replay: String,
                     mem: MemoryStream[T], batches: Seq[Seq[T]],
                     mode: String, extraConf: Map[String, String] = Map.empty)(
                     transform: DataFrame => Dataset[_]): DataFrame = {
    val name = s"stream_verify_${qid.incrementAndGet()}"
    val writer = transform(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode)
    val q = replayConfLock.synchronized {
      val parts = math.min(spark.conf.get(PartitionsKey).toInt, 8)
      withConf(spark, extraConf ++ Map(
        PartitionsKey -> parts.toString,
        "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[NioCheckpointFileManager].getName))(writer.start())
    }
    try batches.foreach { b =>
      if (b.nonEmpty) { mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val fed = batches.count(_.nonEmpty)
    val ran = q.recentProgress.count(_.numInputRows > 0)
    if (ran != fed)
      throw new IllegalStateException(
        s"replay $replay ran $ran data micro-batches for $fed fed batches")
    spark.table(name)
  }

  /** `body` with `conf` set on `spark`, each key restored after. */
  private def withConf[A](spark: SparkSession, conf: Map[String, String])(
      body: => A): A = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def eventBatches(events: DataFrame, nBatches: Int)
      : Seq[Seq[EvRow]] = {
    val spark = events.sparkSession
    import spark.implicits._
    val prio = when(col("event_type") === "signup", 0)
      .when(col("event_type") === "click", 1)
      .when(col("event_type") === "purchase", 2)
      .otherwise(3)
    val rows = events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), prio, col("event_id"))
      .as[EvRow].collect()
    val per = math.max(1, (rows.length + nBatches - 1) / nBatches)
    rows.grouped(per).map(_.toSeq).toSeq
  }

  /** Synthetic event time for the (timeless) documents table: a fixed
    * base + doc_id µs keeps the whole corpus inside one watermark
    * window, so dedup state never expires mid-verification. */
  private val DocBaseUs = 1704067200000000L // 2024-01-01 UTC

  private def withDocTs(docs: DataFrame): DataFrame =
    docs.withColumn("ts",
      expr(s"timestamp_micros($DocBaseUs + doc_id)"))

  /** Two batches: first occurrences (by doc_id) of every dedup key,
    * then everything else — batch 0 has no intra-batch key collisions
    * (first-seen would be partition-order-dependent), batch 1
    * exercises cross-batch state suppression on every duplicate. */
  private def docBatchesByKey(docs: DataFrame, key: Column)
      : Seq[Seq[DocRow]] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = withDocTs(docs)
      .withColumn("rk", row_number().over(
        Window.partitionBy(key).orderBy("doc_id")))
      .select(col("doc_id"), col("text"), col("ts"), col("rk"))
      .orderBy("doc_id")
      .as[(Long, String, Timestamp, Int)].collect()
    Seq(
      ranked.filter(_._4 == 1).map(r => DocRow(r._1, r._2, r._3)).toSeq,
      ranked.filter(_._4 != 1).map(r => DocRow(r._1, r._2, r._3)).toSeq)
  }

  // ---- event twins ----

  /** Final per-user session state from [[Events.sessionizeStream]]:
    * the update-mode sink holds one row per (user, batch); per user the
    * (session_idx, n_events, last_us) triple is lexicographically
    * monotone across batches, so max(struct) is the last update. */
  /** Final per-window state from [[Events.windowedCountsStream]] — the
    * canonical watermarked streaming aggregation. Update-mode
    * emissions are strictly monotone in n_events per (window, type)
    * key, so max(struct) per key is the completed window ≡ batch
    * [[Events.windowedCounts]] (the feed is in ts order, so nothing
    * is watermark-late). */
  def windowFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_window", mem, eventBatches(events, 4), "update")(
        df => Events.windowedCountsStream(df, "1 hour"))
      .groupBy("w_start", "event_type")
      .agg(max(struct(col("n_events"), col("sum_value"))).as("s"))
      .select(col("w_start"), col("event_type"),
        col("s.n_events").as("n_events"), col("s.sum_value").as("sum_value"))
  }

  /** Final session set from the NATIVE streaming `session_window`
    * aggregation ([[Events.sessionWindows]] under a zero-delay
    * watermark). Streaming session windows only support APPEND mode —
    * a session row is emitted exactly once, when the watermark passes
    * it — so the sink holds final sessions directly, no
    * state-reconstruction fold. A far-future sentinel event (user −1)
    * rides in as a last micro-batch purely to advance the watermark
    * past every real session; the sentinel's own never-finalized
    * session stays in the state store and is filtered from the
    * result. ≡ batch [[Events.sessionWindows]]. */
  def sessionWindowsFinal(spark: SparkSession,
                          events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinel = EvRow(-1L,
      new Timestamp(maxTs.getTime + 100L * 24 * 3600 * 1000), -1L, "x", 0.0)
    val mem = MemoryStream[EvRow]
    run(spark, "st_sessionwin", mem,
        eventBatches(events, 4) :+ Seq(sentinel), "append")(
        df => Events.sessionWindows(df.withWatermark("ts", "0 seconds")))
      .filter(col("user_id") =!= -1L)
  }

  /** Final per-user profile from [[Events.userStatsStream]] (the Spark
    * 4 `transformWithState` path). n_events is strictly monotone per
    * user, so max(struct) per key is the last update ≡ the batch
    * groupBy. transformWithState needs multi-column-family state, which
    * only the RocksDB provider supports; it and the file system RocksDB
    * copies its SST files through are replay-scoped confs. */
  def userStatsFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    val sink = run(spark, "st_userstats", mem, eventBatches(events, 4),
        "update", RocksDbConf)(df => Events.userStatsStream(spark, df))
    sink
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value_micro"),
        col("last_us"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.sum_value_micro").as("sum_value_micro"),
        col("s.last_us").as("last_us"))
  }

  def sessionsFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_sessions", mem, eventBatches(events, 4), "update")(
        df => Events.sessionizeStream(spark, df))
      .groupBy("user_id")
      .agg(max(struct(col("session_idx"), col("n_events"),
        col("last_us"))).as("s"))
      .select(col("user_id"), col("s.session_idx").as("session_idx"),
        col("s.n_events").as("n_events"), col("s.last_us").as("last_us"))
  }

  /** Final per-user funnel state from [[Events.funnelStream]]:
    * steps_completed is monotone and step times are set-once, so
    * max(struct) per user is the last update ≡ batch [[Events.funnel]]. */
  def funnelFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_funnel", mem, eventBatches(events, 4), "update")(
        df => Events.funnelStream(spark, df))
      .groupBy("user_id")
      .agg(max(struct(col("steps_completed"), col("t_signup"),
        col("t_click"), col("t_purchase"))).as("s"))
      .select(col("user_id"), col("s.t_signup").as("t_signup"),
        col("s.t_click").as("t_click"),
        col("s.t_purchase").as("t_purchase"),
        col("s.steps_completed").as("steps_completed"))
  }

  /** Union of [[Events.asofJoinStream]]'s update-mode emissions — one
    * row per left event, emitted in the batch its left arrives —
    * ≡ batch [[Events.asofJoin]] on the in-order feed. */
  def asofMatches(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_asof", mem, eventBatches(events, 4), "update")(
      df => Events.asofJoinStream(spark, df))
  }

  /** [[Events.rangeJoinStream]] match pairs (purchase × prior clicks
    * within the hour). Inner stream-stream joins emit eagerly, so the
    * in-order feed surfaces every pair without a watermark flush. */
  def rangePairs(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_range", mem, eventBatches(events, 4), "append")(
        df => Events.rangeJoinStream(df, df))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("l_ts")).as("us"), col("r_event_id"),
        unix_micros(col("r_ts")).as("r_us"), col("r_value"))
  }

  // ---- dedup / decontamination twins ----

  /** [[graft.ops.Dedup.exactStream]] survivors: first doc per content
    * digest ≡ min-doc_id canonical of the batch exact dedup. */
  def exactSurvivors(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocRow]
    run(spark, "st_exact", mem, docBatchesByKey(docs, md5(col("text"))),
        "append")(
        df => graft.ops.Dedup.exactStream(df))
      .select(col("doc_id"), col("content_hash"))
  }

  /** [[graft.ops.Dedup.simhashStream]] survivors: first doc per
    * 60-bit simhash signature (zero-token docs pass through on their
    * unique negative key). */
  def simhashSurvivors(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sig = graft.ops.Dedup.simhash(docs)
      .withColumnRenamed("simhash", "sig_key")
    val key = coalesce(col("sig_key"), -col("doc_id") - 1)
    val mem = MemoryStream[DocRow]
    run(spark, "st_simhash", mem,
        docBatchesByKey(docs.join(sig, Seq("doc_id"), "left"), key),
        "append")(
        df => graft.ops.Dedup.simhashStream(df))
      .select(col("doc_id"), col("simhash"))
  }

  /** [[graft.ops.TextOps.decontaminateStream]] over the corpus stream
    * against the static benchmark slice — stateless, so the sink is
    * directly ≡ batch [[graft.ops.TextOps.decontaminate]]. */
  def decontamScores(spark: SparkSession, docs: DataFrame,
                     bench: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = spark
    val base = withDocTs(docs).orderBy("doc_id")
      .as[DocRow].collect().toSeq
    val per = math.max(1, (base.length + 2) / 3)
    val mem = MemoryStream[DocRow]
    run(spark, "st_decontam", mem, base.grouped(per).toSeq, "append")(
      df => graft.ops.TextOps.decontaminateStream(df, bench))
  }

  /** Final per-user state from [[Events.rfmDistributed]] run as an
    * update-mode streaming aggregation: n_events is strictly monotone
    * per user across emissions, so max(struct) per user is the
    * completed profile ≡ batch [[Events.rfm]] (shared oracle). */
  def rfmFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_rfm", mem, eventBatches(events, 4), "update")(
        df => Events.rfmDistributed(df))
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("last_us"),
        col("n_purchases"), col("monetary"))).as("s"))
      .select(col("user_id"), col("s.last_us").as("last_us"),
        col("s.n_events").as("n_events"),
        col("s.n_purchases").as("n_purchases"),
        col("s.monetary").as("monetary"))
  }

  /** [[Events.userValueSums]] run as an update-mode streaming
    * aggregation (with an update counter so canonicalization never
    * leans on value signs), final running sums ranked through the real
    * batch rank half [[Events.rankTopUsers]] — ≡ batch `ev_topusers`
    * (shared oracle). n_upd is strictly monotone per (type, user), so
    * max(struct) per key is the completed sum. */
  def topUsersFinal(spark: SparkSession, events: DataFrame,
                    k: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    val sums = run(spark, "st_topusers", mem, eventBatches(events, 4),
        "update")(df =>
        df.groupBy("event_type", "user_id")
          .agg(round(sum(col("value")), 6).as("total_value"),
            count(lit(1)).as("n_upd")))
      .groupBy("event_type", "user_id")
      .agg(max(struct(col("n_upd"), col("total_value"))).as("s"))
      .select(col("event_type"), col("user_id"),
        col("s.total_value").as("total_value"))
    Events.rankTopUsers(sums, k)
  }

  /** [[Events.latestRecordDistributed]] as an update-mode streaming
    * aggregation — the compacted CDC changelog under the state store.
    * Emissions per user are monotone in (last_us, event_id) (the
    * running struct-max only moves up), so max(struct) per user is the
    * final compacted row ≡ batch `ev_latest` (shared oracle). */
  def latestFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_latest", mem, eventBatches(events, 4), "update")(
        df => Events.latestRecordDistributed(df))
      .groupBy("user_id")
      .agg(max(struct(col("last_us"), col("event_id"), col("event_type"),
        col("value"))).as("s"))
      .select(col("user_id"), col("s.event_id").as("event_id"),
        col("s.last_us").as("last_us"),
        col("s.event_type").as("event_type"), col("s.value").as("value"))
  }

  /** The [[graft.functions.HllDistinct]] sketch as an update-mode
    * STREAMING aggregation (a custom TypedImperativeAggregate running
    * under the state store): per event type the approximate distinct
    * users + event count. n_events is strictly monotone per type, so
    * max(struct) canonicalizes the sink; the sketch itself is
    * batching-invariant (element-max merge), so the final state equals
    * batch `ev_hll` row for row. */
  def hllFinal(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvRow]
    run(spark, "st_hll", mem, eventBatches(events, 4), "update")(df =>
        df.groupBy("event_type")
          .agg(graft.functions.HllDistinct.of(col("user_id"), 12)
              .as("approx_users"),
            count(lit(1)).as("n_events")))
      .groupBy("event_type")
      .agg(max(struct(col("n_events"), col("approx_users"))).as("s"))
      .select(col("event_type"), col("s.approx_users").as("approx_users"),
        col("s.n_events").as("n_events"))
  }

  /** The [[graft.functions.CountMinSketch]] grid as an update-mode
    * STREAMING global aggregation over the corpus token stream, final
    * state probed for the static top-k vocabulary ≡ batch `tx_cms`
    * (shared oracle). The grid's element-wise-sum merge is
    * batching-invariant, so the final streamed grid equals the batch
    * grid cell for cell; n_toks is strictly monotone across emissions,
    * so the max-n_toks sink row is the completed sketch. */
  def cmsFinal(spark: SparkSession, docs: DataFrame, k: Int = 20,
               depth: Int = 4, width: Int = 512): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = withDocTs(docs).orderBy("doc_id").as[DocRow].collect().toSeq
    val per = math.max(1, (base.length + 2) / 3)
    val mem = MemoryStream[DocRow]
    val sink = run(spark, "st_cms", mem, base.grouped(per).toSeq,
        "update")(df =>
      graft.ops.TextOps.tokenized(df)
        .select(explode(col("tk")).as("token"))
        .agg(graft.functions.CountMinSketch.of(col("token"), depth, width)
            .as("grid"),
          count(lit(1)).as("n_toks")))
    val finalGrid = sink.orderBy(col("n_toks").desc).limit(1)
      .select("grid")
    graft.ops.TextOps.cmsEstimates(
      graft.ops.TextOps.vocabulary(docs, k)
        .select(col("rank"), col("token"),
          col("n_occurrences").as("exact_n")),
      finalGrid, depth, width)
  }

  /** [[graft.ops.Similarity.quantizeInt8]] over the embeddings replayed
    * in micro-batches — a stateless narrow map, so the append-mode sink
    * is directly ≡ the batch `sim_quantize` rows (shared oracle). */
  def quantizeRows(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = embeddings.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").as[EmbRow].collect().toSeq
    val per = math.max(1, (rows.length + 2) / 3)
    val mem = MemoryStream[EmbRow]
    run(spark, "st_quantize", mem, rows.grouped(per).toSeq, "append")(
      df => graft.ops.Similarity.quantizeInt8(df))
  }

  /** [[graft.ops.Similarity.topKForQueryStream]] over the query vectors
    * replayed in micro-batches against the static corpus — stateless
    * map-side broadcast scoring, so the sink is directly ≡
    * [[graft.ops.Similarity.bruteForceTopK]] restricted to the same
    * query rows (the `sim_brute` contract and oracle). */
  def annScores(spark: SparkSession, embeddings: DataFrame,
                nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qrows = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").as[EmbRow].collect().toSeq
    val per = math.max(1, (qrows.length + 2) / 3)
    val mem = MemoryStream[EmbRow]
    run(spark, "st_ann", mem, qrows.grouped(per).toSeq, "append")(
      df => graft.ops.Similarity.topKForQueryStream(df, embeddings, k))
  }
}
