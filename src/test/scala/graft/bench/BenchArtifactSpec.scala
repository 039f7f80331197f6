package graft.bench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Bench
import graft.Bench.{Block, Outcome}
import graft.SparkSpec

/** The bench artifact and its compact tail line, rendered from a
  * synthetic run of the full query surface: the key set consumers read,
  * valid JSON for non-finite protocol numbers, failures kept apart from
  * results, and a tail line that fits a ~2000-char stdout capture. */
class BenchArtifactSpec extends SparkSpec {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val names = graft.SparkEntry.queries.keys.toSeq
  private val (stNames, batchNames) = names.partition(_.startsWith("st_"))
  private def timings(qs: Seq[String]) =
    ListMap(qs.zipWithIndex.map { case (q, i) => q -> (1234.5678 + i) }: _*)
  private val work = Work(123456, 9876543, 98765432100L, 12345,
    1234567890L, 2345678901L, 3456789012L, 4567890123L)
  private def block(scale: Int) = Block(
    ListMap("scale" -> scale, "harmonic_mean_teps" -> Double.NaN,
      "stat_block" -> ListMap("min_TEPS" -> Double.PositiveInfinity,
        "stddev_time" -> Double.NegativeInfinity, "mean_time" -> 0.25)),
    ListMap("scale" -> scale, "hm_teps" -> 2.694e8, "con_s" -> 123.456,
      "wall_s" -> 1234.567, "ok" -> true, "err" -> 0))
  private val phases = Seq("g500_iso_warm", "g500_isolated", "warmup",
    "queries_pass1", "queries_pass2", "streaming", "g500_seq",
    "g500_batched", "g500_spec64_s18", "g500_spec64_s20")

  private val outcome = Outcome(
    sfDir = "/data/sf0.1", outPath = "BENCH_FULL_c32.json", passes = 2,
    queries = timings(batchNames), queriesCold = timings(batchNames),
    streaming = timings(stNames),
    failed = ListMap("q_broken" -> "IllegalStateException: boom"),
    warmup = Some("/data/sf0.001" -> 12.5),
    blocks = Seq("graph500_isolated", "graph500", "graph500_batched",
      "graph500_spec64", "graph500_spec64_s20").map(_ -> block(18)),
    work = phases.map(_ -> work),
    queriesWork = batchNames.map(_ -> work).toMap,
    queriesWorkCold = batchNames.map(_ -> work).toMap,
    streamingWork = stNames.map(_ -> work).toMap,
    calPre = (1.5, 13.25), calPost = (1.75, 14.5), calThreads = 32,
    host = Some((1000L, 30L, 4000L)))

  test("artifact: the key set, with failures apart from results") {
    val d = mapper.readTree(Json.string(Bench.artifact(outcome)))
    assert(d.fieldNames().asScala.toSet === Set("metric", "value", "unit",
      "queries", "sf", "queries_cold", "passes", "queries_streaming",
      "streaming_total_sec", "queries_failed", "warmup_sf", "warmup_sec",
      "graph500_isolated", "graph500", "graph500_batched", "graph500_spec64",
      "graph500_spec64_s20", "work", "queries_work", "queries_work_cold",
      "queries_streaming_work", "calibration", "host"))
    assert(d.get("queries").size === batchNames.size)
    assert(d.get("queries_failed").get("q_broken").asText ===
      "IllegalStateException: boom")
    assert(d.get("value").asDouble === timings(batchNames).values.sum)
    assert(d.get("work").fieldNames().asScala.toSeq === phases)
    assert(d.get("queries_work").get(batchNames.head).fieldNames().asScala.toSeq ===
      Seq("tasks", "task_s", "cpu_s", "gc_s", "spill_mem_gb", "spill_disk_gb",
        "shuf_write_gb", "shuf_read_gb"))
    assert(d.get("host").get("steal_pct_of_busy").asDouble === 3.0)
  }

  test("artifact: non-finite numbers are written as 0.0") {
    val b = mapper.readTree(Json.string(Bench.artifact(outcome))).get("graph500")
    assert(b.get("harmonic_mean_teps").isDouble)
    assert(b.get("harmonic_mean_teps").asDouble === 0.0)
    assert(b.get("stat_block").get("min_TEPS").asDouble === 0.0)
    assert(b.get("stat_block").get("stddev_time").asDouble === 0.0)
    assert(b.get("stat_block").get("mean_time").asDouble === 0.25)
  }

  test("compact line: under 1950 chars with the full query surface") {
    assert(names.size === 163)
    val line = Json.string(Bench.compactLine(outcome))
    assert(line.length < 1950, s"${line.length} chars: $line")
    val c = mapper.readTree(line)
    assert(c.get("n_queries").asInt === batchNames.size)
    assert(c.get("n_failed").asInt === 1)
    assert(c.get("slowest").size === 10)
    assert(c.get("work").size === phases.size)
    assert(!c.get("slowest").has("q_broken"))
  }

  test("a throwing query is a failure, never a result") {
    val sel = ListMap[String, (SparkSession, String) => DataFrame](
      "q_ok" -> ((s, _) => s.range(1000).toDF()),
      "q_bad" -> ((s, _) => s.range(3).toDF().where("assert_true(id < 0, 'boom') IS NULL")))
    val rec = new Recorder(spark.sparkContext)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val passes = (1 to 2).map(p =>
      Bench.timeQueries(spark, "unused", rec, s"p$p", sel, failed))
    rec.finish()
    val (steady, cold) = Bench.steadyAndCold(passes, failed)
    assert(steady.keySet === Set("q_ok") && cold.keySet === Set("q_ok"))
    assert(steady("q_ok") === passes.map(_("q_ok")).min)
    assert(failed.keySet === Set("q_bad"))
    assert(failed("q_bad").contains("boom"), failed("q_bad"))
    // the failing query still ran inside its span each pass
    assert(rec.spans.map(_.name) === Seq("p1:q_ok", "p1:q_bad", "p2:q_ok", "p2:q_bad"))
    val o = outcome.copy(queries = steady, queriesCold = cold,
      failed = ListMap.from(failed))
    val d = mapper.readTree(Json.string(Bench.artifact(o)))
    assert(d.get("queries").fieldNames().asScala.toSeq === Seq("q_ok"))
    assert(d.get("queries_cold").fieldNames().asScala.toSeq === Seq("q_ok"))
    assert(d.get("value").asDouble === steady("q_ok"))
    assert(d.get("queries_failed").fieldNames().asScala.toSeq === Seq("q_bad"))
    val c = mapper.readTree(Json.string(Bench.compactLine(o)))
    assert(c.get("n_queries").asInt === 1 && c.get("n_failed").asInt === 1)
    assert(c.get("slowest").fieldNames().asScala.toSeq === Seq("q_ok"))
  }
}
