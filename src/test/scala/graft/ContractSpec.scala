package graft

/** The driver contract itself: `entry` smoke-checks, every oracle key
  * names a real query, and every query runs end-to-end on the smallest
  * test tier. Value-level correctness is the DuckDB oracle's job
  * (graft.Verify + tools/check.py); this spec guards the WIRING the
  * driver depends on. */
class ContractSpec extends SparkSpec {

  test("entry returns rows (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key names a query") {
    val q = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(q)
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("oracle_sql.json parses back to exactly oracleSql") {
    val f = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeOracles(f.toString, SparkEntry.queries.keySet)
      val back = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(f.toFile, classOf[java.util.Map[String, String]])
      import scala.jdk.CollectionConverters._
      assert(back.asScala.toMap === SparkEntry.oracleSql)
      // the BPE oracles carry the U+001F token separator
      assert(back.get("tx_bpe").contains("\u001f"))
      // restricted to the selected queries
      Verify.writeOracles(f.toString, Set("tx_bpe", "q1_generate"))
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(f.toFile, classOf[java.util.Map[String, String]])
        .keySet.asScala === Set("tx_bpe", "q1_generate"))
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("every query runs on sf0.001 and keeps stable column names") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty, name)
      assert(df.count() >= 0, name) // executes the full plan
    }
  }

  // The driver's hash gate sees PHYSICAL types, not values: a Spark
  // decimal vs a DuckDB HUGEINT→float64, or int64 vs float64, hash
  // differently even when every cell is value-identical (round 5 lost
  // five otherwise-correct queries to exactly this). Convention: every
  // oracle-compared output column carries one of the hash-stable
  // primitive types below — aggregates that widen (DuckDB sum(BIGINT) →
  // HUGEINT) must be CAST back in the ORACLE SQL, and any value wider
  // than int64 is rendered as a digit string on BOTH sides
  // (ev_anomaly.var_num).
  test("oracle-compared outputs use only hash-stable physical types") {
    import org.apache.spark.sql.types._
    val stable: Set[DataType] = Set(LongType, IntegerType, DoubleType,
      StringType, TimestampType, TimestampNTZType, DateType, BooleanType)
    val dir = "/root/testdata/sf0.001"
    val withOracle = SparkEntry.oracleSql.keySet
    val bad = SparkEntry.queries.toSeq
      .filter(kv => withOracle(kv._1))
      .flatMap { case (name, fn) =>
        fn(spark, dir).schema.fields.collect {
          case f if !stable(f.dataType) => s"$name.${f.name}: ${f.dataType}"
        }
      }
    assert(bad.isEmpty,
      s"hash-unstable output types (CAST or render as string): $bad")
  }
}
