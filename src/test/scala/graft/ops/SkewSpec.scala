package graft.ops

import graft.SparkSpec

class SkewSpec extends SparkSpec {

  test("saltedCount equals plain groupBy count") {
    val s = spark; import s.implicits._
    val df = ((1 to 500).map(_ => 7L) ++ (1 to 30).map(_.toLong))
      .toDF("k")
    val plain = df.groupBy("k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val salted = Skew.saltedCount(df, "k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(salted === plain)
  }
}
