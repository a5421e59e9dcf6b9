package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {

  test("a query that throws is reported failed, never timed or summed") {
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
      "q_boom" -> ((_: SparkSession, _: String) => throw new RuntimeException("planted")))
    val t = Bench.measure(spark, queries, sf, priors = Map.empty)
    assert(t.failed == Seq("q_boom"))
    assert(t.results.map(_._1) == Seq("q_ok"))
    assert(t.samples.keySet == Set("q_ok"))
  }
}
