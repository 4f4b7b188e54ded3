package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query that throws is reported failed, never timed. */
class BenchSpec extends SparkSpec {
  test("Bench.runPass: a throwing query is listed failed and kept out of the timings") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()
    val broken: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("broken operator")
    val pass = Bench.runPass(spark, sf, Map("ok" -> ok, "broken" -> broken))
    assert(pass.failed == Set("broken"))
    assert(pass.times.keySet == Set("ok"))
    // a later pass where "ok" breaks: it leaves the min-of-passes too
    val later = Bench.Pass(Map.empty, Set("ok"), Map.empty)
    assert(Bench.minOf(Seq(pass)) == (pass.times, Set("broken")))
    assert(Bench.minOf(Seq(pass, later)) == (Map.empty, Set("ok", "broken")))
  }
}
