package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.operators.StageUtil

/** The probe mains: `Probe`'s timer and plan file, and ScaleProbe's
  * clone tier. */
class ProbeSpec extends SparkSpec {

  /** `f`'s result and the lines it printed. */
  private def printedBy[T](f: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream
    val r = Console.withOut(buf)(f)
    (r, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("timed: a run prints its seconds and rows; a run that threw prints FAILED and no time") {
    val (rows, ok) = printedBy(Probe.timed("ok")(spark.range(5).toDF()))
    assert(rows.contains(5L))
    assert(ok.size == 1 && ok.head.matches("""ok\s+\d+\.\d{3}\s+5"""), ok)
    val (none, failed) =
      printedBy(Probe.timed("boom")(throw new IllegalStateException("planted")))
    assert(none.isEmpty)
    assert(failed == Seq("boom FAILED: java.lang.IllegalStateException: planted"), failed)
  }

  test("graft.Probe: four timed runs, then a plan file with the initial and the final plan") {
    val out = Files.createTempDirectory("probe_spec")
    try {
      val printed = childJvm("graft.Probe", Seq(sf, out.toString, "spec", "agg_hash"))
      val runs = printed.linesIterator.filter(_.startsWith("agg_hash ")).toSeq
      assert(runs.size == Probe.runs, printed)
      runs.zipWithIndex.foreach { case (l, i) =>
        assert(l.matches(s"""agg_hash run${i + 1}\\s+\\d+\\.\\d{3}\\s+\\d+"""), printed)
      }
      val plan = Files.readString(out.resolve("agg_hash_spec.txt"))
      assert(plan.contains("== explain(formatted), initial plan ==\n"), plan)
      assert(plan.contains("== executed plan after run (AQE final) ==\n"), plan)
      assert(plan.contains("isFinalPlan=true"), plan)
    } finally StageUtil.wipe(out)
  }

  test("cloneTier: every table holds copies × the base rows by the clone formula, staged under StageUtil.root") {
    val c = 3
    val dir = ScaleProbe.cloneTier(spark, sf, c)
    assert(Paths.get(dir).getParent == Paths.get(StageUtil.root))
    def base(t: String): DataFrame = Tables.read(spark, s"$sf/$t.parquet")
    Seq("documents", "embeddings", "lineitem", "events", "orders", "customer",
      "supplier").foreach(t => base(t).createOrReplaceTempView(s"clone_base_$t"))
    val ks = s"(SELECT CAST(id AS INT) AS k FROM range($c))"
    val want = Seq(
      "documents" -> s"""SELECT doc_id * $c + k AS doc_id,
        |  CASE WHEN k = 0 THEN text ELSE text || ' v' || CAST(k AS STRING) END AS text,
        |  lang, source, n_chars FROM clone_base_documents, $ks""",
      "embeddings" -> s"SELECT vec_id * $c + k AS vec_id, label, embedding FROM clone_base_embeddings, $ks",
      "lineitem" -> s"""SELECT l_orderkey * $c + k AS l_orderkey, l_partkey,
        |  l_suppkey + k * 1000000 AS l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        |  l_shipdate FROM clone_base_lineitem, $ks""",
      "events" -> s"""SELECT event_id * $c + k AS event_id, ts,
        |  user_id + k * 10000000 AS user_id, event_type, value, props
        |  FROM clone_base_events, $ks""",
      "orders" -> s"""SELECT o_orderkey * $c + k AS o_orderkey,
        |  o_custkey + k * 10000000 AS o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority FROM clone_base_orders, $ks""",
      "customer" -> s"""SELECT c_custkey + k * 10000000 AS c_custkey, c_name,
        |  c_nationkey, c_acctbal, c_mktsegment FROM clone_base_customer, $ks""",
      "supplier" -> s"""SELECT s_suppkey + k * 1000000 AS s_suppkey, s_name,
        |  s_nationkey, s_acctbal FROM clone_base_supplier, $ks""")
    want.foreach { case (t, sql) =>
      val got = Tables.read(spark, s"$dir/$t.parquet")
      val exp = spark.sql(sql.stripMargin)
      assert(got.dtypes.toSeq == exp.dtypes.toSeq, t)
      assert(got.count() == c * base(t).count(), t)
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
        s"$t differs from its clone formula")
    }
  }
}
