package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Joins, Scans}

/** Stagings keyed per data dir never mix two dirs' rows, also for dir
  * pairs whose names sanitize alike (`a_b`, `a/b`) or hash alike (`Aa`,
  * `BB`). Each dir holds a disjoint slice of the fixture. */
class StageKeySpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("stage_keys").toString

  /** Orders, lineitem and events of one orderkey / event-id parity. */
  private def fixture(d: String, parity: Int): String = {
    Tables.orders(spark, sf).where(col("o_orderkey") % 2 === parity)
      .write.parquet(s"$d/orders.parquet")
    Tables.lineitem(spark, sf).where(col("l_orderkey") % 2 === parity)
      .write.parquet(s"$d/lineitem.parquet")
    Tables.events(spark, sf).where(col("event_id") % 2 === parity)
      .write.parquet(s"$d/events.parquet")
    d
  }

  private def rows(df: DataFrame): Map[String, (Long, Double)] =
    df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  private def same(got: Map[String, (Long, Double)],
                   want: Map[String, (Long, Double)]): Boolean =
    got.keySet == want.keySet && got.forall { case (k, (n, v)) =>
      n == want(k)._1 && math.abs(v - want(k)._2) <= 1e-6 * math.max(1.0, math.abs(v))
    }

  /** Dirs whose names sanitize alike, and dirs whose paths hash alike. */
  private lazy val sanitizedAlike = {
    val (d0, d1) = (fixture(s"$root/a_b", 0), fixture(s"$root/a/b", 1))
    assert(d0.replaceAll("[^A-Za-z0-9]", "_") == d1.replaceAll("[^A-Za-z0-9]", "_"))
    Seq(d0, d1)
  }
  private lazy val hashAlike = {
    val (d0, d1) = (fixture(s"$root/Aa", 0), fixture(s"$root/BB", 1))
    assert(d0.hashCode == d1.hashCode)
    Seq(d0, d1)
  }

  test("join_bucketed: dirs that sanitize alike read their own tables") {
    sanitizedAlike.foreach(Joins.joinBucketed(spark, _).collect())
    for (d <- sanitizedAlike) {
      val want = rows(Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("v")))
      val got = rows(Joins.joinBucketed(spark, d))
      assert(same(got, want), s"join_bucketed($d) read another dir's tables: $got")
    }
  }

  test("maintenance_compact: dirs that sanitize alike read their own events") {
    sanitizedAlike.foreach(Scans.maintenanceCompact(spark, _).collect())
    for (d <- sanitizedAlike) {
      val ev = Tables.events(spark, d)
      val want = (ev.count(), ev.agg(min(col("event_id"))).head().getLong(0))
      val c = Scans.maintenanceCompact(spark, d).head()
      assert((c.getLong(0), c.getLong(1)) == want,
        s"maintenance_compact($d) read another dir's events: $c")
    }
  }

  test("scan_partitioned: dirs whose paths share a hash code read their own orders") {
    hashAlike.foreach(Scans.scanPartitioned(spark, _).collect())
    for (d <- hashAlike) {
      val want = rows(Tables.orders(spark, d)
        .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("v")))
      val got = rows(Scans.scanPartitioned(spark, d))
      assert(same(got, want), s"scan_partitioned($d) read another dir's orders: $got")
    }
  }
}
