package graft

import org.apache.spark.sql.execution.TakeOrderedAndProjectExec

class SortsSetOpsSpec extends SparkSpec {

  test("topk plans as TakeOrderedAndProject (no full sort)") {
    val df = graft.operators.SortsSetOps.topk(spark, sf)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"expected TakeOrderedAndProject, got:\n$plan")
  }

  test("sort_partition: each partition is sorted on (l_orderkey, l_linenumber) and owns its keys") {
    // the fixture is stored in key order; a shuffled copy makes the
    // sort do the work
    val d = java.nio.file.Files.createTempDirectory("sort_partition").toString
    graft.Tables.lineitem(spark, sf).orderBy(org.apache.spark.sql.functions.rand(7))
      .repartition(3).write.parquet(s"$d/lineitem.parquet")
    val parts = graft.operators.SortsSetOps.sortPartition(spark, d).rdd
      .mapPartitions(it => Iterator(it.map(r => (r.getLong(0), r.getInt(1))).toVector))
      .collect().toSeq
    assert(parts.map(_.size).sum ==
      graft.Tables.lineitem(spark, sf).count())
    parts.foreach { p =>
      assert(p == p.sorted, "a partition is out of order")
    }
    val owners = parts.zipWithIndex
      .flatMap { case (p, i) => p.map(_._1).distinct.map(_ -> i) }
      .groupBy(_._1)
    assert(owners.values.forall(_.size == 1), "an l_orderkey spans two partitions")
  }

  test("topk returns the 10 highest-balance customers in order") {
    val rows = graft.operators.SortsSetOps.topk(spark, sf).collect()
    assert(rows.length == 10)
    val bals = rows.map(_.getDouble(2))
    assert(bals.sameElements(bals.sortBy(-_: Double)))
  }

  test("set ops agree with manual reference on sf0.001") {
    import spark.implicits._
    val union = graft.operators.SortsSetOps.setUnionAll(spark, sf).count()
    assert(union == 1500 + 150) // orders + customer rows
    val unionD = graft.operators.SortsSetOps.setUnionDistinct(spark, sf)
      .as[Long].collect().toSet
    val inter = graft.operators.SortsSetOps.setIntersect(spark, sf)
      .as[Long].collect().toSet
    val except = graft.operators.SortsSetOps.setExcept(spark, sf)
      .as[Long].collect().toSet
    // every intersect key is in the union; except ∩ intersect = ∅
    assert(inter.subsetOf(unionD))
    assert(except.intersect(inter).isEmpty)
  }

  test("sort_offset: page 2 equals rows 31-50 of the total order") {
    import org.apache.spark.sql.functions.col
    val page = graft.operators.SortsSetOps.sortOffset(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val all = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(page.toSeq == all.drop(30).toSeq)
  }

  test("sql_sugar: GROUP BY ALL / ORDER BY ALL / star-EXCEPT equal the explicit forms") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.SortsSetOps.sqlSugar(spark, sf).collect()
      .map(_.toSeq).toSeq
    val want = graft.Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        expr("cast(round(max(o_totalprice)) as bigint)").as("top_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"),
        col("n_orders"), col("top_price"))
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }
}
