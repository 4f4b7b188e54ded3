package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Aggregation operators (SURVEY.md §2.4).
  *
  * All group-bys here are plain hash aggregations: Spark plans them as
  * partial (map-side) + final HashAggregate around a single shuffle on the
  * grouping keys, which is exactly the shape that scales — at 100 TB the
  * map-side combine collapses each of the ~billions of input rows into a
  * handful of per-partition group states before anything crosses the wire.
  *
  * Oracle-determinism (SURVEY.md §5.4): fractional-double aggregates are
  * rounded to 4 decimals on BOTH sides; every output is totally ordered by
  * its grouping keys (unique per row, so no tiebreaker needed).
  */
object Aggregates extends OpModule {

  /** AQE PARTITION COALESCING — the runtime re-plan that fixes the
    * other static-partitioning failure (join_skew_aqe fixes the too-BIG
    * partition; this fixes the too-MANY): the error slice of `events`
    * is a tiny fraction of the table, but a static
    * spark.sql.shuffle.partitions sizes the post-shuffle stage for the
    * full corpus — most reducers get a few KB and their task overhead
    * dominates. With AQE on (the session default), the coalescer reads
    * the ACTUAL map-output sizes at the stage boundary and merges
    * neighbors up to the advisory size, so reducer count tracks data,
    * not config. At 100 TB one global shuffle-partition number cannot
    * fit both the corpus-wide joins (need thousands) and the filtered
    * rollups like this one (need a handful) — AQE is what lets a single
    * setting serve both. AggregatesSpec asserts the executed plan's
    * AQEShuffleRead is `coalesced` with fewer partitions than the
    * static setting; results are config-invariant (the oracle is the
    * plain rollup). */
  def aggAqeCoalesce(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_errors"),
        count_distinct(col("user_id")).as("n_users"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))

  /** Flagship: TPC-H Q1-shaped scan→filter→hash-agg→sort. */
  def aggHash(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("2001-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val aggHashSql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 4) AS sum_qty,
      | round(sum(l_extendedprice), 4) AS sum_base_price,
      | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      | round(avg(l_quantity), 4) AS avg_qty,
      | round(avg(l_discount), 4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Keyless global aggregate — single partial-agg pass, 1-row shuffle. */
  def aggGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      round(sum(col("l_quantity")), 4).as("sum_qty"),
      round(min(col("l_extendedprice")), 4).as("min_price"),
      round(max(col("l_extendedprice")), 4).as("max_price"),
      count(lit(1)).as("n_rows"))

  /** Multiple DISTINCT aggregates → Catalyst Expand-based rewrite. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_linestatus"))

  /** HLL sketch cardinality — estimates differ across engines, so no
    * oracle; the rows-only check plus AggregatesSpec's relative-error
    * assertion cover it. At 100 TB this is THE cardinality operator:
    * fixed-size sketch per partition, merged at the driver. */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_nd_parts"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_nd_orders"))

  /** ROLLUP with grouping() markers; null keys sorted via grouping flags
    * (Spark NULLS FIRST vs DuckDB NULLS LAST would otherwise diverge). */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        col("g_flag"), col("g_status"),
        coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("status"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("g_flag"), col("g_status"), col("flag"), col("status"))

  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))
      .select(
        col("g_status"), col("g_prio"),
        coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
        coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("g_status"), col("g_prio"), col("status"), col("priority"))

  /** Explicit GROUPING SETS via the SQL path (SURVEY.md §3.2). */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("gs_lineitem")
    spark.sql(
      """SELECT
        |  grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
        |  coalesce(l_returnflag, '<all>') AS flag,
        |  coalesce(l_linestatus, '<all>') AS status,
        |  count(*) AS n_rows
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, flag, status""".stripMargin)
      .selectExpr("cast(g_flag as int) as g_flag",
        "cast(g_status as int) as g_status", "flag", "status", "n_rows")
  }

  /** Per-group arrays, order-stabilized (SURVEY.md §5.4.2), then joined to
    * a canonical comma string — the driver's hash compare cannot sort
    * array-typed columns, so the array surface is exercised but the output
    * column is a scalar. */
  def aggCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(concat_ws(",", array_sort(collect_set(col("l_quantity").cast("int"))))
        .as("qty_values"))
      .orderBy(col("l_returnflag"))

  /** Spark 4's `listagg … WITHIN GROUP (ORDER BY …)` — the ANSI ordered
    * string aggregation (vs agg_collect's collect+sort composition):
    * the ORDER BY rides INSIDE the aggregate, so the engine sorts each
    * group's values during aggregation instead of materializing an
    * array to post-sort — and the explicit order key is what makes a
    * string fold deterministic at all (an unordered listagg is
    * partition-order-dependent, useless under a hash gate). Order key
    * (c_acctbal desc, c_custkey) is total, so both engines emit the
    * identical byte string. */
  def aggListagg(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_la_cust")
    spark.sql(
      """SELECT c_mktsegment,
        |  listagg(cast(c_custkey as string), ',')
        |    WITHIN GROUP (ORDER BY c_acctbal DESC, c_custkey) AS top_keys,
        |  count(*) AS n
        |FROM (SELECT * FROM graft_la_cust WHERE c_acctbal > 9000)
        |GROUP BY c_mktsegment""".stripMargin)
  }

  /** Exact continuous percentiles (linear interpolation — same definition
    * as DuckDB quantile_cont), one scalar column per quantile so the gate
    * can hash them. approx_percentile is the 100 TB path but is
    * sketch-based → test-only, not oracle-checked. */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      // ONE array-percentile aggregate, not three scalar ones: the exact
      // percentile buffers/sorts the group once for all three quantiles
      // instead of once per quantile (3× the dominant cost); the array is
      // unpacked to scalar columns afterwards for the gate
      .agg(
        expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("ps"),
        count(lit(1)).as("n_rows"))
      .select(col("o_orderstatus"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        col("n_rows"))
      .orderBy(col("o_orderstatus"))

  /** Typed UDAF surface (§2.11): per-label element-wise mean of the
    * embedding vectors via a custom Aggregator, exploded to scalar rows
    * (label, dim_idx, mean_val) so the gate can hash the result. The
    * Aggregator's (sum-vector, count) buffer gives map-side partial
    * aggregation — one 64-double buffer per partition crosses the wire
    * per label, not the raw vectors. */
  def aggCustomTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecMean = udaf(graft.functions.VectorMean)
    Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(vecMean(col("embedding")).as("mean_vec"))
      .select(col("label"), posexplode(col("mean_vec")))
      .select(col("label"), (col("pos") + 1).as("dim_idx"),
        // + 0.0 canonicalizes IEEE -0.0 (a tiny negative mean rounds to
        // -0.0 in one engine and 0.0 in the other → hash mismatch)
        (round(col("col"), 4) + lit(0.0)).as("mean_val"))
  }

  /** Pivot: long→wide on a bounded value set (values pinned explicitly —
    * an unpinned pivot runs a distinct-collect job first, a silent extra
    * pass at scale). */
  def aggPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Unpivot: wide→long (melt) of three lineitem measures, then a
    * per-metric rollup — the inverse surface of pivot. */
  def aggUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
        col("l_tax"))
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .orderBy(col("metric"))

  /** Column summary statistics (the describe() surface, made exact and
    * oracle-checkable): count / mean / sample stddev / min / max. */
  def aggSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      count(col("o_totalprice")).as("n"),
      round(avg(col("o_totalprice")), 4).as("mean"),
      round(stddev(col("o_totalprice")), 4).as("sd"),
      round(min(col("o_totalprice")), 4).as("mn"),
      round(max(col("o_totalprice")), 4).as("mx"))

  /** Re-aggregatable sketch partials (Apache DataSketches HLL, built into
    * Spark 4): per-group `hll_sketch_agg` partials merged by
    * `hll_union_agg`, estimated once at the end. THE 100 TB pre-
    * aggregation pattern: a daily job materializes one tiny sketch per
    * (day, dimension) — re-aggregating a year of distinct counts then
    * merges 365 sketches instead of rescanning 100 TB of raw keys, and
    * sketches compose across any grouping rollup. No DuckDB twin
    * (different HLL implementation), so this is a rows-only gate entry;
    * the estimate-vs-exact bound is asserted in AggregatesSpec. */
  def aggSketchPartial(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_custkeys"))

  /** Bivariate statistics family: correlation, sample/population
    * covariance, and least-squares slope — all single-pass partial-
    * aggregatable moment sketches (Spark's CentralMomentAgg merges
    * per-partition moments, so the shuffle carries a constant-size
    * state per group at any scale). */
  def aggStatsCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("covar_s"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4)
          .as("covar_p"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
          .as("slope_price_per_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Deterministic mode: most frequent value per group with an explicit
    * lexicographic tie-break — built-in mode() breaks ties arbitrarily
    * on BOTH engines, so the portable form is count + argmax window,
    * which also partial-aggregates (count) before the tiny ranked set. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority").asc)
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n").as("mode_n"))
  }

  /** Exact equi-width histogram — the profiling primitive behind
    * optimizer statistics and data-quality dashboards. The bucket is the
    * same explicit floor-division on both engines (DuckDB has no
    * width_bucket; identical doubles → identical floor), counts exact,
    * out-of-range clamped to the edge buckets. */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(expr(
        "least(23, greatest(0, cast(floor(o_totalprice / 25000.0) as int)))")
        .as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 4).as("lo"),
        round(max(col("o_totalprice")), 4).as("hi"))

  /** Boolean aggregate family — every/any/some + count_if (the SQL-
    * standard data-quality fold: "do ALL rows satisfy the invariant,
    * does ANY row violate it, how many"): per order-status, universal
    * and existential quantifiers over line-level predicates plus the
    * matching exact counts to reconcile them. All four are plain
    * map-side-combinable aggregates (a boolean AND/OR partial per
    * partition — 1 byte of state), so the fold costs the same one
    * shuffle as a count at any scale. */
  def aggEveryAny(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_lines"),
        expr("every(l_quantity <= 50)").as("all_qty_bounded"),
        expr("any(l_discount >= 0.1)").as("some_deep_discount"),
        expr("some(l_returnflag = 'R')").as("some_returned"),
        expr("count_if(l_discount >= 0.1)").as("n_deep_discount"),
        expr("count_if(l_returnflag = 'R')").as("n_returned"))

  /** Spark 4 bitmap aggregates — EXACT distinct counting that stays
    * mergeable (the re-aggregatable rollup problem: a stored
    * count(DISTINCT) per partition cannot be summed, a stored BITMAP
    * can be OR-merged): per order status, keys bucket via
    * bitmap_bucket_number, each bucket folds its bit positions with
    * bitmap_construct_agg, and the distinct count is Σ bitmap_count —
    * reconciled in the same row against plain count(DISTINCT). The
    * bitmap column itself is the materializable artifact: a daily
    * rollup stores (status, bucket, bitmap) and answers any date-range
    * distinct query with bitmap_or_agg + bitmap_count, no re-scan.
    *
    * At-scale: the bucket fold is a map-side-combinable fixed 4 KB
    * buffer per (group, bucket); cardinality cost is O(buckets
    * touched), not O(values), and exactness survives merging — the
    * property approx sketches (agg_approx_distinct) trade away. */
  def aggBitmap(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_bm_orders")
    spark.sql(
      """WITH b AS (
        |  SELECT o_orderstatus,
        |    bitmap_bucket_number(o_custkey) AS bkt,
        |    bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
        |  FROM graft_bm_orders
        |  GROUP BY o_orderstatus, bitmap_bucket_number(o_custkey)),
        |e AS (
        |  SELECT o_orderstatus, count(DISTINCT o_custkey) AS nd
        |  FROM graft_bm_orders GROUP BY o_orderstatus)
        |SELECT b.o_orderstatus,
        |  CAST(sum(bitmap_count(bm)) AS BIGINT) AS ndv_bitmap,
        |  CAST(max(nd) AS BIGINT) AS ndv_exact,
        |  CAST(count(*) AS BIGINT) AS n_buckets
        |FROM b JOIN e USING (o_orderstatus)
        |GROUP BY b.o_orderstatus""".stripMargin)
  }

  /** Exact distinct-key INTERSECTION across segments via bitmap AND —
    * the audience-overlap primitive (customers active in BOTH order
    * statuses): each (segment, 32768-key bucket) folds to a 4 KB bitmap
    * partial with `bitmap_construct_agg` (map-side combinable, the same
    * anchoring as agg_bitmap), segments then equi-join on the bucket
    * number and intersect with the custom `bitmap_and` kernel (Spark
    * ships build/union/cardinality but no intersection — the half that
    * makes per-segment bitmaps USEFUL), and `bitmap_count` sums exact
    * overlap cardinalities. At 100 TB this replaces a count-distinct
    * self-join over raw keys (shuffle ∝ rows) with a bucket-aligned
    * join over fixed 4 KB partials (shuffle ∝ keyspace/32768 per
    * segment) — and the partials are reusable across every pair. HAVING
    * > 0 aligns with the oracle, which only emits pairs sharing ≥ 1
    * key (a shared bucket with disjoint bits is not an overlap). */
  def aggBitmapIntersect(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    Tables.orders(spark, dir).createOrReplaceTempView("graft_bi_orders")
    spark.sql(
      """WITH b AS (
        |  SELECT o_orderstatus AS st,
        |    bitmap_bucket_number(o_custkey) AS bkt,
        |    bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
        |  FROM graft_bi_orders
        |  GROUP BY o_orderstatus, bitmap_bucket_number(o_custkey))
        |SELECT x.st AS status_a, y.st AS status_b,
        |  CAST(sum(bitmap_count(bitmap_and(x.bm, y.bm))) AS BIGINT)
        |    AS n_overlap
        |FROM b x JOIN b y ON x.bkt = y.bkt AND x.st < y.st
        |GROUP BY x.st, y.st
        |HAVING sum(bitmap_count(bitmap_and(x.bm, y.bm))) > 0""".stripMargin)
  }

  /** Exact heavy hitters over an open vocabulary — the two-pass pattern
    * that finds every token with frequency ≥ total/K WITHOUT shuffling
    * the long tail: a full `GROUP BY tok` ships every distinct token
    * (at 100 TB: billions of singletons) across the wire to count items
    * that mostly lose; here pass 1 runs a bounded Misra-Gries summary
    * (2K counters) inside each partition and emits only its surviving
    * candidates, and pass 2 recounts exactly — restricted to the
    * broadcast candidate set, so only candidate tokens shuffle.
    *
    * The output is EXACT (hash-checkable against the naive oracle), not
    * approximate, because the candidate pass is a guaranteed superset:
    * if C(x) ≥ N/K then some partition p has c_p(x)/n_p ≥ C(x)/N ≥ 1/K
    * (the maximum ratio is ≥ the weighted mean), and Misra-Gries with
    * m = 2K counters retains every item with local frequency
    * > n_p/(m+1) = n_p/(2K+1) < n_p/K — so x survives in p regardless
    * of how the data is partitioned. Candidate-set CONTENT varies with
    * partitioning; the final filtered output does not.
    *
    * Per-partition state is ≤ 2K map entries (constant in corpus size);
    * the decrement sweep amortizes O(1) per input token (each sweep
    * removes ≥1 entry and entries enter with count 1). mapPartitions is
    * the honest mechanism here — the whole point is imperative bounded
    * state that a declarative groupBy cannot express. */
  private val HhK = 200

  def aggHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')"))
        .as("tok"))
    heavyHitters(toks, HhK)
  }

  /** Core two-pass heavy hitters over a single-column `tok` frame;
    * factored so the spec can assert partitioning-invariance (the
    * superset guarantee) under adversarial repartitionings. */
  private[graft] def heavyHitters(toks: DataFrame, k: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val m = 2 * k
    // Pass 1: per-partition Misra-Gries candidates, plus one sentinel
    // row per partition carrying its token count (so the global total
    // rides the same scan instead of paying a second pass).
    val pass1 = toks.as[String].mapPartitions { it =>
      val counts = new java.util.HashMap[String, java.lang.Long](m * 2)
      var n = 0L
      it.foreach { t =>
        n += 1
        val c = counts.get(t)
        if (c ne null) counts.put(t, c + 1L)
        else if (counts.size < m) counts.put(t, 1L)
        else { // decrement-all sweep; the new item is not inserted
          val iter = counts.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            if (e.getValue == 1L) iter.remove()
            else e.setValue(e.getValue - 1)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      counts.keySet().forEach(k => out += ((k, -1L)))
      out += ((null, n))
      out.iterator
    }.toDF("tok", "n")
    // one scan feeds both readers; blocks freed at the harness safe point
    val cached = MemoUtil.scratch(pass1.localCheckpoint())
    val total = cached.where(col("tok").isNull)
      .agg(sum(col("n")).as("total"))
    val cands = cached.where(col("tok").isNotNull)
      .select(col("tok")).distinct()
    val out = toks.join(broadcast(cands), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .where(col("cnt") * k >= col("total"))
      .select(col("tok"), col("cnt"), col("total"))
      .orderBy(col("cnt").desc, col("tok"))
    out
  }

  /** Count-Min sketch point-frequency estimates — the MERGEABLE
    * frequency summary that answers "how often does token x occur"
    * without ever materializing the vocabulary: d=4 hash rows × w=1024
    * buckets, each occurrence increments one bucket per row, and a
    * point estimate is the MIN over its d buckets (always ≥ the true
    * count; over by at most N/w in expectation per row, and the min
    * drives the slack down). The sketch build is ONE scan folding into
    * a ≤ d·w-cell aggregate — map-side combinable, constant-size
    * partials that merge associatively across partitions, shards, or
    * streaming micro-batches, which is why CMS is the standard
    * distributed-frequency structure at 100 TB (the exact twin
    * `agg_heavy_hitters` shuffles candidate tokens; this shuffles
    * NOTHING but 4096 cells).
    *
    * Hashes are the repo's cross-engine poly-31 char fold (the
    * llm_fingerprint contract, code-point-wise in both engines) pushed
    * through d fixed affine maps mod P — fully deterministic integer
    * arithmetic, so the DuckDB oracle replays the sketch EXACTLY and the
    * driver hash-checks estimates, not just shapes. Probes here are the
    * exact top-20 tokens (computed only to VERIFY the overestimate
    * invariant; production probes a given dictionary against the
    * broadcast cells). a_j·h < 9.3e8·1e9 < 2⁶³ — no overflow. The
    * per-occurrence char fold is an interpreted HOF: per-token cost is
    * O(len) on a scan-bound map (a native kernel like poly_shingles is
    * the upgrade path if this ever dominates a profile). */
  private val CmsP = 1000000007L
  private val CmsW = 1024L
  private val CmsA = Seq(920419823L, 658812311L, 500000003L, 193877777L)
  private val CmsB = Seq(7L, 13L, 31L, 71L)

  def aggCmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val polyFold =
      "aggregate(split(tok, ''), 0L, (h, c) -> (h * 31 + ascii(c)) % 1000000007)"
    def buckets = array(CmsA.indices.map(j =>
      ((col("h") * lit(CmsA(j)) + lit(CmsB(j))) % lit(CmsP)) % lit(CmsW)): _*)
    val toks = Tables.documents(spark, dir)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')"))
        .as("tok"))
    val hashed = toks.withColumn("h", expr(polyFold))
    val cells = hashed
      .select(posexplode(buckets).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("c"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    exact.withColumn("h", expr(polyFold))
      .select(col("tok"), col("exact_cnt"),
        posexplode(buckets).as(Seq("j", "bucket")))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("c")).as("est_cnt"))
  }

  /** EXACT distributed quantiles by two-phase bucket refinement — the
    * shape that survives 100 TB where the single-pass `percentile()`
    * (agg_percentile) does not: that builtin buffers EVERY value in one
    * aggregation state, so its memory is O(N) on the final reducer;
    * here pass 1 folds the corpus into a 1024-bucket histogram
    * (map-side combinable, fixed size), the driver locates the bucket
    * holding each target rank from the ≤1024-row histogram (bounded
    * collect — the K-row-centroid precedent) plus the 1-row
    * (count, min, max) stats, and pass 2 sorts ONLY inside the target
    * bucket (~N/1024 rows) via TakeOrdered to extract the exact order
    * statistic. Rank convention: k(q) = ceil(q·n) (1-based — the smallest
    * v with cume_dist(v) ≥ q) ≡ DuckDB's quantile_disc, so the oracle
    * is one builtin call while
    * the engine side proves the scalable plan. Production note: a
    * bucket still too large to TakeOrdered re-buckets recursively —
    * one extra round per 1024× reduction. Equal values across the
    * bucket boundary are fine: ranks count VALUES, and the kth value
    * is unique regardless of tie order. */
  def aggQuantileBucketed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("v"))
    val Array(stats) = v.agg(count(lit(1)), min(col("v")), max(col("v")))
      .collect()
    val (n, lo, hi) = (stats.getLong(0), stats.getDouble(1), stats.getDouble(2))
    val width = (hi - lo) / 1024.0
    val bucketCol = least(floor((col("v") - lit(lo)) / lit(width)), lit(1023L))
      .cast("long")
    val hist = v.groupBy(bucketCol.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val cum = hist.scanLeft((-1L, 0L)) { case ((_, acc), (b, c)) => (b, acc + c) }
      .drop(1)
    // rank k(q) = ceil(q·n), 1-based — DuckDB quantile_disc's rule (the
    // smallest v with cume_dist(v) ≥ q), in exact integer arithmetic
    // (q = q10/10; float ceil near .5 boundaries would misround).
    // floor(q·(n−1))+1 coincides at the median but sits one rank LOW at
    // p90 whenever ⌈9n/10⌉ ≠ ⌊9(n−1)/10⌋+1 — masked on this column by
    // boundary duplicates, caught by the grouped op's oracle (r12)
    def kth(q10: Long): Double = {
      val k = (q10 * n + 9) / 10
      val (tb, _) = cum.find(_._2 >= k).get
      val before = cum.takeWhile(_._1 < tb).lastOption.map(_._2).getOrElse(0L)
      val r = (k - before).toInt
      v.where(bucketCol === tb).orderBy(col("v")).limit(r)
        .orderBy(col("v").desc).limit(1).as[Double].head()
    }
    Seq((n, kth(5), kth(9)))
      .toDF("n_rows", "median", "p90")
  }

  /** GROUPED exact quantiles — agg_quantile_bucketed per group, in the
    * shape that stays one distributed job when groups are many: pass 0/1
    * collect the per-group (count, min, max) and the per-group
    * 1024-cell histograms (bounded: \|groups\|·1024 rows — planner
    * metadata, same class as the global op's histogram); the driver
    * locates each (group, q) target bucket and in-bucket rank, then
    * pass 2 broadcasts that 2·\|groups\|-row target table and extracts
    * ALL order statistics in ONE pass: rows filter to their group's
    * target bucket (~n_g/1024 rows each), rank inside the (group, q)
    * window partition, keep rank == r. No per-group driver loop — the
    * per-group work is a keyed window over bucket-sized slices, so
    * 10⁶ groups cost the same two scans + one slice pass as 3 groups.
    * Rank k = ceil(q·n) per group (cume_dist rule) ≡ DuckDB
    * quantile_disc. */
  def aggQuantileGrouped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    val stats = v.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
    val withB = v.join(broadcast(stats), "g")
      .withColumn("b", least(floor((col("v") - col("lo"))
        / ((col("hi") - col("lo")) / 1024.0)), lit(1023L)).cast("long"))
      .select(col("g"), col("v"), col("b"))
    val hist = withB.groupBy(col("g"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val ns = stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = (for {
      (g, cells) <- hist.toSeq
      cum = cells.scanLeft((-1L, 0L)) { case ((_, a), (b, c)) => (b, a + c) }.drop(1)
      q <- Seq(50, 90)
    } yield {
      val n = ns(g)
      val k = (q * n + 99) / 100 // ceil(q·n/100): quantile_disc's rank
      val (tb, _) = cum.find(_._2 >= k).get
      val before = cum.takeWhile(_._1 < tb).lastOption.map(_._2).getOrElse(0L)
      (g, q, tb, (k - before), n)
    }).toDF("g", "q_pct", "tb", "r", "n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"), col("q_pct")).orderBy(col("v"))
    withB.join(broadcast(targets), Seq("g"))
      .where(col("b") === col("tb"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === col("r"))
      .select(col("g").as("l_returnflag"), col("q_pct"), col("n"),
        col("v").as("quantile"))
  }

  /** Exact EQUI-DEPTH histogram — the CBO statistics artifact beside
    * the equi-width one (agg_histogram): equal ROW mass per bucket, so
    * selectivity estimates stay accurate on skewed columns where
    * equi-width piles everything into a few cells (the reason
    * warehouse ANALYZE writes equi-depth). B = 8 boundaries at ranks
    * ⌈i·n/8⌉ (the cume_dist rule shared with the quantile ops — and
    * since 8 is a power of two, i·n/8 is exact in a double, so DuckDB's
    * float quantile_disc rank agrees with this exact-integer k at any
    * n). Extraction generalizes agg_quantile_bucketed: one 1024-cell
    * histogram (bounded planner metadata), then ALL 7 order statistics
    * in ONE keyed-window pass over the broadcast (i, bucket, in-bucket
    * rank) target table — never a per-quantile job. Rows then bucket by
    * "count of boundaries strictly below v" against the broadcast
    * 7-value array (ties sit with their boundary's bucket, so duplicate-
    * heavy columns legitimately produce uneven depths — the readout a
    * CBO wants, not a bug) and ONE map-side-combined aggregate emits
    * (bucket, n, lo, hi). Three scans total at any N. */
  def aggHistogramEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("v"))
    val Array(stats) = v.agg(count(lit(1)), min(col("v")), max(col("v")))
      .collect()
    val (n, lo, hi) = (stats.getLong(0), stats.getDouble(1), stats.getDouble(2))
    val width = (hi - lo) / 1024.0
    val bucketCol = least(floor((col("v") - lit(lo)) / lit(width)), lit(1023L))
      .cast("long")
    val hist = v.groupBy(bucketCol.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val cum = hist.scanLeft((-1L, 0L)) { case ((_, acc), (b, c)) => (b, acc + c) }
      .drop(1)
    import spark.implicits._
    val targets = (1 to 7).map { i =>
      val k = (i.toLong * n + 7) / 8 // ceil(i·n/8), 1-based rank
      val (tb, _) = cum.find(_._2 >= k).get
      val before = cum.takeWhile(_._1 < tb).lastOption.map(_._2).getOrElse(0L)
      (i, tb, k - before)
    }.toDF("i", "tb", "r")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i")).orderBy(col("v"))
    val bounds = v.withColumn("b", bucketCol)
      .join(broadcast(targets), col("b") === col("tb"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === col("r"))
      .select(col("i"), col("v"))
      .groupBy().agg(expr("array_sort(collect_list(struct(i, v)))").as("bs"))
    v.crossJoin(broadcast(bounds))
      .select(expr(
        "aggregate(bs, 0, (acc, b) -> acc + IF(b.v < v, 1, 0))").as("bucket"),
        col("v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 4).as("lo"), round(max(col("v")), 4).as("hi"))
  }

  // ── agg_sample_block ────────────────────────────────────────────────

  /** Approximate query processing by DETERMINISTIC hash-stratum
    * sampling — the 1/8 stratum `l_orderkey % 8 = 3` stands in for
    * TABLESAMPLE with a sample the oracle can replay bit-for-bit (no
    * RNG): per group, the scaled estimates (×8) beside the exact
    * values, with the estimation error measured in exact basis points —
    * the number an AQP dashboard quotes next to every approximate
    * answer. Sums stay exact (l_quantity is integral-valued; counts are
    * integers), so est, exact, and err_bp are all integer arithmetic.
    * At 100 TB the stratum is physical: a table bucketed by the key
    * hash serves `key % 8 = 3` from 1/8 of its buckets' files, so the
    * estimate costs 1/8 of the scan — on the flat fixture the filter
    * reads everything (results identical, the layout only changes I/O).
    * The exact side exists to MEASURE the error; a production AQP
    * query runs only the sample side. */
  def aggSampleBlock(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"),
        sum(col("l_quantity")).cast("bigint").as("qty_exact"))
    val est = li.where(col("l_orderkey") % 8 === 3)
      .groupBy(col("l_returnflag"))
      .agg((count(lit(1)) * 8).as("n_est"),
        (sum(col("l_quantity")).cast("bigint") * 8).as("qty_est"))
    exact.join(est, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"), col("n_est"),
        expr("abs(n_est - n_exact) * 10000L div n_exact").as("n_err_bp"),
        col("qty_exact"), col("qty_est"),
        expr("abs(qty_est - qty_exact) * 10000L div qty_exact")
          .as("qty_err_bp"))
  }

  // ── agg_mv_stale_compensate ─────────────────────────────────────────

  /** The FRESHNESS half of the MV story (agg_mv_autorewrite's rewrite
    * assumes the MV is current; real MVs lag): answer the CURRENT
    * rollup from a STALE MV plus a delta compensation — the lambda-MV
    * read path every warehouse serves between refreshes. The staged MV
    * snapshots the first 80 % of lineitem by orderkey (high-water mark
    * = max(l_orderkey)·4 div 5, a 1-row planner aggregate); the
    * registered read merges the 6-row MV with an aggregate over ONLY
    * the delta (keys ≥ HW — a pushed scan filter, so at 100 TB the
    * query touches 20 % of the corpus however stale the view, and a
    * nightly refresh shrinks that to the day's ingest). Exact by the
    * same decomposability as the rewrite: sum of partials, sum of
    * counts. AggregatesSpec asserts the delta scan's pushed filter and
    * full-table equality; the oracle is the plain full-table rollup. */
  def aggMvStaleCompensate(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val hw = li.agg(expr("max(l_orderkey) * 4 div 5")).head.getLong(0)
    val mv = Tables.read(spark, StageUtil.staged("mv_stale", dir) { mvDir =>
      li.where(col("l_orderkey") < hw)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("mv_sum_qty"),
          count(lit(1)).as("mv_cnt"))
        .coalesce(1)
        .write.mode("overwrite").parquet(mvDir)
    })
    val delta = li.where(col("l_orderkey") >= hw)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("mv_sum_qty"),
        count(lit(1)).as("mv_cnt"))
    mv.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("mv_sum_qty")), 4).as("sum_qty"),
        sum(col("mv_cnt")).cast("bigint").as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // ── agg_mv_autorewrite ──────────────────────────────────────────────

  /** Staged materialized view: lineitem pre-aggregated by
    * (l_returnflag, l_linestatus, l_linenumber) — 3·2·7 = 42 rows at any
    * SF — carrying the decomposable partials (sum/min/max of l_quantity
    * plus the group count). */
  private[graft] def stagedMvDir(s: SparkSession, d: String): String =
    StageUtil.staged("mv_li", d) { dir =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_linenumber"))
        .agg(sum(col("l_quantity")).as("mv_sum_qty"),
          min(col("l_quantity")).as("mv_min_qty"),
          max(col("l_quantity")).as("mv_max_qty"),
          count(lit(1)).as("mv_cnt"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }

  /** The NAIVE rollup aggregate — a plain groupBy over the base table,
    * exactly what a user writes with no idea an MV exists — rescued by
    * [[graft.plans.MvRollupRewrite]] onto the 42-row staged MV: the
    * rewrite re-aggregates partials (sum of sums, sum of counts, min of
    * mins, max of maxs) over the residual key, so the base table is
    * never scanned. EXACT here by more than the rollup identity:
    * l_quantity is integral-valued, so double sums re-associate without
    * drift (the oracle replays the plain aggregate on the raw fixture).
    * Runs on a derived session so the opt-in flag and MV registration
    * never leak to other ops. At 100 TB this is the difference between
    * a corpus scan and a metadata read — the rewrite that makes BI-style
    * dashboards affordable over the raw fact table. CustomSurfaceSpec
    * asserts the rewritten plan's only file scan IS the MV, that a
    * filtered or avg-bearing query is NOT rewritten, and idempotence. */
  def aggMvAutorewrite(s0: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRollupRewrite
    val mv = stagedMvDir(s0, d)
    val s = GraftSession.derived(s0, GraftSession.partitionsOf(s0),
      MvRollupRewrite.Flag -> "true",
      MvRollupRewrite.PathConf -> mv,
      MvRollupRewrite.BaseConf -> "/lineitem.parquet",
      MvRollupRewrite.KeysConf -> "l_returnflag,l_linestatus,l_linenumber",
      MvRollupRewrite.MeasuresConf -> ("sum:l_quantity=mv_sum_qty," +
        "min:l_quantity=mv_min_qty,max:l_quantity=mv_max_qty,count=mv_cnt"))
    graft.GraftExtensions.installOptimizations(s)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        round(min(col("l_quantity")), 4).as("min_qty"),
        round(max(col("l_quantity")), 4).as("max_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_mv_autorewrite" -> aggMvAutorewrite _,
    "agg_mv_stale_compensate" -> aggMvStaleCompensate _,
    "agg_sample_block" -> aggSampleBlock _,
    "agg_histogram_equidepth" -> aggHistogramEquidepth _,
    "agg_quantile_grouped" -> aggQuantileGrouped _,
    "agg_bitmap_intersect" -> aggBitmapIntersect _,
    "agg_quantile_bucketed" -> aggQuantileBucketed _,
    "agg_cms_freq" -> aggCmsFreq _,
    "agg_heavy_hitters" -> aggHeavyHitters _,
    "agg_bitmap" -> aggBitmap _,
    "agg_every_any" -> aggEveryAny _,
    "agg_histogram" -> aggHistogram _,
    "agg_mode" -> aggMode _,
    "agg_stats_corr" -> aggStatsCorr _,
    "agg_sketch_partial" -> aggSketchPartial _,
    "agg_listagg" -> aggListagg _,
    "agg_pivot" -> aggPivot _,
    "agg_unpivot" -> aggUnpivot _,
    "agg_summary" -> aggSummary _,
    "agg_custom_typed" -> aggCustomTyped _,
    "agg_hash" -> aggHash _,
    "agg_aqe_coalesce" -> aggAqeCoalesce _,
    "agg_global" -> aggGlobal _,
    "agg_distinct" -> aggDistinct _,
    "agg_approx_distinct" -> aggApproxDistinct _,
    "agg_rollup" -> aggRollup _,
    "agg_cube" -> aggCube _,
    "agg_grouping_sets" -> aggGroupingSets _,
    "agg_collect" -> aggCollect _,
    "agg_percentile" -> aggPercentile _
  )

  def oracle: Map[String, String] = Map(
    // the MV rewrite changes plan shape, never results: the oracle is
    // the plain rollup aggregate on the raw fixture
    "agg_mv_autorewrite" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | count(*) AS n_rows,
        | round(min(l_quantity), 4) AS min_qty,
        | round(max(l_quantity), 4) AS max_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // staleness compensation changes what is scanned, never results
    "agg_mv_stale_compensate" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the deterministic stratum replays exactly — no RNG anywhere
    "agg_sample_block" ->
      """WITH exact AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty_exact
        |  FROM lineitem GROUP BY 1),
        |est AS (
        |  SELECT l_returnflag, CAST(count(*) * 8 AS BIGINT) AS n_est,
        |    CAST(sum(l_quantity) * 8 AS BIGINT) AS qty_est
        |  FROM lineitem WHERE l_orderkey % 8 = 3 GROUP BY 1)
        |SELECT e.l_returnflag, e.n_exact, s.n_est,
        |  CAST(abs(s.n_est - e.n_exact) * 10000 // e.n_exact AS BIGINT)
        |    AS n_err_bp,
        |  e.qty_exact, s.qty_est,
        |  CAST(abs(s.qty_est - e.qty_exact) * 10000 // e.qty_exact
        |    AS BIGINT) AS qty_err_bp
        |FROM exact e JOIN est s USING (l_returnflag)""".stripMargin,
    // per-group quantile_disc: same rank convention as the global op
    "agg_quantile_grouped" ->
      """SELECT l_returnflag, 50 AS q_pct,
        |  CAST(count(*) AS BIGINT) AS n,
        |  quantile_disc(l_extendedprice, 0.5) AS quantile
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 90 AS q_pct,
        |  CAST(count(*) AS BIGINT) AS n,
        |  quantile_disc(l_extendedprice, 0.9) AS quantile
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // equi-depth boundaries = quantile_disc at i/8 (power-of-two q:
    // i·n/8 is exact in a double, so the float rank ≡ the exact-integer
    // ceil); bucket = count of boundaries strictly below v
    "agg_histogram_equidepth" ->
      """WITH v AS (SELECT l_extendedprice AS v FROM lineitem),
        |b AS (SELECT quantile_disc(v,
        |  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs FROM v)
        |SELECT len(list_filter(b.bs, x -> x < v.v)) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(v.v), 4) AS lo, round(max(v.v), 4) AS hi
        |FROM v, b GROUP BY 1""".stripMargin,
    // k(q) = ceil(q·n) is exactly quantile_disc's rank
    "agg_quantile_bucketed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  quantile_disc(l_extendedprice, 0.5) AS median,
        |  quantile_disc(l_extendedprice, 0.9) AS p90
        |FROM lineitem""".stripMargin,
    // bitmap AND == exact distinct intersection by construction
    "agg_bitmap_intersect" ->
      """WITH d AS (
        |  SELECT DISTINCT o_orderstatus AS st, o_custkey AS k FROM orders)
        |SELECT a.st AS status_a, b.st AS status_b,
        |  CAST(count(*) AS BIGINT) AS n_overlap
        |FROM d a JOIN d b ON a.k = b.k AND a.st < b.st
        |GROUP BY a.st, b.st""".stripMargin,
    // exact sketch replay: identical poly-31 fold + affine bucket maps,
    // so estimates (not just shapes) hash-match across engines
    "agg_cms_freq" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT tok FROM tk WHERE tok != ''),
        |hv AS (
        |  SELECT tok, list_reduce(list_prepend(0::BIGINT,
        |      [ascii(c)::BIGINT for c in string_split(tok, '')]),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS h
        |  FROM t),
        |cells AS (
        |  SELECT j,
        |    (([920419823,658812311,500000003,193877777][j+1]::BIGINT * h
        |      + [7,13,31,71][j+1]::BIGINT) % 1000000007) % 1024 AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM hv, (SELECT unnest([0,1,2,3]) AS j) js
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM t GROUP BY tok
        |  ORDER BY exact_cnt DESC, tok LIMIT 20),
        |eh AS (
        |  SELECT tok, exact_cnt, list_reduce(list_prepend(0::BIGINT,
        |      [ascii(c)::BIGINT for c in string_split(tok, '')]),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS h
        |  FROM ex),
        |pe AS (
        |  SELECT tok, exact_cnt, j,
        |    (([920419823,658812311,500000003,193877777][j+1]::BIGINT * h
        |      + [7,13,31,71][j+1]::BIGINT) % 1000000007) % 1024 AS bucket
        |  FROM eh, (SELECT unnest([0,1,2,3]) AS j) js)
        |SELECT pe.tok, pe.exact_cnt, CAST(min(cells.c) AS BIGINT) AS est_cnt
        |FROM pe JOIN cells ON cells.j = pe.j AND cells.bucket = pe.bucket
        |GROUP BY pe.tok, pe.exact_cnt""".stripMargin,
    // the naive exact formulation — our two-pass plan must equal it
    // because the Misra-Gries candidate pass is a guaranteed superset
    "agg_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT tok FROM tk WHERE tok != ''),
        |n AS (SELECT count(*) AS total FROM t),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
        |SELECT c.tok, c.cnt, n.total FROM c CROSS JOIN n
        |WHERE c.cnt * 200 >= n.total
        |ORDER BY cnt DESC, tok ASC""".stripMargin,
    // bitmap distinct == exact distinct by construction; bucket count =
    // Spark buckets
    // positives as (k-1) div 32768 + 1 and non-positives as k div 32768
    // (key 0 gets its own bucket 0 — the fixture has custkey 0).
    // Non-positive branch spelled -((-k) // 32768): Spark's
    // bitmap_bucket_number uses Java long division (trunc toward zero)
    // while DuckDB '//' FLOORS — they diverge for negative keys (-5:
    // Spark 0, floor -1); negating into the non-negative domain makes
    // floor ≡ trunc, so the replay holds for any key sign (ADVICE r10)
    "agg_bitmap" ->
      """SELECT o_orderstatus,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_bitmap,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
        |  CAST(count(DISTINCT CASE WHEN o_custkey > 0
        |    THEN (o_custkey - 1) // 32768 + 1
        |    ELSE -((-o_custkey) // 32768) END) AS BIGINT) AS n_buckets
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // DuckDB's quantifier spellings: bool_and / bool_or; count(*) FILTER
    "agg_every_any" ->
      """SELECT o_orderstatus,
        |  count(*) AS n_lines,
        |  bool_and(l_quantity <= 50) AS all_qty_bounded,
        |  bool_or(l_discount >= 0.1) AS some_deep_discount,
        |  bool_or(l_returnflag = 'R') AS some_returned,
        |  CAST(count(*) FILTER (WHERE l_discount >= 0.1) AS BIGINT)
        |    AS n_deep_discount,
        |  CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
        |    AS n_returned
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "agg_histogram" ->
      """SELECT least(23, greatest(0,
        |         CAST(floor(o_totalprice / 25000.0) AS INT))) AS bucket,
        | count(*) AS n,
        | round(min(o_totalprice), 4) AS lo,
        | round(max(o_totalprice), 4) AS hi
        |FROM orders GROUP BY 1""".stripMargin,
    "agg_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_n
        |FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY count(*) DESC, o_orderpriority ASC)
        |      AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rn = 1""".stripMargin,
    "agg_stats_corr" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
        | round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
        | round(regr_slope(l_extendedprice, l_quantity), 4)
        |   AS slope_price_per_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_unpivot" ->
      """SELECT metric, count(*) AS n, round(sum(value), 4) AS total
        |FROM (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY metric ORDER BY metric""".stripMargin,
    "agg_summary" ->
      """SELECT count(o_totalprice) AS n,
        | round(avg(o_totalprice), 4) AS mean,
        | round(stddev(o_totalprice), 4) AS sd,
        | round(min(o_totalprice), 4) AS mn,
        | round(max(o_totalprice), 4) AS mx
        |FROM orders""".stripMargin,
    "agg_custom_typed" ->
      """SELECT label, i AS dim_idx,
        | round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 4) + 0.0 AS mean_val
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i""".stripMargin,
    "agg_hash" -> aggHashSql,
    // coalescing changes reducer COUNT, never rows: the plain rollup
    "agg_aqe_coalesce" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hr,
        |  CAST(count(*) AS BIGINT) AS n_errors,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'error'
        |GROUP BY 1""".stripMargin,
    "agg_global" ->
      """SELECT round(sum(l_quantity), 4) AS sum_qty,
        | round(min(l_extendedprice), 4) AS min_price,
        | round(max(l_extendedprice), 4) AS max_price,
        | count(*) AS n_rows
        |FROM lineitem""".stripMargin,
    "agg_distinct" ->
      """SELECT l_linestatus,
        | count(DISTINCT l_partkey) AS nd_parts,
        | count(DISTINCT l_suppkey) AS nd_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    // agg_approx_distinct: intentionally no oracle (different sketches)
    "agg_rollup" ->
      """SELECT CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |       CAST(grouping(l_linestatus) AS INT) AS g_status,
        |       coalesce(l_returnflag, '<all>') AS flag,
        |       coalesce(l_linestatus, '<all>') AS status,
        |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,
    "agg_cube" ->
      """SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       coalesce(o_orderstatus, '<all>') AS status,
        |       coalesce(o_orderpriority, '<all>') AS priority,
        |       count(*) AS n_orders, round(sum(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, status, priority""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |       CAST(grouping(l_linestatus) AS INT) AS g_status,
        |       coalesce(l_returnflag, '<all>') AS flag,
        |       coalesce(l_linestatus, '<all>') AS status,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,
    "agg_listagg" ->
      """SELECT c_mktsegment,
        |  string_agg(CAST(c_custkey AS VARCHAR), ','
        |    ORDER BY c_acctbal DESC, c_custkey) AS top_keys,
        |  count(*) AS n
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY c_mktsegment""".stripMargin,
    "agg_collect" ->
      """SELECT l_returnflag,
        | array_to_string(list_sort(list(DISTINCT CAST(l_quantity AS INT))), ',')
        |   AS qty_values
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        | count(*) AS n_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
