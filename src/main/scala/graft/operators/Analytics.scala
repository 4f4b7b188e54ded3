package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-analytics composites over the `events` stream table: time-series
  * gap-filling and ordered funnel analysis — the queries a product-
  * analytics user of the reference's stream domain runs against the
  * materialized event log.
  *
  * At-scale notes: both operators aggregate FIRST (events → per-hour /
  * per-user partials via map-side combine) and only then run the
  * row-multiplying or window step on the collapsed result — the spine
  * explode and the funnel joins touch thousands of rows where the raw
  * log has billions. Neither ever windows over raw events.
  */
object Analytics extends OpModule {

  /** Hourly resample with gap-filling: build the complete hour spine per
    * event_type (sequence between that type's min/max hour), left-join
    * the observed hourly aggregates, zero-fill counts, and forward-fill
    * the running sum_value through gaps (last non-null over an ordered
    * window). The window partitions by event_type over ~720 hour rows
    * per type — never over raw events. */
  def tsGapfill(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("value")), 4) + lit(0.0)).as("sum_v"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        col("n").isNull.as("is_gap"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("sum_v"), ignoreNulls = true).over(w).as("sum_v_ff"))
  }

  /** Ordered funnel: signup → first click AFTER the signup → first
    * purchase AFTER that click, per user; output is the classic
    * reached-stage count + conversion rate + mean milliseconds from
    * signup to purchase for full converters. Each stage is an
    * aggregate-then-join on user_id (broadcastable partials), never a
    * per-event window. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.where(col("event_type") === "click")
      .join(s1, "user_id").where(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.where(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val base = s1
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n1"),
        count(col("t2")).as("n2"),
        count(col("t3")).as("n3"),
        round(avg(unix_millis(col("t3")) - unix_millis(col("t1"))), 4)
          .as("avg_ms"))
    base.select(explode(array(
      struct(lit(1).as("stage"), col("n1").as("n_users"),
        lit(1.0).as("rate"), lit(null).cast("double").as("avg_ms_to_convert")),
      struct(lit(2).as("stage"), col("n2").as("n_users"),
        round(col("n2") / col("n1"), 4).as("rate"),
        lit(null).cast("double").as("avg_ms_to_convert")),
      struct(lit(3).as("stage"), col("n3").as("n_users"),
        round(col("n3") / col("n1"), 4).as("rate"),
        col("avg_ms").as("avg_ms_to_convert")))).as("f"))
      .select(col("f.stage"), col("f.n_users"), col("f.rate"),
        col("f.avg_ms_to_convert"))
  }

  /** SCD-1 MERGE (upsert) expressed as a full-outer join + coalesce: the
    * update set wins where matched, inserts append, untouched base rows
    * pass through — with a per-row action tag for audit. The update set
    * here is derived deterministically from the base (every 10th order
    * re-priced +5%, plus synthetic inserts above the key space); prices
    * move through exact integer cents (round(x·100)·105/10000) so both
    * engines compute bit-identical doubles with no .xx5 rounding edge.
    * At 100 TB the merge shuffles both sides on the key once — or reuses
    * a bucketed base layout (join_bucketed) to avoid shuffling the big
    * side entirely; MERGE INTO on a table format is this exact plan. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val repriced = base.where(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (round(col("o_totalprice") * 100, 0).cast("long") * 105 / lit(10000.0))
          .as("o_totalprice"))
    val inserts = s.range(1, 6)
      .select((col("id") + 2000000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), lit(42.0).as("o_totalprice"))
    val updates = repriced.union(inserts)
    base.as("b").join(updates.as("u"), Seq("o_orderkey"), "full_outer")
      .select(
        col("o_orderkey"),
        coalesce(col("u.o_orderstatus"), col("b.o_orderstatus")).as("status"),
        coalesce(col("u.o_totalprice"), col("b.o_totalprice")).as("price"),
        when(col("u.o_orderstatus").isNull, "kept")
          .when(col("b.o_orderstatus").isNull, "inserted")
          .otherwise("updated").as("action"))
  }

  /** Weekly retention cohorts: users grouped by signup week, activity
    * counted per week offset; output is the cohort triangle (cohort,
    * offset, active users, retention rate). Week arithmetic stays in
    * exact integer seconds (ISO-Monday truncation on both engines, UTC —
    * offsets are exact multiples of 604800). Both sides of the join are
    * per-(user, week) DISTINCT aggregates, so the join input is already
    * collapsed — at 100 TB the event log never joins raw. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cohorts = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cw"))
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    val sizes = cohorts.groupBy(col("cw")).agg(count(lit(1)).as("cohort_n"))
    cohorts.join(activity, "user_id")
      .where(col("aw") >= col("cw"))
      .withColumn("week_offset", expr(
        "cast((unix_timestamp(aw) - unix_timestamp(cw)) / 604800 as bigint)"))
      .groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cw")
      .select(col("cw").as("cohort_week"), col("week_offset"),
        col("n_active"),
        round(col("n_active") / col("cohort_n"), 4).as("retention"))
  }

  /** SCD-2 dimension build: each customer's order history becomes a
    * versioned dimension — one row per version with [valid_from,
    * valid_to) effective range, derived purely from lead() over the
    * change stream (no self-join). valid_to stays NULL on the open
    * version rather than a 9999 sentinel: the flag is `is_current` and a
    * NULL literal cannot drift between engines. Scale: one window pass
    * partitioned by the dimension key — the 100 TB pattern is identical,
    * and the output persists bucketed by o_custkey so as-of probes join
    * shuffle-free. */
  def dimScd2(s: SparkSession, d: String): DataFrame =
    scd2Build(Tables.orders(s, d))

  /** The SCD-2 window build over a change stream carrying (o_custkey,
    * o_orderkey, o_totalprice, o_orderdate) — shared by the from-scratch
    * dim_scd2 and the incremental path, so their equality is equality of
    * INPUTS, not of two window implementations. */
  private def scd2Build(rows: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    rows.select(
      col("o_custkey"),
      row_number().over(w).as("version"),
      col("o_orderkey"),
      col("o_totalprice").as("attr_price"),
      col("o_orderdate").as("valid_from"),
      lead(col("o_orderdate"), 1).over(w).as("valid_to"),
      lead(col("o_orderdate"), 1).over(w).isNull.as("is_current"))
  }

  /** Incremental SCD-2 maintenance — the production shape of dim_scd2.
    * A STAGED snapshot of the built dimension covers every change row
    * before a high-water mark (last observed day − 90 days, written once
    * per orders-table version, the stagedMv economics); the registered
    * query ingests only the delta slice. Customers untouched by the
    * delta CARRY their snapshot rows through unchanged; touched
    * customers REBUILD from (replayed snapshot rows ∪ delta rows) —
    * replay is exact because every SCD-2 version preserves its
    * originating change row (o_orderkey, attr_price, valid_from), so
    * the rebuild input is bijective with the original change stream.
    * Both paths run the SAME scd2Build window, so equality with a
    * from-scratch build is equality of inputs, not of two window
    * implementations; the oracle IS the from-scratch build plus the
    * touched-key provenance flag.
    *
    * At-scale: refresh cost is O(delta + touched-customers' history) —
    * the orders log is scanned only through the cutoff predicate (a
    * partition prune on a date-partitioned production log), the carried
    * path reads staged parquet, and the touched-key semi/anti joins
    * broadcast the delta's key set (delta-sized, tiny by construction).
    * The O(all customers) window of dim_scd2 never re-runs. */
  private[graft] def stagedScd2(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // one staging per (fixture, version) per JVM (README "Staging")
    val version = java.lang.Long.toHexString(tableVersion(d, "orders"))
    val dir = StageUtil.staged(s"scd2_$version", d) { base =>
      val od = Tables.orders(s, d)
      od.agg(expr("date_trunc('day', max(o_orderdate)) - interval 90 days")
          .as("cutoff"))
        .write.mode("overwrite").parquet(s"$base/meta")
      // the snapshot derives from the WRITTEN meta — dimension and
      // high-water mark are consistent by construction
      val meta = Tables.read(s, s"$base/meta")
      scd2Build(od.crossJoin(broadcast(meta))
          .where(col("o_orderdate") < col("cutoff")))
        .write.mode("overwrite").parquet(s"$base/dim")
    }
    (Tables.read(s, s"$dir/dim"), Tables.read(s, s"$dir/meta"))
  }

  def dimScd2Incremental(s: SparkSession, d: String): DataFrame = {
    val (dim, meta) = stagedScd2(s, d)
    val delta = Tables.orders(s, d)
      .crossJoin(broadcast(meta)).where(col("o_orderdate") >= col("cutoff"))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"))
    val touched = delta.select(col("o_custkey")).distinct()
    val replay = dim.join(broadcast(touched), Seq("o_custkey"), "left_semi")
      .select(col("o_custkey"), col("o_orderkey"),
        col("attr_price").as("o_totalprice"),
        col("valid_from").as("o_orderdate"))
    val rebuilt = scd2Build(replay.unionByName(delta))
      .withColumn("provenance", lit("rebuilt"))
    val carried = dim.join(broadcast(touched), Seq("o_custkey"), "left_anti")
      .withColumn("provenance", lit("carried"))
    carried.unionByName(rebuilt)
  }

  /** Deterministic PageRank (3 unrolled power iterations, damping 0.85)
    * over the co-supply graph: suppliers are linked when they serve the
    * same order. EVERY arithmetic step is integer: ranks live at a 10¹²
    * fixed-point scale, contributions are floor divisions (r div deg),
    * damping is the exact rational 17/20 — so both engines walk the
    * identical lattice and the gate hash-matches, where a float
    * formulation would drift in the cross-row sums. The graph is
    * symmetric (no dangling mass), pruned to co-occurrence weight ≥ 2 —
    * the standard noise filter for co-occurrence graphs, and at scale
    * the thing that keeps the edge set O(real relationships) instead of
    * O(every accidental pairing). Edges are checkpointed once; each
    * round is one join + one (dst) aggregate — the standard distributed
    * PageRank shape, iterations = O(rounds), like dedupCluster. */
  /** Symmetric co-supply edge set (suppliers linked by a shared order,
    * co-occurrence weight ≥ 2), shared by graph_pagerank /
    * graph_triangles / graph_jaccard. NOT checkpointed here — each
    * caller decides its own lineage cut. */
  private def coSupplyEdges(s: SparkSession, d: String): DataFrame =
    coSupplyWeighted(s, d).select(col("src"), col("dst"))

  /** The weighted co-supply pair table (src, dst, w = shared-order
    * count, pruned to w ≥ 2) — the ONE lineitem aggregation the whole
    * graph family derives from, now memoized + checkpointed so the
    * unweighted adjacency consumers AND graph_sssp (which needs w for
    * its edge weights) share a single build per (session, sf-dir)
    * instead of each paying the corpus pass (r18, guide §1.2/§2.4:
    * graph_sssp duplicated this aggregation verbatim minus the weight
    * column). Bench resets this with the other graph memos. */
  private val pairMemo =
    Memo.frame[(SparkSession, String)](this, "graph_adjacency")

  private def coSupplyWeighted(s: SparkSession, d: String): DataFrame =
    pairMemo((s, d)) {
      // ONE shuffle to co-locate each order's suppliers, then the ordered
      // pairs explode MAP-SIDE into the partial aggregate — the previous
      // distinct + self-join form shuffled the (order, supplier) set three
      // times (distinct, join re-key, pair count); this shuffles lineitem
      // once and pairs once. SKEW BOUND (guide §2.5): the collect_list
      // basket is quadratic in per-order supplier count, so a hot
      // orderkey would blow the explode up — safe here because an order's
      // distinct-supplier count is bounded by the order's line count
      // (≤ 7 on TPC-H-shaped data; AnalyticsSpec pins the fixture bound).
      // At a 100 TB shape with genuinely hot keys, cap or salt the basket
      // BEFORE the explode — the w ≥ 2 prune downstream cannot save the
      // pair fan-out itself.
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_distinct(collect_list(col("l_suppkey"))).as("sups"))
        .select(explode(col("sups")).as("src"), col("sups"))
        .select(col("src"), explode(col("sups")).as("dst"))
        .where(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
        .localCheckpoint()
    }

  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val Scale = 1000000000000L
    // edges re-derive MAP-SIDE from the shared checkpointed adjacency on
    // each iteration read (explode of ~1 k sorted arrays — no second
    // edge build, no distinct for the node set, and the out-degree rides
    // on the adjacency row instead of a window) — each power round is
    // then exactly one broadcast-able join + one (dst) aggregate
    val adj = coSupplyAdjacency(s, d)
    val edges = adj.select(col("id").as("src"), col("deg"),
      explode(col("nbrs")).as("dst"))
    val nodes = adj.select(col("id").as("src"))
    val n = nodes.count()
    var ranks = nodes.select(col("src").as("id"), lit(Scale / n).as("r"))
    (1 to 3).foreach { _ =>
      val contrib = edges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      ranks = contrib.select(col("dst").as("id"),
        (lit(3L * Scale / (20L * n)) + expr("(17 * csum) div 20")).as("r"))
    }
    ranks.select(col("id").as("s_suppkey"), col("r").as("rank_fp"),
      round(col("r").cast("double") / Scale, 6).as("rank"))
  }

  /** PERSONALIZED PageRank — relevance from a seed set's point of view
    * (the recommendation/expansion primitive: "suppliers like these
    * five", random-walk-with-restart): graph_pagerank's exact-integer
    * power rounds with the teleport vector concentrated on the 5
    * lowest-id seeds instead of uniform. r₀ puts the whole unit mass
    * on the seeds; each round keeps the pagerank recurrence
    * r(v) = restart(v) + (17·Σ r(u)/deg(u)) div 20, where restart is
    * 3/20 · Scale/5 on seeds and 0 elsewhere — a |contrib|∪|seeds|
    * full-outer per round (seeds with no in-mass must persist; the
    * contrib side can't broadcast under full-outer, and at 100 TB
    * it's node-sized anyway, exactly pagerank's per-round shuffle).
    * Rows with zero mass (nodes the walk never reaches in 3 rounds)
    * drop: output size tracks the seeds' 3-hop neighborhood, not the
    * graph — the locality that makes PPR the affordable per-user
    * variant. Same 10¹² fixed-point lattice, engine-exact. */
  def graphPpr(s: SparkSession, d: String): DataFrame = {
    val Scale = 1000000000000L
    val adj = coSupplyAdjacency(s, d)
    val edges = adj.select(col("id").as("src"), col("deg"),
      explode(col("nbrs")).as("dst"))
    val seeds = adj.select(col("id")).orderBy(col("id")).limit(5)
      .select(col("id"), lit(3L * Scale / 100L).as("restart"))
    var ranks: DataFrame = seeds.select(col("id"), lit(Scale / 5L).as("r"))
    (1 to 3).foreach { _ =>
      val contrib = edges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      ranks = contrib.select(col("dst").as("id"), col("csum"))
        .join(seeds, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("restart"), lit(0L))
            + expr("(17 * coalesce(csum, 0L)) div 20")).as("r"))
    }
    ranks.where(col("r") > 0)
      .select(col("id").as("s_suppkey"), col("r").as("rank_fp"),
        round(col("r").cast("double") / Scale, 6).as("rank"))
  }

  /** Declarative data-quality constraint suite (the Deequ pattern): each
    * constraint is ONE aggregate over the table — completeness,
    * uniqueness, range conformance, referential integrity — emitted as
    * (constraint, metric, passed) rows. At 100 TB every metric here is a
    * single-pass partial aggregate (the referential check is a broadcast
    * anti-join count, not a row materialization), so the whole suite
    * costs one scan per table and composes with ingestion. */
  def dqConstraints(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val nRows = o.agg(count(lit(1)).as("n"),
      count(col("o_custkey")).as("nonnull_cust"),
      countDistinct(col("o_orderkey")).as("distinct_keys"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"))
    val orphans = o.join(
        broadcast(Tables.customer(s, d).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    nRows.crossJoin(orphans).select(
      expr("""stack(4,
        |  'completeness_custkey',
        |    round(nonnull_cust / cast(n as double), 4),
        |    nonnull_cust = n,
        |  'uniqueness_orderkey',
        |    round(distinct_keys / cast(n as double), 4),
        |    distinct_keys = n,
        |  'range_totalprice',
        |    round(max_price, 4),
        |    min_price >= 0.0D AND max_price <= 600000.0D,
        |  'referential_custkey',
        |    cast(n_orphans as double),
        |    n_orphans = 0
        |) AS (constraint, metric, passed)""".stripMargin))
  }

  /** Join-key skew audit — the DIAGNOSIS behind the salted-join pattern
    * (join_salted treats the skew; this op is how a pipeline decides a
    * key needs treatment before the hot partition OOMs an executor at
    * 100 TB). One pass builds the per-key frequency table (map-side
    * combine, key-sized not row-sized), then a single global fold
    * reports: row/key counts, the max frequency and its key (smallest
    * key among ties — deterministic), exact p50/p99 of the frequency
    * distribution (one array-percentile, the agg_percentile discipline),
    * and the max/mean skew ratio the salting heuristic thresholds on.
    * The frequency table is the only shuffle; the audit is a 1-row
    * fold over |keys| rows. */
  /** Cumulative DISTINCT-user growth curve per event type — the
    * "cumulative unique users" chart every product dashboard draws,
    * and the classic window-function trap: count(DISTINCT) OVER a
    * growing frame is unsupported/quadratic in most engines. The
    * scale-right spelling is first-seen decomposition: distinct users
    * through day D = Σ_{d ≤ D} (users whose FIRST event was on d) —
    * so ONE map-side-combinable (type, user)→min(day) aggregate (the
    * only row-mass shuffle), a |types|×|days|-bounded daily rollup,
    * and a running sum over that tiny series. Exactly equivalent to
    * the quadratic spelling, one linear pass at any N. */
  def tsCumeDistinct(s: SparkSession, d: String): DataFrame = {
    val first = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    first.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cume_distinct_users",
        sum(col("new_users")).over(w).cast("bigint"))
  }

  /** DAU / WAU active-user curve with the stickiness ratio — the
    * product-health metric every events pipeline serves, and the other
    * classic sliding-DISTINCT trap (count(DISTINCT user) OVER a 7-day
    * moving frame is unsupported/quadratic, and approximating with
    * summed DAUs double-counts returning users). Scale-right spelling:
    * dedup activity to (user, day) once (the only row-mass shuffle,
    * map-side combinable), then let each activity row SUPPORT the ≤7
    * trailing days it falls inside via a bounded explode — WAU(d) =
    * distinct (user) among supports of d, computed by a second
    * (day, user)-keyed dedup whose input is ≤7× the activity table
    * regardless of N. Emitted per day: DAU, WAU, stickiness DAU/WAU in
    * exact basis points (the DAU/MAU-style engagement readout). Days
    * with no activity emit nothing (ts_gapfill composes for dense
    * calendars). */
  def tsActiveUsers(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("aday"))
      .distinct()
    val dau = act.groupBy(col("aday").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("user_id"),
        explode(expr("sequence(aday, date_add(aday, 6))")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    // WAU days extend past the last activity day; the curve reports
    // only days with activity (join on dau's days)
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 10000 DIV wau").as("stickiness_bp"))
  }

  /** Benford first-digit audit — the classic fabricated-data /
    * corrupted-feed detector for naturally-scaled amounts (invoices,
    * populations, file sizes): genuine multiplicative data puts ~30.1 %
    * of first significant digits at 1, falling to 4.6 % at 9; uniform
    * or hand-typed figures don't. The digit extracts EXACTLY — first
    * character of the BIGINT cents' decimal form, no log10 float — and
    * the expected shares are the standard Benford table pinned as
    * integer basis points in BOTH engines (log10(1+1/d) is irrational;
    * hardcoding kills cross-libm drift). Per digit: count, observed bp
    * (exact n·10⁴ div N), expected bp, |deviation| bp, plus the
    * χ²-style Σ dev²/exp statistic repeated per row (exact integer) —
    * the alert threshold a DQ monitor tracks. One scan, map-side
    * combined to 9 rows, a broadcast 9-row lookup: scan-bound at any N. */
  def dqBenford(s: SparkSession, d: String): DataFrame = {
    val exp = Seq(1 -> 3010L, 2 -> 1761L, 3 -> 1249L, 4 -> 969L,
      5 -> 792L, 6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)
    import s.implicits._
    val expDf = exp.toDF("digit", "exp_bp")
    val obs = Tables.orders(s, d)
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = obs.groupBy().agg(sum(col("n")).as("total"))
    val rows = obs.join(broadcast(expDf), "digit")
      .crossJoin(broadcast(tot))
      .withColumn("obs_bp", expr("n * 10000 DIV total"))
      .withColumn("dev_bp", expr("abs(obs_bp - exp_bp)"))
    val chi = rows.groupBy().agg(
      sum(expr("dev_bp * dev_bp DIV exp_bp")).as("chi2_bp"))
    rows.crossJoin(broadcast(chi))
      .select(col("digit"), col("n"), col("obs_bp"), col("exp_bp"),
        col("dev_bp"), col("chi2_bp"))
  }

  def dqSkew(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("f"))
    val hot = freq
      .crossJoin(broadcast(freq.agg(max(col("f")).as("mf"))))
      .where(col("f") === col("mf"))
      .agg(min(col("l_suppkey")).as("hot_key"))
    freq.agg(
        sum(col("f")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("f")).as("max_freq"),
        expr("percentile(f, array(0.5D, 0.99D))").as("ps"))
      .crossJoin(broadcast(hot))
      .select(col("n_rows"), col("n_keys"), col("max_freq"), col("hot_key"),
        round(element_at(col("ps"), 1), 4).as("p50_freq"),
        round(element_at(col("ps"), 2), 4).as("p99_freq"),
        round(col("max_freq") /
          (col("n_rows").cast("double") / col("n_keys")), 4).as("skew_ratio"))
  }

  /** Differentially-private count release (the Laplace mechanism —
    * dq_k_anonymity's partner: k-anonymity audits what a RELEASED
    * table exposes, DP bounds what a released STATISTIC exposes):
    * per-type event counts (sensitivity 1) plus Laplace(1/ε) noise at
    * ε = 0.5 via the inverse CDF, X = −b·sgn(U−½)·ln(1−2|U−½|). The
    * uniform U here derives from a poly hash of the group key —
    * DETERMINISTIC so the release is replayable and cross-engine
    * checkable. THIS REGISTERED OP IS A MECHANISM-SHAPE DEMONSTRATOR,
    * NOT A USABLE DP RELEASE: the noise is a pure function of the
    * group key, so it provides zero actual privacy, and the debug_*
    * columns deliberately disclose the true count and noise for the
    * oracle check. A production release swaps the hash for a sealed
    * random seed drawn once per release (same plan) and publishes
    * ONLY released/released_fp — never the debug_* columns.
    * The ln runs on an exact dyadic-rational argument and quantizes to
    * 10⁶ fixed point per row before any use — no float crosses rows.
    *
    * At-scale: one map-side-combinable count aggregate to |types|
    * rows; the noise is per-group scalar math. */
  def dqDpRelease(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
      .withColumn("h", expr(
        """aggregate(split(event_type, ''), 0L,
          |  (h, c) -> (h * 31 + ascii(c)) % 1000000007)""".stripMargin))
      .withColumn("u", (col("h") + lit(0.5)) / lit(1000000007.0))
      .withColumn("noise_fp",
        // round-then-cast: a bare double→long cast truncates in Spark
        // but ROUNDS in DuckDB (the catalogued drift pitfall)
        round(when(col("u") >= 0.5,
          expr("(0.0 - 2.0) * ln(2.0 - 2.0 * u)"))
          .otherwise(expr("2.0 * ln(2.0 * u)"))
          * lit(1000000.0), 0).cast("long"))
      .select(col("event_type"),
        col("n_true").as("debug_n_true"), col("h").as("debug_h"),
        col("noise_fp").as("debug_noise_fp"),
        (col("n_true") * lit(1000000L) + col("noise_fp")).as("released_fp"),
        round((col("n_true") * lit(1000000L) + col("noise_fp")) / 1e6, 4)
          .as("released"))

  /** k-anonymity audit over a quasi-identifier tuple — the privacy
    * gate a dataset release (or a training corpus carrying user
    * attributes) must pass before export: a row is k-anonymous when at
    * least k−1 other rows share its quasi-identifier combination, so
    * the audit is the equivalence-class size distribution of the QI
    * projection (here (c_mktsegment, c_nationkey) — the classic
    * demographic pair). Output is ONE row: class count, effective k
    * (the min class size — the dataset's actual anonymity level), and
    * the re-identification exposure at the standard thresholds k ∈
    * {2, 5, 10} as exact row counts plus basis points of the table.
    * All integers — no float touches a decision.
    *
    * At-scale: one hash aggregate on the QI key (map-side combinable)
    * collapses N rows to |QI classes| ≪ N, then a 1-row fold —
    * the same two-phase shape at 100 TB. Extensions keep the shape:
    * l-diversity adds count(DISTINCT sensitive) to the first
    * aggregate; generalization search re-runs the same audit per
    * candidate QI coarsening. */
  def dqKAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("gsz"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(col("gsz")).as("n_rows"),
        min(col("gsz")).as("k_effective"),
        sum(when(col("gsz") < 2, col("gsz")).otherwise(lit(0L)))
          .as("rows_below_k2"),
        sum(when(col("gsz") < 5, col("gsz")).otherwise(lit(0L)))
          .as("rows_below_k5"),
        sum(when(col("gsz") < 10, col("gsz")).otherwise(lit(0L)))
          .as("rows_below_k10"))
      .select(col("n_classes"), col("n_rows"), col("k_effective"),
        col("rows_below_k2"), col("rows_below_k5"), col("rows_below_k10"),
        expr("(rows_below_k5 * 10000) div n_rows").as("exposure_k5_bp"),
        expr("(rows_below_k10 * 10000) div n_rows").as("exposure_k10_bp"))

  /** Pipeline-embedded observability through Spark's `Observation` /
    * CollectMetrics surface — the at-scale answer to "what did this
    * pipeline actually process": dq_constraints SCANS the table to
    * measure it, but a production job must not pay a second corpus pass
    * for its metrics, so they ride the SAME pass as the pipeline.
    * `observe` attaches metric aggregates at two points — the raw scan
    * (rows in, null quantities) and the filtered projection (rows out,
    * exact-cent revenue) — the pipeline runs ONCE into a noop sink
    * (a real action, no output cost), and the metrics arrive on the
    * driver as accumulator-style side channels: zero extra scans, zero
    * extra shuffles, O(1) driver values. The returned row is the
    * funnel audit a DQ system would alert on; the oracle replays both
    * observation points declaratively. */
  def dqObserve(s: SparkSession, d: String): DataFrame = {
    val obsIn = org.apache.spark.sql.Observation()
    val obsOut = org.apache.spark.sql.Observation()
    Tables.lineitem(s, d)
      .observe(obsIn, count(lit(1)).as("n_in"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"))
      .where(col("l_discount") > 0.05)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .observe(obsOut, count(lit(1)).as("n_out"), sum(col("cents")).as("sc"))
      .write.format("noop").mode("overwrite").save()
    val in = obsIn.get; val out = obsOut.get
    import s.implicits._
    Seq((in("n_in").asInstanceOf[Long], in("null_qty").asInstanceOf[Long],
      out("n_out").asInstanceOf[Long],
      out("sc").asInstanceOf[Long] / 100.0))
      .toDF("n_in", "null_qty", "n_out", "revenue")
  }

  /** Sorted neighbor lists for the co-supply graph: one row per active
    * node with its ascending neighbor array and degree. The weight-≥ 2
    * prune (coSupplyEdges) bounds array width by real co-supply
    * relationships, so a node's list is KBs even when the raw data is
    * 100 TB; checkpointed because every consumer reads it ≥ 2 times.
    *
    * Built ONCE per (session, sf-dir) and shared by graph_pagerank /
    * graph_triangles / graph_jaccard — the staged-fixture pattern (cf.
    * LlmScale.lloyd): the lineitem aggregation is the shared expensive
    * subtree and whichever graph query runs first pays it. Bench resets
    * the memo between repeat passes. */
  private val adjMemo =
    Memo.frame[(SparkSession, String)](this, "graph_adjacency")

  /** Drop the memoized adjacency + components (Bench calls this between
    * passes); the checkpoint blocks are unpersisted, not just
    * dereferenced. */
  def resetGraphMemo(): Unit = MemoUtil.reset(this)

  /** Connected components of the co-supply graph — (id, cc) with cc =
    * the component's minimum node id — via the shared large-star/
    * small-star contraction (StarContraction.scala). Round 7 ran a
    * min-label propagation loop here, honest for the dense-regime
    * jaccard caller (cliquish communities, diameter 2–3) but O(diameter)
    * barriers as a FIRST-CLASS op: a planted path of length L took L
    * rounds. Star contraction converges in O(log n) rounds on any
    * topology, so the surfaced graph_components op no longer depends on
    * its caller's topology for its round count. The (id, cc) labeling is
    * re-checkpointed eagerly and the loop's round checkpoints dropped
    * immediately — the memo holds exactly one checkpoint, as before.
    * Memoized beside the adjacency; Bench resets both between passes. */
  private val ccMemo =
    Memo.frame[(SparkSession, String)](this, "graph_adjacency")

  private def coSupplyComponents(s: SparkSession, d: String): DataFrame =
    ccMemo((s, d)) {
      val adj = coSupplyAdjacency(s, d)
      // each undirected edge once, canonical u < v (the adjacency is
      // symmetric, so keeping nbr > id loses nothing — and every node
      // has deg ≥ 1, so the star labeling covers all of them)
      val edges = adj.select(col("id"), explode(col("nbrs")).as("nbr"))
        .where(col("nbr") > col("id"))
        .select(col("id").cast("long").as("u"), col("nbr").as("v"))
        .localCheckpoint()
      val res = StarContraction.contract(edges)
      val lbl = StarContraction.labels(res.stars).localCheckpoint()
      (edges +: res.live).foreach(MemoUtil.dropCheckpoint)
      lbl
    }

  /** Connected components SURFACED as a registered op (round 7; round 8
    * moved the fixpoint onto the shared large-star/small-star
    * contraction): the same memoized labeling the jaccard dense-regime
    * gate runs (coSupplyComponents above), reported as a per-component
    * audit — component id (= min member), node count, undirected edge
    * count, exact id checksum. The oracle replays the closure as a
    * recursive transitive-closure CTE and takes min over each node's
    * reachable set — a different algorithm arriving at the same
    * labeling, which is exactly what makes it a good oracle. Scale
    * shape: O(log n) contraction rounds on ANY topology (two join+agg
    * stages per round, nothing materializes pairs — see
    * StarContraction.scala), then the audit is one hash aggregate over
    * the 1-row-per-node label and degree tables. */
  def graphComponents(s: SparkSession, d: String): DataFrame = {
    val cc = coSupplyComponents(s, d) // (id, cc)
    // the memoized adjacency already carries per-node degrees, and every
    // edge's endpoints share a label by definition — so the undirected
    // edge count per component is Σdeg/2 over its members, ONE broadcast
    // join on the 1-row-per-node tables instead of re-deriving the edge
    // table from lineitem (which cost a second corpus pass, measured
    // ~1.5 s of graph_components' 4.7 s bench time)
    coSupplyAdjacency(s, d).select(col("id"), col("deg"))
      .join(cc, "id")
      .groupBy(col("cc").cast("long").as("cc"))
      .agg(count(lit(1)).as("n_nodes"),
        expr("sum(deg) div 2").as("n_edges"),
        sum(col("id")).as("id_sum"))
      .select(col("cc"), col("n_nodes"), col("n_edges"), col("id_sum"))
  }

  /** Spec hook: the raw (id, cc) labeling behind graph_components. */
  private[graft] def componentLabels(s: SparkSession, d: String): DataFrame =
    coSupplyComponents(s, d)

  /** Spec hook: the co-supply adjacency memo alone, so its build can be
    * forced or timed apart from the op that reads it. */
  private[graft] def adjacencyProbe(s: SparkSession, d: String): DataFrame =
    coSupplyAdjacency(s, d)

  private def coSupplyAdjacency(s: SparkSession, d: String): DataFrame =
    adjMemo((s, d))(
      coSupplyEdges(s, d)
        .groupBy(col("src").as("id"))
        .agg(sort_array(collect_list(col("dst").cast("long"))).as("nbrs"),
          count(lit(1)).as("deg"))
        .localCheckpoint())

  /** Deterministic random walks over the co-supply graph — the sampling
    * primitive under node2vec/DeepWalk-style graph embeddings and
    * neighborhood audits: from the 20 smallest node ids, 3 steps, each
    * step choosing the neighbor that minimizes the integer hash
    * ((cur·1000003 + nbr)·31 + step) mod 1e9+7 (ties by nbr ASC). The
    * hash replaces RNG state: walks are REPRODUCIBLE across runs,
    * partitionings, and engines — the property that makes sampled graph
    * features auditable — while still scattering pseudo-randomly. Each
    * step is one keyed equi-join against the map-side-exploded shared
    * adjacency + a per-walker min(struct) argmin: k steps = k
    * broadcast-able joins, the iterative-join shape walks take at any
    * scale (never a per-walker driver loop). The symmetric w≥2 graph
    * has no dead ends (every node in the edge set has a neighbor). */
  def graphWalk(s: SparkSession, d: String): DataFrame = {
    val adj = coSupplyAdjacency(s, d)
    val edges = adj.select(col("id").as("src"), explode(col("nbrs")).as("dst"))
    val seeds = adj.select(col("id")).orderBy(col("id")).limit(20)
    var w = seeds.select(col("id").as("seed"), col("id").as("cur"))
    var carried = Seq.empty[String]
    (1 to 3).foreach { i =>
      val h = ((col("cur") * lit(1000003L) + col("dst")) * lit(31L)
        + lit(i.toLong)) % lit(1000000007L)
      val keys = (Seq("seed") ++ carried).map(col)
      w = w.join(edges, col("cur") === col("src"))
        .withColumn("h", h)
        .groupBy(keys: _*)
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .withColumn(s"n$i", col("m.dst"))
        .withColumn("cur", col("m.dst"))
        .drop("m")
      carried = carried :+ s"n$i"
    }
    w.select(col("seed"), col("n1"), col("n2"), col("n3"))
  }

  /** Exact triangle counting + local clustering coefficient over the
    * co-supply graph, via SORTED-ADJACENCY INTERSECTION: for node n,
    * Σ_{a∈N(n)} |N(a)∩N(n)| counts every triangle at n exactly twice
    * (once per neighbor pair), so tri(n) is that sum div 2. Each edge
    * row streams through one allocation-free two-pointer merge
    * (graft.functions.SortedIntersectCount, whole-stage codegen) —
    * total work is Σdeg² long COMPARES, where the previous wedge
    * self-join MATERIALIZED Σdeg² join rows through a shuffle (152.7 M
    * wedges on the 69 %-dense sf0.1 graph → 22 s; this form ~2 s).
    * The neighbor-list side is a 1000-row broadcast here; at
    * billion-node scale it becomes a shuffle join on the edge key and
    * hub skew is tamed by the weight prune (or a degree cap, the
    * standard production guard). All counts and the coefficient
    * (2T·10⁶ div d(d−1)) are exact integers. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val adj = coSupplyAdjacency(s, d)
    // probe edges derive from the checkpointed adjacency (explode(nbrs)),
    // NOT a second coSupplyEdges call — the lineitem aggregation is the
    // expensive subtree and must run exactly once per query. The explode
    // also carries na for free, saving one of the two broadcast joins.
    // The graph is symmetric, so |N(u)∩N(v)| is scored once per u < v
    // edge and credited to BOTH endpoints — half the merge-kernel work.
    val half = adj
      .select(col("id").as("src"), col("nbrs").as("na"),
        explode(col("nbrs")).as("dst"))
      .where(col("src") < col("dst"))
      .join(broadcast(adj.select(col("id").as("dst"), col("nbrs").as("nb"))),
        "dst")
      .select(col("src"), col("dst"),
        expr("sorted_intersect_count(na, nb)").as("c"))
    val twice = half
      .select(explode(array(
        struct(col("src").as("n"), col("c")),
        struct(col("dst").as("n"), col("c")))).as("x"))
      .select(col("x.n").as("src"), col("x.c").as("c"))
      .groupBy(col("src")).agg(sum(col("c")).as("c2"))
    adj.select(col("id"), col("deg"))
      .join(twice, col("id") === col("src"), "left")
      .select(col("id").as("s_suppkey"), col("deg"),
        expr("coalesce(c2, 0L) div 2").as("triangles"),
        when(col("deg") >= 2,
          expr("(coalesce(c2, 0L) * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("coeff_fp"))
  }

  /** Neighbor-Jaccard link prediction over the co-supply graph: every
    * candidate pair with ≥ 2 common neighbors scores
    * J = |N(u)∩N(v)| / |N(u)∪N(v)| as an exact fixed-point ratio
    * (common·10⁶ div (deg_u + deg_v − common)) — the union size is pure
    * arithmetic, no set materialization.
    *
    * Common-neighbor counts come from the checkpointed SORTED ADJACENCY,
    * not an edge×edge wedge self-join: active-node pairs (u < v) stream
    * through the allocation-free two-pointer merge
    * (graft.functions.SortedIntersectCount, whole-stage codegen) — the
    * round-5 triangles pattern. The wedge join touched Σdeg² ≈ 152.7 M
    * wedge mentions through a join + hash aggregate (13–16 s at sf0.1);
    * here the weight-≥ 2 prune bounds the ADJACENCY to nodes with real
    * co-supply relationships (≈1 k rows independent of raw data volume),
    * so the pair space is |active|²/2 ≈ 500 k intersections of long
    * COMPARES with nothing materialized — on a dense graph (Σdeg² ≫ N²)
    * this is the strictly cheaper regime. Past the JaccardDenseGate
    * active-node count the candidate generator is chosen by MEASURED
    * graph shape (see graphJaccardScoredGated): bounded-degree graphs
    * take an inverted-index prefix join on witness neighbors (the
    * llm_dedup_ngram SSJoin shape), heavy community graphs a
    * connected-component-blocked equi-join — both feeding the same
    * intersection kernel. Pairs below 2 common neighbors drop; top-50
    * by (jaccard, u, v) — a total order. */
  /** Pre-barrier pair-scoring stage of graph_jaccard, exposed so the
    * plan-shape spec can assert the merge kernel stays OUT of the join
    * condition (the 2×-eval regression signature). */
  private[graft] def graphJaccardScored(s: SparkSession, d: String): DataFrame =
    graphJaccardScoredGated(s, d, JaccardDenseGate)

  /** THREE-regime selector, gated on two measured scalars (one tiny
    * aggregate over the memoized checkpointed adjacency): n = active
    * nodes, Σdeg² = the wedge space (witness-bucket pair mentions).
    *
    *  1. n ≤ 4096 — DENSE NLJ: |n|²/2 ≤ 8.4 M range-pruned kernel
    *     probes through one broadcast, cheaper than building any index.
    *  2. Σdeg² ≤ n²/2 — SPARSE inverted index: bounded-degree graphs
    *     (the billion-node regime) where enumerating witness buckets is
    *     strictly smaller than the pair space; an equi-join on the
    *     witness, shuffle-partitioned, never a node-set broadcast.
    *  3. otherwise — DENSE-BLOCKED: the graph is big AND heavy
    *     (Σdeg² ≥ n²/2 only happens when communities are near-cliques),
    *     so candidates require co-membership in a connected component
    *     (a pair sharing a neighbor is 2 hops apart) — the NLJ becomes
    *     an EQUI-join on the component label, whose fan-out Σ|cc|²/2 is
    *     the true community-local pair space REGARDLESS of id layout
    *     (the range prune alone dies on interleaved/hashed id spaces).
    *     A single giant near-clique component degrades to regime 1's
    *     pair space — which is then the real candidate set, not an
    *     artifact (scoring a near-complete graph IS quadratic in it).
    *
    * All three generators feed the identical filter/score stage and
    * enumerate a superset of the common ≥ 2 pairs, so the regime choice
    * is invisible in the output — the oracle is shared. */
  private[graft] val JaccardDenseGate = 4096L
  private[graft] def graphJaccardScoredGated(
      s: SparkSession, d: String, gate: Long): DataFrame = {
    graft.GraftExtensions.register(s)
    val adj = coSupplyAdjacency(s, d)
    val stats = adj
      .agg(count(lit(1)).as("n"), sum(col("deg") * col("deg")).as("sd2"))
      .head()
    val (n, sumDeg2) = (stats.getLong(0), stats.getLong(1))
    if (n <= gate) graphJaccardScoredDense(adj)
    else if (sumDeg2 <= n * n / 2) graphJaccardScoredSparse(adj)
    else graphJaccardScoredBlocked(adj, coSupplyComponents(s, d))
  }

  /** Force a specific candidate-generation regime — test/probe hook for
    * the equivalence and plan-shape specs (the public op picks the
    * regime from measured stats; the specs must exercise all three on
    * one fixture). */
  private[graft] def graphJaccardScoredVariant(
      s: SparkSession, d: String, regime: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val adj = coSupplyAdjacency(s, d)
    regime match {
      case "dense"   => graphJaccardScoredDense(adj)
      case "sparse"  => graphJaccardScoredSparse(adj)
      case "blocked" => graphJaccardScoredBlocked(adj, coSupplyComponents(s, d))
    }
  }

  /** Dense regime: all-pairs broadcast NLJ with the RANGE-OVERLAP PRUNE
    * in the join condition (output-invariant): the neighbor lists are
    * sorted, so a pair can share a neighbor only if [lo_a, hi_a] ∩
    * [lo_b, hi_b] ≠ ∅ — two long compares kill a non-overlapping pair
    * before the merge kernel runs. On one dense graph this is a no-op;
    * on a clustered/partitioned graph (disjoint clones; any production
    * graph with community-local ids) it deletes the cross-community pair
    * space — measured 21.6 s → ~3 s at the 10-clone probe. Dead pairs
    * have common = 0 < 2, so the output — and the oracle — are
    * unchanged. */
  private[graft] def graphJaccardScoredDense(adjIn: DataFrame): DataFrame = {
    val adj = adjIn
      .withColumn("lo", element_at(col("nbrs"), 1))
      .withColumn("hi", element_at(col("nbrs"), -1))
    adj.as("a")
      .join(broadcast(adj.as("b")),
        col("a.id") < col("b.id")
          && col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .select(col("a.id").as("u"), col("b.id").as("v"),
        expr("cast(sorted_intersect_count(a.nbrs, b.nbrs) as bigint)")
          .as("common"),
        col("a.deg").as("du"), col("b.deg").as("dv"))
  }

  /** Sparse regime: INVERTED-INDEX candidate generation (the SSJoin
    * prefix-filter shape llm_dedup_ngram uses, specialized to overlap
    * threshold c = 2). A pair with |N(u)∩N(v)| ≥ 2 must share a witness
    * neighbor among the first deg−1 elements of BOTH sorted lists (the
    * prefix theorem: at most c−1 = 1 common element can hide in the
    * suffix), so each node posts its deg−1 prefix neighbors, candidates
    * are the distinct id pairs meeting in a posting bucket — an
    * EQUI-join on the witness, Σ_w deg(w)² bucket pairs, never the
    * |active|² cross space — and the exact kernel then scores each
    * candidate once against the two adjacency rows (two more equi-joins
    * on node id). Degree-1 nodes post nothing: they cannot reach
    * common ≥ 2. At billion-node scale everything here is a shuffled
    * equi-join keyed by witness/node id — no broadcast of the node set,
    * and hub skew is bounded by the weight-≥2 prune (plus AQE skew
    * handling) exactly as in the triangle count. */
  /** Dense-blocked regime: the dense kernel probe join keyed by
    * connected-component label — an equi-join whose fan-out is the
    * community-local pair space Σ|cc|²/2, independent of how node ids
    * are laid out (the 1-D range prune stays on as a secondary in-block
    * filter; it is free and still helps id-sorted communities). Skew
    * note for 100 TB: one giant component concentrates its block on one
    * join key; that is the true work (near-clique scoring is quadratic
    * in the clique), and AQE skew-join splits the straggler when the
    * build side leaves broadcast range. */
  private[graft] def graphJaccardScoredBlocked(
      adjIn: DataFrame, cc: DataFrame): DataFrame = {
    val adj = adjIn.join(cc, "id")
      .withColumn("lo", element_at(col("nbrs"), 1))
      .withColumn("hi", element_at(col("nbrs"), -1))
    adj.as("a")
      .join(adj.as("b"),
        col("a.cc") === col("b.cc") && col("a.id") < col("b.id")
          && col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .select(col("a.id").as("u"), col("b.id").as("v"),
        expr("cast(sorted_intersect_count(a.nbrs, b.nbrs) as bigint)")
          .as("common"),
        col("a.deg").as("du"), col("b.deg").as("dv"))
  }

  private[graft] def graphJaccardScoredSparse(adj: DataFrame): DataFrame = {
    val post = adj.select(col("id"),
      explode(expr("slice(nbrs, 1, cast(deg - 1 as int))")).as("w"))
    val cand = post.as("pa").join(post.as("pb"),
        col("pa.w") === col("pb.w") && col("pa.id") < col("pb.id"))
      .select(col("pa.id").as("u"), col("pb.id").as("v"))
      .distinct()
    cand
      .join(adj.select(col("id").as("u"), col("nbrs").as("na"),
        col("deg").as("du")), "u")
      .join(adj.select(col("id").as("v"), col("nbrs").as("nb"),
        col("deg").as("dv")), "v")
      .select(col("u"), col("v"),
        expr("cast(sorted_intersect_count(na, nb) as bigint)").as("common"),
        col("du"), col("dv"))
  }

  def graphJaccard(s: SparkSession, d: String): DataFrame = {
    // the localCheckpoint is a predicate-pushdown BARRIER: without it
    // Catalyst folds `common >= 2` into the nested-loop join condition
    // and the merge kernel runs TWICE per pair (condition + projection)
    // over the full unfiltered pair space — measured 8.6 s vs ~2.5 s at
    // sf0.1. The checkpointed pair table is 5 small long columns.
    val scored = MemoUtil.scratch(graphJaccardScored(s, d).localCheckpoint())
    scored
      .where(col("common") >= 2)
      .select(col("u"), col("v"), col("common"),
        (col("du") + col("dv") - col("common")).as("union_n"),
        expr("(common * 1000000) div (du + dv - common)").as("jaccard_fp"))
      .orderBy(col("jaccard_fp").desc, col("u"), col("v"))
      .limit(50)
  }

  /** Hourly OHLC (open/high/low/close) bars per event type — the
    * canonical time-series downsample. Open/close are selected by
    * row_number over the total order (ts, event_id) — event_id is unique,
    * so both engines pick the identical row even under timestamp ties;
    * high/low/count are plain exact aggregates. One shuffle on
    * (event_type, hour): both window sorts and the final aggregate share
    * the same partitioning, and at 100 TB the bar grain bounds output
    * rows at types × hours regardless of input volume. */
  def tsOhlc(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        col("ts"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.select(col("event_type"), col("h"), col("value"),
        row_number().over(wAsc).as("ra"), row_number().over(wDesc).as("rd"))
      .groupBy(col("event_type"), col("h"))
      .agg(
        max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_trades"),
        (round(sum(col("value")), 4) + lit(0.0)).as("volume"))
  }

  /** Linear interpolation across time-series gaps — the complement of
    * ts_gapfill's forward-fill. Hourly sums collapse to integer cents
    * (one rounded quantity per anchor hour), the hour spine comes from
    * the same bounded sequence explode, and each gap hour interpolates
    * between its bracketing anchors: vp + (vn−vp)·k/m with k, m exact
    * integer hour offsets. Every arithmetic step is the identical IEEE
    * op sequence on both engines (int diffs, one double division), so
    * results are bit-identical with no rounding fence. The four anchor
    * lookups are two window passes (last/first non-null) over the spine,
    * which is |types|·|hours| rows — never raw events. */
  def tsInterpolate(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val joined = spine.join(hourly, Seq("event_type", "h"), "left")
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val hp = last(when(col("vc").isNotNull, col("h")), ignoreNulls = true)
      .over(wPrev)
    val vp = last(col("vc"), ignoreNulls = true).over(wPrev)
    val hn = first(when(col("vc").isNotNull, col("h")), ignoreNulls = true)
      .over(wNext)
    val vn = first(col("vc"), ignoreNulls = true).over(wNext)
    joined
      .select(col("event_type"), col("h"), col("vc").isNull.as("is_gap"),
        col("vc"), hp.as("hp"), vp.as("vp"), hn.as("hn"), vn.as("vn"))
      .select(col("event_type"), col("h"), col("is_gap"),
        when(!col("is_gap"), col("vc").cast("double") / 100.0)
          .otherwise(expr(
            """(cast(vp as double) +
              |  ((vn - vp) *
              |    ((unix_timestamp(h) - unix_timestamp(hp)) div 3600)) /
              |  cast((unix_timestamp(hn) - unix_timestamp(hp)) div 3600
              |       as double)) / 100.0""".stripMargin))
          .as("value"))
  }

  /** Seasonal-naive decomposition of the hourly event series: the
    * seasonal component of an hour is its hour-of-day mean across days
    * (per event_type), the residual is the de-seasonalized remainder —
    * the first-cut anomaly baseline for any diurnal metric. Exactness:
    * hourly sums collapse to integer cents, the seasonal mean is
    * floor(sum/count) (one double division + floor, the lloyd recenter
    * pattern — both engines produce the identical long), and the
    * residual is an exact integer difference; each /100.0 happens once
    * at the output. Shapes: one shuffle for the hourly aggregate, then
    * a broadcast of the types×24 seasonal table back onto it — at
    * 100 TB output stays bounded by types × hours and the raw log is
    * touched once. */
  def tsSeasonal(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
      .withColumn("hod", hour(col("h")))
    val seas = hourly.groupBy(col("event_type"), col("hod"))
      .agg(floor(sum(col("vc")).cast("double") / count(lit(1)))
        .cast("long").as("sc"))
    hourly.join(broadcast(seas), Seq("event_type", "hod"))
      .select(col("event_type"), col("h"),
        (col("vc") / 100.0).as("value"),
        (col("sc") / 100.0).as("seasonal"),
        ((col("vc") - col("sc")) / 100.0).as("residual"))
  }

  /** Largest-triangle downsampling of the hourly series (the LTTB
    * family, Steinarsson 2013 — what every dashboard runs before
    * plotting a month of points): keep the points that matter visually
    * by scoring each interior point with the TRIANGLE AREA it forms
    * with its immediate neighbors and keeping the per-bucket argmax.
    * This is the parallel one-bucket variant (LTOB): classic LTTB
    * chains each choice to the previous bucket's pick — a sequential
    * recurrence — while fixed-neighbor scoring is embarrassingly
    * parallel with near-identical output, the right trade at scale.
    * Determinism: x is the hour's RANK (small int), y exact cents, so
    * 2·area = |(x₋−x₊)(y−y₋) − (x₋−x)(y₊−y₋)| is an exact BIGINT
    * (epoch-µs x would overflow the cross product); argmax on
    * (area2 desc, hour) — a total order. First/last points always
    * keep (bucket −1 / B). Output per (type, bucket): kept hour,
    * cents, area2.
    *
    * Scale shape: collapse to the hourly series first (the ts_gapfill
    * rule), one lag/lead window pass over the series, one per-bucket
    * argmax — all series-sized, shuffled once by type. */
  def tsLttb(s: SparkSession, d: String): DataFrame = {
    val B = 20
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
      .withColumn("x", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val scored = hourly
      .withColumn("xp", lag(col("x"), 1).over(w))
      .withColumn("yp", lag(col("vc"), 1).over(w))
      .withColumn("xn", lead(col("x"), 1).over(w))
      .withColumn("yn", lead(col("vc"), 1).over(w))
      .withColumn("bucket",
        when(col("x") === 1, lit(-1L))
          .when(col("x") === col("n"), lit(B.toLong))
          .otherwise(expr(s"((x - 2) * $B) div greatest(n - 2, 1)")))
      .withColumn("area2",
        when(col("xp").isNull || col("xn").isNull, lit(0L))
          .otherwise(abs((col("xp") - col("xn")) * (col("vc") - col("yp"))
            - (col("xp") - col("x")) * (col("yn") - col("yp")))))
    val aw = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("area2").desc, col("h"))
    scored.withColumn("rn", row_number().over(aw))
      .where(col("rn") === 1)
      .select(col("event_type"), col("bucket"), col("h").as("kept_hour"),
        col("vc").as("cents"), col("area2"))
  }

  /** Seasonal-naive forecast BACKTEST — the evaluation loop that turns
    * ts_seasonal's decomposition into a shippable forecaster: predict
    * each hour's cent mass by the same type's value 24 h earlier
    * (wall-clock join, not a row lag — missing hours must not slide the
    * season), then score per event type with exact-integer error
    * statistics: MAE in cents, signed bias, and MAPE in basis points
    * (per-row (ae·10⁴) div |actual| BEFORE the cross-row mean, zero
    * actuals excluded and counted). This is the "is last-day-same-hour
    * good enough" baseline every anomaly/capacity model must beat, and
    * the same join-shape backtests any stored forecast table.
    *
    * Scale shape: the corpus collapses to the hourly series first (one
    * aggregate); the forecast join is an equi-join of the series with
    * its own 24 h shift — series-sized, not event-sized — and the audit
    * is a |types|-row aggregate. No window over raw events, no float
    * crosses a row boundary. */
  def tsBacktest(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val fc = hourly.select(col("event_type"),
      (col("h") + expr("INTERVAL 24 HOURS")).as("h"), col("vc").as("fc"))
    hourly.join(fc, Seq("event_type", "h"))
      .withColumn("ae", abs(col("vc") - col("fc")))
      .withColumn("pe_bp",
        when(col("vc") =!= 0, expr("(ae * 10000) div abs(vc)")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_forecasts"),
        sum(col("ae")).as("ae_mass"),
        sum(col("vc") - col("fc")).as("bias_cents"),
        sum(when(col("vc") === 0, 1L).otherwise(0L)).as("n_zero_actual"),
        sum(col("pe_bp")).as("pe_mass"))
      .select(col("event_type"), col("n_forecasts"),
        expr("ae_mass div n_forecasts").as("mae_cents"),
        col("bias_cents"),
        when(col("n_forecasts") > col("n_zero_actual"),
          expr("pe_mass div (n_forecasts - n_zero_actual)")).as("mape_bp"),
        col("n_zero_actual"))
  }

  /** Ordinary-least-squares TREND forecast per event type — the
    * dashboard trend line and the one-liner capacity forecast
    * ("value/hour is growing b cents/hour; next hour reads ŷ"), sitting
    * beside ts_backtest (which evals a seasonal-naive model) as the
    * other classic baseline. All sufficient statistics (n, Σx, Σy,
    * Σxy, Σx²) are EXACT BIGINT over the hourly cents series with x =
    * epoch-hours offset from the per-type min hour (bounded by the
    * fixture's day span, so every product stays far inside Long); the
    * final slope/forecast combination runs in doubles LITERAL-FOR-
    * LITERAL on both engines and rounds once (the Pearson/assortativity
    * discipline — integer cross-products of clone-probe magnitude would
    * overflow, and both engines' IEEE doubles agree bit-for-bit on the
    * same expression text). Forecast is point-slope around the mean
    * (ȳ + b·(x_next − x̄)) so no separately-rounded intercept feeds it.
    * One hourly shuffle + a per-type fold: scan-bound at any N. */
  def tsForecastLinear(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("y"))
      .withColumn("eh", expr("unix_timestamp(h) DIV 3600"))
    val x0 = hourly.groupBy(col("event_type"))
      .agg(min(col("eh")).as("eh0"))
    hourly.join(broadcast(x0), "event_type")
      .withColumn("x", col("eh") - col("eh0"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), max(col("x")).as("mx"))
      .select(col("event_type"), col("n"), col("sy"),
        // nullif-guarded denominator: a DEGENERATE group (all points in
        // one hour → n·sxx − sx² = 0) has no defined slope; a bare 0/0
        // is NaN in Spark while DuckDB's divide-by-zero differs by
        // config, so the oracle would DRIFT instead of failing cleanly.
        // NULL/NULL propagates identically through both engines
        expr("""round(CAST(n * sxy - sx * sy AS DOUBLE)
                |  / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6)"""
          .stripMargin).as("slope_cph"),
        expr(
          """round(CAST(sy AS DOUBLE) / n
            |  + (CAST(n * sxy - sx * sy AS DOUBLE)
            |     / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0))
            |    * ((mx + 1) - CAST(sx AS DOUBLE) / n), 4)""".stripMargin)
          .as("fc_next_cents"))
  }

  /** IQR-fence outlier detection per order priority on EXACT rank-based
    * quartiles: prices move through integer cents, q1/q3 are the elements
    * at rank ⌊(n−1)/4⌋+1 / ⌊3(n−1)/4⌋+1 of the (price, key)-sorted group
    * (a total order — no interpolation, no float percentile drift), and
    * the 1.5·IQR fences are compared through the ×2-scaled integer form
    * 2·x ≷ 2·q ± 3·IQR so no division ever happens. Both engines select
    * the identical outlier set. At 100 TB the exact in-group sort gives
    * way to a t-digest/approx_percentile sketch for the quartiles — the
    * fence logic is unchanged; here the demo is the exact semantics. */
  def anomalyIqr(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
      col("o_orderkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("pc"))
    val w = Window.partitionBy(col("grp")).orderBy(col("pc"), col("o_orderkey"))
    val ranked = o.select(col("grp"), col("pc"),
      row_number().over(w).as("rn"),
      count(lit(1)).over(Window.partitionBy(col("grp"))).as("n"))
    val q = ranked.groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("((n - 1) div 4) + 1"), col("pc")))
          .as("q1c"),
        max(when(col("rn") === expr("((3 * (n - 1)) div 4) + 1"), col("pc")))
          .as("q3c"))
    val isOut =
      lit(2) * col("pc") > lit(2) * col("q3c") + lit(3) * (col("q3c") - col("q1c")) ||
        lit(2) * col("pc") < lit(2) * col("q1c") - lit(3) * (col("q3c") - col("q1c"))
    o.join(broadcast(q), "grp")
      .select(col("grp"), col("pc"), col("n"), col("q1c"), col("q3c"),
        isOut.as("is_out"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        (max(col("q1c")) / lit(100.0)).as("q1"),
        (max(col("q3c")) / lit(100.0)).as("q3"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        (min(when(col("is_out"), col("pc"))) / lit(100.0)).as("min_outlier"),
        (max(when(col("is_out"), col("pc"))) / lit(100.0)).as("max_outlier"))
  }

  /** Event-sequence pattern matching (MATCH_RECOGNIZE-lite): each user's
    * history collapses to a journey string of event initials in the
    * (ts, event_id) total order, and patterns are ordinary regexes over
    * that string — conversion (signup…click…purchase), error rage
    * (3 consecutive errors), and direct click→purchase counts. The regex
    * runs once per USER on the collapsed string, never per event; the
    * per-user state is bounded by that user's own event count, which is
    * exactly the state a streaming flatMapGroupsWithState sessionizer
    * would hold. Initials are unique across the fixture's event types. */
  def winPattern(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("ini")))),
          x => x.getField("ini")), "").as("journey"))
      .select(col("user_id"), col("n_events"), col("journey"),
        col("journey").rlike("s.*c.*p").as("converted"),
        col("journey").rlike("eee").as("rage_errors"),
        expr("cast(size(regexp_extract_all(journey, 'cp', 0)) as bigint)")
          .as("n_quick_buys"))
  }

  /** Incremental materialized-view maintenance — the engine capability
    * behind every "keep this rollup fresh without re-scanning the lake"
    * pipeline. The view (per event_type × user-segment: event count +
    * value total) is maintained from two inputs: a STAGED snapshot of
    * per-group partials covering everything before the high-water mark
    * (written to parquet once per corpus snapshot, the stagedDedupIndex
    * economics) and a delta aggregate over only the rows at/after it.
    * Because count/sum partials form a commutative monoid, merging the
    * two partial sets (union → re-aggregate) is provably equal to a
    * from-scratch recompute — the spec asserts the equality, and the
    * oracle IS the full recompute. Each group also reports provenance
    * (snapshot / delta / both): the audit column a refresh job uses to
    * count how much of the view the delta actually touched.
    *
    * At-scale: the registered query scans ONLY the delta slice of the
    * events log (plan-asserted: exactly one events scan, carrying the
    * high-water-mark predicate) plus the view-sized staged partials —
    * refresh cost is O(delta + |view|), never O(log). On a
    * date-partitioned production log the cutoff predicate is a partition
    * prune. Exactness: per-event values collapse to integer cents before
    * any cross-row sum; one /100.0 at the output. The high-water mark
    * (last observed day − 4 days, so the delta is the trailing 5-day
    * reprocess window) lives in the staged meta table and reaches the
    * scan via a broadcast 1-row cross join — never a driver-side read in
    * the query path. */
  private def tableVersion(d: String, name: String): Long = {
    val f = new java.io.File(s"$d/$name.parquet")
    val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    kids.map(k => k.getName.hashCode.toLong ^ k.lastModified() ^ (k.length << 13))
      .foldLeft(f.lastModified())(_ ^ _)
  }

  private def eventsVersion(d: String): Long = tableVersion(d, "events")

  private def mvPartials(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), pmod(col("user_id"), lit(64)).as("seg"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("vc"))

  private[graft] def stagedMv(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val version = java.lang.Long.toHexString(eventsVersion(d))
    val dir = StageUtil.staged(s"mv_$version", d) { base =>
      val ev = Tables.events(s, d)
      ev.agg(expr("date_trunc('day', max(ts)) - interval 4 days").as("cutoff"))
        .write.mode("overwrite").parquet(s"$base/meta")
      // snapshot partials derive from the WRITTEN meta — view and
      // high-water mark are consistent by construction
      val meta = Tables.read(s, s"$base/meta")
      ev.crossJoin(broadcast(meta)).where(col("ts") < col("cutoff"))
        .transform(mvPartials)
        .write.mode("overwrite").parquet(s"$base/view")
    }
    (Tables.read(s, s"$dir/view"), Tables.read(s, s"$dir/meta"))
  }

  def mvIncremental(s: SparkSession, d: String): DataFrame = {
    val (view, meta) = stagedMv(s, d)
    val delta = Tables.events(s, d)
      .crossJoin(broadcast(meta)).where(col("ts") >= col("cutoff"))
      .transform(mvPartials)
    view.select(col("event_type"), col("seg"), col("n"), col("vc"),
        lit(1).as("snap"), lit(0).as("del"))
      .unionByName(delta.select(col("event_type"), col("seg"), col("n"),
        col("vc"), lit(0).as("snap"), lit(1).as("del")))
      .groupBy(col("event_type"), col("seg"))
      .agg(sum(col("n")).as("n_events"),
        (sum(col("vc")) / 100.0).as("total"),
        max(col("snap")).as("hs"), max(col("del")).as("hd"))
      .select(col("event_type"), col("seg"), col("n_events"), col("total"),
        when(col("hs") === 1 && col("hd") === 1, "both")
          .when(col("hs") === 1, "snapshot").otherwise("delta")
          .as("provenance"))
  }

  /** Distribution-drift monitor (PSI) between two snapshots of a metric
    * — the data-quality gate a production pipeline runs before letting a
    * new ingest reach training: has the VALUE DISTRIBUTION moved, not
    * just the row counts (dq_constraints' job)? Windows are the first
    * vs last half of the event log (split at min-day + 15 days via a
    * broadcast 1-row cutoff, the mv_incremental pattern); per
    * event_type the value-cents range is cut into 16 shared equi-width
    * buckets (exact integer edges over BOTH windows, so the two
    * histograms are comparable by construction) and the population
    * stability index is Σ (p−q)·ln(p/q) over Laplace-smoothed bucket
    * proportions.
    *
    * Determinism discipline: proportions are exact integer ppm
    * ((cnt+1)·10⁶ div (tot+B)); each bucket's ln factor is a per-row
    * scalar from identical integer inputs quantized to fixed-point
    * (round(ln·10⁶) as BIGINT — the perplexity_proxy rule), so the
    * cross-bucket reduction is an EXACT integer sum and the drift flag
    * compares integers (Σterm > 10¹¹ ⇔ PSI > 0.1). Floats decide
    * nothing across rows.
    *
    * Scale shape: one pass histograms the log (map-side combine into
    * |types|·B·2 cells), bounds/totals are broadcast-sized, and the PSI
    * fold runs over |types|·B rows — the raw log is scanned once
    * regardless of corpus size. */
  private val DriftB = 16

  /** PSI core over rows (event_type, win ∈ {ref,cur}, vc). Factored so
    * specs can feed synthetic drifted inputs; dq_drift wires the event
    * log in. */
  private[graft] def psiDrift(tagged: DataFrame): DataFrame = {
    val B = DriftB
    val bounds = tagged.groupBy(col("event_type"))
      .agg(min(col("vc")).as("lo"), max(col("vc")).as("hi"))
    val hist = tagged.join(broadcast(bounds), "event_type")
      .withColumn("bucket",
        expr(s"cast(least($B - 1, ((vc - lo) * $B) div (hi - lo + 1)) as int)"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("win") === "ref", 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("cur_cnt"))
    val spine = bounds.select(col("event_type"),
      explode(expr(s"sequence(0, ${B - 1})")).as("bucket"))
    val dense = spine.join(hist, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    val tots = dense.groupBy(col("event_type"))
      .agg(sum(col("ref_cnt")).as("ref_n"), sum(col("cur_cnt")).as("cur_n"))
    dense.join(broadcast(tots), "event_type")
      .withColumn("p_pm", expr(s"((ref_cnt + 1) * 1000000) div (ref_n + $B)"))
      .withColumn("q_pm", expr(s"((cur_cnt + 1) * 1000000) div (cur_n + $B)"))
      .withColumn("term_fp", (col("p_pm") - col("q_pm")) *
        round(log(col("p_pm").cast("double") / col("q_pm")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("ref_n")).as("ref_n"), max(col("cur_n")).as("cur_n"),
        sum(col("term_fp")).as("psi_fp"))
      .select(col("event_type"), col("ref_n"), col("cur_n"),
        round(col("psi_fp").cast("double") / 1e12, 6).as("psi"),
        (col("psi_fp") > 100000000000L).as("is_drift"))
  }

  /** MANN-KENDALL trend test — the NONPARAMETRIC trend verdict the
    * parametric ts_forecast_linear can't give when the series is
    * non-normal or stepped: S = Σ_{i<j} sign(vⱼ − vᵢ) over the hourly
    * value series per event type — exact integer arithmetic end to
    * end (no ranks, no variance approximation), with the effect size
    * reported as |τ|·10⁴ = |S|·10⁴ div pairs (sign carried separately
    * because trunc-vs-floor division diverges on negatives across
    * engines). The raw events collapse to the bounded hourly series
    * FIRST (the ts_gapfill rule), so the O(|series|²) pair join is
    * bounded by the time range — ~720 hours → ~260k sign evaluations
    * per type — at ANY corpus size; at 100 TB the quadratic term never
    * sees row counts, only hours. */
  def tsTrendTest(s: SparkSession, d: String): DataFrame = {
    val series = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("v"))
    val later = series
      .select(col("event_type").as("et2"), col("hr").as("h2"),
        col("v").as("v2"))
    series.join(later,
        col("event_type") === col("et2") && col("hr") < col("h2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(sign(v2 - v) AS BIGINT)")).as("s_stat"))
      .withColumn("trend",
        when(col("s_stat") > 0, "up").when(col("s_stat") < 0, "down")
          .otherwise("flat"))
      .withColumn("abs_tau_bp", expr("abs(s_stat) * 10000 div n_pairs"))
  }

  /** SCHEMA DRIFT audit — the ingestion-gate check that catches a
    * producer changing its output shape before the change corrupts a
    * 100 TB table: two staged generations of the same feed (gen2 type-
    * changes o_totalprice to string — the classic "producer started
    * quoting numbers" bug — adds o_month, and drops o_orderpriority),
    * diffed by a FULL OUTER JOIN on column name into
    * added / removed / type_changed / unchanged verdicts. The schemas
    * come from parquet FOOTERS (driver metadata — `spark.read`'s
    * schema resolution), so the audit costs two footer reads no matter
    * the table size; at 100 TB this runs per ingestion batch and gates
    * the merge (sink_wap's audit slot is where it plugs in). The
    * verdict table is what a schema registry's compatibility check
    * (Avro/Protobuf CONFORMS queries) computes — here from the files
    * themselves, so it also catches producers that bypass the
    * registry. */
  def dqSchemaDrift(s: SparkSession, d: String): DataFrame = {
    val base = StageUtil.staged("schema_drift", d) { p =>
      val src = Tables.orders(s, d).where(col("o_orderkey") < 100)
      src.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$p/gen1")
      src.select(col("o_orderkey"),
          col("o_totalprice").cast("string").as("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
        .write.mode("overwrite").parquet(s"$p/gen2")
    }
    import s.implicits._
    val g1 = Tables.read(s, s"$base/gen1").schema.fields
      .map(f => (f.name, f.dataType.simpleString)).toSeq
      .toDF("col_name", "t1")
    val g2 = Tables.read(s, s"$base/gen2").schema.fields
      .map(f => (f.name, f.dataType.simpleString)).toSeq
      .toDF("col_name", "t2")
    g1.join(g2, Seq("col_name"), "full")
      .select(col("col_name"),
        coalesce(col("t1"), lit("-")).as("gen1_type"),
        coalesce(col("t2"), lit("-")).as("gen2_type"),
        when(col("t1").isNull, "added")
          .when(col("t2").isNull, "removed")
          .when(col("t1") =!= col("t2"), "type_changed")
          .otherwise("unchanged").as("status"))
  }

  def dqDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("ts"),
      round(col("value") * 100, 0).cast("long").as("vc"))
    val cut = ev.agg(
      expr("date_trunc('day', min(ts)) + interval 15 days").as("cutoff"))
    psiDrift(ev.crossJoin(broadcast(cut))
      .withColumn("win",
        when(col("ts") < col("cutoff"), "ref").otherwise("cur"))
      .select(col("event_type"), col("win"), col("vc")))
  }

  /** Exponentially weighted moving average over the hourly event series
    * — the classic smoothing recurrence, re-expressed without the
    * recurrence: s_t = α·x_t + (1−α)·s_{t−1} truncated at T=8 taps is
    * the window dot product Σ_j w_j·x_{t−j} with EXACT INTEGER weights
    * w_j = 3^j·4^(7−j) (α = 1/4 ⇒ α(1−α)^j = 3^j/4^(j+1), cleared to
    * the common denominator 4^8). A literal recurrence would chain every
    * row to its predecessor — unvectorizable, unpartitionable; the
    * bounded-tap form is one window pass with 8 row-frame lags, ragged
    * at each series head by renormalizing the denominator over the taps
    * actually present (truncation error vs the infinite tail is
    * (3/4)^8 ≈ 10%, the standard windowed-EWMA trade, swept into the
    * renormalization). All numerators/denominators are exact BIGINT —
    * ewma cents are an integer division both engines floor identically;
    * /100.0 once at the output.
    *
    * Scale shape: the raw log collapses to the hourly (type, hour)
    * series FIRST (one shuffle, map-side combine); the window runs over
    * |types|·|hours| rows, never raw events — the ts_gapfill rule. */
  /** Exact rolling MEDIAN over the hourly series — the robust smoother
    * ts_ewma's linear fold is not: a single corrupt spike moves a mean
    * by its full magnitude but a 10-bucket median by at most one rank
    * step. `percentile(vc, 0.5)` runs as a window aggregate over a
    * bounded 10-row frame (per-row cost O(frame) with bounded state —
    * no global sort beyond the per-key window order), and Spark's
    * interpolating percentile ≡ DuckDB's quantile_cont (the dq_skew
    * precedent), so the .5-interpolated even-count medians hash-match.
    * Scale shape: identical to ts_ewma — one raw-event shuffle to
    * hourly buckets, then per-key windows over ~|keys|·|hours| rows. */
  def tsRollingMedian(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-9, 0)
    hourly.select(col("event_type"), col("h"), col("n"), col("vc"),
      round(expr("percentile(vc, 0.5)").over(w), 4).as("med"))
  }

  def tsEwma(s: SparkSession, d: String): DataFrame = {
    val T = 8
    val wts = Array.tabulate(T)(j =>
      math.pow(3, j).toLong * math.pow(4, T - 1 - j).toLong)
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val lagged = (0 until T).foldLeft(hourly) { (df, j) =>
      df.withColumn(s"x$j", lag(col("vc"), j).over(w))
    }
    val num = (0 until T).map(j =>
      when(col(s"x$j").isNotNull, lit(wts(j)) * col(s"x$j")).otherwise(lit(0L)))
      .reduce(_ + _)
    val den = (0 until T).map(j =>
      when(col(s"x$j").isNotNull, lit(wts(j))).otherwise(lit(0L)))
      .reduce(_ + _)
    lagged
      .withColumn("num", num).withColumn("den", den)
      // floor(double-div) rather than `div`: Spark div truncates toward
      // zero, DuckDB // floors — floor-on-double is the one form both
      // engines share at any sign (the lloyd recenter idiom; num stays
      // ≪ 2⁵³ so the double is exact)
      .withColumn("ec",
        floor(col("num").cast("double") / col("den")).cast("long"))
      .select(col("event_type"), col("h"), col("n"),
        (col("vc") / 100.0).as("value"), (col("ec") / 100.0).as("ewma"))
  }

  /** Two-sided CUSUM change-point detection over the hourly value
    * series — the sequential mean-shift detector (Page's cumulative
    * sum) every telemetry / data-quality pipeline runs beside
    * distribution drift (dq_drift is two fixed windows; CUSUM localizes
    * WHEN the shift happened). The clamped recurrence
    * S_t = max(0, S_{t−1} + d_t) chains every row to its predecessor
    * through the clamp — unvectorizable as written; it is re-expressed
    * through the exact identity S_t = P_t − min(0, min_{j≤t} P_j) with
    * P the plain prefix sum (induction: the running min absorbs the
    * clamp), which is one running sum + one running min — both plain
    * window passes. Arithmetic stays in exact BIGINT at the ×n scale:
    * deviations clear the mean division (D_t = n·x_t − Σx ∓ n·κ with
    * n·κ = Σx div 20 — slack κ = 5% of the hourly mean), the alarm
    * S > H at H = 25% of the mean becomes 4·S_scaled > Σx, and the
    * reported cusum magnitude is S_scaled div n cents — every operand
    * nonnegative, so Spark's truncating div and DuckDB's flooring //
    * agree, and the gate hash-matches on the identical lattice.
    *
    * Scale shape: the raw log collapses to the (type, hour) series
    * FIRST — ONE shuffle over raw events, with map-side combine, keyed
    * (type, hour) so the exchange keeps full parallelism (keying raw
    * events by type alone would collapse to |types| partitions).
    * Everything after runs over |types|·|hours| rows, never raw events
    * (the ts_gapfill rule): the per-type totals broadcast back, the
    * series re-exchanges by type for the prefix/min windows, and the
    * final per-type aggregate reuses the window partitioning (subset
    * rule — no fourth exchange). Magnitudes bound by |hours|·Σcents —
    * at 100 TB (Σcents ~10¹⁵, |hours| ~10⁴) still inside 2⁶³. */
  def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sx"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    hourly.join(broadcast(tot), "event_type")
      .withColumn("dup", col("n") * col("vc") - col("sx") - expr("sx div 20"))
      .withColumn("ddn", col("sx") - col("n") * col("vc") - expr("sx div 20"))
      .withColumn("pup", sum(col("dup")).over(run))
      .withColumn("pdn", sum(col("ddn")).over(run))
      .withColumn("cup", col("pup") - least(lit(0L), min(col("pup")).over(run)))
      .withColumn("cdn", col("pdn") - least(lit(0L), min(col("pdn")).over(run)))
      .withColumn("alarm_up", col("cup") * 4 > col("sx"))
      .withColumn("alarm_dn", col("cdn") * 4 > col("sx"))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_hours"),
        sum(when(col("alarm_up"), 1L).otherwise(0L)).as("n_alarm_up"),
        sum(when(col("alarm_dn"), 1L).otherwise(0L)).as("n_alarm_dn"),
        min(when(col("alarm_up"), col("h"))).as("first_alarm_up"),
        min(when(col("alarm_dn"), col("h"))).as("first_alarm_dn"),
        (max(expr("cup div n")) / 100.0).as("max_cusum_up"),
        (max(expr("cdn div n")) / 100.0).as("max_cusum_dn"))
  }

  /** Batch sessionization of the event log — the gap-based session cut
    * every clickstream/telemetry pipeline needs in BATCH form
    * (stream_session is the streaming twin; this is the backfill/
    * reprocess shape). Per user, a new session starts at the first
    * event or whenever the gap to the previous event exceeds 30
    * minutes; the session id is the running sum of break flags, and
    * each session reports start/end, event count, duration, and value
    * total. Time stays in exact integer MICROSECONDS end-to-end
    * (unix_micros ↔ epoch_us are bijective with the stored
    * timestamps), values collapse to integer cents before the cross-row
    * sum — floats decide nothing. The (ts, event_id) tiebreak makes
    * the lag/running-sum ordering total, though the session ASSIGNMENT
    * is already tie-insensitive (equal timestamps ⇒ gap 0 < threshold).
    *
    * Scale shape: ONE shuffle — the window's hash partition by
    * user_id; the session aggregate's (user_id, session_id) grouping
    * is satisfied by the same partitioning (subset rule), so Spark
    * chains window → sort-free hash-agg with no second exchange. At
    * 100 TB this is the canonical one-pass sessionizer: no self-join,
    * no per-session explode, state bounded by a user's own history. */
  def tsSessionize(s: SparkSession, d: String): DataFrame = {
    val gapUs = 1800L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .withColumn("brk",
        when(lag(col("tus"), 1).over(w).isNull
          || col("tus") - lag(col("tus"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        timestamp_micros(min(col("tus"))).as("session_start"),
        timestamp_micros(max(col("tus"))).as("session_end"),
        count(lit(1)).as("n_events"),
        ((max(col("tus")) - min(col("tus"))) / lit(1000000L)).cast("long")
          .as("duration_sec"),
        (sum(col("vc")) / 100.0).as("sum_value"))
  }

  /** Multi-source BFS hop distances over the co-supply graph — the
    * frontier-expansion primitive the graph family lacked (components =
    * undirected closure, pagerank = fixed power rounds, triangles/
    * jaccard = neighborhood intersection; none answers "how FAR is
    * every node from a seed set"). Seeds are the 5 smallest node ids;
    * each round joins the frontier against the memoized adjacency,
    * explodes neighbors, and anti-joins the settled set — the Pregel
    * BFS step. Unreachable nodes report hop −1, so the output is a
    * total audit (per hop: node count + exact id checksum).
    *
    * Round count is the seed set's eccentricity — INHERENT to BFS
    * (distances don't compose the way component labels do, so the
    * star-contraction O(log n) trick does not apply); co-supply graphs
    * are cliquish with tiny diameters, and the loop hard-caps at 64
    * hops (mirrored in the oracle's recursion bound — distances beyond
    * the cap would report unreachable on both engines). Driver reads
    * are one O(1) isEmpty per round (the convergence-read rule); every
    * round's checkpoint is freed as soon as the next supersedes it. At
    * 100 TB each round is one shuffle join on node id against the
    * 1-row-per-node adjacency — frontier-sized, not graph-sized, work
    * per round. */
  def graphBfs(s: SparkSession, d: String): DataFrame = {
    val adj = coSupplyAdjacency(s, d) // (id, nbrs, deg)
    val nodes = adj.select(col("id"))
    val cps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var settled = nodes.orderBy(col("id")).limit(5)
      .withColumn("hop", lit(0)).localCheckpoint()
    cps += settled
    var frontier = settled
    var hop = 0
    var done = false
    while (!done && hop < 64) {
      hop += 1
      val next = frontier.join(adj, "id")
        .select(explode(col("nbrs")).as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .withColumn("hop", lit(hop))
        .localCheckpoint()
      cps += next
      if (next.isEmpty) done = true
      else {
        val ns = settled.unionByName(next).localCheckpoint()
        cps += ns
        settled = ns
        frontier = next
      }
    }
    val keep = settled
    cps.filter(_ ne keep).foreach(MemoUtil.dropCheckpoint)
    MemoUtil.scratch(keep)
    nodes.join(keep, Seq("id"), "left")
      .select(col("id"), coalesce(col("hop"), lit(-1)).as("hop"))
      .groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("id")).cast("long").as("id_sum"))
  }

  /** WEIGHTED single-source (multi-seed) shortest paths — the routing/
    * influence-distance face of the graph family, where graph_bfs
    * counts hops: co-supply edges weighted by partnership strength
    * (w = ⌈1000 / shared-order-count⌉ in pure integer division, so two
    * strong edges can undercut one weak one — real path structure, not
    * hop counting), relaxed from the 5 smallest supplier ids by SIX
    * Bellman-Ford rounds: dist_{k+1} = min(dist_k, min over in-edges of
    * dist_k(src) + w). Each round is one join + one min-aggregate —
    * the frontier-as-dataset shape that scales as rounds × edge scans
    * (Pregel's economics without per-node state); the round count is a
    * FIXED contract (diameter-bounded; the fixture graphs are dense, so
    * 6 ≫ diameter — AnalyticsSpec asserts round 7 is a fixed point and
    * replays sf0.001 against a driver-side Dijkstra). Unreachable
    * nodes report -1. The DuckDB oracle unrolls the identical six
    * rounds as MATERIALIZED CTEs — exact integer distances end to end. */
  def graphSssp(s: SparkSession, d: String): DataFrame = {
    // the weighted edge set rides the graph family's shared memoized
    // pair build (r18, guide §1.2: the previous per-query twin of that
    // aggregation was the op's dominant cost); the sssp weight is a
    // map-side projection of the checkpointed (src, dst, w) table.
    // n_co ≡ w by construction — same grouping, same ≥ 2 prune.
    val edges = coSupplyWeighted(s, d)
      .select(col("src"), col("dst"),
        expr("CAST((1000 + w - 1) DIV w AS BIGINT)").as("w"))
    // node set = the adjacency memo's id column (1 row/node, already
    // checkpointed) instead of a distinct over the edge table — the id
    // sets are identical (groupBy src ≡ distinct src)
    val nodes = coSupplyAdjacency(s, d).select(col("id"))
    // ZERO-WEIGHT SELF-LOOPS fold the carry-union into the relax join
    // (r18, guide §2.4/§1.2): dist_{k+1}(v) = min over in-edges of
    // dist_k(u) + w(u,v) with (v,v,0) ∈ E reproduces the old
    // min(dist_k(v), relax) exactly — and dist_k now has ONE consumer
    // per round (the relax join) instead of two siblings (carry + relax),
    // so the round chain needs NO checkpoint barriers at all: the plan
    // is a linear 6-round join+agg chain materialized by the final
    // consumer as one job (the two-sibling shape that forced eager
    // per-round checkpoints — and made lazy ones race — is gone).
    val edgesPlus = edges.unionByName(
      nodes.select(col("id").as("src"), col("id").as("dst"),
        lit(0L).as("w")))
    var dist = nodes.orderBy(col("id")).limit(5)
      .select(col("id"), lit(0L).as("dist"))
    (1 to 6).foreach { _ =>
      dist = dist.withColumnRenamed("id", "src")
        .join(edgesPlus, "src")
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    }
    nodes.join(dist, Seq("id"), "left")
      .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** MAD-based robust anomaly detection over the hourly value series —
    * the outlier detector that survives the outliers it hunts (mean/
    * stddev gates move with the anomaly; median/MAD don't — the reason
    * robust z-scores are the telemetry default). Flags hours where
    * |x − median| > 3·MAD, per event type.
    *
    * Exactness: medians of integers are half-integers, so both median
    * levels are carried ×2 (m2 = 2·median(vc) exact BIGINT; deviations
    * dev = |2·vc − m2| exact; mad4 = 2·median(dev)) and the gate
    * |x−med| > 3·MAD becomes the integer compare 2·dev > 3·mad4 — both
    * engines interpolate even-count medians identically ((a+b)/2 on
    * doubles ≪ 2⁵³), and nothing else is floating point until the
    * /100.0 display columns. Scale shape: one (type, hour) aggregate
    * over raw events (map-side combine, high-cardinality key), then
    * two tiny per-type median aggregates broadcast back over the
    * |types|·|hours| series — raw events are touched once. */
  def tsAnomalyMad(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val med = hourly.groupBy(col("event_type"))
      .agg(round(lit(2) * expr("percentile(vc, 0.5)"), 0).cast("long").as("m2"))
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("dev", abs(lit(2) * col("vc") - col("m2")))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(lit(2) * expr("percentile(dev, 0.5)"), 0).cast("long")
        .as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("is_anom", lit(2) * col("dev") > lit(3) * col("mad4"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anom"),
        min(when(col("is_anom"), col("h"))).as("first_anom"),
        (max(col("m2")) / 2.0 / 100.0).as("median_value"),
        (max(col("mad4")) / 4.0 / 100.0).as("mad_value"),
        (max(col("dev")) / 2.0 / 100.0).as("max_dev"))
  }

  /** 24-hour rolling Pearson correlation between hourly event COUNT and
    * hourly value mass, per event type — the "are volume and value
    * moving together this day" co-movement monitor (regime shifts show
    * up as the correlation sign flipping). The window sums are all
    * EXACT BIGINT (counts × integer cents; every Σ, Σx², Σxy term
    * bounded well under 2⁶³ at 100 TB hourly grain), so the one double
    * per row — num / (√va·√vb) — is computed from identical exact
    * integers on both engines; √a·√b instead of √(a·b) keeps the
    * product from crossing 2⁶³. Windows with degenerate variance
    * report NULL. Scale shape: identical to ts_ewma — one raw-event
    * aggregate keyed (type, hour), then ROWS-frame windows over the
    * tiny hourly series. */
  def tsRollingCorr(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"),
        round(sum(col("value")) * 100, 0).cast("long").as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-23, 0)
    hourly
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("num", col("nw") * col("sxy") - col("sx") * col("sy"))
      .withColumn("va", col("nw") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vb", col("nw") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("h"), col("nw"),
        when(col("va") > 0 && col("vb") > 0,
          round(col("num") / (sqrt(col("va")) * sqrt(col("vb"))), 6))
          .as("corr_24h"))
  }

  /** Degree distribution of the co-supply graph — the first thing to
    * read off any production graph (skew tells you whether triangles/
    * jaccard need degree caps, components need salting). One hash
    * aggregate over the memoized 1-row-per-node adjacency; id_sum is
    * the exact membership checksum (the graph-family audit idiom). */
  def graphDegreeDist(s: SparkSession, d: String): DataFrame =
    coSupplyAdjacency(s, d)
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("id")).as("id_sum"))

  /** Two-hop link strength: for the 10 smallest node ids, every node
    * reachable through a common neighbor, scored by the number of
    * distinct connecting middles — the friend-of-a-friend primitive.
    * Candidates NOT already adjacent (is_direct = false) are link
    * predictions; adjacent ones rank existing tie strength. The flag
    * (rather than an anti-join drop) keeps the op meaningful on any
    * topology — on a clique fixture every 2-hop candidate is also
    * direct, and a strict exclusion would return the empty set.
    * Top-5 per source by (n_common desc, candidate).
    *
    * Scale shape: work is bounded by the SEED SET, never the graph —
    * seeds join the memoized adjacency, explode once to their ≤deg
    * middles, once more to Σ_{m∈N(s)} deg(m) candidate mentions
    * (seed-local Σdeg, the BFS-frontier bound), then one hash aggregate
    * + a broadcast-size flag join against the seeds' own edges. No
    * all-pairs stage exists at any scale. */
  def graph2hop(s: SparkSession, d: String): DataFrame = {
    val adj = coSupplyAdjacency(s, d)
    val srcs = adj.select(col("id")).orderBy(col("id")).limit(10)
    val e1 = srcs.join(adj, "id")
      .select(col("id").as("src"), explode(col("nbrs")).as("mid"))
    val e2 = e1
      .join(adj.select(col("id").as("mid"), col("nbrs").as("mn")), "mid")
      .select(col("src"), col("mid"), explode(col("mn")).as("cand"))
      .where(col("cand") =!= col("src"))
    // (src, mid, cand) rows are unique (adjacency lists are distinct),
    // so the count IS the distinct-middle count
    val counted = e2.groupBy(col("src"), col("cand"))
      .agg(count(lit(1)).as("n_common"))
    val direct = e1.select(col("src"), col("mid").as("cand"))
      .withColumn("is_direct", lit(true))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("n_common").desc, col("cand"))
    counted.join(direct, Seq("src", "cand"), "left")
      .withColumn("is_direct", coalesce(col("is_direct"), lit(false)))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("src"), col("cand"), col("n_common"), col("is_direct"),
        col("rn"))
  }

  /** Per-column completeness/cardinality profile of the event log —
    * the dataset-profiling row every ingestion gate starts from
    * (dq_constraints asserts thresholds; this REPORTS the raw profile
    * per column). One aggregate pass + a stack to (column, metrics)
    * rows; all integers, completeness in exact basis points. The
    * multi-column exact distinct runs through Spark's expand (one scan,
    * ×n_cols partial rows) — the standard profiling trade, and the
    * reason the op profiles a fixed 5-column projection rather than
    * SELECT *. */
  def dqCompleteness(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      count(lit(1)).as("n"),
      count(col("event_id")).as("nn_id"),
      countDistinct(col("event_id")).as("nd_id"),
      count(col("user_id")).as("nn_user"),
      countDistinct(col("user_id")).as("nd_user"),
      count(col("event_type")).as("nn_type"),
      countDistinct(col("event_type")).as("nd_type"),
      count(col("value")).as("nn_value"),
      countDistinct(col("value")).as("nd_value"),
      count(col("props")).as("nn_props"),
      countDistinct(col("props")).as("nd_props"))
    .select(expr("""stack(5,
      |  'event_id',   nn_id,    nd_id,    nn_id    * 10000 div n,
      |  'user_id',    nn_user,  nd_user,  nn_user  * 10000 div n,
      |  'event_type', nn_type,  nd_type,  nn_type  * 10000 div n,
      |  'value',      nn_value, nd_value, nn_value * 10000 div n,
      |  'props',      nn_props, nd_props, nn_props * 10000 div n)
      |AS (column_name, n_nonnull, n_distinct, completeness_bp)
      |""".stripMargin))

  /** Per-stream freshness audit: how far each event type's newest data
    * lags the newest data ANYWHERE in the log, with last-24 h volume —
    * the "is this source still alive" gate every ingestion dashboard
    * leads with. Time stays in exact integer microseconds (lag floored
    * to whole seconds); the staleness threshold is 6 h. Two scans by
    * necessity (the global high-water mark must exist before per-row
    * recency compares); both are plain map-side aggregates, and the
    * 1-row watermark broadcasts. */
  def dqFreshness(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("tus"))
    val g = ev.agg(max(col("tus")).as("gmax")) // 1 row → broadcast
    ev.crossJoin(broadcast(g))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        timestamp_micros(max(col("tus"))).as("last_ts"),
        expr("(max(gmax) - max(tus)) div 1000000").as("lag_sec"),
        sum(when(col("tus") > col("gmax") - lit(86400000000L), 1L)
          .otherwise(0L)).as("n_last24h"))
      .withColumn("stale", col("lag_sec") > 21600L)
  }

  /** Degree assortativity of the co-supply graph (Newman's r): the
    * Pearson correlation of endpoint degrees over the symmetric
    * directed edge set — positive r means hubs prefer hubs (resilient
    * core), negative means hub-and-spoke (delete a hub, strand the
    * spokes). By symmetry Σdu = Σdv and Σdu² = Σdv², so
    * r = (m·Σdudv − (Σdu)²) / (m·Σdu² − (Σdu)²) — every SUM an exact
    * BIGINT, while the final m·Σ cross-products run in doubles (the
    * BIGINT product form overflowed the 10× clone probe, r9: m²·maxdeg²
    * passes 2⁶³ long before the sums themselves do). Degenerate (regular)
    * graphs report NULL — the sf0.01 fixture is a clique, so the
    * NULL branch is exercised by the gate itself. One explode + one
    * equi-join on node id against the memoized adjacency, one global
    * aggregate. */
  def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val adj = coSupplyAdjacency(s, d)
    val e = adj
      .select(col("id").as("u"), col("deg").as("du"),
        explode(col("nbrs")).as("v"))
      .join(adj.select(col("id").as("v"), col("deg").as("dv")), "v")
    // sums stay exact BIGINT; the FINAL cross-multiplication m·Σ — the
    // one place products reach m²·maxdeg² and overflowed the 10× clone
    // probe (r9) — runs in doubles, literal-for-literal identical in
    // the oracle, feeding a 6-dp round
    e.agg(
        count(lit(1)).as("m"),
        sum(col("du")).as("sx"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"))
      .select(
        expr("m div 2").as("n_edges"),
        when(col("m").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double") > 0,
          round((col("m").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            / (col("m").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 6))
          .as("assortativity"))
  }

  /** k-core decomposition of the co-supply graph (k = 2, 3, 4): the
    * maximal subgraph where every node keeps ≥ k neighbors, by the
    * classic peel — repeatedly delete nodes whose CURRENT degree is
    * below k until fixpoint. Coreness is the standard "how embedded is
    * this node" grade (spam/bot subgraphs and boilerplate hubs live in
    * shallow cores; dense supplier communities survive deep ones).
    *
    * The (k+1)-core is a subgraph of the k-core, so the peel runs
    * PROGRESSIVELY — each k starts from the previous survivor edges,
    * never from the full graph. Each round is one degree aggregate +
    * two semi-joins (edges whose BOTH endpoints survive), checkpointed
    * to cut the iterative lineage; the loop stops when the edge count
    * is stable. Fixture peels converge in ≤ {maxRounds} rounds (spec-
    * asserted), which is what lets the oracle replay the peel as a
    * fixed unrolled CTE chain — extra rounds past fixpoint are no-ops,
    * so fixpoint-vs-unrolled agree exactly. At 100 TB the loop shape
    * is rounds × (one shuffle keyed by node) with the frontier only
    * shrinking — same discipline as graph_bfs / star contraction; the
    * pathological long-peel topology (a long chain of degree-k nodes)
    * costs rounds ∝ its length, the known worst case of distributed
    * peeling (noted, not hidden). */
  private[graft] val kcoreMaxRounds = 6

  def graphKcore(s: SparkSession, d: String): DataFrame = {
    val sym = coSupplyAdjacency(s, d)
      .select(col("id").cast("long").as("src"),
        explode(col("nbrs")).as("dst"))
    var edges = MemoUtil.scratch(sym.localCheckpoint())
    var n = edges.count()
    val audits = (2 to 4).map { k =>
      var rounds = 0
      var stable = false
      while (!stable && rounds < kcoreMaxRounds) {
        val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k).select(col("src"))
        val next = MemoUtil.scratch(
          edges.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select(col("src"), col("dst"))
            .localCheckpoint())
        val m = next.count()
        stable = m == n
        edges = next; n = m; rounds += 1
      }
      require(stable, s"k-core peel (k=$k) did not converge within " +
        s"$kcoreMaxRounds rounds — raise kcoreMaxRounds AND the oracle unroll")
      edges.agg(
        count_distinct(col("src")).as("n_nodes"),
        expr("count(1) div 2").as("n_edges"),
        sum_distinct(col("src")).as("id_sum"))
        .select(lit(k).as("k"), col("n_nodes"), col("n_edges"),
          col("id_sum"))
    }
    audits.reduce(_ union _)
  }

  /** Autocorrelation function of the hourly value series at lags 1..6
    * — the "does this telemetry have memory / periodicity" diagnostic
    * that sits beside ts_seasonal (which ASSUMES the 24 h period; ACF
    * measures which lags actually correlate). Series = the hourly
    * cents collapse (the ts_gapfill rule: one shuffle over raw events,
    * everything after runs on |types|·|hours| rows); lag-l pairs come
    * from 6 row-frame lags in ONE window pass (the ts_ewma tap idiom),
    * exploded to (lag, x, y) rows that partial-aggregate map-side.
    *
    * Pearson r over each (x, y) pair set entirely in exact BIGINT sums
    * (n·Σxy − Σx·Σy etc.); the only doubles are the two final sqrts +
    * one division, identical IEEE on both engines, rounded to 6 dp.
    * Magnitude bound: n·Σx² ≤ |hours|²·max_cents² ~ 10¹⁸ at cents
    * ≤ 10⁶ and |hours| ≤ 10³ — at a longer retention the sums need the
    * ts_changepoint per-type rescale (noted). Constant series (zero
    * variance) report NULL, not NaN. */
  def tsAcf(s: SparkSession, d: String): DataFrame = {
    val maxLag = 6
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum(col("value")) * 100, 0).cast("long").as("vc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val lagged = (1 to maxLag).foldLeft(hourly) { (df, l) =>
      df.withColumn(s"y$l", lag(col("vc"), l).over(w))
    }
    val pairs = lagged.select(col("event_type"),
      explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag_h"), col("vc").as("x"), col(s"y$l").as("y"))): _*))
        .as("p"))
      .select(col("event_type"), col("p.lag_h").as("lag_h"),
        col("p.x").as("x"), col("p.y").as("y"))
      .where(col("y").isNotNull)
    pairs.groupBy(col("event_type"), col("lag_h"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag_h"), col("n"),
        // sums stay exact BIGINT; the n·Σ cross-products run in doubles
        // (identical IEEE in the oracle) — in BIGINT they overflow once
        // hourly cents reach the 30×-clone magnitude (the r9
        // assortativity lesson, applied here preemptively)
        when((col("n").cast("double") * col("sxx").cast("double")
             - col("sx").cast("double") * col("sx").cast("double") > 0) &&
             (col("n").cast("double") * col("syy").cast("double")
             - col("sy").cast("double") * col("sy").cast("double") > 0),
          round((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6))
          .as("acf"))
  }

  /** Event-type transition matrix (first-order Markov counts): per
    * user, order events by (ts, event_id) and count consecutive
    * (from → to) type pairs, with the transition probability in exact
    * basis points of the from-type's outgoing mass — the
    * behavioral-flow summary product analytics runs beside funnel
    * (funnel fixes ONE path; this reports every observed step). Scale
    * shape: one shuffle keyed by user (the lead window), then the
    * (from, to) hash aggregate partial-aggregates map-side into
    * |types|² rows; the from-totals re-aggregate THOSE (never the raw
    * pairs) and broadcast back. */
  def tsTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("tot"))
    counts.join(broadcast(fromTot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 10000 div tot").as("p_bp"))
  }

  /** Referential-integrity audit: one row per foreign-key edge of the
    * star schema with total child rows, orphan rows (no parent key),
    * distinct orphan keys, and the smallest orphan key as the repro
    * pointer. The first three audits check the real FK edges (expected
    * clean — the audit's value is PROVING that); the fourth replays
    * orders→customer against a simulated partial dimension load (keys
    * ≡ 3 mod 10 not yet arrived — the late-arriving-dim scenario) so
    * the op's firing path is exercised, not just its green path.
    *
    * Scale shape: each audit is ONE left-anti join keyed on the FK —
    * the child never shuffles twice (total row counts ride the same
    * pass via a parent-presence flag from a left join, not a separate
    * aggregate), parent key sets are pre-projected/distinct so the
    * build side is keys-only, and small dims broadcast. At 100 TB the
    * orders×customer edge is a shuffle join on the key — the partition
    * strategy every FK validator (dbt tests, Deequ) runs. */
  def dqReferential(s: SparkSession, d: String): DataFrame = {
    def audit(fk: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
      val pk0 = parent.select(col(pkey).as("__pk")).distinct()
      val pk = if (bcast) broadcast(pk0) else pk0
      child.select(col(key).as("__fk"))
        .join(pk, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"),
          count_distinct(when(col("__pk").isNull, col("__fk")))
            .as("n_orphan_keys"),
          min(when(col("__pk").isNull, col("__fk"))).as("orphan_key_min"))
        .select(lit(fk).as("fk"), col("n_child"), col("n_orphans"),
          col("n_orphan_keys"), col("orphan_key_min"))
    }
    val li = Tables.lineitem(s, d)
    val od = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    Seq(
      audit("lineitem.l_orderkey->orders", li, "l_orderkey",
        od, "o_orderkey", bcast = false),
      audit("orders.o_custkey->customer", od, "o_custkey",
        cust, "c_custkey", bcast = true),
      audit("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey", bcast = true),
      audit("orders.o_custkey->customer@partial_load", od, "o_custkey",
        cust.where(col("c_custkey") % 10 =!= 3), "c_custkey", bcast = true)
    ).reduce(_ unionByName _)
  }

  /** Hour-of-day activity profile per event type: Shannon entropy of
    * the 24-bucket histogram (how spread the traffic is), the peak
    * hour and its share — the "is this telemetry diurnal or flat"
    * audit that decides batch-window placement and staleness SLAs.
    *
    * Numeric discipline: bucket counts are exact; each bucket's
    * entropy term c·ln(c/n) quantizes to round(·10⁶) BIGINT per ROW
    * (ln of an exact integer ratio — identical IEEE both engines) and
    * the cross-row reduction is an exact integer sum; the final
    * H = ent_fp/(n·10⁶) is one division, rounded. Peak selection is a
    * (count, hour) total order (max count, earliest hour on ties).
    * Scale: ONE shuffle — the (type, hour) hash aggregate
    * partial-aggregates map-side; everything after runs on
    * |types|·24 rows with the per-type totals re-aggregated from
    * those and broadcast back (the tsTransitions shape). */
  def tsEntropy(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("c"))
    val totals = hourly.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"))
    hourly.join(broadcast(totals), "event_type")
      .withColumn("term_fp",
        round(col("c") * log(col("c").cast("double") / col("n")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        count(lit(1)).as("active_hours"),
        max(struct(col("c").as("c"), (-col("hod")).cast("long").as("nh")))
          .as("pk"),
        (-sum(col("term_fp"))).as("ent_fp"))
      .select(col("event_type"), col("n"), col("active_hours"),
        (-col("pk.nh")).as("peak_hour"),
        expr("pk.c * 10000 div n").as("peak_bp"),
        col("ent_fp"),
        round(col("ent_fp") / (col("n") * 1e6), 6).as("entropy"))
  }

  /** Synchronous label propagation (community detection) over the
    * co-supply graph, with a modularity audit per community — the
    * cheap-and-standard community pass (Raghavan et al. 2007) that
    * sits between graph_components (pure connectivity) and anything
    * model-based. 4 synchronous rounds from label(v) = v; each round
    * every node adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — max(struct(cnt, -lbl))
    * replicates the oracle's ORDER BY cnt DESC, lbl total order, so
    * both engines walk the identical deterministic lattice (async/
    * random-order LPA variants are not reproducible; synchronous
    * min-tie LPA is).
    *
    * Output: one row per surviving community with size, id checksum,
    * degree mass d_c, intra-community edge count e_c, and its
    * modularity contribution q_c = e_c/m − (d_c/2m)² (exact BIGINT
    * inputs; the final combination runs in doubles literal-for-literal
    * — at clone-probe magnitudes d_c² overflows BIGINT, the
    * assortativity lesson).
    *
    * Scale shape: edges re-derive map-side from the shared
    * checkpointed adjacency (the pagerank idiom — no second edge
    * build); each round is one join keyed src + one (dst, lbl) hash
    * aggregate + one per-dst argmax that rides THE SAME dst
    * partitioning — rounds = O(4), data per round = O(edges). The
    * modularity joins key on the final labels (node-sized, broadcast
    * at fixture scale; a shuffle join keyed by node id at 100 TB). */
  /** The synchronous min-tie LPA core over a symmetric (src, dst) edge
    * set — exposed for the planted-structure spec (the fixture's
    * co-supply graph is ONE dense quasi-clique, so the registered query
    * correctly converges to a single community; the spec proves the
    * rounds separate a planted barbell into its two cliques). */
  private[graft] def lpaRounds(edges: DataFrame, rounds: Int): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    (1 to rounds).foreach { _ =>
      labels = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("id"), (-col("m.nl")).as("lbl"))
    }
    labels
  }

  def graphLabelProp(s: SparkSession, d: String): DataFrame = {
    val adj = coSupplyAdjacency(s, d)
    val edges = adj.select(col("id").as("src"), explode(col("nbrs")).as("dst"))
    // labels has three downstream readers, but the three chains are
    // plan-identical and ReusedExchange dedups them (a localCheckpoint
    // here measured NEUTRAL-to-worse — the blocking job costs what the
    // reuse already saves; contrast llm_winrate_bt, whose round-over-
    // round self-reference defeats reuse and needs the cut)
    val labels = lpaRounds(edges, 4)
    val m = adj.agg((sum(col("deg")) / 2).cast("long").as("m")) // 1 row
    val byNode = adj.select(col("id"), col("deg"))
      .join(labels, "id")
    val dMass = byNode.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("id")).as("id_sum"),
        sum(col("deg")).as("d_c"))
    val intra = edges
      .join(labels.withColumnRenamed("id", "src")
        .withColumnRenamed("lbl", "sl"), "src")
      .join(labels.withColumnRenamed("id", "dst")
        .withColumnRenamed("lbl", "dl"), "dst")
      .where(col("sl") === col("dl"))
      .groupBy(col("sl").as("lbl"))
      .agg((count(lit(1)) / 2).cast("long").as("e_c"))
    dMass.join(intra, Seq("lbl"), "left")
      .crossJoin(broadcast(m))
      .select(col("lbl").as("community"), col("n_nodes"), col("id_sum"),
        col("d_c"), coalesce(col("e_c"), lit(0L)).as("e_c"),
        round(coalesce(col("e_c"), lit(0L)).cast("double") / col("m")
          - (col("d_c").cast("double") / (lit(2.0) * col("m")))
            * (col("d_c").cast("double") / (lit(2.0) * col("m"))), 6)
          .as("q_c"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_label_propagation" -> graphLabelProp _,
    "dq_referential" -> dqReferential _,
    "ts_entropy" -> tsEntropy _,
    "graph_kcore" -> graphKcore _,
    "ts_acf" -> tsAcf _,
    "ts_transitions" -> tsTransitions _,
    "dq_freshness" -> dqFreshness _,
    "graph_assortativity" -> graphAssortativity _,
    "ts_anomaly_mad" -> tsAnomalyMad _,
    "ts_rolling_corr" -> tsRollingCorr _,
    "graph_degree_dist" -> graphDegreeDist _,
    "graph_2hop" -> graph2hop _,
    "dq_completeness" -> dqCompleteness _,
    "graph_bfs" -> graphBfs _,
    "graph_sssp" -> graphSssp _,
    "ts_ewma" -> tsEwma _,
    "ts_rolling_median" -> tsRollingMedian _,
    "ts_changepoint" -> tsChangepoint _,
    "ts_sessionize" -> tsSessionize _,
    "dim_scd2_incremental" -> dimScd2Incremental _,
    "dq_drift" -> dqDrift _,
    "dq_schema_drift" -> dqSchemaDrift _,
    "ts_trend_test" -> tsTrendTest _,
    "mv_incremental" -> mvIncremental _,
    "dq_constraints" -> dqConstraints _,
    "dq_observe" -> dqObserve _,
    "dq_skew" -> dqSkew _,
    "dq_benford" -> dqBenford _,
    "ts_cume_distinct" -> tsCumeDistinct _,
    "ts_active_users" -> tsActiveUsers _,
    "dq_k_anonymity" -> dqKAnonymity _,
    "dq_dp_release" -> dqDpRelease _,
    "win_pattern" -> winPattern _,
    "graph_triangles" -> graphTriangles _,
    "graph_jaccard" -> graphJaccard _,
    "graph_components" -> graphComponents _,
    "ts_ohlc" -> tsOhlc _,
    "ts_interpolate" -> tsInterpolate _,
    "ts_seasonal" -> tsSeasonal _,
    "ts_backtest" -> tsBacktest _,
    "ts_forecast_linear" -> tsForecastLinear _,
    "ts_lttb" -> tsLttb _,
    "anomaly_iqr" -> anomalyIqr _,
    "ts_gapfill" -> tsGapfill _,
    "funnel" -> funnel _,
    "merge_upsert" -> mergeUpsert _,
    "retention" -> retention _,
    "dim_scd2" -> dimScd2 _,
    "graph_pagerank" -> graphPagerank _,
    "graph_ppr" -> graphPpr _,
    "graph_walk" -> graphWalk _
  )

  private val evCte =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |         user_id, event_type, value
      |  FROM events)""".stripMargin

  /** Shared oracle preamble for the co-supply graph: symmetric weighted
    * edges (same derivation as the graph_jaccard oracle). */
  private val symCte =
    """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |sym AS (
      |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
      |  FROM os a JOIN os b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Unrolled k-core peel rounds for the graph_kcore oracle: the Spark
    * side loops to fixpoint and spec-asserts convergence within
    * kcoreMaxRounds, so a fixed unroll of that many rounds is exact
    * (post-fixpoint rounds are no-ops). */
  private def kcorePeel(k: Int, from: String): String =
    (1 to kcoreMaxRounds).map { r =>
      val prev = if (r == 1) from else s"k${k}_r${r - 1}"
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each round references its predecessor 3× — un-materialized,
      // the 18-round chain expands 3¹⁸ scans of the base table
      s"""k${k}_r$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM $prev e
         |  JOIN (SELECT src FROM $prev GROUP BY src
         |        HAVING count(*) >= $k) a ON e.src = a.src
         |  JOIN (SELECT src FROM $prev GROUP BY src
         |        HAVING count(*) >= $k) b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")

  private def kcoreAudit(k: Int): String =
    s"""SELECT $k AS k, count(DISTINCT src) AS n_nodes,
       |  count(*) // 2 AS n_edges,
       |  CAST(sum(DISTINCT src) AS BIGINT) AS id_sum
       |FROM k${k}_r$kcoreMaxRounds""".stripMargin

  private val acfPairs = (1 to 6).map(l =>
    s"SELECT event_type, $l AS lag_h, vc AS x, y$l AS y FROM lg " +
      s"WHERE y$l IS NOT NULL").mkString("\n  UNION ALL ")

  /** One unrolled synchronous LPA round: label counts from the prior
    * labeling, then the (cnt desc, lbl) argmax per node. MATERIALIZED
    * for the kcorePeel reason (each round references its predecessor). */
  private def lpaRound(r: Int): String = {
    val prev = if (r == 1) "l0" else s"l${r - 1}"
    s"""r${r}cnt AS MATERIALIZED (
       |  SELECT e.dst AS id, l.lbl, count(*) AS cnt
       |  FROM sym e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
       |l$r AS MATERIALIZED (
       |  SELECT id, lbl FROM (
       |    SELECT id, lbl,
       |      row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl)
       |        AS rn
       |    FROM r${r}cnt) WHERE rn = 1)""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "graph_label_propagation" -> (symCte + ",\n" +
      """dg AS MATERIALIZED (
        |  SELECT src AS id, count(*) AS deg FROM sym GROUP BY 1),
        |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM dg),
        |""".stripMargin +
      (1 to 4).map(lpaRound).mkString(",\n") + ",\n" +
      """mm AS (SELECT CAST(sum(deg) / 2 AS BIGINT) AS m FROM dg),
        |bynode AS (
        |  SELECT d.id, d.deg, l.lbl FROM dg d JOIN l4 l USING (id)),
        |dm AS (
        |  SELECT lbl, count(*) AS n_nodes,
        |    CAST(sum(id) AS BIGINT) AS id_sum,
        |    CAST(sum(deg) AS BIGINT) AS d_c
        |  FROM bynode GROUP BY 1),
        |intra AS (
        |  SELECT ls.lbl AS lbl, CAST(count(*) / 2 AS BIGINT) AS e_c
        |  FROM sym e
        |  JOIN l4 ls ON e.src = ls.id
        |  JOIN l4 ld ON e.dst = ld.id
        |  WHERE ls.lbl = ld.lbl GROUP BY 1)
        |SELECT dm.lbl AS community, dm.n_nodes, dm.id_sum, dm.d_c,
        |  CAST(coalesce(i.e_c, 0) AS BIGINT) AS e_c,
        |  round(coalesce(i.e_c, 0) / m
        |    - (d_c / (2.0 * m)) * (d_c / (2.0 * m)), 6) AS q_c
        |FROM dm LEFT JOIN intra i USING (lbl) CROSS JOIN mm""".stripMargin),
    "dq_referential" ->
      """WITH
        |a1 AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk,
        |    count(*) AS n_child,
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans,
        |    count(DISTINCT CASE WHEN o.o_orderkey IS NULL
        |      THEN l.l_orderkey END) AS n_orphan_keys,
        |    min(CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END)
        |      AS orphan_key_min
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey),
        |a2 AS (
        |  SELECT 'orders.o_custkey->customer' AS fk,
        |    count(*) AS n_child,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans,
        |    count(DISTINCT CASE WHEN c.c_custkey IS NULL
        |      THEN o.o_custkey END) AS n_orphan_keys,
        |    min(CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END)
        |      AS orphan_key_min
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey),
        |a3 AS (
        |  SELECT 'lineitem.l_partkey->part' AS fk,
        |    count(*) AS n_child,
        |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans,
        |    count(DISTINCT CASE WHEN p.p_partkey IS NULL
        |      THEN l.l_partkey END) AS n_orphan_keys,
        |    min(CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END)
        |      AS orphan_key_min
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        |    ON l.l_partkey = p.p_partkey),
        |a4 AS (
        |  SELECT 'orders.o_custkey->customer@partial_load' AS fk,
        |    count(*) AS n_child,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans,
        |    count(DISTINCT CASE WHEN c.c_custkey IS NULL
        |      THEN o.o_custkey END) AS n_orphan_keys,
        |    min(CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END)
        |      AS orphan_key_min
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
        |             WHERE c_custkey % 10 != 3) c
        |    ON o.o_custkey = c.c_custkey)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4""".stripMargin,
    "ts_entropy" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, hour(ts) AS hod, count(*) AS c
        |  FROM ev GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |  FROM hourly GROUP BY 1),
        |terms AS (
        |  SELECT h.event_type, h.hod, h.c, t.n,
        |    CAST(round(h.c * ln(h.c / t.n) * 1e6) AS BIGINT) AS term_fp
        |  FROM hourly h JOIN tot t USING (event_type)),
        |pk AS (
        |  SELECT event_type, hod AS peak_hour, c AS peak_c,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY c DESC, hod) AS rn
        |  FROM terms),
        |agg AS (
        |  SELECT event_type, max(n) AS n, count(*) AS active_hours,
        |    CAST(-sum(term_fp) AS BIGINT) AS ent_fp
        |  FROM terms GROUP BY 1)
        |SELECT a.event_type, a.n, a.active_hours,
        |  CAST(p.peak_hour AS BIGINT) AS peak_hour,
        |  p.peak_c * 10000 // a.n AS peak_bp, a.ent_fp,
        |  round(a.ent_fp / (a.n * 1e6), 6) AS entropy
        |FROM agg a JOIN (SELECT * FROM pk WHERE rn = 1) p
        |  USING (event_type)""".stripMargin),
    "graph_kcore" -> (symCte + ",\n" +
      "kb AS MATERIALIZED (SELECT src, dst FROM sym),\n" +
      kcorePeel(2, "kb") + ",\n" +
      kcorePeel(3, s"k2_r$kcoreMaxRounds") + ",\n" +
      kcorePeel(4, s"k3_r$kcoreMaxRounds") + "\n" +
      kcoreAudit(2) + "\nUNION ALL\n" + kcoreAudit(3) +
      "\nUNION ALL\n" + kcoreAudit(4)),
    "ts_acf" -> (evCte +
      s""",
         |hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(round(sum(value) * 100, 0) AS BIGINT) AS vc
         |  FROM ev GROUP BY 1, 2),
         |lg AS (
         |  SELECT event_type, vc,
         |    ${(1 to 6).map(l =>
               s"lag(vc, $l) OVER (PARTITION BY event_type ORDER BY h) AS y$l")
               .mkString(",\n    ")}
         |  FROM hourly),
         |pairs AS (
         |  $acfPairs),
         |agg AS (
         |  SELECT event_type, lag_h, count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM pairs GROUP BY 1, 2)
         |SELECT event_type, lag_h, n,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         |       AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
         |    THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |  END AS acf
         |FROM agg""".stripMargin),
    "ts_transitions" -> (evCte +
      """,
        |pr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM ev),
        |counts AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |  FROM counts GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, c.n * 10000 // t.tot AS p_bp
        |FROM counts c JOIN tot t USING (from_type)""".stripMargin),
    "dq_freshness" -> (evCte +
      """,
        |t AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM ev),
        |g AS (SELECT max(tus) AS gmax FROM t)
        |SELECT event_type,
        |  count(*) AS n_events,
        |  make_timestamp(max(tus)) AS last_ts,
        |  CAST((max(gmax) - max(tus)) // 1000000 AS BIGINT) AS lag_sec,
        |  CAST(sum(CASE WHEN tus > gmax - 86400000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_last24h,
        |  (max(gmax) - max(tus)) // 1000000 > 21600 AS stale
        |FROM t CROSS JOIN g
        |GROUP BY event_type""".stripMargin),
    "graph_assortativity" -> (symCte +
      """,
        |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
        |e AS (
        |  SELECT da.deg AS du, db.deg AS dv
        |  FROM sym
        |  JOIN deg da ON da.src = sym.src
        |  JOIN deg db ON db.src = sym.dst),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(du) AS BIGINT) AS sx,
        |    CAST(sum(du * dv) AS BIGINT) AS sxy,
        |    CAST(sum(du * du) AS BIGINT) AS sxx
        |  FROM e)
        |SELECT m // 2 AS n_edges,
        |  CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    THEN round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |  END AS assortativity
        |FROM sums""".stripMargin),
    "ts_anomaly_mad" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, CAST(round(2 * median(vc)) AS BIGINT) AS m2
        |  FROM hourly GROUP BY 1),
        |dev AS (
        |  SELECT h.event_type, h.h, abs(2 * h.vc - m.m2) AS dev, m.m2
        |  FROM hourly h JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, CAST(round(2 * median(dev)) AS BIGINT) AS mad4
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type,
        |  count(*) AS n_hours,
        |  CAST(sum(CASE WHEN 2 * d.dev > 3 * m.mad4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anom,
        |  min(CASE WHEN 2 * d.dev > 3 * m.mad4 THEN d.h END) AS first_anom,
        |  max(d.m2) / 2.0 / 100.0 AS median_value,
        |  max(m.mad4) / 4.0 / 100.0 AS mad_value,
        |  max(d.dev) / 2.0 / 100.0 AS max_dev
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1""".stripMargin),
    "ts_rolling_corr" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         count(*) AS x,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS y
        |  FROM ev GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, h,
        |    count(*) OVER w AS nw,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx,
        |    CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER w AS BIGINT) AS syy,
        |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_type, h, nw,
        |  CASE WHEN nw * sxx - sx * sx > 0 AND nw * syy - sy * sy > 0
        |    THEN round((nw * sxy - sx * sy)
        |           / (sqrt(nw * sxx - sx * sx) * sqrt(nw * syy - sy * sy)), 6)
        |  END AS corr_24h
        |FROM s""".stripMargin),
    "graph_degree_dist" -> (symCte +
      """
        |SELECT deg, count(*) AS n_nodes, CAST(sum(src) AS BIGINT) AS id_sum
        |FROM (SELECT src, count(*) AS deg FROM sym GROUP BY src)
        |GROUP BY deg""".stripMargin),
    "graph_2hop" -> (symCte +
      """,
        |srcs AS (SELECT DISTINCT src AS id FROM sym ORDER BY id LIMIT 10),
        |e2 AS (
        |  SELECT s.id AS src, a.dst AS mid, b.dst AS cand
        |  FROM srcs s
        |  JOIN sym a ON a.src = s.id
        |  JOIN sym b ON b.src = a.dst
        |  WHERE b.dst != s.id),
        |cnt AS (
        |  SELECT src, cand, count(*) AS n_common FROM e2 GROUP BY 1, 2),
        |flagged AS (
        |  SELECT c.*, dd.src IS NOT NULL AS is_direct FROM cnt c
        |  LEFT JOIN sym dd ON dd.src = c.src AND dd.dst = c.cand)
        |SELECT src, cand, n_common, is_direct,
        |  row_number() OVER (PARTITION BY src
        |                     ORDER BY n_common DESC, cand) AS rn
        |FROM flagged QUALIFY rn <= 5""".stripMargin),
    "dq_completeness" ->
      ("""WITH ev AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |         user_id, event_type, value, props
        |  FROM events)""".stripMargin +
      """,
        |base AS (
        |  SELECT count(*) AS n,
        |    count(event_id) AS nn_id, count(DISTINCT event_id) AS nd_id,
        |    count(user_id) AS nn_user, count(DISTINCT user_id) AS nd_user,
        |    count(event_type) AS nn_type,
        |    count(DISTINCT event_type) AS nd_type,
        |    count(value) AS nn_value, count(DISTINCT value) AS nd_value,
        |    count(props) AS nn_props, count(DISTINCT props) AS nd_props
        |  FROM ev)
        |SELECT 'event_id' AS column_name, nn_id AS n_nonnull,
        |       nd_id AS n_distinct, nn_id * 10000 // n AS completeness_bp
        |FROM base
        |UNION ALL SELECT 'user_id', nn_user, nd_user, nn_user * 10000 // n
        |FROM base
        |UNION ALL SELECT 'event_type', nn_type, nd_type,
        |       nn_type * 10000 // n FROM base
        |UNION ALL SELECT 'value', nn_value, nd_value,
        |       nn_value * 10000 // n FROM base
        |UNION ALL SELECT 'props', nn_props, nd_props,
        |       nn_props * 10000 // n FROM base""".stripMargin),
    // weights 3^j·4^(7-j) cleared to the 4^8 denominator; ragged heads
    // renormalize over present taps; floor(num/den) on exact integers
    "ts_rolling_median" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2)
        |SELECT event_type, h, n, vc,
        |  round(quantile_cont(vc, 0.5) OVER (
        |    PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS med
        |FROM hourly""".stripMargin),
    "ts_ewma" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         count(*) AS n,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, h, n, vc,
        |    lag(vc, 0) OVER w AS x0, lag(vc, 1) OVER w AS x1,
        |    lag(vc, 2) OVER w AS x2, lag(vc, 3) OVER w AS x3,
        |    lag(vc, 4) OVER w AS x4, lag(vc, 5) OVER w AS x5,
        |    lag(vc, 6) OVER w AS x6, lag(vc, 7) OVER w AS x7
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |folded AS (
        |  SELECT event_type, h, n, vc,
        |    coalesce(16384 * x0, 0) + coalesce(12288 * x1, 0)
        |      + coalesce(9216 * x2, 0) + coalesce(6912 * x3, 0)
        |      + coalesce(5184 * x4, 0) + coalesce(3888 * x5, 0)
        |      + coalesce(2916 * x6, 0) + coalesce(2187 * x7, 0) AS num,
        |    (CASE WHEN x0 IS NULL THEN 0 ELSE 16384 END)
        |      + (CASE WHEN x1 IS NULL THEN 0 ELSE 12288 END)
        |      + (CASE WHEN x2 IS NULL THEN 0 ELSE 9216 END)
        |      + (CASE WHEN x3 IS NULL THEN 0 ELSE 6912 END)
        |      + (CASE WHEN x4 IS NULL THEN 0 ELSE 5184 END)
        |      + (CASE WHEN x5 IS NULL THEN 0 ELSE 3888 END)
        |      + (CASE WHEN x6 IS NULL THEN 0 ELSE 2916 END)
        |      + (CASE WHEN x7 IS NULL THEN 0 ELSE 2187 END) AS den
        |  FROM lagged)
        |SELECT event_type, h, n, vc / 100.0 AS value,
        |       CAST(floor(num::DOUBLE / den) AS BIGINT) / 100.0 AS ewma
        |FROM folded""".stripMargin),
    // clamped CUSUM via the prefix − min(0, running-min(prefix))
    // identity; deviations at the ×n scale so no mean division; every
    // operand nonnegative where divided, so // ≡ div
    "ts_changepoint" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(vc) AS BIGINT) AS sx
        |  FROM hourly GROUP BY 1),
        |dev AS (
        |  SELECT h.event_type, h.h, t.n, t.sx,
        |         t.n * h.vc - t.sx - (t.sx // 20) AS dup,
        |         t.sx - t.n * h.vc - (t.sx // 20) AS ddn
        |  FROM hourly h JOIN tot t USING (event_type)),
        |pre AS (
        |  SELECT *, CAST(sum(dup) OVER w AS BIGINT) AS pup,
        |            CAST(sum(ddn) OVER w AS BIGINT) AS pdn
        |  FROM dev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cus AS (
        |  SELECT *, pup - least(0, min(pup) OVER w) AS cup,
        |            pdn - least(0, min(pdn) OVER w) AS cdn
        |  FROM pre
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type,
        |       max(n) AS n_hours,
        |       CAST(sum(CASE WHEN cup * 4 > sx THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_alarm_up,
        |       CAST(sum(CASE WHEN cdn * 4 > sx THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_alarm_dn,
        |       min(CASE WHEN cup * 4 > sx THEN h END) AS first_alarm_up,
        |       min(CASE WHEN cdn * 4 > sx THEN h END) AS first_alarm_dn,
        |       CAST(max(cup // n) AS BIGINT) / 100.0 AS max_cusum_up,
        |       CAST(max(cdn // n) AS BIGINT) / 100.0 AS max_cusum_dn
        |FROM cus GROUP BY 1""".stripMargin),
    // exact-microsecond gaps, 30 min threshold; session id = running sum
    // of break flags; values in integer cents before the cross-row sum
    "ts_sessionize" -> (evCte +
      """,
        |se AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |         CAST(round(value * 100) AS BIGINT) AS vc,
        |         CASE WHEN lag(tus0) OVER w IS NULL
        |                OR tus0 - lag(tus0) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM (SELECT *, epoch_us(ts) AS tus0 FROM ev)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sid AS (
        |  SELECT user_id, tus, vc,
        |         CAST(sum(brk) OVER (PARTITION BY user_id
        |                        ORDER BY tus, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING
        |                          AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM se)
        |SELECT user_id, session_id,
        |       make_timestamp(min(tus)) AS session_start,
        |       make_timestamp(max(tus)) AS session_end,
        |       count(*) AS n_events,
        |       (max(tus) - min(tus)) // 1000000 AS duration_sec,
        |       sum(vc) / 100.0 AS sum_value
        |FROM sid GROUP BY 1, 2""".stripMargin),
    // identical pair algebra; ts normalized like every events oracle
    "ts_trend_test" ->
      """WITH s AS (
        |  SELECT event_type,
        |    date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000))
        |      ::TIMESTAMP AS hr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat,
        |  CASE WHEN CAST(sum(sign(b.v - a.v)) AS BIGINT) > 0 THEN 'up'
        |       WHEN CAST(sum(sign(b.v - a.v)) AS BIGINT) < 0 THEN 'down'
        |       ELSE 'flat' END AS trend,
        |  abs(CAST(sum(sign(b.v - a.v)) AS BIGINT)) * 10000 // count(*)
        |    AS abs_tau_bp
        |FROM s a JOIN s b
        |  ON a.event_type = b.event_type AND a.hr < b.hr
        |GROUP BY 1""".stripMargin,
    // the drift verdicts are closed-form: the two generations' shapes
    // are fixed by the staging projections
    "dq_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('o_orderkey', 'bigint', 'bigint', 'unchanged'),
        |  ('o_totalprice', 'double', 'string', 'type_changed'),
        |  ('o_orderpriority', 'string', '-', 'removed'),
        |  ('o_month', '-', 'string', 'added'))
        |AS t(col_name, gen1_type, gen2_type, status)""".stripMargin,
    "dq_drift" -> (evCte +
      """,
        |v AS (
        |  SELECT event_type, ts,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM ev),
        |cut AS (
        |  SELECT date_trunc('day', min(ts)) + INTERVAL 15 DAY AS cutoff
        |  FROM v),
        |tagged AS (
        |  SELECT event_type,
        |         CASE WHEN ts < c.cutoff THEN 'ref' ELSE 'cur' END AS win,
        |         vc
        |  FROM v, cut c),
        |bounds AS (
        |  SELECT event_type, min(vc) AS lo, max(vc) AS hi
        |  FROM tagged GROUP BY 1),
        |hist AS (
        |  SELECT t.event_type,
        |         CAST(least(15, ((t.vc - b.lo) * 16) // (b.hi - b.lo + 1))
        |              AS INTEGER) AS bucket,
        |         sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS ref_cnt,
        |         sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS cur_cnt
        |  FROM tagged t JOIN bounds b ON t.event_type = b.event_type
        |  GROUP BY 1, 2),
        |dense AS (
        |  SELECT b.event_type, s.bucket,
        |         coalesce(h.ref_cnt, 0) AS ref_cnt,
        |         coalesce(h.cur_cnt, 0) AS cur_cnt
        |  FROM bounds b
        |  CROSS JOIN range(0, 16) s(bucket)
        |  LEFT JOIN hist h
        |    ON h.event_type = b.event_type AND h.bucket = s.bucket),
        |tots AS (
        |  SELECT event_type, CAST(sum(ref_cnt) AS BIGINT) AS ref_n,
        |         CAST(sum(cur_cnt) AS BIGINT) AS cur_n
        |  FROM dense GROUP BY 1),
        |terms AS (
        |  SELECT d.event_type, t.ref_n, t.cur_n,
        |         ((d.ref_cnt + 1) * 1000000) // (t.ref_n + 16) AS p_pm,
        |         ((d.cur_cnt + 1) * 1000000) // (t.cur_n + 16) AS q_pm
        |  FROM dense d JOIN tots t ON d.event_type = t.event_type),
        |psi AS (
        |  SELECT event_type, max(ref_n) AS ref_n, max(cur_n) AS cur_n,
        |         sum((p_pm - q_pm) *
        |             CAST(round(ln(p_pm::DOUBLE / q_pm) * 1e6) AS BIGINT))
        |           AS psi_fp
        |  FROM terms GROUP BY 1)
        |SELECT event_type, ref_n, cur_n,
        |       round(psi_fp::DOUBLE / 1e12, 6) AS psi,
        |       psi_fp > 100000000000 AS is_drift
        |FROM psi""".stripMargin),
    // full recompute + provenance derivation — the equality the
    // partial-merge construction must reproduce
    "mv_incremental" -> (evCte +
      """,
        |cut AS (
        |  SELECT date_trunc('day', max(ts)) - INTERVAL 4 DAY AS cutoff
        |  FROM ev),
        |base AS (
        |  SELECT event_type, user_id % 64 AS seg,
        |         CAST(round(value * 100) AS BIGINT) AS vc, ts
        |  FROM ev),
        |agg AS (
        |  SELECT event_type, seg, count(*) AS n_events, sum(vc) AS svc
        |  FROM base GROUP BY 1, 2),
        |prov AS (
        |  SELECT event_type, seg,
        |         max(CASE WHEN b.ts <  c.cutoff THEN 1 ELSE 0 END) AS hs,
        |         max(CASE WHEN b.ts >= c.cutoff THEN 1 ELSE 0 END) AS hd
        |  FROM base b, cut c GROUP BY 1, 2)
        |SELECT a.event_type, a.seg, a.n_events, a.svc / 100.0 AS total,
        |       CASE WHEN p.hs = 1 AND p.hd = 1 THEN 'both'
        |            WHEN p.hs = 1 THEN 'snapshot' ELSE 'delta' END
        |         AS provenance
        |FROM agg a JOIN prov p
        |  ON a.event_type = p.event_type AND a.seg = p.seg""".stripMargin),
    "win_pattern" ->
      """WITH ev AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |         user_id, event_type, value
        |  FROM events),
        |j AS (
        |  SELECT user_id, count(*) AS n_events,
        |         string_agg(substr(event_type, 1, 1), ''
        |                    ORDER BY ts, event_id) AS journey
        |  FROM ev GROUP BY user_id)
        |SELECT user_id, n_events, journey,
        |       regexp_matches(journey, 's.*c.*p') AS converted,
        |       regexp_matches(journey, 'eee') AS rage_errors,
        |       CAST(len(regexp_extract_all(journey, 'cp')) AS BIGINT)
        |         AS n_quick_buys
        |FROM j""".stripMargin,
    "graph_jaccard" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |sym AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
        |e AS (SELECT sym.src, sym.dst, deg.deg
        |      FROM sym JOIN deg USING (src)),
        |cm AS (
        |  SELECT e1.src AS u, e2.src AS v, count(*) AS common,
        |         max(e1.deg) AS du, max(e2.deg) AS dv
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.dst AND e1.src < e2.src
        |  GROUP BY 1, 2)
        |SELECT u, v, common, du + dv - common AS union_n,
        |       (common * 1000000) // (du + dv - common) AS jaccard_fp
        |FROM cm WHERE common >= 2
        |ORDER BY jaccard_fp DESC, u, v LIMIT 50""".stripMargin,
    "ts_lttb" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |idx AS (
        |  SELECT *,
        |    CAST(row_number() OVER w AS BIGINT) AS x,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    lag(vc) OVER w AS yp, lead(vc) OVER w AS yn,
        |    lag(h) OVER w AS hp, lead(h) OVER w AS hn
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |scored AS (
        |  SELECT event_type, h, vc,
        |    CASE WHEN x = 1 THEN -1
        |         WHEN x = n THEN 20
        |         ELSE ((x - 2) * 20) // greatest(n - 2, 1) END AS bucket,
        |    CASE WHEN hp IS NULL OR hn IS NULL THEN 0
        |         ELSE abs((x - 1 - (x + 1)) * (vc - yp)
        |                  - (x - 1 - x) * (yn - yp)) END AS area2
        |  FROM idx)
        |SELECT event_type, bucket, h AS kept_hour, vc AS cents,
        |       CAST(area2 AS BIGINT) AS area2
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, bucket
        |                               ORDER BY area2 DESC, h) AS rn
        |  FROM scored)
        |WHERE rn = 1""".stripMargin),
    // identical sufficient statistics; the slope/forecast doubles are
    // the same expression text on both engines (round once at the end);
    // the nullif guards the degenerate one-hour group identically
    "ts_forecast_linear" -> (evCte + """,
        |hr AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(round(sum(value) * 100, 0) AS BIGINT) AS y
        |  FROM ev GROUP BY 1, 2),
        |hx AS (
        |  SELECT event_type, y,
        |    CAST(epoch(h) AS BIGINT) // 3600 AS eh
        |  FROM hr),
        |x0 AS (SELECT event_type, min(eh) AS eh0 FROM hx GROUP BY 1),
        |st AS (
        |  SELECT h.event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(h.eh - x.eh0) AS BIGINT) AS sx,
        |    CAST(sum(h.y) AS BIGINT) AS sy,
        |    CAST(sum((h.eh - x.eh0) * h.y) AS BIGINT) AS sxy,
        |    CAST(sum((h.eh - x.eh0) * (h.eh - x.eh0)) AS BIGINT) AS sxx,
        |    CAST(max(h.eh - x.eh0) AS BIGINT) AS mx
        |  FROM hx h JOIN x0 x USING (event_type) GROUP BY 1)
        |SELECT event_type, n, sy,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6) AS slope_cph,
        |  round(CAST(sy AS DOUBLE) / n
        |    + (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0))
        |      * ((mx + 1) - CAST(sx AS DOUBLE) / n), 4) AS fc_next_cents
        |FROM st""".stripMargin),
    "ts_backtest" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.vc, b.vc AS fc, abs(a.vc - b.vc) AS ae
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type
        |   AND b.h + INTERVAL 24 HOUR = a.h),
        |p AS (
        |  SELECT *, CASE WHEN vc != 0 THEN (ae * 10000) // abs(vc) END
        |    AS pe_bp
        |  FROM j)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_forecasts,
        |  CAST(sum(ae) AS BIGINT) // count(*) AS mae_cents,
        |  CAST(sum(vc - fc) AS BIGINT) AS bias_cents,
        |  CASE WHEN count(*) > sum(CASE WHEN vc = 0 THEN 1 ELSE 0 END)
        |       THEN CAST(sum(pe_bp) AS BIGINT)
        |            // (count(*)
        |               - CAST(sum(CASE WHEN vc = 0 THEN 1 ELSE 0 END)
        |                      AS BIGINT))
        |  END AS mape_bp,
        |  CAST(sum(CASE WHEN vc = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_actual
        |FROM p GROUP BY event_type""".stripMargin),
    "ts_seasonal" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |seas AS (
        |  SELECT event_type, extract(hour FROM h) AS hod,
        |         CAST(floor(sum(vc)::DOUBLE / count(*)) AS BIGINT) AS sc
        |  FROM hourly GROUP BY 1, 2)
        |SELECT h.event_type, h.h,
        |       h.vc / 100.0 AS value,
        |       s.sc / 100.0 AS seasonal,
        |       (h.vc - s.sc) / 100.0 AS residual
        |FROM hourly h JOIN seas s
        |  ON h.event_type = s.event_type
        | AND extract(hour FROM h.h) = s.hod""".stripMargin),
    "ts_interpolate" ->
      """WITH ev AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |         user_id, event_type, value
        |  FROM events),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         CAST(round(sum(value) * 100) AS BIGINT) AS vc
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (
        |  SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM hourly GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds),
        |j AS (
        |  SELECT s.event_type, s.h, hy.vc IS NULL AS is_gap, hy.vc,
        |    last_value(CASE WHEN hy.vc IS NOT NULL THEN s.h END
        |               IGNORE NULLS) OVER wp AS hp,
        |    last_value(hy.vc IGNORE NULLS) OVER wp AS vp,
        |    first_value(CASE WHEN hy.vc IS NOT NULL THEN s.h END
        |                IGNORE NULLS) OVER wn AS hn,
        |    first_value(hy.vc IGNORE NULLS) OVER wn AS vn
        |  FROM spine s LEFT JOIN hourly hy
        |    ON hy.event_type = s.event_type AND hy.h = s.h
        |  WINDOW
        |    wp AS (PARTITION BY s.event_type ORDER BY s.h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY s.event_type ORDER BY s.h
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h, is_gap,
        |  CASE WHEN NOT is_gap THEN vc::DOUBLE / 100.0
        |  ELSE (CAST(vp AS DOUBLE) +
        |    ((vn - vp) * (date_diff('second', hp, h) // 3600)) /
        |    CAST(date_diff('second', hp, hn) // 3600 AS DOUBLE)) / 100.0
        |  END AS value
        |FROM j""".stripMargin,
    // UNION-recursive walk over (id, hop) pairs, bounded at 64 hops (the
    // Spark loop's cap) — min(hop) per node is the BFS distance; nodes
    // outside the walk report -1
    // six Bellman-Ford rounds unrolled as MATERIALIZED CTEs (the kcore
    // discipline — plain CTEs re-expand per reference), identical round
    // count and integer arithmetic to the Spark op
    "graph_sssp" ->
      ("""WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |sym AS MATERIALIZED (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST((1000 + count(*) - 1) // count(*) AS BIGINT) AS w
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |d0 AS MATERIALIZED (
        |  SELECT id, CAST(0 AS BIGINT) AS dist
        |  FROM (SELECT id FROM nodes ORDER BY id LIMIT 5))""".stripMargin +
        (1 to 6).map { k =>
          s""",
             |d$k AS MATERIALIZED (
             |  SELECT id, min(dist) AS dist FROM (
             |    SELECT id, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.dst AS id, d.dist + e.w AS dist
             |    FROM d${k - 1} d JOIN sym e ON e.src = d.id)
             |  GROUP BY id)""".stripMargin
        }.mkString + """
        |SELECT n.id, coalesce(d.dist, -1) AS dist
        |FROM nodes n LEFT JOIN d6 d USING (id)""".stripMargin),
    "graph_bfs" ->
      """WITH RECURSIVE os AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |sym AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 5),
        |walk(id, hop) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, w.hop + 1
        |  FROM walk w JOIN sym e ON e.src = w.id
        |  WHERE w.hop < 64),
        |dist AS (SELECT id, min(hop) AS hop FROM walk GROUP BY id)
        |SELECT CAST(coalesce(d.hop, -1) AS INTEGER) AS hop,
        |       count(*) AS n_nodes, CAST(sum(n.id) AS BIGINT) AS id_sum
        |FROM nodes n LEFT JOIN dist d ON d.id = n.id
        |GROUP BY 1""".stripMargin,
    "graph_components" ->
      """WITH RECURSIVE os AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |sym AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |walk(id, lbl) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        |  UNION
        |  SELECT e.src, w.lbl FROM sym e JOIN walk w ON w.id = e.dst),
        |cc AS (SELECT id, min(lbl) AS cc FROM walk GROUP BY id),
        |stats AS (
        |  SELECT CAST(cc AS BIGINT) AS cc, count(*) AS n_nodes,
        |    CAST(sum(id) AS BIGINT) AS id_sum
        |  FROM cc GROUP BY cc),
        |ecnt AS (
        |  SELECT CAST(c.cc AS BIGINT) AS cc,
        |    CAST(count(*) // 2 AS BIGINT) AS n_edges
        |  FROM sym e JOIN cc c ON e.src = c.id GROUP BY 1)
        |SELECT s.cc, s.n_nodes, e.n_edges, s.id_sum
        |FROM stats s JOIN ecnt e USING (cc)""".stripMargin,
    "graph_triangles" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |sym AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
        |dir AS (
        |  SELECT CASE WHEN du.deg < dv.deg
        |                OR (du.deg = dv.deg AND e.src < e.dst)
        |           THEN e.src ELSE e.dst END AS u,
        |         CASE WHEN du.deg < dv.deg
        |                OR (du.deg = dv.deg AND e.src < e.dst)
        |           THEN e.dst ELSE e.src END AS v
        |  FROM sym e JOIN deg du ON e.src = du.id JOIN deg dv ON e.dst = dv.id
        |  WHERE e.src < e.dst),
        |tri AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM dir e1 JOIN dir e2 ON e1.v = e2.u
        |  JOIN dir e3 ON e1.u = e3.u AND e2.v = e3.v),
        |pern AS (
        |  SELECT id, count(*) AS triangles FROM (
        |    SELECT x AS id FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY id)
        |SELECT d.id AS s_suppkey, d.deg,
        |       coalesce(p.triangles, 0) AS triangles,
        |       CASE WHEN d.deg >= 2
        |         THEN (coalesce(p.triangles, 0) * 2000000)
        |                // (d.deg * (d.deg - 1))
        |         ELSE 0 END AS coeff_fp
        |FROM deg d LEFT JOIN pern p ON d.id = p.id""".stripMargin,
    "ts_ohlc" ->
      """WITH ev AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |         user_id, event_type, value
        |  FROM events),
        |b AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h, value,
        |         row_number() OVER (
        |           PARTITION BY event_type, date_trunc('hour', ts)
        |           ORDER BY ts, event_id) AS ra,
        |         row_number() OVER (
        |           PARTITION BY event_type, date_trunc('hour', ts)
        |           ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM ev)
        |SELECT event_type, h,
        |       max(CASE WHEN ra = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rd = 1 THEN value END) AS close,
        |       count(*) AS n_trades,
        |       0.0 + round(sum(value), 4) AS volume
        |FROM b GROUP BY 1, 2""".stripMargin,
    "anomaly_iqr" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grp, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |r AS (
        |  SELECT grp, pc,
        |         row_number() OVER (PARTITION BY grp
        |                            ORDER BY pc, o_orderkey) AS rn,
        |         count(*) OVER (PARTITION BY grp) AS n
        |  FROM o),
        |q AS (
        |  SELECT grp, max(n) AS n,
        |         max(CASE WHEN rn = ((n - 1) // 4) + 1 THEN pc END) AS q1c,
        |         max(CASE WHEN rn = ((3 * (n - 1)) // 4) + 1 THEN pc END)
        |           AS q3c
        |  FROM r GROUP BY grp),
        |f AS (
        |  SELECT o.grp, o.pc, q.n, q.q1c, q.q3c,
        |         (2 * o.pc > 2 * q.q3c + 3 * (q.q3c - q.q1c)
        |          OR 2 * o.pc < 2 * q.q1c - 3 * (q.q3c - q.q1c)) AS is_out
        |  FROM o JOIN q ON o.grp = q.grp)
        |SELECT grp, max(n) AS n,
        |       max(q1c) / 100.0 AS q1, max(q3c) / 100.0 AS q3,
        |       CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       min(CASE WHEN is_out THEN pc END) / 100.0 AS min_outlier,
        |       max(CASE WHEN is_out THEN pc END) / 100.0 AS max_outlier
        |FROM f GROUP BY grp""".stripMargin,
    // per-key frequency table, deterministic hottest key (min among max
    // ties), quantile_cont ≡ Spark's interpolating percentile()
    // activity → ≤7-day support explode → keyed dedup, replayed
    "ts_active_users" -> (evCte + """,
        |act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS aday FROM ev),
        |dau AS (
        |  SELECT aday AS day, CAST(count(*) AS BIGINT) AS dau
        |  FROM act GROUP BY 1),
        |sup AS (
        |  SELECT DISTINCT user_id, aday + CAST(r.i AS INTEGER) AS day
        |  FROM act, range(0, 7) r(i)),
        |wau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS wau
        |  FROM sup GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  d.dau * 10000 // w.wau AS stickiness_bp
        |FROM dau d JOIN wau w USING (day)""".stripMargin),
    // first-seen decomposition replayed verbatim: distinct-through-D =
    // running sum of first-event-day counts
    "ts_cume_distinct" -> (evCte + """,
        |f AS (
        |  SELECT event_type, user_id, min(CAST(ts AS DATE)) AS day
        |  FROM ev GROUP BY 1, 2),
        |dl AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type
        |    ORDER BY day) AS BIGINT) AS cume_distinct_users
        |FROM dl""".stripMargin),
    // first digit from the BIGINT cents' decimal string (no log10
    // float); expected shares pinned as the same literal bp table
    "dq_benford" ->
      """WITH e AS (
        |  SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249),
        |    (4, 969), (5, 792), (6, 669), (7, 580), (8, 512),
        |    (9, 458)) t(digit, exp_bp)),
        |o AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT o.digit, o.n,
        |    o.n * 10000 // (SELECT CAST(sum(n) AS BIGINT) FROM o) AS obs_bp,
        |    CAST(e.exp_bp AS BIGINT) AS exp_bp
        |  FROM o JOIN e USING (digit)),
        |d AS (SELECT *, abs(obs_bp - exp_bp) AS dev_bp FROM r)
        |SELECT digit, n, obs_bp, exp_bp, dev_bp,
        |  (SELECT CAST(sum(dev_bp * dev_bp // exp_bp) AS BIGINT) FROM d)
        |    AS chi2_bp
        |FROM d""".stripMargin,
    "dq_skew" ->
      """WITH f AS (
        |  SELECT l_suppkey, count(*) AS f FROM lineitem GROUP BY 1),
        |hot AS (
        |  SELECT CAST(min(l_suppkey) AS BIGINT) AS hot_key FROM f
        |  WHERE f = (SELECT max(f) FROM f))
        |SELECT CAST(sum(f) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(f) AS BIGINT) AS max_freq,
        |  (SELECT hot_key FROM hot) AS hot_key,
        |  round(quantile_cont(f, 0.5), 4) AS p50_freq,
        |  round(quantile_cont(f, 0.99), 4) AS p99_freq,
        |  round(max(f) / (sum(f)::DOUBLE / count(*)), 4) AS skew_ratio
        |FROM f""".stripMargin,
    "dq_dp_release" -> (evCte +
      """,
        |c AS (SELECT event_type, count(*) AS n_true FROM ev GROUP BY 1),
        |hh AS (
        |  SELECT *, list_reduce(list_prepend(0::BIGINT,
        |    [ascii(x)::BIGINT for x in string_split(event_type, '')]),
        |    (h, ch) -> (h * 31 + ch) % 1000000007) AS h
        |  FROM c),
        |uu AS (SELECT *, (h + 0.5) / 1000000007.0 AS u FROM hh),
        |nz AS (
        |  SELECT *, CAST(round((CASE WHEN u >= 0.5
        |      THEN (0.0 - 2.0) * ln(2.0 - 2.0 * u)
        |      ELSE 2.0 * ln(2.0 * u) END) * 1000000.0) AS BIGINT)
        |    AS noise_fp
        |  FROM uu)
        |SELECT event_type, CAST(n_true AS BIGINT) AS debug_n_true,
        |  CAST(h AS BIGINT) AS debug_h, noise_fp AS debug_noise_fp,
        |  CAST(n_true AS BIGINT) * 1000000 + noise_fp AS released_fp,
        |  round((CAST(n_true AS BIGINT) * 1000000 + noise_fp) / 1e6, 4)
        |    AS released
        |FROM nz""".stripMargin),
    // equivalence-class sizes of the QI projection, 1-row fold; every
    // reduction CAST to BIGINT (the HUGEINT discipline)
    "dq_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS gsz
        |  FROM customer GROUP BY 1, 2),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(sum(gsz) AS BIGINT) AS n_rows,
        |    CAST(min(gsz) AS BIGINT) AS k_effective,
        |    CAST(sum(CASE WHEN gsz < 2 THEN gsz ELSE 0 END) AS BIGINT)
        |      AS rows_below_k2,
        |    CAST(sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END) AS BIGINT)
        |      AS rows_below_k5,
        |    CAST(sum(CASE WHEN gsz < 10 THEN gsz ELSE 0 END) AS BIGINT)
        |      AS rows_below_k10
        |  FROM g)
        |SELECT n_classes, n_rows, k_effective,
        |  rows_below_k2, rows_below_k5, rows_below_k10,
        |  (rows_below_k5 * 10000) // n_rows AS exposure_k5_bp,
        |  (rows_below_k10 * 10000) // n_rows AS exposure_k10_bp
        |FROM a""".stripMargin,
    // both observation points replayed declaratively: raw-scan metrics
    // and post-filter metrics over the same predicate and cent rounding
    "dq_observe" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_in,
        |         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS null_qty
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_out,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |           AS BIGINT) AS sc
        |  FROM lineitem WHERE l_discount > 0.05)
        |SELECT n_in, null_qty, n_out, sc / 100.0 AS revenue FROM a, b""".stripMargin,
    "dq_constraints" ->
      """WITH m AS (
        |  SELECT count(*) AS n, count(o_custkey) AS nonnull_cust,
        |         count(DISTINCT o_orderkey) AS distinct_keys,
        |         min(o_totalprice) AS min_price,
        |         max(o_totalprice) AS max_price
        |  FROM orders),
        |orph AS (
        |  SELECT count(*) AS n_orphans FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey))
        |SELECT u.* FROM m, orph, LATERAL (
        |  SELECT 'completeness_custkey' AS constraint,
        |         round(nonnull_cust::DOUBLE / n, 4) AS metric,
        |         nonnull_cust = n AS passed
        |  UNION ALL
        |  SELECT 'uniqueness_orderkey',
        |         round(distinct_keys::DOUBLE / n, 4), distinct_keys = n
        |  UNION ALL
        |  SELECT 'range_totalprice', round(max_price, 4),
        |         min_price >= 0 AND max_price <= 600000
        |  UNION ALL
        |  SELECT 'referential_custkey', n_orphans::DOUBLE, n_orphans = 0
        |) u""".stripMargin,
    // deterministic hash-chosen walks: replay the argmin per step
    "graph_walk" -> (symCte + """,
        |seeds AS (
        |  SELECT src AS seed, src AS cur FROM sym GROUP BY src
        |  ORDER BY src LIMIT 20),
        |s1 AS (
        |  SELECT seed, n1, n1 AS cur FROM (
        |    SELECT w.seed, e.dst AS n1, row_number() OVER (
        |      PARTITION BY w.seed
        |      ORDER BY ((w.cur * 1000003 + e.dst) * 31 + 1) % 1000000007,
        |               e.dst) AS rn
        |    FROM seeds w JOIN sym e ON e.src = w.cur) WHERE rn = 1),
        |s2 AS (
        |  SELECT seed, n1, n2, n2 AS cur FROM (
        |    SELECT w.seed, w.n1, e.dst AS n2, row_number() OVER (
        |      PARTITION BY w.seed
        |      ORDER BY ((w.cur * 1000003 + e.dst) * 31 + 2) % 1000000007,
        |               e.dst) AS rn
        |    FROM s1 w JOIN sym e ON e.src = w.cur) WHERE rn = 1),
        |s3 AS (
        |  SELECT seed, n1, n2, n3 FROM (
        |    SELECT w.seed, w.n1, w.n2, e.dst AS n3, row_number() OVER (
        |      PARTITION BY w.seed
        |      ORDER BY ((w.cur * 1000003 + e.dst) * 31 + 3) % 1000000007,
        |               e.dst) AS rn
        |    FROM s2 w JOIN sym e ON e.src = w.cur) WHERE rn = 1)
        |SELECT seed, n1, n2, n3 FROM s3""".stripMargin),
    // pagerank's integer lattice with the teleport mass on the 5 seeds
    "graph_ppr" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |sd AS (SELECT src AS id, 30000000000 AS restart
        |       FROM deg ORDER BY src LIMIT 5),
        |r0 AS (SELECT id, 1000000000000 // 5 AS r FROM sd),
        |c1 AS (SELECT e.dst, sum(r0.r // deg.deg) AS csum
        |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT coalesce(c1.dst, sd.id) AS id,
        |         coalesce(sd.restart, 0) + (17 * coalesce(c1.csum, 0)) // 20
        |           AS r
        |       FROM c1 FULL JOIN sd ON c1.dst = sd.id),
        |c2 AS (SELECT e.dst, sum(r1.r // deg.deg) AS csum
        |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT coalesce(c2.dst, sd.id) AS id,
        |         coalesce(sd.restart, 0) + (17 * coalesce(c2.csum, 0)) // 20
        |           AS r
        |       FROM c2 FULL JOIN sd ON c2.dst = sd.id),
        |c3 AS (SELECT e.dst, sum(r2.r // deg.deg) AS csum
        |       FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT coalesce(c3.dst, sd.id) AS id,
        |         coalesce(sd.restart, 0) + (17 * coalesce(c3.csum, 0)) // 20
        |           AS r
        |       FROM c3 FULL JOIN sd ON c3.dst = sd.id)
        |SELECT id AS s_suppkey, CAST(r AS BIGINT) AS rank_fp,
        |       round(CAST(r AS BIGINT)::DOUBLE / 1000000000000, 6) AS rank
        |FROM r3 WHERE r > 0""".stripMargin,
    "graph_pagerank" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey != b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |n AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT src AS id, 1000000000000 // n.n AS r FROM deg, n),
        |c1 AS (SELECT e.dst, sum(r0.r // deg.deg) AS csum
        |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT dst AS id,
        |         (3000000000000 // (20 * n.n)) + (17 * csum) // 20 AS r
        |       FROM c1, n),
        |c2 AS (SELECT e.dst, sum(r1.r // deg.deg) AS csum
        |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT dst AS id,
        |         (3000000000000 // (20 * n.n)) + (17 * csum) // 20 AS r
        |       FROM c2, n),
        |c3 AS (SELECT e.dst, sum(r2.r // deg.deg) AS csum
        |       FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT dst AS id,
        |         (3000000000000 // (20 * n.n)) + (17 * csum) // 20 AS r
        |       FROM c3, n)
        |SELECT id AS s_suppkey, CAST(r AS BIGINT) AS rank_fp,
        |       round(CAST(r AS BIGINT)::DOUBLE / 1000000000000, 6) AS rank
        |FROM r3""".stripMargin,
    "dim_scd2" ->
      """SELECT o_custkey,
        | row_number() OVER w AS version,
        | o_orderkey,
        | o_totalprice AS attr_price,
        | o_orderdate AS valid_from,
        | lead(o_orderdate, 1) OVER w AS valid_to,
        | lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    // the oracle IS the from-scratch build: carried ∪ rebuilt must equal
    // the full window over all orders, plus the touched-key provenance
    "dim_scd2_incremental" ->
      """WITH cut AS (
        |  SELECT date_trunc('day', max(o_orderdate)) - INTERVAL 90 DAY
        |           AS cutoff
        |  FROM orders),
        |touched AS (
        |  SELECT DISTINCT o_custkey FROM orders, cut
        |  WHERE o_orderdate >= cutoff),
        |dim AS (
        |  SELECT o_custkey,
        |         row_number() OVER w AS version,
        |         o_orderkey,
        |         o_totalprice AS attr_price,
        |         o_orderdate AS valid_from,
        |         lead(o_orderdate, 1) OVER w AS valid_to,
        |         lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey))
        |SELECT d.o_custkey, d.version, d.o_orderkey, d.attr_price,
        |       d.valid_from, d.valid_to, d.is_current,
        |       CASE WHEN t.o_custkey IS NOT NULL THEN 'rebuilt'
        |            ELSE 'carried' END AS provenance
        |FROM dim d LEFT JOIN touched t ON d.o_custkey = t.o_custkey""".stripMargin,
    "ts_gapfill" -> (evCte +
      """,
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
        |         count(*) AS n, 0.0 + round(sum(value), 4) AS sum_v
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (
        |  SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM hourly GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds)
        |SELECT s.event_type, s.h,
        |       hy.n IS NULL AS is_gap,
        |       coalesce(hy.n, 0) AS n,
        |       last_value(hy.sum_v IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_v_ff
        |FROM spine s
        |LEFT JOIN hourly hy ON hy.event_type = s.event_type AND hy.h = s.h""".stripMargin),
    "merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |updates AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) * 105 / 10000.0
        |           AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 2000000000 + i, 'N', CAST(42.0 AS DOUBLE)
        |  FROM range(1, 6) t(i)),
        |m AS (
        |  SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |         coalesce(u.o_orderstatus, b.o_orderstatus) AS status,
        |         coalesce(u.o_totalprice, b.o_totalprice) AS price,
        |         CASE WHEN u.o_orderkey IS NULL THEN 'kept'
        |              WHEN b.o_orderkey IS NULL THEN 'inserted'
        |              ELSE 'updated' END AS action
        |  FROM base b FULL OUTER JOIN updates u
        |    ON b.o_orderkey = u.o_orderkey)
        |SELECT * FROM m""".stripMargin,
    "retention" -> (evCte +
      """,
        |cohorts AS (
        |  SELECT user_id, date_trunc('week', min(ts))::TIMESTAMP AS cw
        |  FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS aw
        |  FROM ev),
        |sizes AS (SELECT cw, count(*) AS cohort_n FROM cohorts GROUP BY cw),
        |tri AS (
        |  SELECT c.cw, date_diff('second', c.cw, a.aw) // 604800 AS week_offset,
        |         count(*) AS n_active
        |  FROM cohorts c JOIN activity a ON c.user_id = a.user_id
        |  WHERE a.aw >= c.cw
        |  GROUP BY 1, 2)
        |SELECT t.cw AS cohort_week, t.week_offset, t.n_active,
        |       round(t.n_active::DOUBLE / s.cohort_n, 4) AS retention
        |FROM tri t JOIN sizes s ON t.cw = s.cw""".stripMargin),
    "funnel" -> (evCte +
      """,
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |       GROUP BY e.user_id),
        |base AS (
        |  SELECT count(*) AS n1, count(t2) AS n2, count(t3) AS n3,
        |         round(avg(epoch_ms(t3) - epoch_ms(t1)), 4) AS avg_ms
        |  FROM s1
        |  LEFT JOIN s2 ON s1.user_id = s2.user_id
        |  LEFT JOIN s3 ON s1.user_id = s3.user_id)
        |SELECT 1 AS stage, n1 AS n_users, CAST(1.0 AS DOUBLE) AS rate,
        |       CAST(NULL AS DOUBLE) AS avg_ms_to_convert FROM base
        |UNION ALL
        |SELECT 2, n2, round(n2::DOUBLE / n1, 4),
        |       CAST(NULL AS DOUBLE) FROM base
        |UNION ALL
        |SELECT 3, n3, round(n3::DOUBLE / n1, 4), avg_ms FROM base""".stripMargin)
  )
}
