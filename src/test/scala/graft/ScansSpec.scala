package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, count, countDistinct, date_trunc, expr, lit, sum}

class ScansSpec extends SparkSpec {

  test("scan_projected pushes filter and prunes columns at the parquet scan") {
    val df = graft.operators.Scans.scanProjected(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // predicate reaches the reader as a pushed data filter
    assert(scan.dataFilters.nonEmpty,
      "l_quantity < 10 must be pushed into the parquet scan")
    // only the 4 referenced columns are read (3 projected + filter col)
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_orderkey", "l_linenumber", "l_extendedprice",
      "l_quantity"), s"column pruning failed, read: $readCols")
  }

  test("scan_partitioned prunes partitions statically") {
    val df = graft.operators.Scans.scanPartitioned(spark, sf)
    val scans = collectFinal(df) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.nonEmpty,
      "IN-list on the partition column must become a partition filter")
    // the IN-list itself must be a PARTITION filter (not a data filter):
    // planning-time directory elimination, no row-level evaluation
    assert(scans.head.partitionFilters.mkString.contains("1-URGENT"))
    assert(scans.head.dataFilters.isEmpty,
      s"predicate leaked into data filters: ${scans.head.dataFilters}")
  }

  test("scan_malformed: type failures flag; arity flags full-width but escapes pruned scans") {
    val r = graft.operators.Scans.scanMalformed(spark, sf).collect().head
    assert(r.getAs[Long]("n_corrupt") == 3 && r.getAs[Long]("n_good") == 25
      && r.getAs[Long]("n_total") == 28)
    assert(r.getAs[String]("corrupt_example").startsWith("9999"))
    assert(r.getAs[Long]("key_mass") == 300L)
    val dir = java.nio.file.Files.createTempDirectory("arity").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "a.csv"),
      "a,b\n1\n2,x,zz\n3,ok\n".getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_bad",
        org.apache.spark.sql.types.StringType)))
    def read() = spark.read.option("header", "true")
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).csv(dir)
    // FULL-WIDTH parse: both arity drifts flag (parsed prefixes kept)
    val rows = read().collect()
    assert(rows.count(r0 => !r0.isNullAt(2)) == 2)
    assert(rows.exists(r0 => !r0.isNullAt(2)
      && r0.getInt(0) == 1 && r0.isNullAt(1)))
    assert(rows.exists(r0 => r0.isNullAt(2)
      && r0.getInt(0) == 3 && r0.getString(1) == "ok"))
    // COLUMN-PRUNED scan over the same file: arity drift escapes —
    // univocity in selective mode never sees the missing/extra tokens.
    // This is why the op plants TYPE failures in a column its pruned
    // aggregate selects; an arity audit must read full width.
    val pruned = read().select("a", "_bad").collect()
    assert(pruned.count(r0 => !r0.isNullAt(1)) == 0,
      s"pruned scan flagged ${pruned.count(r0 => !r0.isNullAt(1))}")
  }

  test("scan_xml roundtrips nation exactly through the built-in xml source") {
    val got = graft.operators.Scans.scanXml(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    val want = Tables.nation(spark, sf)
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(got.sameElements(want))
  }

  test("scan_parquet result matches table row count (no sort, pure scan)") {
    val n = graft.operators.Scans.scanParquet(spark, sf).count()
    assert(n == 1500)
  }

  test("compaction collapses the small-files layout without losing rows") {
    import org.apache.spark.sql.functions._
    val before = graft.operators.Scans
      .maintenanceCompact(spark, sf).collect()(0)
    val (src, out) = graft.operators.Scans.compactDirs(spark, sf)
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(src) == 64, "staging must create the small-files problem")
    assert(parquetFiles(out) <= 4, "compaction must hit the target file count")
    val exact = Tables.events(spark, sf)
      .agg(count(lit(1)), round(sum(col("value")), 4)).collect()(0)
    assert(before.getAs[Long]("n_rows") == exact.getLong(0))
    assert(before.getAs[Double]("sum_value") == exact.getDouble(1))
  }

  test("schema-evolution read nulls the added column for old batches") {
    val df = graft.operators.Scans.scanEvolving(spark, sf)
    val rows = df.collect()
    assert(rows.length == 50)
    assert(rows.filter(_.getInt(0) == 1).forall(_.isNullAt(3)))
    assert(rows.filter(_.getInt(0) == 2).forall(!_.isNullAt(3)))
  }

  test("zorder buckets are tight in BOTH dimensions (the data-skipping claim)") {
    import org.apache.spark.sql.functions._
    val buckets = graft.operators.Scans.maintenanceZorder(spark, sf).collect()
    assert(buckets.length > 4, "interleave must spread rows over many buckets")
    val global = Tables.orders(spark, sf)
      .agg(max(col("o_custkey")) - min(col("o_custkey")),
        (max(col("o_orderdate").cast("date").cast("timestamp").cast("long"))
          - min(col("o_orderdate").cast("date").cast("timestamp").cast("long")))
          / 86400).head()
    val (ckSpan, daySpan) = (global.getLong(0).toDouble, global.getDouble(1))
    def avg(f: org.apache.spark.sql.Row => Double) =
      buckets.map(f).sum / buckets.length
    val avgCk = avg(r => (r.getAs[Long]("ck_max") - r.getAs[Long]("ck_min")).toDouble)
    val avgDay = avg(r => (r.getAs[Long]("day_max") - r.getAs[Long]("day_min")).toDouble)
    // a bucket fixes the high interleaved bits of BOTH keys, so each
    // dimension's span inside a bucket must be far below its global span
    assert(avgCk < ckSpan / 3, s"custkey span $avgCk vs global $ckSpan")
    assert(avgDay < daySpan / 3, s"day span $avgDay vs global $daySpan")
  }

  test("custom DSv2 source: id filter pushes into the source, id column pruned") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Scans.scanCustomSource(spark, sf)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    // the scan's own description carries the narrowed range — proof the
    // filter reached the SOURCE, not just the scan node
    assert(plan.contains("SeqScan(lo=1000, hi=50000"),
      s"id range not pushed into the source:\n${plan.take(2000)}")
    // with the filter fully handled, nothing downstream needs `id`:
    // column pruning must drop it from the produced rows
    assert(plan.contains("cols=val,tag") || plan.contains("cols=tag,val"),
      s"id column not pruned from the source read:\n${plan.take(2000)}")
    // and no Spark-side Filter on id survives
    assert(!plan.contains("Filter (id"),
      "source-handled filter must not be re-evaluated by Spark")
    // rows are real: unfiltered count matches the option
    val raw = spark.read.format("graft-seq")
      .option("rows", "1000").option("parts", "3").load()
    assert(raw.count() == 1000)
    assert(raw.where(col("id") === 7).select(col("val")).head.getLong(0) ==
      (7L * 2654435761L) % 1000003L)
  }

  test("custom DSv2 source: COMPLETE aggregate pushdown — no Aggregate over the scan, rejected aggs fall back") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Scans.scanAggPushdown(spark, sf)
    df.collect()
    // complete pushdown: the plan carries NO aggregate node — the scan
    // itself returns the final rows
    val aggs = collectFinal(df) {
      case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
    }
    assert(aggs.isEmpty,
      s"complete pushdown must remove the Aggregate:\n" +
        df.queryExecution.executedPlan.toString.take(2000))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"),
      s"scan description must name the pushed aggregates:\n${plan.take(2000)}")
    // values: the closed form equals the row-by-row fallback. Adding a
    // `val` aggregate is REJECTED by the connector (a hash has no
    // closed form), so the same query keeps Spark's own Aggregate —
    // the graceful-fallback half of the contract — and its shared
    // columns must agree exactly
    val fb = spark.read.format("graft-seq")
      .option("rows", "100000").option("parts", "8").load()
      .where(col("id") >= 1000 && col("id") < 50000)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"),
        avg(col("id")).as("avg_id"), sum(col("val")).as("sum_val"))
    fb.collect()
    val fbAggs = collectFinal(fb) {
      case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
    }
    assert(fbAggs.nonEmpty, "a rejected aggregate must keep Spark's own")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    val pushed = df.collect().map(key).toSet
    val ctrl = fb.select(col("tag"), col("n"), col("min_id"),
      col("max_id"), col("sum_id"), col("avg_id")).collect().map(key).toSet
    assert(pushed == ctrl && pushed.size == 10,
      s"pushdown-on/off must agree: ${pushed.size} vs ${ctrl.size}")
    // GLOBAL aggregate over an empty pushed range: the source must
    // reproduce Aggregate-without-grouping semantics (one row, count 0,
    // NULL extrema) once Spark's node is gone
    val empty = spark.read.format("graft-seq")
      .option("rows", "100000").load()
      .where(col("id") >= 90000 && col("id") < 80000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("id")).as("mx"))
    val er = empty.collect()
    assert(er.length == 1 && er.head.getLong(0) == 0L &&
      er.head.isNullAt(1) && er.head.isNullAt(2),
      s"empty-range global aggregate: ${er.toSeq}")
  }

  test("scan_keygrouped: reported partitioning kills the exchange, reported ordering kills the sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val df = graft.operators.Scans.scanKeygrouped(spark, sf)
    df.collect()
    // the report ON: zero exchanges — the source's layout IS the
    // distribution the aggregate requires
    val sh = collectFinal(df) { case e: ShuffleExchangeLike => e }
    assert(sh.isEmpty, "key-grouped scan must plan ZERO exchanges:\n" +
      df.queryExecution.executedPlan.toString.take(2000))
    // and it is a REAL Spark aggregate (sum(val) is exactly what the
    // closed-form pushdown rejects), not a metadata answer
    assert(collectFinal(df) {
      case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
    }.nonEmpty, "the key-grouped row must carry Spark's own aggregate")
    // the report OFF (range layout): same rows, one exchange
    val off = spark.read.format("graft-seq")
      .option("rows", "100000").load()
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
        fmin(col("id")).as("min_id"), fmax(col("id")).as("max_id"))
    off.collect()
    assert(collectFinal(off) { case e: ShuffleExchangeLike => e }.nonEmpty,
      "the range layout must pay the shuffle the report removes")
    assert(df.collect().map(_.toSeq).toSet == off.collect().map(_.toSeq).toSet,
      "report on/off must agree row-for-row")
    // reported ORDERING: a per-partition sort on id is redundant and
    // planned away; on a column the source does not order by, it stays
    val t = spark.read.format("graft-seq")
      .option("rows", "100000").option("layout", "tag").load()
    val sortedId = t.sortWithinPartitions("id")
    sortedId.collect()
    assert(collectFinal(sortedId) { case s: SortExec => s }.isEmpty,
      "reported id-ordering must remove the redundant SortExec")
    val sortedVal = t.sortWithinPartitions("val")
    sortedVal.collect()
    assert(collectFinal(sortedVal) { case s: SortExec => s }.nonEmpty,
      "a sort the report does not cover must stay")
  }

  test("scan_limit_pushdown: fully-pushed limit reads 7 rows from one partition, topN narrows to the boundary window") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = graft.operators.Scans.scanLimitPushdown(spark, sf)
    val rows = df.collect()
    assert(rows.length == 12)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"),
      s"scan description must name the pushed limit:\n${plan.take(2000)}")
    assert(plan.contains("PushedTopN: id DESC LIMIT 5"),
      s"scan description must name the pushed topN:\n${plan.take(2000)}")
    // the limit leg alone: the scan GENERATES exactly 7 rows in one
    // partition — no full partitions are drained for a LIMIT 7
    val lim = spark.read.format("graft-seq")
      .option("rows", "100000").option("parts", "8").load()
      .where(col("id") >= 5).limit(7)
    lim.collect()
    val scans = collectFinal(lim) { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.inputRDD.getNumPartitions == 1,
      "pushed limit must plan a single boundary partition")
    assert(scans.head.metrics("numOutputRows").value == 7L,
      "the scan itself must emit exactly the limited rows")
    assert(lim.collect().map(_.getLong(0)).sorted.toSeq == (5L to 11L),
      "filter + limit compose: ids 5..11")
    // topN leg: the source narrows to the top window; Spark's re-rank
    // keeps the order contract (partially pushed)
    val top = spark.read.format("graft-seq")
      .option("rows", "100000").option("parts", "8").load()
      .orderBy(col("id").desc).limit(5)
    assert(top.collect().map(_.getLong(0)).toSeq ==
      (99999L to 99995L by -1L), "topN must serve the true top-5")
    val topScans = collectFinal(top) { case b: BatchScanExec => b }
    assert(topScans.head.metrics("numOutputRows").value == 5L,
      "the topN scan must generate only the boundary window")
  }

  test("scan_stats_report: reported stats make the connector the broadcast build side; suppressed stats read as huge") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def seqIsBuild(b: BroadcastHashJoinExec): Boolean =
      (if (b.buildSide == BuildLeft) b.left else b.right)
        .collect { case s: BatchScanExec => s }.nonEmpty
    // INITIAL (pre-AQE) plan: the 50-row reported slice is the BUILD
    // side of a static broadcast join
    val df = graft.operators.Scans.scanStatsReport(spark, sf)
    val planned = df.queryExecution.sparkPlan
    val bhj = planned.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty && seqIsBuild(bhj.head),
      s"reported stats must make the connector the build side:\n" +
        planned.toString.take(1500))
    // control: stats suppressed — the source reads as HUGE, so the
    // static plan either sort-merges or broadcasts the OTHER side
    // (the tiny spec-fixture fact table); the connector can never be
    // the build side without its stats
    val dimOff = spark.read.format("graft-seq")
      .option("rows", "100000").option("report_stats", "false").load()
      .where(col("id") < 50).select(col("id"), col("tag"))
    val off = graft.Tables.events(spark, sf)
      .select((col("user_id") % 50).as("id"), col("value"))
      .join(dimOff, "id")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val offPlan = off.queryExecution.sparkPlan
    val offBhj = offPlan.collect { case b: BroadcastHashJoinExec => b }
    val offSmj = offPlan.collect { case m: SortMergeJoinExec => m }
    assert(offSmj.nonEmpty || (offBhj.nonEmpty &&
      !offBhj.exists(seqIsBuild)),
      "without the report the connector must read as huge:\n" +
        offPlan.toString.take(1500))
    // plan choice never changes results
    assert(df.collect().map(_.toSeq).toSet ==
      off.collect().map(_.toSeq).toSet)
  }

  test("scan_colstats_cbo: connector NDV reaches catalyst stats and flips the join order; syntactic order kept with stats off") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val on = graft.operators.Scans.scanColstatsCbo(spark, sf)
    val onRows = on.collect().map(_.toSeq).toSet
    // the connector's column stats really land in catalyst: the
    // narrowed dim relation reports rowCount 50 AND distinctCount 50
    // on `id` — the number JoinEstimation keys its cardinality math on
    val opt = on.queryExecution.optimizedPlan
    val dimRel = opt.collect { case r: DataSourceV2ScanRelation => r }
      .find(_.computeStats().rowCount.contains(BigInt(50)))
    assert(dimRel.isDefined, s"no 50-row scan relation in:\n$opt")
    val idStat = dimRel.get.computeStats().attributeStats
      .find(_._1.name == "id").map(_._2)
    assert(idStat.exists(_.distinctCount.contains(BigInt(50))),
      s"connector NDV must reach attributeStats, got: $idStat")
    // CBO flips the syntactic fact ⋈ fact ⋈ dim into dim-innermost:
    // the DEEPEST join must have the 50-row relation as a direct leg
    def deepestJoin(p: LogicalPlan): Join = {
      val js = p.collect { case j: Join => j }
      js.last // collect is pre-order: last = innermost of the chain
    }
    // the dim is the only scan producing (id, tag) — a discriminator
    // that works with the stats report on AND off
    def legIsDim(leg: LogicalPlan): Boolean = leg.collect {
      case r: DataSourceV2ScanRelation
          if r.scan.description().contains("cols=id,tag") => r
    }.nonEmpty
    val onDeep = deepestJoin(opt)
    assert(legIsDim(onDeep.left) || legIsDim(onDeep.right),
      s"CBO must join the 50-row dim innermost:\n$opt")
    // control: stats off (same cbo confs) — reorder ineligible, the
    // syntactic fact ⋈ fact (on val) stays innermost; rows identical
    val s2 = GraftSession.confClone(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val off = graft.operators.Scans.scanColstatsJoin(s2, report = false)
    assert(off.collect().map(_.toSeq).toSet == onRows,
      "reorder must never change results")
    val offDeep = deepestJoin(off.queryExecution.optimizedPlan)
    assert(!legIsDim(offDeep.left) && !legIsDim(offDeep.right),
      "without reported stats the syntactic fact-first order must stay:\n" +
        off.queryExecution.optimizedPlan.toString)
  }

  test("scan_runtime_filter: DPP reaches the connector — partitions pruned at runtime, rows stable with it off") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = graft.operators.Scans.scanRuntimeFilter(spark, sf)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows.map(_._1) == Set(0L, 25000L, 50000L, 75000L))
    val factScan = collectFinal(df) { case b: BatchScanExec => b }
      .find(_.schema.fieldNames.contains("val")).get
    assert(factScan.runtimeFilters.nonEmpty,
      "the DPP subquery must attach to the connector scan:\n" +
        df.queryExecution.executedPlan.toString.take(2000))
    assert(factScan.inputRDD.getNumPartitions == 4,
      s"runtime filter must prune 32 -> 4 partitions, " +
        s"got ${factScan.inputRDD.getNumPartitions}")
    // with DPP off the connector scans every range — same rows
    val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val off = graft.operators.Scans.scanRuntimeFilter(spark, sf)
      val offRows = off.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(offRows == rows, "pruning must never change results")
      val offScan = collectFinal(off) { case b: BatchScanExec => b }
        .find(_.schema.fieldNames.contains("val")).get
      assert(offScan.inputRDD.getNumPartitions == 32,
        "without DPP every range partition is scanned")
    } finally spark.conf.set(key, old)
  }

  test("sink_clustered_write: the sink's declared distribution/ordering plans the range exchange + sort; file key ranges land non-overlapping") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    // capture the EXECUTED WRITE plan — a save() returns no DataFrame,
    // so the listener is the only window onto the plan the sink forced
    val plans = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val row = graft.operators.Scans.sinkClusteredWrite(spark, sf)
        .collect().head
      assert(row.getAs[Boolean]("non_overlapping") &&
        row.getAs[Boolean]("multi_file"))
      // the listener fires asynchronously — poll until the write's
      // execution surfaces (bounded; the bus drains in well under this)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      // the write plan the sink's contract forced: one range exchange
      // (OrderedDistribution) and one sort over it
      def deepCollect[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T])
          : Seq[T] = {
        val kids = p.children ++ p.subqueries ++ (p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => Seq(q.plan)
          case _ => Seq.empty
        })
        (if (f.isDefinedAt(p)) Seq(f(p)) else Seq.empty) ++
          kids.flatMap(deepCollect(_)(f))
      }
      def findWithSort(): Seq[SparkPlan] =
        plans.toArray.map(_.asInstanceOf[SparkPlan]).toSeq.filter { p =>
          deepCollect(p) { case s: SortExec => s }.exists(
            _.sortOrder.exists(_.child.toString.contains("o_orderkey"))) &&
          deepCollect(p) { case e: ShuffleExchangeLike => e }.exists(
            _.outputPartitioning.toString.toLowerCase.contains("range"))
        }
      var withSort = findWithSort()
      while (withSort.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100); withSort = findWithSort()
      }
      assert(withSort.nonEmpty,
        "the clustered write must plan a range exchange + key sort:\n" +
          plans.toArray.map(_.toString.take(600)).mkString("\n---\n"))
      // physical proof, file by file: each committed part is internally
      // sorted and the per-file ranges tile without overlap
      val out = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_clustered_sink_${java.lang.ProcessHandle.current().pid()}")
      val ranges = graft.sources.AuditManifest
        .lines(new java.io.File(out, "_RANGES"))
        .map { l =>
          val Array(_, _, kmin, kmax) = l.split(",")
          (kmin.toLong, kmax.toLong)
        }.sortBy(_._1)
      assert(ranges.size >= 2)
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax < bMin, s"overlap: $ranges")
        case _ => ()
      }
      val files = graft.sources.AuditManifest.files(
        new java.io.File(out, "_MANIFEST"))
      files.foreach { f =>
        val keys = scala.io.Source.fromFile(f).getLines()
          .filter(_.nonEmpty).map(_.split(",")(0).toLong).toSeq
        assert(keys == keys.sorted, s"file $f not internally sorted")
      }
      // the plain (unordered) sink publishes no ranges sidecar — the
      // contract is opt-in, not a default plan tax
      graft.operators.Scans.sinkCustom(spark, sf).collect()
      val plainOut = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_audit_sink_${java.lang.ProcessHandle.current().pid()}")
      assert(!new java.io.File(plainOut, "_RANGES").exists())
    } finally spark.listenerManager.unregister(listener)
  }

  test("custom DSv2 sink: only manifest-committed files visible, counts exact") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_audit_spec").toString
    val src = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    src.write.format("graft-audit").mode("append")
      .option("path", out).save()
    // plant a stray part file — a crashed/retried task's leftover
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-99-999.csv"),
      "999999999,Z,1\n".getBytes("UTF-8"))
    val manifest = new java.io.File(out, "_MANIFEST")
    val rowsTotal = graft.sources.AuditManifest.lines(manifest)
      .map(_.split(",", 3)(1).toLong).sum
    assert(rowsTotal == src.count(),
      "manifest row counts must sum to the written total")
    val back = spark.read
      .schema("o_orderkey long, status string, cents long")
      .csv(graft.sources.AuditManifest.files(manifest): _*)
    assert(back.count() == src.count())
    assert(back.where(col("o_orderkey") === 999999999L).count() == 0,
      "uncommitted stray part must be invisible through the manifest")
  }

  test("DSv2 sink save modes run through the manifest: append merges, overwrite truncates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_audit_modes").toString
    val manifest = new java.io.File(out, "_MANIFEST")
    def readBack() = spark.read.schema("k long, v string, n long")
      .csv(graft.sources.AuditManifest.files(manifest): _*)
    def write(rows: Seq[(Long, String, Long)], mode: String): Unit =
      rows.toDF("k", "v", "n").coalesce(1)
        .write.format("graft-audit").mode(mode).option("path", out).save()
    // two appends accumulate: the second commit merges, not replaces
    write(Seq((1L, "a", 10L), (2L, "b", 20L)), "append")
    write(Seq((3L, "c", 30L)), "append")
    assert(readBack().count() == 3,
      "second append must keep the first commit's files visible")
    // overwrite truncates: manifest now references only the new files
    write(Seq((9L, "z", 90L)), "overwrite")
    val after = readBack().collect()
    assert(after.length == 1 && after.head.getLong(0) == 9L,
      "overwrite must atomically drop prior commits from visibility")
  }

  test("DSv2 sink quotes string cells so delimiters round-trip exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_audit_quote").toString
    val tricky = Seq(
      (1L, "plain", 1L),
      (2L, "comma,inside", 2L),
      (3L, "quote\"inside", 3L),
      (4L, "line\nbreak", 4L))
    tricky.toDF("k", "v", "n").coalesce(1)
      .write.format("graft-audit").mode("append").option("path", out).save()
    val back = spark.read.schema("k long, v string, n long")
      .option("multiLine", "true").option("escape", "\"")
      .csv(graft.sources.AuditManifest.files(
        new java.io.File(out, "_MANIFEST")): _*)
      .orderBy(col("k")).collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      == tricky, "quoted cells must round-trip bit-exactly")
  }

  test("csv and json roundtrips preserve row counts and schema") {
    val csv = graft.operators.Scans.scanCsv(spark, sf)
    assert(csv.count() == 200)
    assert(csv.schema.fieldNames.toSeq ==
      Seq("p_partkey", "p_name", "p_brand", "p_size"))
    val json = graft.operators.Scans.scanJson(spark, sf)
    assert(json.count() == 25)
  }

  test("maintenance_stats: exact NDV and null counts per column") {
    val out = graft.operators.Scans.maintenanceStats(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 6)
    val o = graft.Tables.orders(spark, sf)
    val n = o.count()
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_null") == 0L) // fixture has no nulls
      assert(r.getAs[Long]("ndv") > 0 && r.getAs[Long]("ndv") <= n)
    }
    // spot-check two columns against direct distinct counts
    assert(out("o_orderkey").getAs[Long]("ndv") ==
      o.select("o_orderkey").distinct().count())
    assert(out("o_orderstatus").getAs[Long]("ndv") ==
      o.select("o_orderstatus").distinct().count())
  }

  test("text source round-trips id<TAB>text lines losslessly") {
    val out = graft.operators.Scans.scanText(spark, sf)
    val src = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").as("src_text"))
    val joined = out.join(src, "doc_id")
    assert(joined.count() == src.count())
    assert(joined.where(col("text") =!= col("src_text")).count() == 0)
  }

  test("binaryFile ingest round-trips bytes: length and decoded text match the source") {
    val out = graft.operators.Scans.scanBinaryFile(spark, sf)
    val src = graft.Tables.documents(spark, sf)
      .where(col("doc_id") < 50)
      .select(col("doc_id"), col("text").as("src_text"))
    val joined = out.join(src, "doc_id").collect()
    assert(joined.length == 50, s"expected 50 staged files, got ${joined.length}")
    joined.foreach { r =>
      val txt = r.getAs[String]("text")
      assert(txt == r.getAs[String]("src_text"), "decoded bytes differ")
      assert(r.getAs[Long]("length") == txt.getBytes("UTF-8").length.toLong)
    }
  }

  test("scan_cached: reads the in-memory columnar relation with the pruned schema") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = graft.operators.Scans.scanCached(spark, sf)
    val scans = collectFinal(df) { case s: InMemoryTableScanExec => s }
    assert(scans.nonEmpty, "query must read through InMemoryTableScan")
    // the CACHED relation is the curated 3-column projection, not the
    // 16-column table — caching raw wide tables is the memory mistake
    // the op's docstring warns about
    val cachedCols = scans.head.relation.output.map(_.name).toSet
    assert(cachedCols == Set("l_orderkey", "l_quantity", "l_returnflag"),
      s"cached projection must be the 3 curated columns: $cachedCols")
    // caching is result-invisible
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.Tables.lineitem(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.expr(
          "cast(round(sum(l_quantity)) as bigint)"),
        org.apache.spark.sql.functions.expr(
          "cast(count(distinct l_orderkey) as bigint)"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // hygiene: the op registers its uncache as a drain hook — after the
    // harness's per-query epilogue the cached relation must NOT still be
    // squatting in the session cache under later queries (ADVICE r12)
    assert(spark.catalog.tableExists("graft_cached_li"))
    graft.operators.MemoUtil.dropScratch()
    assert(!spark.catalog.tableExists("graft_cached_li"),
      "drain hook must drop the ephemeral cached view")
  }

  test("sink_merge_cow: untouched partitions byte-identical; merge semantics exact") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("merge_cow_spec").toString
    val path = s"$root/target"
    graft.operators.Scans.mergeCowStageTarget(spark, sf, path)
    // content fingerprint of a partition dir: (name, size, sha-256) per
    // data file — byte identity, not just row equality
    def snap(pri: String): Set[(String, Long, String)] = {
      val dir = new java.io.File(path, s"o_orderpriority=$pri")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = Files.readAllBytes(f.toPath)
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(bytes).map("%02x".format(_)).mkString
        (f.getName, f.length(), sha)
      }.toSet
    }
    val lowBefore = snap("5-LOW")
    val urgentBefore = snap("1-URGENT")
    graft.operators.Scans.mergeCowApply(spark, sf, path)
    // the COW economics claim: partitions the source never names are
    // not rewritten — same files, same bytes
    assert(snap("5-LOW") == lowBefore,
      "untouched partition must keep byte-identical files")
    assert(snap("1-URGENT") != urgentBefore,
      "touched partition must be rewritten")
    // row-level merge semantics on the touched partitions
    val after = spark.read.parquet(path)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val before = graft.Tables.orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    before.foreach { case (k, p) =>
      if (k % 10 == 7) assert(!after.contains(k), s"key $k must be deleted")
      else if (k % 10 == 3) assert(after(k) == p * 2, s"key $k must be updated")
      else assert(after(k) == p, s"key $k must pass through")
    }
    before.keys.filter(_ % 100 == 1).foreach { k =>
      assert(after(k + 100000000L) == before(k) + 1000.0,
        s"key $k must gain its insert twin")
    }
    // no stray keys beyond the three actions
    assert(after.keySet ==
      before.keySet.filter(_ % 10 != 7) ++
        before.keySet.filter(_ % 100 == 1).map(_ + 100000000L))
    // registered readback agrees with the spec's own replay at n-level
    val viaOp = graft.operators.Scans.sinkMergeCow(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT").collect().head
    assert(viaOp.getAs[Long]("n") == after.size)
  }

  test("sink_merge_mor: zero base-file I/O, O(delta) commit, read equals the COW merge") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("merge_mor_spec").toString
    val path = s"$root/target"
    graft.operators.Scans.mergeMorStageBase(spark, sf, path)
    def snapAll(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$path/base"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val baseBefore = snapAll()
    val baseBytes = baseBefore.values.map(_._1).sum
    graft.operators.Scans.mergeMorCommit(spark, sf, path)
    // the MOR write-side claim: the merge touches ZERO base files (COW
    // rewrote the touched partitions; MOR rewrites nothing) ...
    assert(snapAll() == baseBefore,
      "MOR merge must not touch any base file")
    // ... and commits O(delta) bytes — the sidecar + delta are a small
    // fraction of the base (the source touches ~20% of 2/5 partitions)
    def dirBytes(sub: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else f.length()
      walk(new java.io.File(s"$path/$sub"))
    }
    val logBytes = dirBytes("deletes") + dirBytes("delta")
    assert(logBytes < baseBytes / 2,
      s"MOR commit must be delta-sized: log $logBytes vs base $baseBytes")
    // read-side reconstruction equals the SAME merge executed COW-style
    // (one semantics, two write strategies)
    val mor = graft.operators.Scans.sinkMergeMor(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val cow = graft.operators.Scans.sinkMergeCow(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(mor == cow, s"MOR read must equal the COW merge state")
  }

  test("scan_time_travel: the v1 manifest rewrite encodes paths as input_file_name does, under a space in the dir name") {
    val dir = java.nio.file.Files.createTempDirectory("tt spec").toString
    graft.operators.Scans.timeTravelWriteV1(spark, sf, dir)
    val manifest = graft.operators.Scans.snapshotPaths(spark, s"$dir/m1").toSet
    val read = spark.read.parquet(s"$dir/d1")
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    // the manifest diffs (CDC, vacuum) compare these strings against
    // later commits' input_file_name entries, so they must agree byte
    // for byte
    assert(manifest == read, s"manifest $manifest vs input_file_name $read")
    // ...and the snapshot READS through them: the reader decodes
    val S = graft.operators.Scans
    val n = spark.read.parquet(s"$dir/d1").count()
    assert(n > 0 && S.readPaths(spark, manifest.toSeq.sorted).count() == n)
    // OCC under the same dir: A commits over [100, 400]; C, planned at
    // v1 and overlapping A, must still abort — the conflict rule
    // compares encoded strings on both sides
    graft.operators.TableLog.publish(dir, "m1")
    val m1 = spark.read.parquet(s"$dir/m1")
    def touched(lo: Long, hi: Long): Seq[String] =
      m1.where(col("k_max") >= lo && col("k_min") <= hi)
        .select("path").collect().map(_.getString(0)).toSeq.sorted
    def stage(paths: Seq[String], sub: String): Unit =
      S.readPaths(spark, paths).write.parquet(s"$dir/$sub")
    val (aT, cT) = (touched(100L, 400L), touched(150L, 350L))
    stage(aT, "d2"); stage(cT, "d3")
    assert(S.cowCommit(spark, dir, 1L, aT, "d2") == (2L, "committed"))
    intercept[IllegalStateException](S.cowCommit(spark, dir, 1L, cT, "d3"))
    assert(graft.operators.TableLog.version(dir) == 2L,
      "the stale overlapping writer must not move the head")
    assert(S.readPaths(spark, S.snapshotPaths(spark, s"$dir/m2")).count() == n)
  }

  test("scan_time_travel: v1 resolves unchanged after the v2 commit; replaced files persist") {
    import org.apache.spark.sql.functions.{expr, sum => fsum}
    val dir = java.nio.file.Files.createTempDirectory("tt_spec").toString
    graft.operators.Scans.timeTravelWriteV1(spark, sf, dir)
    def readout(mSub: String): (Long, Long, Long) = {
      val paths = graft.operators.Scans.snapshotPaths(spark, s"$dir/$mSub")
      val r = spark.read.parquet(paths: _*)
        .agg(count(lit(1)), fsum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
          fsum(col("o_orderkey")))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val p1 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m1").toSet
    val v1Before = readout("m1")
    graft.operators.Scans.timeTravelWriteV2(spark, dir)
    // SNAPSHOT ISOLATION: a reader holding m1 sees v1 exactly, after
    // the concurrent writer committed v2
    assert(readout("m1") == v1Before,
      "v1 snapshot must be byte-stable across the v2 commit")
    val p2 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m2").toSet
    // the COW commit shares every non-overlapping file with v1...
    assert((p1 & p2).nonEmpty, "manifests must share untouched files")
    assert(p1 != p2, "v2 must differ from v1")
    // ...and the files it replaced are still on disk (m1 resolves them;
    // only a vacuum past v1's expiry may delete)
    (p1 -- p2).foreach { p =>
      assert(new java.io.File(new java.net.URI(p)).exists(),
        s"replaced v1 file must persist: $p")
    }
    // exactly the [100,400]-overlapping files were replaced
    val m1 = spark.read.parquet(s"$dir/m1")
    val hitPaths = m1.where(col("k_max") >= 100 && col("k_min") <= 400)
      .select("path").collect().map(_.getString(0)).toSet
    assert((p1 -- p2) == hitPaths,
      "replaced set must be exactly the stats-overlap set")
    // v2 reflects the update: cents grow by the updated range's mass
    val v2 = readout("m2")
    assert(v2._1 == v1Before._1 && v2._3 == v1Before._3,
      "update changes no row count or key")
    assert(v2._2 > v1Before._2, "doubled range must raise the cents mass")
  }

  test("sink_merge_occ: rebase keeps both deltas, stale overlapping writer aborts, head immovable on abort") {
    val dir = graft.operators.Scans.occDir(spark, sf)
    assert(graft.operators.TableLog.version(dir) == 3L)
    assert(graft.operators.Scans.wapLogRead(dir, "outcomes") ==
      Seq("A committed 2", "B rebased 3", "C aborted 3"))
    // NO LOST UPDATE: the rebased head manifest carries BOTH writers'
    // new files, and neither writer's replaced originals
    val m3 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m3").toSet
    assert(m3.exists(_.contains("/d2/")) && m3.exists(_.contains("/d3/")),
      "the rebased manifest must keep A's commit and add B's")
    val m1 = spark.read.parquet(s"$dir/m1")
    val aTouched = m1.where(col("k_max") >= 100 && col("k_min") <= 400)
      .select("path").collect().map(_.getString(0)).toSet
    assert(aTouched.nonEmpty && (m3 & aTouched).isEmpty,
      "replaced originals must not leak back through the rebase")
    // both deltas applied exactly ONCE: every final row matches the
    // closed form against the base table
    val base = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val mk = base.agg(org.apache.spark.sql.functions.max(col("k")))
      .collect()(0).getLong(0)
    val fin = spark.read
      .parquet(graft.operators.Scans.snapshotPaths(spark, s"$dir/m3"): _*)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("fp"))
    val joined = fin.join(base, "k").collect()
    assert(joined.length.toLong == base.count(), "row set conserved")
    joined.foreach { r =>
      val k = r.getLong(0); val fp = r.getDouble(1); val p = r.getDouble(2)
      val want =
        if (k >= 100 && k <= 400) p * 2
        else if (k >= mk - 300) p * 3
        else p
      assert(fp == want, s"k=$k: $fp != $want")
    }
    // the conflict interleaving CANNOT commit: replaying C's stale
    // publish throws, the head does not move, no manifest appears
    val cTouched = m1.where(col("k_max") >= 150 && col("k_min") <= 350)
      .select("path").collect().map(_.getString(0)).toSeq
    intercept[IllegalStateException] {
      graft.operators.Scans.cowCommit(spark, dir, 1L, cTouched, "d4")
    }
    assert(graft.operators.TableLog.version(dir) == 3L,
      "an aborted commit must leave the head untouched")
    assert(!new java.io.File(s"$dir/m4").exists(),
      "an aborted commit must publish no manifest")
  }

  test("maintenance_compact_occ: both interleavings — rebase preserves content exactly, stale COW writer aborts against the fold") {
    val S = graft.operators.Scans
    val dir = S.compactOccDir(spark, sf)
    assert(graft.operators.TableLog.version(dir) == 5L)
    assert(S.wapLogRead(dir, "outcomes") == Seq(
      "v2_writer_first committed 2",
      "v3_compact_rebased rebased 3",
      "v4_compact_committed committed 4",
      "w2_stale aborted 4",
      "v5_writer_retry committed 5"))
    def rows(v: Long): Map[Long, Double] =
      S.compactOccRead(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // interleaving A, the invariant pair: the rebased fold (v3) is
    // LOGICALLY IDENTICAL to the pre-fold MOR view (v2) row-for-row —
    // the mid-fold delta survived (no lost update) and the folded
    // entry left the log exactly once (no double application)
    val v2 = rows(2); val v3 = rows(3)
    assert(v2 == v3, "compaction must never change logical content")
    // the folded seq really left the log, the carried one really stayed
    assert(S.wapLogRead(dir, "log3").map(_.split(" ")(0)) == Seq("2"),
      "log3 must hold exactly the mid-fold delta")
    // interleaving B: v4 (second fold, writer not yet landed) ≡ v3
    assert(rows(4) == v3, "the second fold is content-preserving too")
    // the stale COW writer CANNOT commit over the fold: its touched
    // files were all replaced — replay the publish, head immovable
    val m3 = spark.read.parquet(s"$dir/m3")
    val w2Touched = m3.where(col("k_max") >= 100 && col("k_min") <= 400)
      .select("path").collect().map(_.getString(0)).toSeq
    intercept[IllegalStateException] {
      // the same publish path w2 used, replayed against the live head
      S.cowCommit(spark, dir, 3L, w2Touched, "d5")
    }
    assert(graft.operators.TableLog.version(dir) == 5L,
      "aborts must leave the head untouched")
    // the retry landed on the folded head: v5 differs from v4 exactly
    // on the [100, 400] range, by exactly ×2
    val v5 = rows(5)
    assert(v5.keySet == v3.keySet, "row set conserved through the race")
    v5.foreach { case (k, p) =>
      val want = if (k >= 100 && k <= 400) v3(k) * 2 else v3(k)
      assert(p == want, s"k=$k: $p != $want")
    }
  }

  test("sink_merge_occ_serializable: SI admits the write-skew, the read-range check aborts it, the retry lands the serial result") {
    val S = graft.operators.Scans
    val dir = S.serOccDir(spark, sf)
    val lines = S.wapLogRead(dir, "outcomes")
    // the abort is pinned: disjoint write sets pass under SI (rebased)
    // and fail the read-set validation under serializable
    assert(lines == Seq("si A committed 2", "si B rebased 3",
      "ser A committed 2", "ser B aborted_retry 3"))
    // replaying the skewed publish under serializable still aborts
    val m1 = spark.read.parquet(s"$dir/ser/m1")
    val mk = spark.read.parquet(s"$dir/d1")
      .agg(org.apache.spark.sql.functions.max(col("o_orderkey")))
      .collect()(0).getLong(0)
    val bTouched = m1
      .where(col("k_max") >= mk - 300 && col("k_min") <= mk)
      .select("path").collect().map(_.getString(0)).toSeq
    intercept[IllegalStateException] {
      S.cowCommit(spark, s"$dir/ser", 1L, bTouched, "d3",
        readRange = Some((100L, 400L)))
    }
    // ...and the identical publish under SI would NOT have (the write
    // sets really are disjoint — this is write skew, not a lost update)
    assert(graft.operators.TableLog.version(s"$dir/ser") == 3L)
    def snap(br: String, v: Long): Map[Long, Double] =
      spark.read.parquet(S.snapshotPaths(spark, s"$dir/$br/m$v"): _*)
        .collect().map(r => (r.getAs[Long]("o_orderkey"),
          r.getAs[Double]("o_totalprice"))).toMap
    // the serializable final state IS the serial A→B execution: every
    // top-range row carries the post-A count's addend
    val base = snap("ser", 1)
    val cnt2 = base.count { case (k, p) =>
      val post = if (k >= 100 && k <= 400) p * 2 else p
      k >= 100 && k <= 400 && math.round(post * 100) > 10000000L
    }
    val serB = snap("ser", 3)
    serB.foreach { case (k, p) =>
      val a = if (k >= 100 && k <= 400) base(k) * 2 else base(k)
      val want = if (k >= mk - 300) a * 3 + (cnt2 % 97) / 100.0 else a
      assert(p == want, s"ser k=$k: $p != $want")
    }
    // when the two reads genuinely disagree, the SI branch's committed
    // state matches NO serial order — the anomaly is in the data
    val cnt1 = base.count { case (k, p) =>
      k >= 100 && k <= 400 && math.round(p * 100) > 10000000L
    }
    if (cnt1 != cnt2)
      assert(snap("si", 3) != serB,
        "SI must have committed the skewed (non-serial) state")
  }

  test("maintenance_vacuum: expires exactly the v1-only files, v2 byte-stable, retry-safe order") {
    val dir = java.nio.file.Files.createTempDirectory("vac_spec").toString
    graft.operators.Scans.timeTravelWriteV1(spark, sf, dir)
    graft.operators.Scans.timeTravelWriteV2(spark, dir)
    val p1 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m1").toSet
    val p2 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m2")
    def v2Readout(): Seq[(Long, Double)] =
      spark.read.parquet(p2: _*)
        .select(col("o_orderkey"), col("o_totalprice")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val before = v2Readout()
    graft.operators.Scans.vacuumExpire(spark, dir)
    // exactly the v1-only files are gone; every live (m2) file intact
    val expired = graft.operators.Scans.vacuumExpiredPaths(spark, dir)
    assert(expired.toSet == p1 -- p2.toSet, "expired set must be m1 minus m2")
    expired.foreach(p => assert(
      !new java.io.File(new java.net.URI(p)).exists(), s"must be GC'd: $p"))
    p2.foreach(p => assert(
      new java.io.File(new java.net.URI(p)).exists(), s"live file GC'd: $p"))
    // the expired manifest is gone WITH its files — no reader can plan
    // from a manifest whose members were deleted
    assert(!new java.io.File(s"$dir/m1").exists(), "m1 must be dropped")
    // GC is invisible to the live snapshot
    assert(v2Readout() == before, "v2 must be byte-stable across vacuum")
    // idempotent retry: a second vacuum is a no-op (nothing to expire)
    graft.operators.Scans.vacuumExpire(spark, dir)
    assert(v2Readout() == before)
  }

  test("maintenance_vacuum_orphans: sweeps exactly the unpublished branch; published history byte-stable") {
    val dir = java.nio.file.Files.createTempDirectory("vac_wap_spec").toString
    val S = graft.operators.Scans
    S.timeTravelWriteV1(spark, sf, dir)
    graft.operators.TableLog.publish(dir, "m1")
    S.wapLogAppend(dir, "refs", "m2")
    S.timeTravelWriteV2(spark, dir)
    graft.operators.TableLog.publish(dir, "m2")
    S.wapLogAppend(dir, "refs", "m3")
    S.wapWriteBadBranch(spark, dir)
    val p1 = S.snapshotPaths(spark, s"$dir/m1").toSet
    val p2 = S.snapshotPaths(spark, s"$dir/m2").toSet
    val p3 = S.snapshotPaths(spark, s"$dir/m3").toSet
    def publishedReadout(): (Seq[(Long, Double)], Seq[(Long, Double)]) = (
      spark.read.parquet(p1.toSeq.sorted: _*)
        .select(col("o_orderkey"), col("o_totalprice")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq,
      spark.read.parquet(p2.toSeq.sorted: _*)
        .select(col("o_orderkey"), col("o_totalprice")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq)
    val before = publishedReadout()
    S.wapOrphanSweep(spark, dir)
    // swept set = exactly the branch-only files (m3 minus every
    // published snapshot's members)
    val swept = S.wapSweptPaths(dir).toSet
    assert(swept == p3 -- p1 -- p2,
      "orphan set must be exactly the unpublished branch's own files")
    assert(swept.nonEmpty, "the bad branch must have had files to sweep")
    swept.foreach(p => assert(
      !new java.io.File(new java.net.URI(p)).exists(), s"must be GC'd: $p"))
    (p1 ++ p2).foreach(p => assert(
      new java.io.File(new java.net.URI(p)).exists(), s"live file GC'd: $p"))
    // the branch manifest is gone with its files; the registry keeps
    // only published refs
    assert(!new java.io.File(s"$dir/m3").exists(), "m3 must be dropped")
    assert(S.wapLogRead(dir, "refs") == Seq("m2"))
    // both published snapshots resolve byte-stable through the sweep
    assert(publishedReadout() == before,
      "published history must be byte-stable across the orphan sweep")
    // idempotent retry: a second sweep is a no-op
    S.wapOrphanSweep(spark, dir)
    assert(publishedReadout() == before)
  }

  test("scan_index_refresh: stale postings drop, shared postings carry over untouched, lookup serves post-merge rows") {
    val S = graft.operators.Scans
    val dir = S.indexRefreshDir(spark, sf)
    val p1 = S.snapshotPaths(spark, s"$dir/m1").toSet
    val p2 = S.snapshotPaths(spark, s"$dir/m2").toSet
    val idx1 = spark.read.parquet(s"$dir/index1")
    val idx2 = spark.read.parquet(s"$dir/index2")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // no posting in the refreshed index points at a replaced file, and
    // every posting's file is a member of the live (m2) snapshot
    val idx2Paths = idx2.select("file_path").distinct()
      .collect().map(_.getString(0)).toSet
    assert(idx2Paths.intersect(p1 -- p2).isEmpty,
      "stale postings must be dropped")
    assert(idx2Paths.subsetOf(p2), "refreshed postings must live in m2")
    // shared-file postings carry over row-identical (never recomputed
    // rows differ) — the O(rewritten files) refresh claim
    val shared = (p1 intersect p2)
    val s1 = rows(idx1.where(col("file_path").isin(shared.toSeq.sorted: _*)))
    val s2 = rows(idx2.where(col("file_path").isin(shared.toSeq.sorted: _*)))
    assert(s1 == s2 && s1.nonEmpty,
      "shared postings must be identical across the refresh")
    // ATOMIC CROSS-ARTIFACT PUBLISH (VERDICT r14 task 6): one pointer
    // names the (manifest, postings) pair; because both committed
    // states satisfy postings-files == manifest-files and the flip is
    // atomic, NO interleaving can expose a new snapshot with stale
    // postings — a reader sees (m1,index1) or (m2,index2), never a
    // cross
    assert(graft.operators.TableLog.head(dir) == "m2 index2",
      "head must name the committed pair")
    val idx1Paths = idx1.select("file_path").distinct()
      .collect().map(_.getString(0)).toSet
    assert(idx1Paths == p1,
      "generation 1 invariant: index1 covers exactly m1's files")
    assert(idx2Paths == p2,
      "generation 2 invariant: index2 covers exactly m2's files")
    // the lookup through the refreshed index equals the direct
    // post-merge snapshot recompute
    val got = S.scanIndexRefresh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = spark.read.parquet(p2.toSeq.sorted: _*)
      .where(col("o_custkey").isin(S.secIndexProbeKeys: _*))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"),
        expr("CAST(sum(o_orderkey) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want && got.nonEmpty)
  }

  test("sink_merge_evolve: ADD COLUMN rewrites only its partition, old files byte-untouched, new column pruned and null-filled") {
    val S = graft.operators.Scans
    // own staging so the commit can be observed across its boundary
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evolve_spec").toString
    S.evolveStage(spark, sf, dir)
    def fileHashes(): Map[String, String] = {
      val base = java.nio.file.Paths.get(dir, "data")
      val out = scala.collection.mutable.Map.empty[String, String]
      java.nio.file.Files.walk(base).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          val md = java.security.MessageDigest.getInstance("MD5")
          out(base.relativize(p).toString) =
            md.digest(java.nio.file.Files.readAllBytes(p))
              .map("%02x".format(_)).mkString
        }
      }
      out.toMap
    }
    val before = fileHashes()
    S.evolveCommit(spark, sf, dir)
    val after = fileHashes()
    // every file OUTSIDE the rewritten partition is byte-identical —
    // the ADD COLUMN cost is O(partition the merge touches), never a
    // table rewrite
    val untouched = before.keySet.filterNot(_.contains("pr=1-URGENT"))
    assert(untouched.nonEmpty &&
      untouched.forall(k => after.get(k).contains(before(k))),
      "pre-evolution files must be byte-untouched by the commit")
    assert(after.keySet.filter(_.contains("pr=1-URGENT")) !=
      before.keySet.filter(_.contains("pr=1-URGENT")) ||
      after.exists { case (k, h) =>
        k.contains("pr=1-URGENT") && before.get(k).exists(_ != h) },
      "the urgent partition must actually rewrite")
    // v1 read path is unaffected: no o_flag column at all
    assert(!S.evolveRead(spark, dir, "v1").columns.contains("o_flag"))
    // v2 read: old files NULL-FILL the new column at the scan; the
    // flag is non-null exactly on the rewritten partition
    val v2 = S.evolveRead(spark, dir, "v2")
    import org.apache.spark.sql.functions.{col, count}
    val bad = v2.where(
      (col("o_orderpriority") === "1-URGENT" && col("o_flag").isNull) ||
        (col("o_orderpriority") =!= "1-URGENT" && col("o_flag").isNotNull))
      .count()
    assert(bad == 0, "null-fill boundary must be exactly the commit")
    // pre-evolution projections PRUNE the new column from the scan
    val pruned = v2.select(col("o_orderkey"), col("o_totalprice"))
    val readSchema = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSet
    }
    assert(readSchema.nonEmpty && readSchema.forall(!_.contains("c_4")),
      s"c_4 must be pruned from pre-evolution reads: $readSchema")
    // registered readout equals the relational replay the oracle runs
    val got = graft.operators.Scans.sinkMergeEvolve(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSet
    val want = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
        count(org.apache.spark.sql.functions
          .when(col("o_orderpriority") === "1-URGENT",
            col("o_orderkey") % 3)).as("nf"),
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
          .when(col("o_orderpriority") === "1-URGENT",
            col("o_orderkey") % 3)).cast("bigint").as("fs"),
        org.apache.spark.sql.functions.sum(col("o_orderkey"))
          .cast("bigint").as("ks"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSet
    assert(got == want && got.size == 5)
  }

  test("scan_time_travel_asof: probes resolve at-or-before versions; rows conserved across snapshots") {
    val rows = graft.operators.Scans.scanTimeTravelAsof(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq(1L, 2L, 3L),
      "mid-epoch probes must resolve v1, v2, v3 in order")
    // COW updates conserve rows and keys: every snapshot's count and
    // key checksum are identical; only cents move, monotonically (both
    // updates multiply positive prices)
    assert(rows.map(_._3).distinct.length == 1, "row counts must agree")
    val cents = graft.operators.Scans.scanTimeTravelAsof(spark, sf)
      .collect().sortBy(_.getLong(1)).map(_.getLong(3))
    assert(cents(0) < cents(1) && cents(1) < cents(2),
      "each commit's update must raise the cents mass")
  }

  test("scan_metadata_cols: path-derived partition values match restored columns") {
    val rows = graft.operators.Scans.scanMetadataCols(spark, sf).collect()
    assert(rows.map(_.getAs[String]("o_orderpriority")).distinct.length == rows.length)
    assert(rows.forall(_.getAs[Boolean]("path_matches")))
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.orders(spark, sf).count())
  }

  test("scan_rowgroup_prune: sorted layout lets min/max stats skip row groups") {
    val df = graft.operators.Scans.scanRowgroupPrune(spark, sf)
    val total = graft.Tables.lineitem(spark, sf).count()
    val matches = graft.Tables.lineitem(spark, sf)
      .where(col("l_orderkey").between(100, 300)).count()
    val scans = collectFinal(df) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet scan over the staged layout")
    // the range predicate reaches the scan
    assert(scans.head.metadata("PushedFilters")
      .contains("GreaterThanOrEqual(l_orderkey,100)"),
      scans.head.metadata("PushedFilters"))
    // row-group granularity: the scan returns at least the true matches
    // but far fewer rows than the table — the skipped groups were never
    // read (the whole point of sort-on-write clustering)
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned >= matches, s"scan returned $scanned < $matches matches")
    assert(scanned <= total / 2,
      s"pruning must skip most row groups: read $scanned of $total rows")
  }

  test("scan_manifest_prune: sidecar stats skip files; results match the raw slice") {
    val dir = graft.operators.Scans.stagedManifestDir(spark, sf)
    val manifest = spark.read.parquet(s"$dir/manifest").collect()
    assert(manifest.length == 16, "one manifest row per data file")
    // manifest row counts reconcile with the table
    assert(manifest.map(_.getAs[Long]("n_rows")).sum
      == graft.Tables.lineitem(spark, sf).count())
    // the range-clustered layout makes per-file ranges selective: the
    // [200, 450] slice must exclude most files
    val hit = manifest.count(r =>
      r.getAs[Long]("k_max") >= 200 && r.getAs[Long]("k_min") <= 450)
    assert(hit >= 1 && hit <= 4, s"expected a few overlapping files, got $hit")
    // and the pruned plan reads only those files
    val df = graft.operators.Scans.scanManifestPrune(spark, sf)
    val scans = collectFinal(df) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.metrics("numFiles").value == hit.toLong,
      s"scan must read exactly the $hit manifest-selected files")
    // metadata pruning never changes the answer
    val got = df.collect().head
    val want = graft.Tables.lineitem(spark, sf)
      .where(col("l_orderkey").between(200, 450))
      .agg(count(lit(1)), countDistinct(col("l_suppkey")),
        sum(col("l_quantity")).cast("bigint")).collect().head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
    assert(got.getLong(2) == want.getLong(2))
    assert(got.getLong(0) > 0, "slice must be nonempty")
  }

  test("scan_manifest_dpp: runtime-derived hot hours prune the ts-clustered files; results match the full scan") {
    val dir = graft.operators.Scans.stagedTsManifestDir(spark, sf)
    val manifest = spark.read.parquet(s"$dir/manifest").collect()
    assert(manifest.length == 16, "one manifest row per data file")
    assert(manifest.map(_.getAs[Long]("n_rows")).sum
      == graft.Tables.events(spark, sf).count())
    val df = graft.operators.Scans.scanManifestDpp(spark, sf)
    val rows = df.collect()
    // the ingest-clustered layout makes two hot hours land in few files
    val scans = collectFinal(df) { case f: FileSourceScanExec => f }
    val nFiles = scans.map(_.metrics("numFiles").value).max
    assert(nFiles >= 1 && nFiles <= 4,
      s"two hot hours must prune to a few of 16 ts-banded files, read $nFiles")
    // pruning never changes the answer: replay on the raw fixture
    val ev = graft.Tables.events(spark, sf)
    val hot = ev.where(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hr").asc).limit(2)
      .select(col("hr")).collect().map(_.getTimestamp(0))
    val inHot = hot.map(h => col("ts") >= lit(h) &&
      col("ts") < lit(new java.sql.Timestamp(h.getTime + 3600000L)))
      .reduce(_ || _)
    val want = ev.where(inHot)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSet == want,
      "pruned read must equal the full-scan replay")
    assert(rows.nonEmpty, "hot hours must be nonempty")
  }

  test("scan_partition_evolution: each epoch prunes on its OWN spec's column; results match the raw slice") {
    val df = graft.operators.Scans.scanPartitionEvolution(spark, sf)
    val rows = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val scans = collectFinal(df) { case f: FileSourceScanExec => f }
    assert(scans.size == 2, s"one scan per epoch, got ${scans.size}")
    val byCol = scans.map(f => f.partitionFilters.mkString(" ")).sorted
    assert(byCol.exists(_.contains("o_orderpriority")) &&
      byCol.exists(_.contains("o_month")),
      s"each epoch must carry a partition filter on ITS spec: $byCol")
    // the priority epoch must NOT partition-filter on month or vice
    // versa (the cross predicate is a data filter there)
    scans.foreach { f =>
      val part = f.partitionFilters.mkString(" ")
      val data = f.dataFilters.mkString(" ")
      if (part.contains("o_orderpriority"))
        assert(data.contains("o_orderdate"),
          "epoch 1 must apply the date range as a data filter")
      if (part.contains("o_month"))
        assert(data.contains("o_orderpriority"),
          "epoch 2 must apply the priority predicate as a data filter")
    }
    // pruning actually bites: epoch 1 reads 2 of 5 priority dirs,
    // epoch 2 reads 2 month dirs (the scan metric counts partitions
    // actually READ — the location itself still lists every dir)
    scans.foreach { f =>
      val read = f.metrics("numPartitions").value
      assert(read == 2,
        s"partition pruning must leave 2 directories, read $read " +
          s"(filters: ${f.partitionFilters.mkString(" ")})")
    }
    // layout evolution never changes results
    val want = graft.Tables.orders(spark, sf)
      .where(col("o_orderdate") >= lit("1997-11-01") &&
        col("o_orderdate") < lit("1998-03-01") &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows == want, s"evolved-layout read must equal the raw slice")
    assert(rows.nonEmpty && rows.values.forall(_._1 > 0))
  }

  test("scan_bloom_prune: bloom filter prunes row groups where min/max cannot") {
    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir)
        .where(col("o_orderkey").isin(7L, 611L, 1021L, 1223L, 1379L))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      val scans = collectFinal(df) { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty, "expected a parquet scan")
      // the point lookup reaches the scan as pushed equality filters
      assert(scans.head.metadata("PushedFilters").contains("In(o_orderkey"),
        scans.head.metadata("PushedFilters"))
      scans.head.metrics("numOutputRows").value
    }
    val withBloom = scannedRows(
      graft.operators.Scans.stagedBloomDir(spark, sf, bloom = true))
    val control = scannedRows(
      graft.operators.Scans.stagedBloomDir(spark, sf, bloom = false))
    // identical layout (hash-scattered on o_orderkey, dictionary off) —
    // the control can't prune: every row group's key min/max spans the
    // keyspace, so it reads the whole table; the bloom side must skip
    // most groups (false positives only ever ADD groups)
    val total = graft.Tables.orders(spark, sf).count()
    assert(control >= total,
      s"control layout unexpectedly pruned: read $control of $total")
    assert(withBloom <= control / 2,
      s"bloom must prune most row groups: read $withBloom vs control $control")
    // and pruning never changes the answer
    val got = graft.operators.Scans.scanBloomPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.Tables.orders(spark, sf)
      .where(col("o_orderkey").isin(7L, 611L, 1021L, 1223L, 1379L))
      .select(col("o_orderkey"), col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.size == 5, "all five probe keys exist in the fixture")
  }

  test("scan_csv_multiline: quoted embedded newlines round-trip; the default reader misparses") {
    val got = graft.operators.Scans.scanCsvMultiline(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val want = graft.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1) + "\n" + r.getString(2), r.getInt(3)))
      .toMap
    assert(got == want, s"${got.size} vs ${want.size} rows")
    assert(got.values.forall(_._1.contains("\n")),
      "every addr must carry the embedded newline through the round trip")
    // and the option matters: the DEFAULT (splittable, line-oriented)
    // reader treats the quoted newline as a record boundary — row count
    // inflates, which is exactly the misparse multiLine exists to fix
    val naive = spark.read.option("header", "true")
      .schema(graft.operators.Scans.scanCsvMultiline(spark, sf).schema)
      .csv(graft.operators.Scans.stagedMultilineDir(spark, sf))
    assert(naive.count() > want.size,
      "default line-split read must see more (broken) records")
  }

  test("sink_dynamic_overwrite: delta replaces only its partitions, others keep originals") {
    val got = graft.operators.Scans.sinkDynamicOverwrite(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val src = graft.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val touched = Set("1-URGENT", "2-HIGH")
    val want = src.groupBy(_._1).map { case (pr, rows) =>
      val kept =
        if (touched(pr))
          rows.filter(_._4 >= "1997-01-01").map(t => (t._2, t._3 * 2))
        else rows.map(t => (t._2, t._3))
      pr -> (kept.length.toLong,
        kept.map(t => math.round(t._2 * 100)).sum,
        kept.map(_._1).sum)
    }
    assert(got == want,
      s"dynamic overwrite state wrong: ${got.keySet} vs ${want.keySet}")
    // the untouched partitions must really be untouched: every priority
    // is present (a static-mode wipe would have deleted the other three)
    assert(got.keySet.size == 5 && (got.keySet -- touched).size == 3)
  }

  test("maintenance_mor_compact: pruned rewrite, log GC'd, read join-free and unchanged") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("mor_compact_spec").toString
    val path = s"$root/target"
    graft.operators.Scans.morCompactStage(spark, sf, path)
    def snap(pri: String): Set[(String, Long, String)] = {
      val dir = new java.io.File(s"$path/base", s"o_orderpriority=$pri")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_))
          .mkString
        (f.getName, f.length(), sha)
      }.toSet
    }
    val lowBefore = snap("5-LOW")
    def readSet() = graft.operators.Scans.morCompactRead(spark, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    val pre = readSet() // the MOR reconstruction (no marker yet)
    graft.operators.Scans.morCompactRun(spark, path)
    // the commit lifecycle: marker present, log GONE (post-commit GC)
    assert(new java.io.File(s"$path/_COMPACTED").exists())
    assert(!new java.io.File(s"$path/deletes").exists() &&
      !new java.io.File(s"$path/delta").exists(),
      "compaction must GC the retired log")
    // partition-pruned economics: untouched base partition byte-identical,
    // base2 holds ONLY the log's partitions
    assert(snap("5-LOW") == lowBefore,
      "untouched partition must keep byte-identical files")
    val base2Parts = new java.io.File(s"$path/base2").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(base2Parts == Set("o_orderpriority=1-URGENT",
      "o_orderpriority=2-HIGH"), s"base2 over-wrote: $base2Parts")
    // the whole point: the post-compaction read is the same rows with
    // ZERO joins (reconstruction retired)
    assert(readSet() == pre, "compaction must not change results")
    val joins = graft.operators.Scans.morCompactRead(spark, path)
      .queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    assert(joins.isEmpty, "post-compaction read must be join-free")
    // registered readout ≡ the COW merge state (third write strategy,
    // same semantics)
    val viaOp = graft.operators.Scans.maintenanceMorCompact(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val cow = graft.operators.Scans.sinkMergeCow(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(viaOp == cow)
  }

  test("sink_wap: audit gates the pointer flip; branches never mutate live snapshots") {
    val dir = graft.operators.Scans.wapDir(spark, sf)
    // the good branch published, the bad one exists but never did
    assert(graft.operators.TableLog.head(dir) == "m2")
    assert(new java.io.File(s"$dir/m3").exists(),
      "failed branch's manifest must exist (orphaned, vacuum's job)")
    // audit verdicts, replayed directly against each branch
    assert(graft.operators.Scans.wapAudit(spark, dir, "m2"))
    assert(!graft.operators.Scans.wapAudit(spark, dir, "m3"),
      "dropped-rows branch must fail the conservation audit")
    // v1 must still resolve EXACTLY after two branch writes: branch
    // commits add files and manifests, never touch a live snapshot
    val p1 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m1")
    val v1 = spark.read.parquet(p1: _*)
      .agg(count(lit(1)), sum(expr(
        "CAST(round(o_totalprice * 100) AS BIGINT)")))
      .collect().head
    val raw = graft.Tables.orders(spark, sf)
      .agg(count(lit(1)), sum(expr(
        "CAST(round(o_totalprice * 100) AS BIGINT)")))
      .collect().head
    assert(v1 == raw, "v1 snapshot must stay byte-stable under branches")
    // the bad branch's data is reachable from m3 (orphaned, not lost) —
    // and is exactly the head minus the 5 dropped keys
    val p3 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m3")
    val p2 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m2")
    val n3 = spark.read.parquet(p3: _*).count()
    val n2 = spark.read.parquet(p2: _*).count()
    assert(n3 < n2, s"bad branch must have dropped rows ($n3 vs $n2)")
    // registered readout resolves THROUGH head
    val row = graft.operators.Scans.sinkWap(spark, sf).collect().head
    assert(row.getAs[String]("published") == "m2")
    assert(row.getAs[Boolean]("bad_branch_unpublished"))
    assert(row.getAs[Long]("n_rows") == n2)
  }

  test("sink_merge_positional: zero base I/O, valid ordinals, schema-free delete application") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("merge_pos_spec").toString
    val path = s"$root/target"
    graft.operators.Scans.mergeMorStageBase(spark, sf, path)
    def snapAll(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$path/base"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val baseBefore = snapAll()
    graft.operators.Scans.mergePosCommit(spark, sf, path)
    // position-MOR writes only the sidecar + delta: zero base-file I/O
    assert(snapAll() == baseBefore,
      "position-delete commit must not touch any base file")
    // every recorded position is a valid ordinal of its file, and every
    // referenced file belongs to a TOUCHED partition (the commit scan
    // was partition-pruned)
    val dels = spark.read.parquet(s"$path/pos_deletes")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dels.nonEmpty)
    assert(dels.forall { case (f, _) =>
      f.contains("o_orderpriority=1-URGENT") ||
        f.contains("o_orderpriority=2-HIGH")
    }, "deletes must reference only touched partitions' files")
    val perFile = spark.read.parquet(s"$path/base")
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dels.forall { case (f, p) => p >= 0 && p < perFile(f) },
      "every position must be a valid row ordinal of its file")
    // the deletion-vector property: applying deletes needs NO data
    // column — the application plan's parquet ReadSchema is empty
    // (metadata-only scan)
    val applyOnly = spark.read.parquet(s"$path/base")
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"))
      .join(org.apache.spark.sql.functions.broadcast(
        spark.read.parquet(s"$path/pos_deletes")),
        Seq("file_path", "pos"), "left_anti")
    val survivors = applyOnly.count()
    val baseScanSchemas = collectFinal(applyOnly) {
      case sc: FileSourceScanExec
        if sc.relation.location.rootPaths.exists(
          _.toString.contains("/base")) =>
        sc.requiredSchema.fieldNames.toSet
    }
    // (Spark surfaces row_index through an internal _tmp_metadata_*
    // column in the reader — metadata plumbing, not table data)
    val dataCols = Set("o_orderkey", "o_totalprice", "o_orderpriority")
    assert(baseScanSchemas.nonEmpty &&
      baseScanSchemas.forall(_.intersect(dataCols).isEmpty),
      s"delete application must read zero data columns: $baseScanSchemas")
    assert(survivors ==
      spark.read.parquet(s"$path/base").count() - dels.length)
    // read-side reconstruction equals the SAME merge executed COW-style
    val pos = graft.operators.Scans.sinkMergePositional(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val cow = graft.operators.Scans.sinkMergeCow(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(pos == cow, "position-MOR read must equal the COW merge state")
  }

  test("scan_column_mapping: rename+drop are metadata-only; dropped column pruned at scan") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("colmap_spec").toString
    graft.operators.Scans.colMapWriteData(spark, sf, dir)
    graft.operators.Scans.colMapWriteV1(spark, dir)
    def snapData(): Set[(String, Long, String)] =
      new java.io.File(s"$dir/data").listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_))
            .mkString
          (f.getName, f.length(), sha)
        }.toSet
    val before = snapData()
    graft.operators.Scans.colMapWriteV2(spark, dir)
    // the metadata-only claim: the rename + drop commit touches zero
    // data bytes
    assert(snapData() == before,
      "a mapping commit must not rewrite data files")
    // physical schema stays stable field-id names
    assert(spark.read.parquet(s"$dir/data").columns.toSeq ==
      Seq("c_1", "c_2", "c_3"))
    // each version exposes ITS logical schema over the same bytes
    val v1 = graft.operators.Scans.colMapRead(spark, dir, "v1")
    val v2 = graft.operators.Scans.colMapRead(spark, dir, "v2")
    assert(v1.columns.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    assert(v2.columns.toSeq == Seq("o_orderkey", "price_usd"))
    // the DROP costs nothing AND scans less: v2's parquet read schema
    // must exclude the dropped physical column
    val v2Read = v2.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }.head
    assert(v2Read == Set("c_1", "c_2"), s"v2 must prune c_3: $v2Read")
    // a rename never changes data
    val s1 = v1.agg(count(lit(1)), sum(col("o_totalprice"))).collect().head
    val s2 = v2.agg(count(lit(1)), sum(col("price_usd"))).collect().head
    assert(s1 == s2)
  }

  test("scan_row_lineage: identity survives a key migration; key CDC sees the illusion") {
    val row = graft.operators.Scans.scanRowLineage(spark, sf).collect().head
    // row identity is invariant across the rewrite
    assert(row.getAs[Long]("rowid_sum_v1") == row.getAs[Long]("rowid_sum_v2"),
      "rowid mass must be invariant across the key migration")
    // the migration is |changed keys| UPDATES under row-id CDC, with
    // every price provably stable
    val nCh = graft.Tables.orders(spark, sf)
      .where(col("o_orderkey").between(100, 400)).count()
    assert(row.getAs[Long]("row_updates") == nCh)
    assert(row.getAs[Long]("price_stable") == nCh,
      "row-id CDC must see stable prices on every update")
    // the same file diff under key CDC: lineage severed — the
    // delete+insert illusion, one of each per migrated key
    assert(row.getAs[Long]("key_deletes") == nCh)
    assert(row.getAs[Long]("key_inserts") == nCh)
    // untouched files are SHARED between the manifests (the rewrite was
    // localized — the lineage carry never forced a full rewrite)
    val dir = graft.operators.Scans.rowLineageDir(spark, sf)
    val p1 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m1").toSet
    val p2 = graft.operators.Scans.snapshotPaths(spark, s"$dir/m2").toSet
    assert((p1 & p2).nonEmpty, "untouched files must be shared, not copied")
    assert(p1 != p2, "the migration must have rewritten something")
  }

  test("scan_secondary_index: postings bound the data read; lookup replays exactly") {
    val dir = graft.operators.Scans.secondaryIndexDir(spark, sf)
    // the index accounts for every row exactly once
    val idxMass = spark.read.parquet(s"$dir/index")
      .agg(sum(col("n_rows"))).collect().head.getLong(0)
    assert(idxMass == graft.Tables.orders(spark, sf).count())
    // the lookup's posting set prunes the scattered layout: fewer files
    // than the 16-file table (the scattered key means zonemaps can't)
    val keys = graft.operators.Scans.secIndexProbeKeys
    val postings = spark.read.parquet(s"$dir/index")
      .where(col("o_custkey").isin(keys: _*))
      .select(col("file_path")).distinct().count()
    assert(postings > 0 && postings < 16,
      s"posting set must prune the 16-file layout: $postings")
    // exact row replay vs the raw fixture
    val got = graft.operators.Scans.scanSecondaryIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = graft.Tables.orders(spark, sf)
      .where(col("o_custkey").isin(keys: _*))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"),
        expr("CAST(sum(o_orderkey) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want && got.nonEmpty)
    // ABSENT keys → empty posting set → the planned read must return an
    // empty typed result, not throw on the empty varargs (ADVICE r13)
    val miss = graft.operators.Scans.secIndexLookup(spark, dir,
      Seq(-1L, -2L))
    assert(miss.columns.toSeq ==
      Seq("o_custkey", "n_orders", "cents", "key_sum"))
    assert(miss.count() == 0L, "absent keys must yield an empty result")
  }

  test("pipeline_backfill: fingerprint diff finds exactly the stale months; rebuild is pruned") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("backfill_spec").toString
    graft.operators.Scans.backfillBuild(spark,
      graft.operators.Scans.backfillT1(spark, sf), dir,
      org.apache.spark.sql.SaveMode.Overwrite)
    def snap(month: String): Set[(String, Long, String)] = {
      val f = new java.io.File(s"$dir/target", s"o_month=$month")
      f.listFiles().filter(_.getName.endsWith(".parquet")).map { x =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(x.toPath)).map("%02x".format(_))
          .mkString
        (x.getName, x.length(), sha)
      }.toSet
    }
    val freshBefore = snap("1995-03")
    val stale = graft.operators.Scans.backfillRun(spark, sf, dir)
    // exactly the late-data month + the withheld tail
    assert(stale.contains("1996-06"))
    assert(stale.filter(_ != "1996-06").forall(_ >= "2001-01"),
      s"unexpected stale months: $stale")
    assert(stale.count(_ >= "2001-01") == 8)
    // untouched months are never rebuilt (the backfill economics)
    assert(snap("1995-03") == freshBefore,
      "fresh month must keep byte-identical files")
    // the planner is a fixed point after the backfill
    assert(graft.operators.Scans.backfillRun(spark, sf, dir).isEmpty,
      "second planner run must find nothing stale")
    // the symmetric staleness class: a month whose source rows VANISH
    // is detected from the watermark side and its target partition is
    // dropped (dynamic overwrite cannot delete an empty partition —
    // the planner takes the file-GC path)
    val wmDir = new java.io.File(s"$dir/watermark/o_month=1995-07")
    assert(wmDir.exists(), "fixture month must exist before the test")
    import org.apache.spark.sql.functions.lit
    graft.operators.Scans.backfillBuild(spark,
      graft.Tables.orders(spark, sf)
        .withColumn("o_month",
          org.apache.spark.sql.functions.date_format(
            col("o_orderdate"), "yyyy-MM"))
        .where(col("o_month") === "1995-07")
        .withColumn("o_month", lit("2077-01")),
      dir, org.apache.spark.sql.SaveMode.Overwrite)
    // 2077-01 now exists in the TARGET+WATERMARK but not in the source
    val stale2 = graft.operators.Scans.backfillRun(spark, sf, dir)
    assert(stale2 == Seq("2077-01"), s"vanished month must surface: $stale2")
    assert(!new java.io.File(s"$dir/target/o_month=2077-01").exists(),
      "vanished month's target partition must be dropped")
    assert(graft.operators.Scans.backfillRun(spark, sf, dir).isEmpty,
      "planner must be a fixed point after the drop")
    // post-backfill target equals the full rebuild
    val got = spark.read.parquet(s"$dir/target")
      .groupBy(col("o_month"))
      .agg(sum(col("n")).cast("bigint"), sum(col("cents")).cast("bigint"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.Tables.orders(spark, sf)
      .groupBy(date_trunc("month", col("o_orderdate")))
      .agg(count(lit(1)),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"))
      .collect()
      .map(r => (new java.text.SimpleDateFormat("yyyy-MM")
        .format(r.getTimestamp(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("scan_zorder_prune: z-curve bounds both dims — fewer files than linear clustering") {
    val dir = graft.operators.Scans.zorderPruneDir(spark, sf)
    val (x0, x1, y0, y1) = graft.operators.Scans.zBox
    def overlap(sub: String): Long =
      spark.read.parquet(s"$dir/$sub/manifest")
        .where(col("x_max") >= x0 && col("x_min") <= x1 &&
          col("y_max") >= y0 && col("y_min") <= y1).count()
    val zFiles = overlap("zorder")
    val linFiles = overlap("linear")
    assert(zFiles <= linFiles,
      s"z-order must not read more files than linear: $zFiles vs $linFiles")
    assert(zFiles < 16, s"the box must prune the 16-file layout: $zFiles")
    // both layouts answer the box identically, and equal the raw table
    def boxSet(sub: String) =
      graft.operators.Scans.zorderBoxRead(spark, dir, sub)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val zs = boxSet("zorder")
    assert(zs == boxSet("linear") && zs.nonEmpty)
    val want = graft.Tables.orders(spark, sf)
      .where((col("o_custkey").bitwiseAND(lit(65535L))).between(x0, x1))
      .where(org.apache.spark.sql.functions.datediff(
          col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long")
        .bitwiseAND(lit(65535L)).between(y0, y1))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(zs == want)
  }

  test("scan_encrypted: ciphertext at rest, keyless reads fail, roundtrip exact") {
    import java.nio.file.Files
    val dir = graft.operators.Scans.encryptedDir(spark, sf)
    def fileBytes(sub: String): Array[Byte] = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.readAllBytes(f.toPath)
    }
    // the ciphertext property: a plaintext partition value greps in the
    // control file and NEVER in the encrypted one; the encrypted file
    // carries the PARE (encrypted-footer) magic
    val needle = "1-URGENT".getBytes("UTF-8")
    def contains(hay: Array[Byte]): Boolean =
      hay.indices.exists(i => i + needle.length <= hay.length &&
        needle.indices.forall(j => hay(i + j) == needle(j)))
    assert(contains(fileBytes("plain")),
      "control file must carry plaintext (else the grep proves nothing)")
    val enc = fileBytes("enc")
    assert(!contains(enc), "encrypted file must never leak plaintext")
    assert(new String(enc.take(4), "ISO-8859-1") == "PARE",
      "footer encryption must flip the file magic")
    // a keyless reader FAILS — no silent downgrade. Since ADVICE r13
    // the crypto wiring is per-read OPTIONS, not global conf, so a
    // plain read IS the keyless reader (and the session conf stays
    // untouched for every other op in the JVM)
    val ex = intercept[Exception] {
      spark.read.parquet(s"$dir/enc").count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getClass.getName +: chain(t.getCause)
    assert(chain(ex).exists(_.contains("Crypto")) ||
      ex.getMessage != null, s"keyless read must fail, got: $ex")
    // the global conf is NOT polluted by staging or reads
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("parquet.crypto.factory.class") == null,
      "crypto factory must stay out of the process-global conf")
    // exact roundtrip through decrypt
    val got = spark.read.options(graft.operators.Scans.cryptoOpts)
      .parquet(s"$dir/enc")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    val want = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    assert(got == want)
  }
}
