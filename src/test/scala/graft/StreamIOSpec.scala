package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.operators.StreamIO

class StreamIOSpec extends SparkSpec {
  import spark.implicits._

  /** The progress of every micro-batch `f` runs in queries whose name
    * starts with `prefix` — the entries of their `recentProgress`. */
  private def progressOf(prefix: String)(f: => Unit): Seq[StreamingQueryProgress] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent
            if Option(p.progress.name).exists(_.startsWith(prefix)) =>
          seen.add(p.progress); ()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try f
    finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
    seen.asScala.toSeq
  }

  test("checkpoint recovery does not double output on restart") {
    val out = StreamIO.checkpointRecovery(spark, sf)
    val n = out.count()
    val expected = graft.Tables.events(spark, sf)
      .where($"event_type" === "signup").count()
    assert(n == expected, s"restart must be exactly-once: $n vs $expected")
    // and no duplicate event_ids
    assert(out.select("event_id").distinct().count() == n)
  }

  test("rate-micro-batch source produces deterministic rows") {
    val r = StreamIO.sourceRate(spark, sf).collect().head
    assert(r.getAs[Long]("n_rows") >= 100)
    assert(r.getAs[Long]("min_v") == 0L)
  }

  test("source_rate: every trigger carries exactly rowsPerBatch rows, and the total is rowsPerBatch × batches") {
    var r: org.apache.spark.sql.Row = null
    val batches = progressOf("src_rate_") {
      r = StreamIO.sourceRate(spark, sf).collect().head
    }
    assert(batches.nonEmpty)
    assert(batches.map(_.numInputRows).toSet == Set(100L),
      s"rows per trigger: ${batches.map(_.numInputRows)}")
    val n = 100L * batches.size
    assert(r.getAs[Long]("n_rows") == n)
    assert((r.getAs[Long]("min_v"), r.getAs[Long]("max_v")) == ((0L, n - 1)))
  }

  test("stream_dedup_within_wm: one micro-batch, per-type counts equal the distinct events") {
    var rows: Map[String, Long] = Map.empty
    val batches = progressOf("ddw_") {
      rows = StreamIO.streamDedupWithinWm(spark, sf).as[(String, Long)]
        .collect().toMap
    }
    assert(batches.map(_.batchId) == Seq(0L),
      s"batches: ${batches.map(b => (b.batchId, b.numInputRows))}")
    val expected = graft.Tables.events(spark, sf).groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    assert(rows == expected)
  }

  test("memory-source replay equals its VALUES oracle shape") {
    val rows = StreamIO.sourceMemory(spark, sf).collect()
    // 5 events over 3 hours × type → 4 (h0 click, h0 view, h1 click, h2 view)
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("n_events")).sum == 5)
  }

  test("custom DSv2 streaming source drains in paced micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seq_ck").toString
    val name = "seq_stream_spec"
    val q = spark.readStream.format("graft-seq")
      .option("rows", "20000").option("parts", "4").load()
      .groupBy($"tag").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // paced admission: the 20k rows arrive over >= 4 offset-tracked
    // micro-batches, not one bulk read
    val maxBatch = q.recentProgress.map(_.batchId).max
    assert(maxBatch >= 3, s"expected >= 4 micro-batches, saw ${maxBatch + 1}")
    assert(spark.table(name).agg(sum($"n")).head.getLong(0) == 20000L,
      "every generated row must arrive exactly once across batches")
  }

  test("manifest-CDC source: version offsets checkpoint — a restart emits only the new commit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("man_cdc_spec").toString
    graft.operators.Scans.timeTravelWriteV1(spark, sf, dir)
    graft.operators.Scans.timeTravelWriteV2(spark, dir)
    val ckpt = java.nio.file.Files.createTempDirectory("man_cdc_ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("man_cdc_out").toString
    // parquet sink: the memory sink refuses checkpoint recovery — the
    // file sink is the exactly-once restartable surface
    def drain(): org.apache.spark.sql.DataFrame = {
      val q = spark.readStream.format("graft-manifest-cdc")
        .option("path", dir).load()
        .writeStream.format("parquet").outputMode("append")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir)
    }
    val first = drain()
    val vs1 = first.select("version").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(vs1 == Set(2L), s"first drain must emit exactly the v2 step: $vs1")
    // signed cancellation: a COW rewrite's net row mass is zero (every
    // old row has a new twin)
    assert(first.agg(sum(col("sign"))).head.getLong(0) == 0L)
    // the ± pairs recover exactly the commit's changed keys
    val changed = first.groupBy(col("o_orderkey"))
      .agg(sum(col("sign") *
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("delta"))
      .where(col("delta") =!= 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val want = graft.Tables.orders(spark, sf)
      .where(col("o_orderkey").between(100, 400))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(changed == want, "changed keys must be exactly the COW range")
    // a new commit lands; a RESTARTED query on the same checkpoint must
    // resume from the committed version offset — v2 never re-emits
    val v2Rows = first.where(col("version") === 2L).count()
    graft.operators.Scans.timeTravelWriteV3(spark, dir)
    val second = drain()
    val vs2 = second.select("version").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(vs2 == Set(2L, 3L),
      s"restart must append only the new v3 step: $vs2")
    assert(second.where(col("version") === 2L).count() == v2Rows,
      "the restart must not re-emit v2 (exactly-once across restarts)")
    assert(second.where(col("version") === 3L).count() > 0)
  }

  test("cdc-driven MV equals the direct rollup over the final snapshot") {
    import org.apache.spark.sql.functions._
    val mv = StreamIO.sinkCdcMv(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = graft.operators.Scans.manifestStreamDir(spark, sf)
    val want = spark.read.parquet(
        graft.operators.Scans.snapshotPaths(spark, s"$dir/m3"): _*)
      .groupBy(expr("o_orderkey DIV 100").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the IVM invariant: incrementally-folded changelog == recompute
    assert(mv == want && mv.nonEmpty,
      "incrementally maintained MV must equal the final-snapshot rollup")
  }

  test("left-outer stream-stream join: matches + watermark-expired null rows") {
    import org.apache.spark.sql.functions._
    val out = StreamIO.joinStreamOuter(spark, sf).cache()
    try {
      val ev = graft.Tables.events(spark, sf)
      val c = ev.where($"event_type" === "click")
        .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("cts"))
      val p = ev.where($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"ts".as("pts"))
      val joinCond = $"cu" === $"pu" &&
        $"pts" >= $"cts" - expr("INTERVAL 30 MINUTES") && $"pts" <= $"cts"
      // matched pairs identical to the inner join
      val matched = out.where($"purchase_id".isNotNull)
        .select("click_id", "purchase_id").collect().toSet
      val batch = c.join(p, joinCond)
        .select("click_id", "purchase_id").collect().toSet
      assert(matched == batch, "matched pairs must equal the batch inner join")
      // null rows are exactly the unmatched clicks whose state expired
      // under the final watermark min(maxC, maxP) - 10min
      val wm = c.agg(max($"cts")).head.getTimestamp(0).getTime
        .min(p.agg(max($"pts")).head.getTimestamp(0).getTime) - 10 * 60 * 1000L
      val expectedNull = c.join(p, joinCond, "left_anti")
        .where($"cts" < lit(new java.sql.Timestamp(wm)))
        .select("click_id").as[Long].collect().toSet
      val gotNull = out.where($"purchase_id".isNull)
        .select("click_id").as[Long].collect().toSet
      assert(gotNull == expectedNull,
        "null-padded rows must be exactly the watermark-expired unmatched clicks")
    } finally out.unpersist()
  }

  test("full-outer stream-stream join: both sides null-pad on expiry") {
    import org.apache.spark.sql.functions._
    val out = StreamIO.joinStreamFull(spark, sf).cache()
    try {
      val ev = graft.Tables.events(spark, sf)
      val c = ev.where($"event_type" === "click")
        .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("cts"))
      val p = ev.where($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"ts".as("pts"))
      val joinCond = $"cu" === $"pu" &&
        $"pts" >= $"cts" - expr("INTERVAL 30 MINUTES") && $"pts" <= $"cts"
      val wm = c.agg(max($"cts")).head.getTimestamp(0).getTime
        .min(p.agg(max($"pts")).head.getTimestamp(0).getTime) - 10 * 60 * 1000L
      // unmatched purchases expire once wm passes p_ts + 30min
      val expectedNullClick = p.join(c, joinCond, "left_anti")
        .where($"pts" + expr("INTERVAL 30 MINUTES") <
          lit(new java.sql.Timestamp(wm)))
        .select("purchase_id").as[Long].collect().toSet
      val gotNullClick = out.where($"click_id".isNull)
        .select("purchase_id").as[Long].collect().toSet
      assert(gotNullClick == expectedNullClick,
        "null-click rows must be exactly the expired unmatched purchases")
      // and the left-outer subset behaves as in join_stream_outer
      val expectedNullPurchase = c.join(p, joinCond, "left_anti")
        .where($"cts" < lit(new java.sql.Timestamp(wm)))
        .select("click_id").as[Long].collect().toSet
      val gotNullPurchase = out.where($"purchase_id".isNull)
        .select("click_id").as[Long].collect().toSet
      assert(gotNullPurchase == expectedNullPurchase)
    } finally out.unpersist()
  }

  test("stream-stream join matches the batch interval join") {
    val streamed = StreamIO.joinStreamStream(spark, sf)
      .select("click_id", "purchase_id").collect().toSet
    val ev = graft.Tables.events(spark, sf)
    val c = ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("cts"))
    val p = ev.where($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"ts".as("pts"))
    val batch = c.join(p, $"cu" === $"pu" &&
        $"pts" >= $"cts" - org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES") &&
        $"pts" <= $"cts")
      .select("click_id", "purchase_id").collect().toSet
    assert(streamed == batch)
  }

  test("stream-stream semi join emits each matched click exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[graft.operators.Streaming.Event]
    val ev = input.toDF()
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val q = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"),
        "leftSemi")
      .select(col("c_user"), col("click_id"))
      .writeStream.format("memory").queryName("ss_semi_t")
      .outputMode("append").start()
    def e(id: Long, m: Long, uid: Long, t: String) =
      graft.operators.Streaming.Event(id,
        new java.sql.Timestamp(1704067200000L + m * 60000L), uid, t, 1.0)
    try {
      // the join looks BACK 30 minutes: purchases land first, then the
      // click arrives and probes right-side state — TWO in-window
      // purchases must yield ONE emission; a click with no purchase
      // in-window emits nothing
      input.addData(Seq(e(3, 15, 1, "purchase"), e(4, 20, 1, "purchase")))
      q.processAllAvailable()
      input.addData(Seq(e(1, 40, 1, "click"), e(2, 42, 2, "click")))
      q.processAllAvailable()
      // nudge the watermark past both clicks' windows so any deferred
      // expiry-time emission (and any incorrect duplicate) surfaces
      input.addData(Seq(e(9, 300, 3, "purchase")))
      q.processAllAvailable()
      val rows = spark.table("ss_semi_t").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((1L, 1L)),
        s"matched click must emit once, unmatched never: ${rows.toSeq}")
    } finally q.stop()
  }

  test("session close: event-time timers close exactly the sessions behind batch-1's watermark") {
    import org.apache.spark.sql.functions._
    val got = StreamIO.streamSessionClose(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin of the two-batch schedule: all events land in batch 1,
    // so each user holds ONE open session (n = count, last = max ts);
    // the sentinel batch fires timers with expiry <= wm = global max ms
    val perUser = graft.Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), expr("unix_millis(max(ts))").as("last_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wm = perUser.map(_._3).max
    val want = perUser.filter { case (_, _, last) => last + 1800000L <= wm }.toSet
    assert(got == want, s"closed-session set mismatch: ${got.size} vs ${want.size}")
    // SELECTIVE, not total: the stream tail (incl. the watermark-setting
    // user) must stay open — a result equal to a plain group-by would
    // mean the timer path degenerated (the no-data-batch bug class)
    assert(got.nonEmpty && got.size < perUser.length,
      s"expected 0 < closed < ${perUser.length}, got ${got.size}")
  }

  test("sink_stream_upsert: per-trigger COW pruning holds, apply order observable, stream equals sequential replay") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val root = Files.createTempDirectory("stream_upsert_spec").toString
    def stage(path: String): Unit =
      graft.Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.partitionBy("o_orderpriority")
        .mode("overwrite").parquet(path)
    def snap(path: String, pri: String): Set[(String, Long, String)] = {
      val dir = new java.io.File(path, s"o_orderpriority=$pri")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_))
          .mkString
        (f.getName, f.length(), sha)
      }.toSet
    }
    def audit(path: String): Map[String, (Long, Long, Long)] =
      spark.read.parquet(path).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
    val (b1, b2) = graft.operators.Scans.streamUpsertBatches(spark, sf)
    // sequential replay b1 → b2: the semantics of the streaming apply
    val seqPath = s"$root/seq"
    stage(seqPath)
    val lowBefore = snap(seqPath, "5-LOW")
    graft.operators.Scans.applyChangeBatch(spark, b1, seqPath)
    graft.operators.Scans.applyChangeBatch(spark, b2, seqPath)
    // the COW pruning claim holds PER TRIGGER: a partition neither
    // batch names keeps byte-identical files through both applies
    assert(snap(seqPath, "5-LOW") == lowBefore,
      "untouched partition must survive both triggers byte-identical")
    val seqAudit = audit(seqPath)
    // apply order is OBSERVABLE: the reversed order lands elsewhere
    // (%20=3 keys end x2 instead of x3; b2's update of b1's inserts
    // hits nothing)
    val revPath = s"$root/rev"
    stage(revPath)
    graft.operators.Scans.applyChangeBatch(spark, b2, revPath)
    graft.operators.Scans.applyChangeBatch(spark, b1, revPath)
    assert(audit(revPath) != seqAudit,
      "reversed batch order must change the audit — else the op proves nothing")
    // the registered streaming op equals the in-order sequential replay
    val got = StreamIO.sinkStreamUpsert(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == seqAudit,
      s"streaming apply must equal sequential b1->b2 replay\n$got\nvs\n$seqAudit")
  }

  test("source_cdc_updates: row-id pairing classifies key migrations as UPDATEs; a key join sees only the illusion") {
    import org.apache.spark.sql.functions.col
    val out = StreamIO.sourceCdcUpdates(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    assert(out.keySet == Set(2L, 3L, 4L), s"one census row per commit: $out")
    // v4 is a REAL delete+insert (fresh row ids): D and I, never U
    val (i4, d4, u4, m4, _, _) = out(4L)
    val scope = graft.Tables.orders(spark, sf)
      .where(col("o_orderkey").between(800, 900))
    val wantIns = scope.where(col("o_orderkey") % 2 === 0).count()
    val wantDel = scope.where(col("o_orderkey") % 2 === 1).count()
    assert(i4 == wantIns && d4 == wantDel && u4 == 0 && m4 == 0,
      s"v4 must census as pure D+I: $out vs ins=$wantIns del=$wantDel")
    val (i2, d2, u2, m2, cd2, ks2) = out(2L)
    assert(i2 == 0 && d2 == 0 && u2 > 0 && m2 == 0 && ks2 == 0 && cd2 > 0,
      s"v2 is a pure price update: $out")
    val (i3, d3, u3, m3, cd3, ks3) = out(3L)
    assert(i3 == 0 && d3 == 0 && u3 > 0,
      s"v3 migrations must classify as UPDATEs, not delete+insert: $out")
    assert(m3 == u3 && cd3 == 0 && ks3 == u3 * 500000000L,
      s"v3 is a pure key migration: $out")
    // the streamed U-count equals the BATCH row-id CDC over the same
    // chain (m2 vs m3 snapshots joined on row_id)
    val dir = graft.operators.Scans.lineageStreamDir(spark, sf)
    def snap(v: Int) = spark.read.parquet(
      graft.operators.Scans.snapshotPaths(spark, s"$dir/m$v"): _*)
    val batchU3 = snap(2).select(col("row_id"), col("o_orderkey").as("k2"))
      .join(snap(3).select(col("row_id"), col("o_orderkey").as("k3")),
        "row_id")
      .where(col("k2") =!= col("k3")).count()
    assert(batchU3 == u3,
      s"streamed U-count $u3 must equal the batch row-id CDC's $batchU3")
    // the delete+insert ILLUSION a key-joining consumer is left with:
    // the old keys vanish from v3 and reappear shifted — no key ever
    // pairs across the commit
    val oldKeys = snap(2).where(col("o_orderkey").between(500, 700))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(oldKeys.nonEmpty)
    val k3set = snap(3).select("o_orderkey").collect()
      .map(_.getLong(0)).toSet
    assert(oldKeys.forall(k =>
      !k3set.contains(k) && k3set.contains(k + 500000000L)),
      "key-level view must show old keys gone and shifted keys new")
  }

  test("sink_cdc_apply: row-id MERGE reproduces the v4 snapshot exactly; a key-based upsert would duplicate the migration") {
    import org.apache.spark.sql.functions.col
    val out = StreamIO.sinkCdcApply(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out.keySet == Set("base", "migrated", "inserted"), s"$out")
    // the drained target equals the final snapshot ROW-FOR-ROW by
    // row_id — recomputed here from the chain's own m4 manifest,
    // independently of the op's bucketing
    val dir = graft.operators.Scans.lineageStreamDir(spark, sf)
    val want = spark.read.parquet(
      graft.operators.Scans.snapshotPaths(spark, s"$dir/m4"): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // replay the apply pipeline's final table via the same summary
    // shape to cross-check counts against the snapshot
    val nBase = want.count(t => t._2 < 500000000L)
    val nMig = want.count(t => t._2 >= 500000000L && t._2 < 700000000L)
    val nIns = want.count(_._2 >= 700000000L)
    assert(out("base")._1 == nBase && out("migrated")._1 == nMig &&
      out("inserted")._1 == nIns,
      s"bucket counts must match the m4 snapshot: $out vs " +
        s"($nBase, $nMig, $nIns)")
    assert(out("migrated")._3 == want.toSeq.filter(t =>
      t._2 >= 500000000L && t._2 < 700000000L).map(_._2).sum,
      "migrated key checksum must match the snapshot")
    // and a KEY-based upsert is provably the wrong tool here: applying
    // the v3 step by key would leave the old key in place AND add the
    // new one (the duplicate), because no delete arrives for the old
    // key — demonstrated at key level on the v2->v3 manifests
    def snap(v: Int) = spark.read.parquet(
      graft.operators.Scans.snapshotPaths(spark, s"$dir/m$v"): _*)
    val migrated = snap(3).where(col("o_orderkey") >= 500000000L).count()
    assert(migrated > 0)
    assert(snap(2).count() == snap(3).count(),
      "the migration moves keys without changing the row count — a " +
        "key-based apply would have grown the table by the moved rows")
  }

  test("sink_stream_vector: per-batch delta commits, idempotent replay, crash-window recheck, serve equals one-shot rebuild") {
    import graft.operators.LlmScale
    val dir = java.nio.file.Files.createTempDirectory("vecstore_spec")
      .toString
    LlmScale.streamVectorStoreInit(spark, sf, dir)
    val topic = LlmScale.streamVectorTopic(spark, sf)
    val files = new java.io.File(topic).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    assert(files.length == 2, "two staged micro-batch files")
    val b0 = spark.read.parquet(files(0))
    val b1 = spark.read.parquet(files(1))
    assert(b0.count() > 0 && b1.count() > 0, "both batches carry rows")
    LlmScale.streamVectorCommit(spark, dir, b0, 0L)
    LlmScale.streamVectorCommit(spark, dir, b1, 1L)
    def head() = LlmScale.ivfStoreHead(dir)
    assert(head()._1 == Seq("postings", "postings_s0", "postings_s1") &&
      head()._2 == Seq("vectors", "vectors_s0", "vectors_s1"),
      s"two delta generations committed: ${head()}")
    // idempotent replay: re-running a committed batch changes nothing
    LlmScale.streamVectorCommit(spark, dir, b0, 0L)
    assert(head()._1 == Seq("postings", "postings_s0", "postings_s1"))
    // crash-between-write-and-flip window: stale head + finished files
    // → the head-recheck re-issues the flip instead of stranding s1
    graft.operators.TableLog.publish(dir,
      "postings,postings_s0;vectors,vectors_s0;")
    LlmScale.streamVectorCommit(spark, dir, b1, 1L)
    assert(head()._1 == Seq("postings", "postings_s0", "postings_s1"),
      "the recheck must adopt the stranded generation")
    // the incrementally committed store serves EXACTLY what a one-shot
    // commit of the full shard serves — ingest granularity is invisible
    val served = LlmScale.streamVectorServe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dir2 = java.nio.file.Files.createTempDirectory("vecstore_spec2")
      .toString
    LlmScale.streamVectorStoreInit(spark, sf, dir2)
    LlmScale.streamVectorCommit(spark, dir2, b0.unionByName(b1), 0L)
    val oneShot = LlmScale.streamVectorServe(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served == oneShot,
      "batch granularity must not change serving results")
    assert(served.map(_._1).size == 30 || served.size == 30,
      s"10 queries x top-3: ${served.size}")
    // the registered op end-to-end (a REAL two-micro-batch stream)
    val op = StreamIO.sinkStreamVector(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(op == served, "the streamed op must serve the same rows")
  }

  test("sink_stream_graph: per-batch graft commits, idempotent replay, crash-window recheck, serve equals one-shot graft") {
    import graft.operators.LlmScale
    val dir = java.nio.file.Files.createTempDirectory("graphstore_spec")
      .toString
    LlmScale.streamGraphStoreInit(spark, sf, dir)
    val topic = LlmScale.streamGraphTopic(spark, sf)
    val files = new java.io.File(topic).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    assert(files.length == 2, "two staged micro-batch files")
    val b0 = spark.read.parquet(files(0))
    val b1 = spark.read.parquet(files(1))
    assert(b0.count() > 0 && b1.count() > 0, "both batches carry rows")
    LlmScale.streamGraphCommit(spark, dir, b0, 0L)
    LlmScale.streamGraphCommit(spark, dir, b1, 1L)
    def head() = LlmScale.graphStoreHead(dir)
    assert(head()._1 == Seq("adjacency", "adjacency_s0", "adjacency_s1") &&
      head()._3 == Seq("vectors", "vectors_s0", "vectors_s1"),
      s"two graft generations committed: ${head()}")
    // every appended edge generation is symmetric and 4-per-new-node
    Seq("adjacency_s0", "adjacency_s1").foreach { g =>
      val es = spark.read.parquet(s"$dir/$g").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(es.nonEmpty && es.forall { case (a, b) => es((b, a)) },
        s"$g must carry symmetric back-edges")
      val perNew = es.filter(_._1 >= 1000000L).groupBy(_._1)
      assert(perNew.nonEmpty && perNew.forall(_._2.size == 4),
        s"$g: each new node attaches with exactly 4 forward edges")
    }
    // idempotent replay: re-running a committed batch changes nothing
    LlmScale.streamGraphCommit(spark, dir, b0, 0L)
    assert(head()._1 == Seq("adjacency", "adjacency_s0", "adjacency_s1"))
    // crash-between-write-and-flip window: stale head + finished files
    // → the head-recheck re-issues the flip instead of stranding s1
    graft.operators.TableLog.publish(dir,
      "adjacency,adjacency_s0;entries;vectors,vectors_s0;")
    LlmScale.streamGraphCommit(spark, dir, b1, 1L)
    assert(head()._1 == Seq("adjacency", "adjacency_s0", "adjacency_s1"),
      "the recheck must adopt the stranded generation")
    // the incrementally grafted store serves EXACTLY what a one-shot
    // graft of the full shard serves — ingest granularity is invisible
    val served = LlmScale.graphStoreServe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir2 = java.nio.file.Files.createTempDirectory("graphstore_spec2")
      .toString
    LlmScale.streamGraphStoreInit(spark, sf, dir2)
    LlmScale.streamGraphCommit(spark, dir2, b0.unionByName(b1), 0L)
    val oneShot = LlmScale.graphStoreServe(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == oneShot,
      "batch granularity must not change serving results")
    assert(served.size == 10, s"10 eval queries served: ${served.size}")
    // the registered op end-to-end (a REAL two-micro-batch stream)
    val op = StreamIO.sinkStreamGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(op == served, "the streamed op must serve the same rows")
  }
}
