package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftSession, Tables}
import graft.sources.LocalCheckpointFileManager
import StreamRunner.{drain, fresh, run}

/** Streaming sources, sinks, and stream joins (SURVEY.md §2.1 streaming
  * rows + §2.3 stream joins). The ECS reference's "topic" abstraction
  * (/root/reference/README.md:2 — named streams connecting systems) maps
  * to Structured Streaming sources/sinks; with zero egress there is no
  * Kafka broker, so the topic surface is exercised through the file,
  * memory, and rate connectors — the same DataSource V2 API a Kafka
  * connector plugs into.
  *
  * Every query here RUNS a real streaming query through StreamRunner
  * (AvailableNow: it runs to completion, then the materialized result
  * is returned), so the driver's correctness gate checks actual
  * micro-batch execution, not a batch stand-in. Checkpoint/output dirs
  * are fresh per call and deleted at drain (README "Streams");
  * exactly-once recovery reuses one checkpoint deliberately.
  *
  * At-scale notes: the file source lists + splits files across executors
  * (ingestion parallelism = file count × row groups); sinks commit via
  * the streaming commit log, giving exactly-once with idempotent
  * replays; stream-stream joins keep watermark-bounded state per key —
  * O(join-window × rate), independent of stream length.
  */
object StreamIO extends OpModule {

  /** Streaming queries run on a derived session whose shuffle-partition
    * count is sized to STATE, not CPUs. The state-store layout is pinned
    * by the first checkpoint write, and every state partition carries a
    * store instance per stateful operator role — a stream-stream join
    * keeps FOUR stores per partition, and every store pays a
    * load/commit file cycle per micro-batch (data batches AND the
    * no-data watermark-flush batches), so partition count multiplies
    * straight into boot-floor file ops: 32 inherited partitions ≈ 128
    * store opens/batch (~18 s measured), 8 → ~32, 2 → ~8 (r7: 2.9 s →
    * ~1 s per join query at sf0.1 state, which is a few thousand keys).
    * A production job sizes this to key cardinality × executor count
    * once, up front; the checkpoint then keeps it stable for the job's
    * lifetime. `confs` follow these defaults, so an op's own pair wins.
    * Built by `GraftSession.derived`, so every call's stream clone reuses
    * the classes the last one compiled (README "Sessions"). */
  private def streamSession(s: SparkSession,
                            confs: (String, String)*): SparkSession = {
    // None of these queries use transformWithState (the only operator
    // needing RocksDB column families), and the per-store open cost of
    // RocksDB dominates at fixture-sized state: the HDFS-backed provider
    // keeps the windowed-agg / stream-join state in heap maps. A
    // production job with state larger than heap flips this back —
    // setting `spark.graft.stream.rocksdb=true` on the PARENT session
    // does exactly that (the ScaleProbe rocksdb tier runs the chained
    // topologies through it so the 100 TB keyed-state claim is a
    // measurement, not an argument — VERDICT r13 task 7).
    val provider =
      if (s.conf.getOption("spark.graft.stream.rocksdb").contains("true"))
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    // Per-batch fixed-cost levers (r9, bisected on the full outer
    // stream join: its 3.3 s floor → 2.2 s with all four, ~equal
    // contributions). These AvailableNow queries live 1-3 s, so the
    // 60 s-interval maintenance thread only ever fires its startup pass
    // — pure overhead here (a long-lived job keeps the default);
    // format validation re-checks our own just-written fixture state
    // every batch; the skip-nulls storage shape is the upstream default
    // for new stream-stream join checkpoints; per-query Codahale
    // metrics registration costs more than these micro-runs return.
    // The java.nio checkpoint file manager writes every checkpoint file
    // without the `chmod` and `readlink` child processes Hadoop's local
    // file system starts (README "Streams").
    GraftSession.derived(s, Seq(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.stateStore.providerClass" -> provider,
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
      "spark.sql.streaming.stateStore.formatValidation.enabled" -> "false",
      "spark.sql.streaming.stateStore.skipNullsForStreamStreamJoins.enabled" ->
        "true",
      "spark.sql.streaming.metricsEnabled" -> "false",
      LocalCheckpointFileManager.conf) ++ confs: _*)
  }

  /** The trailing no-data micro-batch off, for ops whose output it
    * cannot change. */
  private val noDataBatchesOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** The file-stream source watches a DIRECTORY (new files appear as the
    * unbounded "topic"); the fixture is a single file, so stage it into a
    * topic dir once per (JVM, sfDir). */
  private def eventsDir(d: String): String =
    StageUtil.staged("events_src", d) { target =>
      StageUtil.stageTopic(java.nio.file.Paths.get(s"$d/events.parquet"),
        java.nio.file.Paths.get(target), "events")
    }

  /** events.parquet as an unbounded file-source table (ns→µs like
    * Tables.events). The file-source schema must be supplied up front;
    * `Tables.read` gives it without an inference job once the staged
    * dir has been read. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val path = eventsDir(d)
    graft.Tables.normalizeTs(
      s.readStream.schema(Tables.read(s, path).schema).parquet(path))
  }

  /** Staged dir holding TWO copies of events.parquet — a topic where
    * every event is delivered twice (the at-least-once upstream the
    * dedup operators exist for). */
  private def dupEventsDir(d: String): String =
    StageUtil.staged("events_dup", d) { dir =>
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      StageUtil.stageTopic(src, java.nio.file.Paths.get(dir), "events_a")
      StageUtil.stageTopic(src, java.nio.file.Paths.get(dir), "events_b")
    }

  /** Staged TWO-BATCH topic for the event-time-timer surface: all event
    * part files carry one (older) modification time and a single
    * far-future sentinel row (user_id −1) a strictly newer one, so with
    * maxFilesPerTrigger = #event-parts the file source serves exactly
    * batch1 = the whole events fixture, batch2 = the sentinel. The
    * value is the deterministic watermark schedule: batch2's eviction
    * watermark is max(event time of batch1), so exactly the sessions
    * whose close time (last + gap) is ≤ that watermark fire their
    * timers — an oracle-expressible condition. Returns (dir, nParts). */
  private def timerEventsDir(s: SparkSession, d: String): (String, Int) = {
    val dir = StageUtil.staged("events_timer", d) { dir =>
      val target = java.nio.file.Paths.get(dir)
      StageUtil.stageTopic(
        java.nio.file.Paths.get(s"$d/events.parquet"), target, "events")
      // sentinel: one row, event time far beyond the fixture era — its
      // only job is to BE batch2 (its own timer never fires)
      val sentinelSrc = java.nio.file.Paths.get(fresh("sentinel_build"))
      import s.implicits._
      Seq((-1L, new java.sql.Timestamp(4102444800000L), // 2100-01-01 UTC
          -1L, "sentinel", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(sentinelSrc.toString)
      val part = StageUtil.parquetParts(sentinelSrc).head
      val dst = target.resolve("zz_sentinel.parquet")
      java.nio.file.Files.copy(part, dst)
      // mtime split: event parts old, sentinel new (source orders by
      // modification time, oldest first)
      val t0 = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
      val t1 = java.nio.file.attribute.FileTime.fromMillis(1000000060000L)
      // close the directory stream (ADVICE r11 handle-leak class)
      scala.util.Using.resource(java.nio.file.Files.list(target)) { st =>
        st.iterator.asScala.foreach { p =>
          java.nio.file.Files.setLastModifiedTime(p,
            if (p.getFileName.toString.startsWith("events")) t0 else t1)
        }
      }
    }
    (dir, StageUtil.parquetParts(java.nio.file.Paths.get(dir))
      .count(_.getFileName.toString.startsWith("events")))
  }

  /** Event-time TIMER surface through a real micro-batch run (VERDICT
    * r10 task 3 — the one built transformWithState feature without a
    * CORRECTNESS row): Streaming.SessionCloseProcessor over the staged
    * two-batch topic. Batch1 delivers the whole fixture (every user's
    * events collapse into ONE open session: n = count, last = max event
    * time, timer armed at last + 30 min); batch2 (the sentinel) runs
    * with eviction watermark = max event time of batch1, so exactly the
    * users with last + 30 min ≤ that watermark close and evict — Spark
    * fires timers with expiry ≤ watermarkForEviction (TimerStateImpl
    * iterates `ts <= expiryTimestampMs`). The oracle replays that
    * condition in SQL over the batch image. Sessions still open at
    * shutdown (the tail of the stream, incl. the sentinel user) are
    * correctly ABSENT — that is the timer semantics, not a loss. */
  def streamSessionClose(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0,
      // transformWithState keeps per-key state + timers in column
      // families — RocksDB provider, not the HDFS heap-map provider the
      // other (join/agg) stream queries prefer at fixture-sized state
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // no-data micro-batches OFF: after the sentinel batch the watermark
      // jumps to the sentinel era, and a trailing no-data batch would fire
      // EVERY timer — the deterministic schedule is exactly two data
      // batches, timers checked once against batch1's max event time
      noDataBatchesOff)
    val (src, nParts) = timerEventsDir(s, d)
    val schema = Tables.read(s, src).schema
    val stream = graft.Tables.normalizeTs(
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", nParts.toString)
        .parquet(src))
    drain(Streaming.sessionClose(s, stream), "append", "sclose_")
      .select(col("user_id"), col("n_events"), col("last_ms"))
  }

  /** Watermark-bounded exactly-once dedup through a real micro-batch
    * run — the PRODUCTION form of Streaming.dedup: plain dropDuplicates
    * keeps every key it has ever seen (state grows with the stream);
    * dropDuplicatesWithinWatermark evicts a key once the watermark
    * passes its event time + delay, so state is bounded by the delay
    * window × arrival rate — the only dedup a 100 TB/day topic can
    * afford, bought with a one-sided guarantee (a duplicate arriving
    * after eviction re-emits; StreamingSpec proves both sides with a
    * MemoryStream). Spark REJECTS this operator in batch queries, so
    * unlike the other streaming ops there is no batch twin: the
    * registered query IS the streaming run, over a staged topic
    * delivering every event twice. Both copies admit in the single
    * AvailableNow file batch (two files, no maxFilesPerTrigger split),
    * and a duplicate pair shares one event time — always inside the
    * delay — so the dedup here is exact and the oracle is the plain
    * distinct count. */
  def streamDedupWithinWm(s0: SparkSession, d: String): DataFrame = {
    // one micro-batch: append mode emits each row when first seen, so a
    // trailing no-data batch would only evict state
    val s = streamSession(s0, noDataBatchesOff)
    val src = dupEventsDir(d)
    val schema = Tables.read(s, src).schema
    drain(graft.Tables.normalizeTs(s.readStream.schema(schema).parquet(src))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id"), "append", "ddw_")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Staged topic for the CHAINED multi-stateful query: every event
    * twice (the dupEventsDir layout) PLUS one far-future sentinel row.
    * The sentinel's role is the append-mode flush: after the single
    * AvailableNow data batch the watermark lands at sentinel time −
    * delay, which is past every REAL window's end, so the trailing
    * no-data micro-batch finalizes and emits all real windows; the
    * sentinel's own window stays above the watermark and never emits
    * (and the readout filters its type defensively). */
  private def chainEventsDir(s: SparkSession, d: String): String =
    StageUtil.staged("events_chain", d) { target =>
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      StageUtil.stageTopic(src, java.nio.file.Paths.get(target), "events_a")
      StageUtil.stageTopic(src, java.nio.file.Paths.get(target), "events_b")
      val ev = graft.Tables.events(s, d)
      val maxTs = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
      ev.limit(1)
        .select(lit(-1L).as("event_id"),
          lit(new java.sql.Timestamp(maxTs.getTime + 7200000L)).as("ts"),
          lit(-1L).as("user_id"),
          lit("zzz_sentinel").as("event_type"),
          lit(0.0).as("value"))
        .coalesce(1)
        .write.mode("append").parquet(target)
    }

  /** The chained dedup→window query (Streaming.chainedStateful) driven
    * through a real micro-batch run over the doubled+sentinel topic —
    * VERDICT r12 task 4. One query, one checkpoint, TWO stateful
    * operators; the oracle replays distinct → hourly aggregate from the
    * source table (both topic copies share each event's time — always
    * inside the delay — so the within-watermark dedup is exact). */
  def streamChainedStateful(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val src = chainEventsDir(s, d)
    val schema = Tables.read(s, src).schema
    drain(Streaming.chainedStateful(graft.Tables.normalizeTs(
        s.readStream.schema(schema).parquet(src))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))), "append", "chain_")
      .where(col("event_type") =!= "zzz_sentinel")
  }

  /** Staged topic for the JOIN→AGG chain: events once plus TWO
    * far-future sentinels — one click (user −1), one purchase (user
    * −2). Both watermark nodes (c_ts, p_ts) must advance past every
    * real window for the append-mode agg to flush, and a single-typed
    * sentinel would leave the other side's watermark at its last real
    * event; the mismatched user ids keep the sentinels out of the join
    * output entirely (they die at the join, so the readout needs no
    * filter — no pair, no window row). */
  private def joinChainEventsDir(s: SparkSession, d: String): String =
    StageUtil.staged("events_jchain", d) { target =>
      StageUtil.stageTopic(java.nio.file.Paths.get(s"$d/events.parquet"),
        java.nio.file.Paths.get(target), "events")
      val ev = graft.Tables.events(s, d)
      val maxTs = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
      val far = new java.sql.Timestamp(maxTs.getTime + 7200000L)
      def sentinel(id: Long, tpe: String) = ev.limit(1)
        .select(lit(id).as("event_id"), lit(far).as("ts"),
          lit(id).as("user_id"), lit(tpe).as("event_type"),
          lit(0.0).as("value"))
      sentinel(-1L, "click").unionByName(sentinel(-2L, "purchase"))
        .coalesce(1)
        .write.mode("append").parquet(target)
    }

  /** CHAINED stream-stream join → windowed aggregation in ONE streaming
    * query (one checkpoint, THREE stateful stores: two join sides + the
    * window state) — the other Spark-4 multi-stateful topology beside
    * stream_chained_stateful's dedup→window: attribute purchases to
    * clicks (30-minute band, per user, both sides watermarked), then
    * roll the joined pairs into hourly conversion totals without
    * landing the join anywhere. At 100 TB this is the
    * enrich-then-aggregate funnel in one checkpointed job instead of
    * two jobs + an intermediate topic. Event time rides the click's ts
    * through the join into the window; the watermark the agg closes on
    * is the join's output watermark (min of both sides, delayed by the
    * band), so the flush sentinels must advance BOTH inputs. The oracle
    * replays join + hourly rollup relationally. */
  def streamChainedJoinAgg(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val src = joinChainEventsDir(s, d)
    val schema = Tables.read(s, src).schema
    val ev = graft.Tables.normalizeTs(
      s.readStream.schema(schema).parquet(src))
    drain(Streaming.chainedJoinAgg(ev), "append", "jchain_")
  }

  /** Directory-watch ingestion: stream the events table through a real
    * micro-batch file source into a memory sink, then aggregate. */
  def sourceFileStream(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(eventsStream(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value")), "complete", "src_file_")
  }

  /** Deterministic replay source: a literal event sequence through
    * MemoryStream (the unit-test topic), windowed per hour. The oracle is
    * the same literal data as a VALUES table — the full gate applies even
    * though no fixture table is read. */
  def sourceMemory(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    implicit val ctx = s.sqlContext
    // epoch millis, NOT Timestamp.valueOf: that parses in the JVM-default
    // zone and would shift the literal hours if the host isn't UTC
    val base = 1717200000000L // 2024-06-01 00:00:00 UTC
    def at(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val events = Seq(
      Streaming.Event(1L, at(5), 1L, "click", 1.5),
      Streaming.Event(2L, at(20), 1L, "view", 2.0),
      Streaming.Event(3L, at(65), 2L, "click", 3.0),
      Streaming.Event(4L, at(70), 2L, "click", 0.5),
      Streaming.Event(5L, at(125), 1L, "view", 4.0))
    val input = MemoryStream[Streaming.Event]
    drain(Streaming.tumbling(input.toDF()), "complete", "src_mem_", { w =>
      val q = w.start()
      input.addData(events.take(3))
      q.processAllAvailable()
      input.addData(events.drop(3))
      q.processAllAvailable()
      q.stop()
      StreamRunner.release(q)
    })
  }

  /** Synthetic unbounded source: deterministic rate-micro-batch (fixed
    * rows per micro-batch, monotone timestamps). Rows-only check — the
    * generated timestamps are configured but the batch count depends on
    * when AvailableNow snapshots the clock is avoided by rowsPerBatch. */
  def sourceRate(s: SparkSession, d: String): DataFrame =
    drain(s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100)
      .option("numPartitions", 4)
      .option("startTimestamp", 0)
      .load()
      .select(col("value")), "append", "src_rate_")
      .agg(count(lit(1)).as("n_rows"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))

  /** Streaming parquet sink with checkpointed exactly-once commit:
    * filter the event stream, write through the streaming committer,
    * read the result back. */
  def sinkStream(s: SparkSession, d: String): DataFrame = {
    val out = fresh("sink_out")
    run(eventsStream(s, d)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream.format("parquet").option("path", out))
    Tables.read(s, out)
  }

  /** Exactly-once resume: run a checkpointed job to completion, then
    * restart it against the SAME checkpoint and source — the commit log
    * must show nothing new to process, and the output must not double. */
  def checkpointRecovery(s: SparkSession, d: String): DataFrame = {
    val out = fresh("recov_out")
    val ckpt = fresh("recov_ckpt")
    def runOnce(): Unit =
      run(eventsStream(s, d)
        .where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream.format("parquet").option("path", out), ckpt)
    runOnce()
    runOnce() // restart from checkpoint: no-op, output must not double
    Tables.read(s, out)
  }

  /** Complete-output-mode demonstrator (append is exercised by the
    * sinks above, update by StreamingSpec): running totals per type. */
  def outputModes(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(eventsStream(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events")), "complete", "modes_")
  }

  /** Stream-stream join: purchases within 30 minutes before each click,
    * per user, both sides watermarked (bounds the join state). */
  /** Both join sides derive from ONE file-stream source (a stream-stream
    * SELF join): one source in the offset log instead of two, one
    * listing/admission pass per micro-batch, and identical watermark
    * semantics (the global watermark is the min over the two watermark
    * nodes either way — same data, same cutoffs, oracle unchanged). */
  private def clickPurchaseStreams(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ev = eventsStream(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    (clicks, purchases)
  }

  def joinStreamStream(s0: SparkSession, d: String): DataFrame = {
    // INNER stream-stream join: every output row is emitted by the data
    // batch that completes the match — the trailing no-data micro-batch
    // only evicts state (a resource action, not an output one), so
    // skipping it is output-invariant HERE (measured: identical rows,
    // 1.9 s → 1.35 s at sf0.1). The outer/full twins keep no-data
    // batches: their null-padded rows are EMITTED by watermark expiry,
    // which is exactly what those batches run. Eviction itself stays
    // covered by the outer ops and the multi-batch MemoryStream specs.
    val s = streamSession(s0, noDataBatchesOff)
    val (clicks, purchases) = clickPurchaseStreams(s, d)
    drain(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("p_value")), "append", "ss_join_")
  }

  /** Streaming read through the custom DataSource V2 connector
    * (graft.sources.SeqSource as a MicroBatchStream): row-position
    * offsets, paced admission (~4 real micro-batches per AvailableNow
    * drain, offsets tracked between them), partition ranges as the
    * schedulable unit — the Kafka-shaped "topic" seam exercised end to
    * end through a custom source rather than a builtin. */
  def sourceCustomStream(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(s.readStream.format("graft-seq")
      .option("rows", "20000").option("parts", "4").load()
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val")),
      "complete", "src_seq_")
  }


  /** Streaming MANIFEST/CDC consumer — the subscriber half of the
    * versioned-manifest contract (graft.sources.ManifestCdcSource;
    * VERDICT r13 task 3): the source tails a staged v1→v2→v3 manifest
    * chain with MANIFEST VERSION AS THE OFFSET, emitting each commit's
    * file-granular ± changelog in its own micro-batch (two real
    * offset-tracked batches here; restart-safety spec'd against the
    * checkpoint in StreamIOSpec). Downstream — ordinary DataFrame code,
    * which is the point of a source — the ± rows key-join per version
    * into the exact changed-row CDC summary, identical in shape to
    * scan_time_travel's batch CDC row: the batch and streaming halves
    * of the same contract must agree, and the oracle replays both steps
    * from `orders` alone. At 100 TB: manifests are driver metadata,
    * each changed file is one executor-scheduled InputPartition, and
    * unchanged files are never read — the consumer's cost is
    * O(changed files) per commit, the property that makes subscribing
    * cheaper than re-scanning. */
  def sourceManifestStream(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val dir = Scans.manifestStreamDir(s, d)
    val drained = drain(s.readStream.format("graft-manifest-cdc")
      .option("path", dir).load(), "append", "man_cdc_")
    // materialize the drained changelog (CDC rows only — bounded by the
    // commits' changed files): MemoryPlan can't self-join (no relation
    // dedup), and the ± pivot below reads it twice
    val t = MemoUtil.scratch(drained.localCheckpoint())
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val olds = t.where(col("sign") === -1)
      .select(col("version"), col("o_orderkey"), cents.as("c1"))
    val news = t.where(col("sign") === 1)
      .select(col("version"), col("o_orderkey"), cents.as("c2"))
    olds.join(news, Seq("version", "o_orderkey"))
      .where(col("c1") =!= col("c2"))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_changed"),
        sum(col("c2") - col("c1")).as("cents_delta"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** UPDATE CLASSIFICATION in the streaming CDC source (VERDICT r15
    * task 6): the lineage-mode source surfaces the chain's immutable
    * `row_id` (graft-manifest-cdc `lineage=true` over
    * Scans.lineageStreamDir), and the consumer pairs each commit's ±
    * rows BY ROW ID into op ∈ {I, U, D} with pre/post images — the
    * changelog shape a downstream MERGE consumer needs. The staged v3
    * commit is a KEY MIGRATION (o_orderkey moves, row ids stay): a
    * key-joining consumer sees only the delete+insert illusion there
    * (StreamIOSpec pins exactly that), while this row-id pairing
    * classifies every migrated row as an UPDATE whose pre/post images
    * show the key movement — while the v4 commit is a REAL
    * delete+insert (fresh row ids) and must census as D and I, never
    * U. Rows a rewrite carried unchanged pair into identical images
    * and drop out — never counted as churn. The readout is the
    * per-version I/U/D census with exact cents and key-shift deltas,
    * replayed by the oracle from `orders` alone. At 100 TB: the
    * pairing is an equi-join keyed (version, row_id) over O(changed
    * files' rows) — commit-sized, never table-sized. */
  def sourceCdcUpdates(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val dir = Scans.lineageStreamDir(s, d)
    val t = MemoUtil.scratch(drain(s.readStream.format("graft-manifest-cdc")
      .option("path", dir).option("lineage", "true").load(),
      "append", "cdc_upd_").localCheckpoint())
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val pre = t.where(col("sign") === -1)
      .select(col("version"), col("row_id"),
        col("o_orderkey").as("k_pre"), cents.as("c_pre"))
    val post = t.where(col("sign") === 1)
      .select(col("version"), col("row_id"),
        col("o_orderkey").as("k_post"), cents.as("c_post"))
    pre.join(post, Seq("version", "row_id"), "full_outer")
      .withColumn("op",
        when(col("k_pre").isNull, lit("I"))
          .when(col("k_post").isNull, lit("D"))
          .otherwise(lit("U")))
      .where(col("op") =!= "U" || col("k_pre") =!= col("k_post") ||
        col("c_pre") =!= col("c_post"))
      .groupBy(col("version"))
      .agg(
        count(when(col("op") === "I", 1)).as("n_ins"),
        count(when(col("op") === "D", 1)).as("n_del"),
        count(when(col("op") === "U", 1)).as("n_upd"),
        count(when(col("op") === "U" &&
          col("k_pre") =!= col("k_post"), 1)).as("n_key_mig"),
        sum(when(col("op") === "U", col("c_post") - col("c_pre")))
          .cast("bigint").as("cents_delta"),
        sum(when(col("op") === "U", col("k_post") - col("k_pre")))
          .cast("bigint").as("key_shift_sum"))
  }

  /** The MERGE CONSUMER the row-id changelog exists for (r16; closes
    * source_cdc_updates' loop): a maintained table bootstraps from the
    * lineage chain's v1 snapshot, then a foreachBatch consumer applies
    * each commit's ± rows BY ROW ID — post image wins (U and I, the
    * key-migration U applied correctly where a key-based upsert would
    * duplicate the row), pre-only ids vanish (D) — committed as
    * batch-id-keyed generations with the atomic flip + head-recheck
    * idempotence (the sink_cdc_mv discipline). The drained table must
    * equal the FINAL v4 snapshot row-for-row (spec joins them on
    * row_id); the registered readout buckets it base / migrated /
    * inserted with exact cents and key checksums, all replayed by the
    * oracle from `orders` alone. At 100 TB: per batch one commit-sized
    * pairing + one |table|-row merge keyed on the lineage id — the
    * MERGE INTO economics, driven by the changelog instead of a full
    * source diff. */
  def sinkCdcApply(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val src = Scans.lineageStreamDir(s, d)
    val tblDir = fresh("cdc_apply")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tblDir))
    // bootstrap = file copy of the v1 snapshot's data files (r17): the
    // previous read-then-rewrite Spark job produced byte-equivalent
    // content; the merge consumer reads the directory either way (it
    // selects the 3 merge columns explicitly)
    val bootDir = java.nio.file.Paths.get(tblDir, "gen_boot")
    java.nio.file.Files.createDirectories(bootDir)
    Scans.snapshotPaths(s, s"$src/m1").zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(Scans.localPath(p)),
        bootDir.resolve(f"boot_$i%03d.parquet"))
    }
    TableLog.publish(tblDir, "gen_boot")
    run(s.readStream.format("graft-manifest-cdc")
      .option("path", src).option("lineage", "true").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val gen = s"gen_$id"
        // a batch-id-keyed generation (README "Stores": replay re-check)
        TableLog.commitBatch(tblDir, gen, h => Option.when(h != gen)(gen)) { head =>
          if (!batch.isEmpty) {
            // the ± pivot reads the batch twice — checkpoint it once
            val b = MemoUtil.scratch(batch.localCheckpoint())
            // the row_id pairing below is only correct because
            // ManifestCdcStream admits exactly ONE manifest version per
            // micro-batch — rows touched in consecutive commits would
            // cross-join into duplicate pre/post images. Guard the
            // implicit coupling (ADVICE r16): if batch pacing ever
            // changes (e.g. honoring ReadLimit to drain several
            // versions), fail loudly instead of corrupting the target.
            val nVersions = b.select(col("version")).distinct().count()
            require(nVersions == 1L,
              s"cdc batch $id spans $nVersions manifest versions; the " +
                "row_id pairing assumes one commit per micro-batch")
            val pre = b.where(col("sign") === -1)
              .select(col("row_id"), lit(1).as("was"))
            val post = b.where(col("sign") === 1)
              .select(col("row_id"), col("o_orderkey").as("k_post"),
                col("o_totalprice").as("p_post"))
            Tables.read(s, s"$tblDir/$head")
              .join(pre.join(post, Seq("row_id"), "full_outer"),
                Seq("row_id"), "full_outer")
              // a pre-only id is a DELETE; any post image wins (U or I);
              // untouched rows carry — MERGE INTO, keyed on lineage
              .where(col("was").isNull || col("k_post").isNotNull)
              .select(col("row_id"),
                coalesce(col("k_post"), col("o_orderkey")).as("o_orderkey"),
                coalesce(col("p_post"), col("o_totalprice"))
                  .as("o_totalprice"))
              .write.mode("overwrite").parquet(s"$tblDir/$gen")
          }
        }
      })
    Tables.read(s, s"$tblDir/${TableLog.head(tblDir)}")
      .groupBy(when(col("o_orderkey") >= 700000000L, "inserted")
        .when(col("o_orderkey") >= 500000000L, "migrated")
        .otherwise("base").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** CDC-DRIVEN INCREMENTAL MV MAINTENANCE — the use case the
    * manifest-CDC source exists for (the r13 verdict's "the
    * incremental-consumer half that MVs would subscribe to"): a
    * key-range rollup MV bootstraps from the v1 snapshot, then a
    * foreachBatch consumer of `graft-manifest-cdc` folds each commit's
    * SIGNED changelog into it — per batch, one delta aggregate
    * (Σsign, Σsign·cents per bucket — rows a rewrite carried unchanged
    * cancel before they ever touch the MV) full-outer-merged into the
    * |buckets|-row MV, committed as a new MV generation with an atomic
    * pointer flip. Generations are BATCH-ID-KEYED, so a replayed batch
    * finds its generation already committed and skips — idempotent
    * under restart, the sink_foreach_batch recipe. The drained MV must
    * equal the direct aggregate over the FINAL snapshot (the classic
    * incremental-view-maintenance invariant), which is exactly what
    * the oracle replays from `orders`. At 100 TB: the delta aggregate
    * is O(changed files' rows) map-side-combined; the MV merge is
    * |buckets| rows; the base table is never re-scanned — maintenance
    * cost tracks the commit, not the table. */
  def sinkCdcMv(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val src = Scans.manifestStreamDir(s, d)
    val mvDir = fresh("cdc_mv")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mvDir))
    val bucket = expr("o_orderkey DIV 100").as("bucket")
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    // bootstrap: one aggregate over the v1 snapshot
    Scans.readPaths(s, Scans.snapshotPaths(s, s"$src/m1"))
      .groupBy(bucket)
      .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"))
      .write.mode("overwrite").parquet(s"$mvDir/gen_boot")
    TableLog.publish(mvDir, "gen_boot")
    run(s.readStream.format("graft-manifest-cdc")
      .option("path", src).load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val gen = s"gen_$id"
        // the commit point is the head flip, not _SUCCESS: a replayed
        // batch whose generation exists re-issues the flip instead of
        // stranding its delta (README "Stores": replay re-check)
        TableLog.commitBatch(mvDir, gen, h => Option.when(h != gen)(gen)) { head =>
          if (!batch.isEmpty) {
            val delta = batch.groupBy(expr("o_orderkey DIV 100").as("bucket"))
              .agg(sum(col("sign")).cast("bigint").as("dn"),
                sum(col("sign") *
                  expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("dc"))
            Tables.read(s, s"$mvDir/$head")
              .join(delta, Seq("bucket"), "full_outer")
              .select(col("bucket"),
                (coalesce(col("n_rows"), lit(0L)) +
                  coalesce(col("dn"), lit(0L))).as("n_rows"),
                (coalesce(col("cents"), lit(0L)) +
                  coalesce(col("dc"), lit(0L))).as("cents"))
              .where(col("n_rows") > 0)
              .write.mode("overwrite").parquet(s"$mvDir/$gen")
          }
        }
      })
    Tables.read(s, s"$mvDir/${TableLog.head(mvDir)}")
  }

  /** STREAMING MAINTENANCE OF THE PERSISTED VECTOR STORE (VERDICT r15
    * task 5): a foreachBatch consumer folds each micro-batch of new
    * embeddings into the `_HEAD`-versioned IVF store as a delta commit
    * — assignment against the PERSISTED centroids, postings/vectors
    * appended, one atomic pointer flip per batch, idempotent under
    * replay (a TableLog batch commit). The commit protocol and
    * serving live in LlmScale (streamVectorCommit/Serve — the store
    * discipline is the vector family's); this op wires them to a real
    * two-micro-batch ingest stream and serves the drained store. The
    * oracle replays the BATCH REBUILD of the same corpus — streaming
    * ingestion changes commit granularity, never serving results. */
  def sinkStreamVector(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val dir = fresh("vec_store")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    LlmScale.streamVectorStoreInit(s, d, dir)
    val topic = LlmScale.streamVectorTopic(s, d)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("new_id", org.apache.spark.sql.types.LongType)
      .add("dv", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    run(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(topic)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        LlmScale.streamVectorCommit(s, dir, batch, id)
      })
    LlmScale.streamVectorServe(s, dir)
  }

  /** Streaming maintenance of the persisted GRAPH store (VERDICT r16
    * task 5; helpers + full Scaladoc in LlmScale.streamGraphCommit):
    * two real offset-tracked micro-batches of new vectors graft into
    * the `_HEAD` graph store, then the drained store serves through
    * the standard head-resolved walk. */
  def sinkStreamGraph(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val dir = fresh("graph_store")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    LlmScale.streamGraphStoreInit(s, d, dir)
    val topic = LlmScale.streamGraphTopic(s, d)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("new_id", org.apache.spark.sql.types.LongType)
      .add("dv", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    run(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(topic)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        LlmScale.streamGraphCommit(s, dir, batch, id)
      })
    // this store is fresh per invocation — its walk/serve/base memo
    // entries can never hit again; free them once the result drains
    MemoUtil.onDrain(() => LlmScale.releaseFreshStoreMemos(dir))
    LlmScale.graphStoreServe(s, dir)
  }

  /** LEFT-SEMI stream-stream join — the streaming EXISTS: each click
    * emits (once) as soon as ANY purchase lands in its look-back
    * window; extra matches emit nothing and unmatched clicks emit
    * nothing, so there is no expiry-emission subtlety (the outer twins
    * own that) — state economics are the inner join's. The batch twin
    * is the EXISTS semi join over the complete data. */
  def joinStreamSemi(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0, noDataBatchesOff)
    val (clicks, purchases) = clickPurchaseStreams(s, d)
    drain(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"),
        "leftSemi")
      .select(col("c_user").as("user_id"), col("click_id")), "append", "ss_semi_")
  }

  /** LEFT-OUTER stream-stream join: same interval condition as
    * join_stream_stream, but a click with no purchase emits a
    * null-padded row once its state EXPIRES — i.e. once the global
    * watermark (min over both streams of max-event-time − 10 min)
    * passes the click's join-window upper bound (c_ts, since matching
    * purchases satisfy p_ts ≤ c_ts). Clicks inside the final watermark
    * horizon stay in state and emit NOTHING — that tail retention is the
    * semantics of watermarked outer joins, and the oracle replays the
    * same expiry rule (SURVEY §5.4 batch-twin discipline: the expiry
    * cutoff is a deterministic function of the fixed fixture). At 100 TB
    * the state bound is identical to the inner join's —
    * O(join-window × rate) per side — plus the unmatched-left buffer the
    * watermark drains continuously. */
  def joinStreamOuter(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val (clicks, purchases) = clickPurchaseStreams(s, d)
    drain(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"),
        "leftOuter")
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("p_value")), "append", "ss_louter_")
  }

  /** FULL-OUTER stream-stream join: join_stream_outer's expiry rule on
    * BOTH sides — an unmatched click null-pads when the watermark passes
    * c_ts (its window's upper bound), an unmatched purchase when it
    * passes p_ts + 30 min (the last click time that could still match
    * it). Both cutoffs are deterministic functions of the fixture, so
    * the oracle replays them exactly. */
  def joinStreamFull(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val (clicks, purchases) = clickPurchaseStreams(s, d)
    drain(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"),
        "fullOuter")
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"), col("p_value")),
      "append", "ss_fouter_")
  }

  /** Stream enriched by a static (broadcast) dimension — the streaming
    * side never shuffles; each micro-batch hash-probes the dim. */
  def joinStreamStatic(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    val bands = Seq(
      (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 1e9)
    ).toDF("band_id", "lo", "hi")
    drain(eventsStream(s, d)
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_events")), "complete", "st_join_")
  }

  /** foreachBatch: the arbitrary-sink escape hatch — per-micro-batch
    * callback receives (batchDF, batchId); writing to a batchId-keyed
    * directory makes the sink idempotent under replay (the exactly-once
    * recipe for sinks without a transactional commit protocol). */
  def sinkForeachBatch(s: SparkSession, d: String): DataFrame = {
    val out = fresh("feb_out")
    run(eventsStream(s, d)
      .where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent: a replayed batch overwrites its own directory
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      })
    Tables.read(s, out).select(col("event_id"), col("user_id"), col("value"))
  }

  /** STREAMING UPSERT — continuous CDC apply into the lakehouse table,
    * the topology that feeds every MERGE-maintained 100 TB table: a
    * change topic (two parquet files staged with ordered mtimes — the
    * file-source processes oldest-first, and `maxFilesPerTrigger=1`
    * pins one file per micro-batch) drives foreachBatch, and each batch
    * applies as the SAME partition-pruned copy-on-write merge
    * sink_merge_cow runs once (Scans.applyChangeBatch): read touched
    * partitions, broadcast the keyed delta, rewrite, dynamic-overwrite.
    * The feed's cross-batch dependencies (Scans.streamUpsertBatches:
    * batch 2 re-updates batch 1's update keys ×3 and updates rows batch
    * 1 INSERTED) make apply ORDER observable — the readback audit is
    * wrong under any other sequencing, so the oracle checks ordering,
    * not just the row algebra. StreamIOSpec additionally proves the
    * three untouched partitions' files are byte-identical through both
    * batches (the COW pruning claim, now per-trigger).
    *
    * Exactly-once note, pinned honestly: U/D replays are idempotent
    * here (absolute prices), but an I replay would duplicate — a
    * production apply pairs foreachBatch with a transactional commit
    * (the scan_time_travel manifest flip) or batchId-conditional
    * writes; this demonstrator relies on AvailableNow's run-to-
    * completion within one JVM. */
  def sinkStreamUpsert(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    // one staged dir holds the table, its merge stage and the topic
    val dir = StageUtil.staged("upsert_tbl", d) { dir =>
      graft.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.partitionBy("o_orderpriority")
        .mode("overwrite").parquet(s"$dir/table")
      // stage the 2-file topic; mtimes 60 s apart fix the batch order
      val (b1, b2) = Scans.streamUpsertBatches(s, d)
      val topic = java.nio.file.Paths.get(dir, "topic")
      val t0 = java.nio.file.attribute.FileTime.fromMillis(1717200000000L)
      val t1 = java.nio.file.attribute.FileTime.fromMillis(1717200060000L)
      Seq((b1, "b1", t0), (b2, "b2", t1)).foreach { case (df, tag, t) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$tag")
        StageUtil.stageTopic(java.nio.file.Paths.get(dir, tag), topic, tag)
        scala.util.Using.resource(
          java.nio.file.Files.list(topic)) { st =>
          st.iterator.asScala
            .filter(_.getFileName.toString.startsWith(tag))
            .foreach(java.nio.file.Files.setLastModifiedTime(_, t))
        }
      }
      // the batches apply on the stream thread, which never stages:
      // this build holds the staging lock while it waits
      val schema = Tables.read(s, topic.toString).schema
      run(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(topic.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Scans.applyChangeBatch(batch.sparkSession, batch, s"$dir/table")
        }, s"$dir/ckpt")
    }
    Tables.read(s, s"$dir/table")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_stream_upsert" -> sinkStreamUpsert _,
    "sink_foreach_batch" -> sinkForeachBatch _,
    "source_file_stream" -> sourceFileStream _,
    "source_memory" -> sourceMemory _,
    "source_rate" -> sourceRate _,
    "sink_stream" -> sinkStream _,
    "stream_checkpoint_recovery" -> checkpointRecovery _,
    "stream_output_modes" -> outputModes _,
    "join_stream_stream" -> joinStreamStream _,
    "join_stream_semi" -> joinStreamSemi _,
    "join_stream_outer" -> joinStreamOuter _,
    "join_stream_full" -> joinStreamFull _,
    "source_custom_stream" -> sourceCustomStream _,
    "source_manifest_stream" -> sourceManifestStream _,
    "source_cdc_updates" -> sourceCdcUpdates _,
    "sink_cdc_apply" -> sinkCdcApply _,
    "sink_cdc_mv" -> sinkCdcMv _,
    "sink_stream_vector" -> sinkStreamVector _,
    "sink_stream_graph" -> sinkStreamGraph _,
    "join_stream_static" -> joinStreamStatic _,
    "stream_dedup_within_wm" -> streamDedupWithinWm _,
    "stream_session_close" -> streamSessionClose _,
    "stream_chained_stateful" -> streamChainedStateful _,
    "stream_chained_join_agg" -> streamChainedJoinAgg _
  )

  private val evCte =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |         user_id, event_type, value
      |  FROM events)""".stripMargin

  def oracle: Map[String, String] = Map(
    // the streamed store must serve exactly the batch rebuild of the
    // same corpus (LlmScale.streamVectorOracle replays it)
    "sink_stream_vector" -> LlmScale.streamVectorOracle,
    "sink_stream_graph" -> LlmScale.streamGraphOracle,
    // the row-id-paired changelog in closed form: v2 is a pure price
    // update (every [100,400] row a U, no key movement), v3 a pure key
    // migration (every [500,700] row a U whose key shifts +5e8, cents
    // unchanged) — carried-unchanged rows never count
    "source_cdc_updates" ->
      """WITH b AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders)
        |SELECT CAST(2 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n_ins,
        |  CAST(0 AS BIGINT) AS n_del, CAST(count(*) AS BIGINT) AS n_upd,
        |  CAST(0 AS BIGINT) AS n_key_mig,
        |  CAST(sum(CAST(round(p * 2 * 100) AS BIGINT) - c) AS BIGINT)
        |    AS cents_delta,
        |  CAST(0 AS BIGINT) AS key_shift_sum
        |FROM b WHERE k BETWEEN 100 AND 400
        |UNION ALL
        |SELECT 3, 0, 0, CAST(count(*) AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(count(*) * 500000000 AS BIGINT)
        |FROM b WHERE k BETWEEN 500 AND 700
        |UNION ALL
        |SELECT 4,
        |  CAST(count(CASE WHEN k % 2 = 0 THEN 1 END) AS BIGINT),
        |  CAST(count(CASE WHEN k % 2 = 1 THEN 1 END) AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM b WHERE k BETWEEN 800 AND 900""".stripMargin,
    // the drained merge target equals the final v4 snapshot: x2 prices
    // on [100,400], keys +5e8 on [500,700], odd [800,900] rows gone,
    // one inserted row per even [800,900] key — all from orders alone
    "sink_cdc_apply" ->
      """WITH v4 AS (
        |  SELECT o_orderkey + CASE WHEN o_orderkey BETWEEN 500 AND 700
        |      THEN 500000000 ELSE 0 END AS k,
        |    CASE WHEN o_orderkey BETWEEN 100 AND 400
        |      THEN o_totalprice * 2 ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE NOT (o_orderkey BETWEEN 800 AND 900
        |             AND o_orderkey % 2 = 1)
        |  UNION ALL
        |  SELECT o_orderkey + 700000000, o_totalprice + 500.0
        |  FROM orders
        |  WHERE o_orderkey BETWEEN 800 AND 900 AND o_orderkey % 2 = 0)
        |SELECT CASE WHEN k >= 700000000 THEN 'inserted'
        |            WHEN k >= 500000000 THEN 'migrated'
        |            ELSE 'base' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM v4 GROUP BY 1""".stripMargin,
    // the manifest-CDC consumer replayed in closed form: step v2 is the
    // COW x2 on keys [100,400], step v3 the x3 on [500,700] (disjoint
    // ranges, so each step's before-price is the original) — the
    // changed-row summaries are pure functions of `orders`
    "source_manifest_stream" ->
      """WITH s2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version,
        |    CAST(count(*) AS BIGINT) AS n_changed,
        |    CAST(sum(CAST(round(o_totalprice * 2 * 100) AS BIGINT)
        |           - CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents_delta,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM orders
        |  WHERE o_orderkey BETWEEN 100 AND 400
        |    AND CAST(round(o_totalprice * 2 * 100) AS BIGINT)
        |      != CAST(round(o_totalprice * 100) AS BIGINT)),
        |s3 AS (
        |  SELECT CAST(3 AS BIGINT) AS version,
        |    CAST(count(*) AS BIGINT) AS n_changed,
        |    CAST(sum(CAST(round(o_totalprice * 3 * 100) AS BIGINT)
        |           - CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents_delta,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM orders
        |  WHERE o_orderkey BETWEEN 500 AND 700
        |    AND CAST(round(o_totalprice * 3 * 100) AS BIGINT)
        |      != CAST(round(o_totalprice * 100) AS BIGINT))
        |SELECT * FROM s2 UNION ALL SELECT * FROM s3""".stripMargin,
    // the incremental-view-maintenance invariant: the drained MV equals
    // the direct rollup over the FINAL snapshot (both COW updates
    // applied) — replayed from `orders` in closed form
    "sink_cdc_mv" ->
      """SELECT o_orderkey // 100 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                           THEN o_totalprice * 2
        |                           WHEN o_orderkey BETWEEN 500 AND 700
        |                           THEN o_totalprice * 3
        |                           ELSE o_totalprice END * 100) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders GROUP BY 1""".stripMargin,
    // join + hourly rollup replayed relationally; the sentinels never
    // pair (mismatched users), so no filter is needed on the readout
    "stream_chained_join_agg" ->
      """WITH c AS (
        |  SELECT user_id, ts AS c_ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts AS p_ts, value AS p_value FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.c_ts, p.p_value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        |    AND p.p_ts <= c.c_ts)
        |SELECT date_trunc('hour', c_ts)::TIMESTAMP AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CAST(round(p_value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM j GROUP BY 1""".stripMargin,
    // the streaming upsert replayed in closed form: every new price is
    // an absolute function of the ORIGINAL base price, so the two-batch
    // sequence collapses to CASE precedence (batch 2's %20=3 update
    // overrides batch 1's %10=3; batch 1's inserts end at the batch-2
    // updated price) — the oracle is wrong under any other apply order
    "sink_stream_upsert" ->
      """WITH scope AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
        |kept AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 20 = 3 THEN o_totalprice * 3
        |         WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM scope
        |  WHERE o_orderkey % 10 != 7 AND o_orderkey % 10 != 9),
        |ins1 AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey,
        |    o_totalprice + 1007.0 AS o_totalprice, o_orderpriority
        |  FROM scope WHERE o_orderkey % 100 = 1),
        |ins2 AS (
        |  SELECT o_orderkey + 200000000 AS o_orderkey,
        |    o_totalprice + 2000.0 AS o_totalprice, o_orderpriority
        |  FROM scope WHERE o_orderkey % 100 = 41),
        |untouched AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')),
        |fin AS (
        |  SELECT * FROM kept UNION ALL SELECT * FROM ins1
        |  UNION ALL SELECT * FROM ins2 UNION ALL SELECT * FROM untouched)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM fin GROUP BY 1""".stripMargin,
    // the chain replayed relationally: the doubled topic collapses to
    // distinct events (both copies share each event's time — inside the
    // delay, dedup exact), then the hourly aggregate; the sentinel only
    // drives the append-mode flush and is filtered from the readout
    "stream_chained_stateful" -> (evCte +
      """
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM ev GROUP BY 1, 2""".stripMargin),
    // the staged topic delivers every event twice with one shared event
    // time — always inside the delay — so within-watermark dedup is
    // exact here and the oracle is the plain distinct count
    "stream_dedup_within_wm" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    // the two-batch timer schedule in SQL: batch2's eviction watermark
    // is the fixture's max event time (ms, µs-floored — Spark's
    // EventTimeStats accumulates milliseconds); a session closes iff
    // last_ms + 30 min ≤ that watermark (timers fire on expiry ≤ wm)
    "stream_session_close" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(make_timestamp(epoch_ns(ts) // 1000))
        |           AS ts_ms
        |  FROM events),
        |agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(max(ts_ms) AS BIGINT) AS last_ms
        |  FROM ev GROUP BY user_id),
        |wm AS (SELECT max(last_ms) AS w FROM agg)
        |SELECT a.user_id, a.n_events, a.last_ms
        |FROM agg a, wm WHERE a.last_ms + 1800000 <= wm.w""".stripMargin,
    "sink_foreach_batch" -> (evCte +
      """
        |SELECT event_id, user_id, value FROM ev
        |WHERE event_type = 'error'""".stripMargin),
    "source_file_stream" -> (evCte +
      """
        |SELECT event_type, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM ev GROUP BY event_type""".stripMargin),
    // CAST value to DOUBLE — DuckDB infers DECIMAL for bare 1.5 literals
    "source_memory" ->
      """WITH lit_ev(event_id, ts, event_type, value) AS (VALUES
        |  (1, TIMESTAMP '2024-06-01 00:05:00', 'click', CAST(1.5 AS DOUBLE)),
        |  (2, TIMESTAMP '2024-06-01 00:20:00', 'view', CAST(2.0 AS DOUBLE)),
        |  (3, TIMESTAMP '2024-06-01 01:05:00', 'click', CAST(3.0 AS DOUBLE)),
        |  (4, TIMESTAMP '2024-06-01 01:10:00', 'click', CAST(0.5 AS DOUBLE)),
        |  (5, TIMESTAMP '2024-06-01 02:05:00', 'view', CAST(4.0 AS DOUBLE)))
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM lit_ev GROUP BY 1, 2""".stripMargin,
    // source_rate: rows-only by design (synthetic clock source)
    "sink_stream" -> (evCte +
      """
        |SELECT event_id, user_id, value FROM ev
        |WHERE event_type = 'purchase'""".stripMargin),
    "stream_checkpoint_recovery" -> (evCte +
      """
        |SELECT event_id, user_id, value FROM ev
        |WHERE event_type = 'signup'""".stripMargin),
    "stream_output_modes" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "join_stream_semi" -> (evCte +
      """
        |SELECT c.user_id, c.event_id AS click_id
        |FROM ev c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM ev p
        |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |    AND p.ts >= c.ts - INTERVAL 30 MINUTES
        |    AND p.ts <= c.ts)""".stripMargin),
    "join_stream_stream" -> (evCte +
      """
        |SELECT c.user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id, p.value AS p_value
        |FROM ev c JOIN ev p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts - INTERVAL 30 MINUTES AND p.ts <= c.ts""".stripMargin),
    "join_stream_outer" -> (evCte +
      """,
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts,
        |             value AS p_value
        |      FROM ev WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(c_ts) FROM c),
        |                    (SELECT max(p_ts) FROM p))
        |         - INTERVAL 10 MINUTE AS wm),
        |m AS (SELECT c.user_id, c.click_id, p.purchase_id, p.p_value
        |      FROM c JOIN p ON c.user_id = p.user_id
        |        AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        |        AND p.p_ts <= c.c_ts),
        |u AS (SELECT c.user_id, c.click_id,
        |             NULL::BIGINT AS purchase_id, NULL::DOUBLE AS p_value
        |      FROM c, wm
        |      WHERE c.c_ts < wm.wm AND NOT EXISTS (
        |        SELECT 1 FROM p WHERE p.user_id = c.user_id
        |          AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        |          AND p.p_ts <= c.c_ts))
        |SELECT * FROM m UNION ALL SELECT * FROM u""".stripMargin),
    "source_custom_stream" ->
      """SELECT 't' || (i % 10) AS tag, count(*) AS n,
        |       CAST(sum((i * 2654435761) % 1000003) AS BIGINT) AS sum_val
        |FROM range(0, 20000) t(i)
        |GROUP BY 1""".stripMargin,
    "join_stream_full" -> (evCte +
      """,
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts,
        |             value AS p_value
        |      FROM ev WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(c_ts) FROM c),
        |                    (SELECT max(p_ts) FROM p))
        |         - INTERVAL 10 MINUTE AS wm),
        |m AS (SELECT c.user_id, c.click_id, p.purchase_id, p.p_value
        |      FROM c JOIN p ON c.user_id = p.user_id
        |        AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        |        AND p.p_ts <= c.c_ts),
        |uc AS (SELECT c.user_id, c.click_id,
        |              NULL::BIGINT AS purchase_id, NULL::DOUBLE AS p_value
        |       FROM c, wm
        |       WHERE c.c_ts < wm.wm AND NOT EXISTS (
        |         SELECT 1 FROM p WHERE p.user_id = c.user_id
        |           AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        |           AND p.p_ts <= c.c_ts)),
        |up AS (SELECT p.user_id, NULL::BIGINT AS click_id,
        |              p.purchase_id, p.p_value
        |       FROM p, wm
        |       WHERE p.p_ts + INTERVAL 30 MINUTE < wm.wm AND NOT EXISTS (
        |         SELECT 1 FROM c WHERE c.user_id = p.user_id
        |           AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
        |           AND p.p_ts <= c.c_ts))
        |SELECT * FROM m UNION ALL SELECT * FROM uc
        |UNION ALL SELECT * FROM up""".stripMargin),
    "join_stream_static" -> (evCte +
      """
        |, bands(band_id, lo, hi) AS (VALUES
        |  (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 1e9))
        |SELECT band_id, count(*) AS n_events
        |FROM ev JOIN bands ON value >= lo AND value < hi
        |GROUP BY band_id""".stripMargin)
  )
}
