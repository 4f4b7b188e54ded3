package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.MemoUtil

object Bench {
  /** One pass: wall seconds of each query that completed, the queries
    * that threw (never timed: a failure must not read as fast), and
    * memo family → the queries that looked it up during the pass. */
  final case class Pass(times: Map[String, Double], failed: Set[String],
                        families: Map[String, Set[String]])

  /** Run every query once in map order, timing construction plus
    * `toRdd.count()` and the scratch drop. Family membership is the
    * difference of the per-family memo lookup counters around each
    * query, read outside the timed span. */
  def runPass(spark: SparkSession, sfDir: String,
              queries: Map[String, (SparkSession, String) => DataFrame]): Pass = {
    val times = Map.newBuilder[String, Double]
    val failed = Set.newBuilder[String]
    val families = scala.collection.mutable.Map.empty[String, Set[String]]
    MemoUtil.memos.foreach(m => families(m.family) = Set.empty)
    queries.foreach { case (name, fn) =>
      val before = MemoUtil.familyLookups
      val t0 = System.nanoTime()
      // time toRdd.count(), NOT df.count(): a count() lets Catalyst
      // re-optimize for counting — left joins with unique keys are
      // eliminated, unread columns prune whole subtrees, and a bare scan
      // becomes a metadata-only count-star — so composites measured 40×
      // cheaper than the work their results require. toRdd executes the
      // plan exactly as written, materializing every output column.
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case _: Throwable => false }
      // free the op's intra-query lineage-cut checkpoints NOW: the
      // result is consumed, nothing references them (memos have their
      // own lifecycle, reset between passes). Letting ~170 queries'
      // scratch pile up in the block manager inflated the whole pass
      // ~2x via heap pressure once the suite grew past ~160 ops.
      MemoUtil.dropScratch()
      val dt = (System.nanoTime() - t0) / 1e9
      if (ok) times += name -> dt else failed += name
      MemoUtil.familyLookups.foreach { case (f, n) =>
        if (n > before.getOrElse(f, 0L))
          families(f) = families.getOrElse(f, Set.empty) + name
      }
    }
    Pass(times.result(), failed.result(), families.toMap)
  }

  /** Foreign java JVMs running beside the bench — anything that is not
    * this process or an ancestor (the sbt shell that forked us is an
    * ancestor and doesn't count). A concurrent sbt test JVM adds a flat
    * ~+0.16 s to EVERY query (measured r8, two mid-round runs read
    * ~105 s vs the real 77 s), so a contended run must never be compared
    * round-over-round as if it were clean. Sampled at start and end;
    * the max is tagged into the output JSON as "contended". */
  private def foreignJvms(): Int = {
    import scala.jdk.CollectionConverters._
    try {
      val ancestors = scala.collection.mutable.Set.empty[Long]
      var cur = java.util.Optional.of(ProcessHandle.current())
      while (cur.isPresent) { ancestors += cur.get.pid; cur = cur.get.parent() }
      ProcessHandle.allProcesses().iterator().asScala.count { p =>
        !ancestors.contains(p.pid) &&
          p.info().command().orElse("").split('/').lastOption.contains("java")
      }
    } catch { case _: Throwable => -1 } // count unavailable, not fatal
  }

  /** Per-query minimum over the passes, and the failed set: a query
    * that threw in ANY pass is reported failed and never timed. */
  def minOf(passes: Seq[Pass]): (Map[String, Double], Set[String]) = {
    val failed = passes.flatMap(_.failed).toSet
    val ok = passes.flatMap(_.times.keys).toSet -- failed
    (ok.map(n => n -> passes.flatMap(_.times.get(n)).min).toMap, failed)
  }

  def main(args: Array[String]): Unit = {
    val contendedAtStart = foreignJvms()
    if (contendedAtStart > 0)
      System.err.println(
        s"[bench] WARNING: $contendedAtStart foreign java JVM(s) live — " +
          "timings will read ~+0.16 s/query high; rerun uncontended")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    val spark = GraftSession.local(cpus)
    // untimed warmup: JVM/codegen/shuffle machinery boot otherwise lands
    // on whichever query the map iterates first (~5s of noise). The
    // one-time table STAGING (bucketed tables, partitioned dirs) is also
    // forced here: the operator being timed is the shuffle-free join /
    // pruned scan — the pay-once data layout write is setup, and timing
    // it inside whichever query runs first misattributes ~5s
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    Seq("join_bucketed", "join_dpp", "scan_partitioned", "stream_output_modes")
      .foreach { name =>
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case _: Throwable => () }
      }
    // min-of-N repeats: this VM's background load adds a ±2-3 s drift
    // that round-over-round made real regressions indistinguishable from
    // noise (r5: +2.3 s uniformly on unchanged streaming queries). The
    // per-query MIN across passes within one session is the stable
    // signal; a wall-clock budget caps total bench time if a pass runs
    // long. The Lloyd memo resets between passes so every pass re-pays
    // shared computation identically.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9
    def fmt0(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def timedPass(): (Pass, Double) = {
      val t0 = System.nanoTime()
      val r = runPass(spark, sfDir, SparkEntry.queries)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (first, firstWall) = timedPass()
    System.err.println(
      s"[bench] pass 1 (cold): ${fmt0(firstWall)} s wall, elapsed ${fmt0(elapsed)} s")
    // Budget is set AFTER the cold pass, never before (VERDICT r16
    // task 1): a fixed 620 s ceiling made the self-correction net
    // structurally dead in the worst degraded-VM windows — r16's
    // driver cold pass ALONE took 807 s, so the rerun loop's
    // `elapsed < budgetSec` guard failed before a single targeted
    // rerun fired and the committed artifact read ratio 3.364 with
    // rerun_n 0 at inflated_n 326. max(620, cold x 1.25) reserves a
    // rerun tranche proportional to however bad the window is: the
    // >=25% of cold-wall headroom always covers the highest-yield
    // outliers first (the wave orders by recovery per floor-second),
    // so even a partial wave recovers the worst of the inflation.
    val budgetSec = math.max(620.0, firstWall * 1.25)
    if (budgetSec > 620.0)
      System.err.println(s"[bench] cold pass blew the 620 s floor — " +
        s"budget extended to ${fmt0(budgetSec)} s to keep the rerun " +
        "tranche alive")
    // Estimate the NEXT pass from the most recent pass's measured wall
    // time, not the cold pass's: pass 1 pays one-time staging (bucketed
    // tables, persisted index artifacts) and first-touch codegen, so warm
    // passes run ~3x cheaper. Gating every rerun on the cold cost (the
    // r7 logic) silently collapsed min-of-3 to a single cold pass the
    // moment the suite's cold time crossed budget/2 — tripling the
    // reported total without any query actually regressing. For the
    // cold->warm transition specifically, expect at least a 2x drop.
    val (records: Map[String, Double], recordRound: String) = {
      val p = java.nio.file.Paths.get("bench_records.json")
      if (java.nio.file.Files.exists(p)) {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // floors are per-SF: comparing a sf0.01 dev run against the
        // sf0.1 round-of-record would flag everything
        val sfOk = """"sf":\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        // round-of-record label travels with the file, never hardcoded
        // (ADVICE r11: a stale literal mislabeled which round the floors
        // came from)
        val round = """"round":\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("unknown")
        if (!sfOk) (Map.empty[String, Double], round)
        else {
          // anchor to the queries OBJECT: scan from its '{' to the
          // matching '}' so numeric fields placed after it (or a
          // reordered file) can't sweep into the floor set (ADVICE r11)
          val kIdx = txt.indexOf("\"queries\"")
          val open = txt.indexOf('{', kIdx)
          var depth = 0; var i = open; var close = -1
          while (i < txt.length && close < 0) {
            txt.charAt(i) match {
              case '{' => depth += 1
              case '}' => depth -= 1; if (depth == 0) close = i
              case _ =>
            }
            i += 1
          }
          val body =
            if (kIdx >= 0 && open >= 0 && close > open)
              txt.substring(open, close + 1)
            else ""
          (""""([A-Za-z0-9_]+)":\s*([0-9.]+)""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap, round)
        }
      } else (Map.empty[String, Double], "none")
    }

    val all = scala.collection.mutable.ArrayBuffer(first)
    var nextEstimate = firstWall / 2.0
    // In a degraded window a full warm pass costs ~90% of cold and
    // recovers little (r14: 386 s cold + 358 s pass-2 left no budget for
    // the targeted reruns, which fix the same queries at ~1 s each).
    // When the cold pass reads heavily inflated vs the floors, skip the
    // full-pass repeats and let the rerun stage spend the budget.
    val coldShared = first.times.keySet & records.keySet
    val coldInflated = records.nonEmpty && coldShared.nonEmpty && {
      val r = coldShared.toSeq.map(first.times).sum /
        math.max(1e-9, coldShared.toSeq.map(records).sum)
      r > 1.3
    }
    if (coldInflated)
      System.err.println("[bench] cold pass reads >1.3x the floors — " +
        "skipping full repeats in favor of targeted reruns")
    while (all.size < passes && elapsed + nextEstimate < budgetSec &&
        !coldInflated) {
      MemoUtil.resetAll()
      val (r, wall) = timedPass()
      all += r
      nextEstimate = wall
      System.err.println(
        s"[bench] pass ${all.size}: ${fmt0(wall)} s wall, elapsed ${fmt0(elapsed)} s")
    }
    val (minOfPasses, failed) = minOf(all.toSeq)

    // Locale.ROOT: f"" uses the JVM default locale — a comma decimal
    // separator (e.g. de_DE) would make the JSON line unparseable.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The harness records only the LAST ~2000 chars of stdout, and sbt
    // appends a "[success] ..." line after us — so the single JSON metric
    // line must stay well under that window or its head gets truncated
    // and never parses. List the slowest queries until the budget fills
    // and roll the remainder into "other"; the complete per-query map
    // goes to a local file instead.
    // Round-of-record floors (bench_records.json, committed): the
    // per-query MINs of the best clean run recorded so far. SCALE.md
    // names the comparable figure in prose each round; carrying the
    // floors IN the artifact lets env inflation be machine-flagged —
    // a query > 1.5x its floor (+0.1 s slack) on unchanged code is VM
    // noise/contention, not a regression (r9/r10 advice, now closed).
    // Targeted anti-trough reruns (VERDICT r13 task 5): a degraded VM
    // window can inflate a whole cold pass past budget/2, silently
    // collapsing min-of-3 to ONE trough reading (r13: 124 queries at
    // 2.02x their floors, total 392 s vs 227 s the same session). The
    // full-pass rerun gate can't recover that — rerunning everything is
    // unaffordable — but rerunning ONLY the >2x-floor outliers is cheap
    // (their floor mass is a fraction of the pass), so the min-of-N
    // signal survives the trough. Memos reset once first (a pass
    // boundary: whichever family member reruns first re-pays its shared
    // computation, same accounting as a full pass). Worst absolute
    // inflation reruns first so a budget cutoff drops the least-inflated
    // tail. The cold pass total stays in the artifact as "cold_total".
    val rerun = scala.collection.mutable.Map.empty[String, Double]
    var rerunCand = 0
    if (records.nonEmpty) {
      // same 1.5x+0.1 criterion the record block flags with (r14: the
      // first cut used 2x and left 145 of 357 shared queries still
      // reading inflated after reruns — the 79 reruns it did pick cost
      // only 69 s, so the tighter net is affordable)
      def curVal(n: String, v: Double) = math.min(v, rerun.getOrElse(n, v))
      def stillInflated = minOfPasses.toSeq.filter { case (n, v) =>
        records.get(n).exists(f => curVal(n, v) > f * 1.5 + 0.1)
      }
      var candidates = stillInflated
      rerunCand = candidates.size
      // up to TWO waves (VERDICT r14 task 8): a first wave interrupted
      // by a transient stall leaves recoverable inflation on the table;
      // the second wave re-picks only what is STILL over its bound.
      // Within a wave, order by (wall - floor) / floor — recovery per
      // floor-second of rerun cost — so a budget cutoff keeps the
      // highest-yield reruns, not merely the largest absolute ones
      // (a 30 s query 2x its floor costs 30 s to recover 30 s; ten 1 s
      // queries at 10x their floors recover 90 s for the same spend).
      // A THIRD opportunistic wave (VERDICT r15 task 8) fires only when
      // a degraded window left the artifact over the honesty target
      // (inflated_n ≥ 15 AND shared ratio > 1.40) and budget remains —
      // a recovering host often clears the tail on one more sweep.
      def curRatio: Double = {
        val shared = minOfPasses.keySet & records.keySet
        if (shared.isEmpty) return 0.0
        val cur = shared.toSeq
          .map(n => math.min(minOfPasses(n),
            rerun.getOrElse(n, Double.MaxValue))).sum
        val rec = shared.toSeq.map(records).sum
        if (rec > 0) cur / rec else 0.0
      }
      var wave = 0
      while (candidates.nonEmpty && elapsed < budgetSec &&
          (wave < 2 ||
            (wave < 3 && candidates.size >= 15 && curRatio > 1.40))) {
        val order = candidates.sortBy { case (n, v) =>
          -((curVal(n, v) - records(n)) / math.max(records(n), 0.05))
        }
        System.err.println(s"[bench] wave ${wave + 1}: ${order.size} " +
          "queries read over their 1.5x-floor bound — targeted reruns " +
          "while budget lasts")
        MemoUtil.resetAll()
        order.foreach { case (name, _) =>
          if (elapsed < budgetSec) {
            // record ONLY completed reruns (ADVICE r14): a fast-failing
            // query would otherwise log a spuriously small wall that can
            // undercut its floor and corrupt the artifact
            runPass(spark, sfDir, Map(name -> SparkEntry.queries(name)))
              .times.get(name) match {
              case Some(dt) =>
                rerun(name) = math.min(rerun.getOrElse(name, Double.MaxValue), dt)
              case None =>
                System.err.println(s"[bench] rerun of $name FAILED — not recorded")
            }
          }
        }
        wave += 1
        candidates = stillInflated
        System.err.println(s"[bench] after wave $wave: ${rerun.size} " +
          s"recorded, ${candidates.size} still inflated, " +
          s"elapsed ${fmt0(elapsed)} s")
      }
    }
    val results: Map[String, Double] =
      minOfPasses.map { case (n, v) => n -> math.min(v, rerun.getOrElse(n, v)) }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val coldTotal = first.times.values.sum
    val recordMeta: String = if (records.nonEmpty) {
      val shared = results.keySet & records.keySet
      val recTotal = shared.toSeq.map(records).sum
      val curTotal = shared.toSeq.map(results).sum
      val inflated = shared.filter(n =>
        results(n) > records(n) * 1.5 + 0.1).toSeq.sortBy(n => -results(n))
      val names = inflated.take(5).map(n => s""""$n"""").mkString("[", ",", "]")
      s""","record":{"round":"$recordRound","shared":${shared.size},"record_total":${fmt(recTotal)},"shared_total":${fmt(curTotal)},"ratio":${fmt(if (recTotal > 0) curTotal / recTotal else 0.0)},"inflated_n":${inflated.size},"rerun_n":${rerun.size},"rerun_cand":$rerunCand,"inflated_top":$names}"""
    } else ""
    val sorted = results.toSeq.sortBy(-_._2)
    // 1300, not 1500: the record block spends ~250 chars of the ~2000-
    // char stdout tail window the harness keeps
    val budget = 1300
    val shown = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    sorted.foreach { case (k, v) =>
      val entryLen = k.length + fmt(v).length + 4
      if (used + entryLen <= budget) { shown += ((k, v)); used += entryLen }
    }
    val otherSum = total - shown.map(_._2).sum
    val qEntries =
      shown.map { case (k, v) => s""""$k":${fmt(v)}""" } ++
        (if (shown.size < results.size) Seq(s""""other":${fmt(otherSum)}""") else Nil)
    val qs = qEntries.mkString("{", ",", "}")
    val contended = math.max(contendedAtStart, foreignJvms())
    // "cpus" names the core count this run ACTUALLY used (VERDICT r17
    // task 1: the artifact must say what master/local[N] measured it,
    // so the 8-vs-32 scaling comparison is self-describing)
    val failedNames =
      failed.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]")
    val failedJson = s""""n_failed":${failed.size},"failed":$failedNames"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},$failedJson,"cold_total":${fmt(coldTotal)},"contended":$contended,"cpus":$cpus$recordMeta,"queries":$qs,"sf":"$sfDir"}"""

    val fullQs = sorted.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    // memo families (VERDICT r17 task 6): queries in one family share a
    // per-pass memoized build — whichever member runs FIRST in registry
    // order absorbs the shared cost, so per-query round-over-round
    // comparisons WITHIN a family are attribution-shifted, not
    // regressions. Totals stay honest (each pass re-pays every family
    // build exactly once; memos reset between passes). Observed in the
    // cold pass from the memos' own lookup counters.
    val famJson = first.families.toSeq.sortBy(_._1).map { case (f, ms) =>
      s""""$f":${ms.toSeq.sorted.map(m => s""""$m"""").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$failedJson,"cold_total":${fmt(coldTotal)},"contended":$contended,"cpus":$cpus$recordMeta,"memo_families":$famJson,"queries":$fullQs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_full.json"),
      full.getBytes("UTF-8"))

    println(line)
    spark.stop()
  }
}
