package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators._

/** JVM side of the benchmark. `run.py` drives it; nothing here decides
  * what a workload is or whether a result is correct — it only executes
  * the pass orders it is given and records what happened.
  *
  *   catalog   <out.json>          module membership + oracle SQL
  *   run       <plan> <out.json>   set-up, then the passes of the plan
  *   spancheck <out.json>          the span check on good and broken spans
  *
  * A plan is a line file: `key value...`, a `cold <q> <q> ...` line and
  * one `warm <q> <q> ...` line per warm order. Warm pass i runs warm order
  * i mod (number of warm orders), so the orders form one cycle. The first
  * `warmup_cycles` cycles are warm-up, run but not measured; measured warm
  * passes then run until `seconds` have elapsed since the first of them
  * started, at least `min_cycles` cycles, and always whole cycles. The
  * set-up is timed from JVM start to the first timed query. A traced run
  * ends with a local[1] session on the same input, which runs one untimed
  * warm pass and then one timed cycle.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val preMainS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // exit explicitly: a streaming query an operator left running, or a
    // session a failure left open, must not keep the JVM up
    try args(0) match {
      case "catalog" => writeCatalog(Paths.get(args(1)))
      case "spancheck" => Files.writeString(Paths.get(args(1)), SpanCheck.selftest())
      case "run" =>
        val plan = Plan.read(Paths.get(args(1)))
        new Runner(plan, entryNs, preMainS).run(Paths.get(args(2)))
      case other => sys.error(s"unknown mode $other")
    } catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    sys.exit(0)
  }

  /** Module membership (for workloads defined by module) and the oracle
    * SQL of every registered query. */
  private def writeCatalog(out: Path): Unit = {
    val modules: Seq[(String, OpModule)] = Seq(
      "Filters" -> Filters, "Joins" -> Joins, "Aggregates" -> Aggregates,
      "StreamIO" -> StreamIO)
    val mods = modules.map { case (n, m) =>
      n -> Json.arr(m.queries.keys.toSeq.sorted.map(Json.str))
    }
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }
    Files.writeString(out, Json.obj(
      "modules" -> Json.obj(mods: _*),
      "queries" -> Json.arr(SparkEntry.queries.keys.toSeq.sorted.map(Json.str)),
      "oracle" -> Json.obj(oracle: _*)))
  }

  /** The session `graft.Bench` builds, plus scratch locations inside the
    * benchmark's own directory, then the one-time staging Bench does
    * untimed for the staged queries the workload runs. */
  def startSession(plan: Plan, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.localDir)
      .config("spark.sql.warehouse.dir", plan.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plan.staging.foreach { name =>
      SparkEntry.queries(name)(spark, plan.dir).queryExecution.toRdd.count()
      MemoUtil.dropScratch()
    }
    spark
  }

  /** Every memo family's reset hook, in `Bench.resetMemos` order. */
  def resetMemos(): Unit = {
    LlmScale.resetLloydMemo()
    Analytics.resetGraphMemo()
    LlmOps.resetNearMemo()
    Retrieval.resetFusedMemo()
    LlmCuration.resetClfMemo()
    MemoUtil.dropScratch()
  }
}

final case class Plan(
    dir: String, cores: Int, trace: Boolean, seconds: Double, warmupCycles: Int,
    minCycles: Int, localDir: String, warehouseDir: String, scratchDirs: Seq[String],
    spanFile: Option[String], staging: Seq[String], cold: Seq[String],
    warm: Seq[Seq[String]], selftest: Boolean)

object Plan {
  def read(p: Path): Plan = {
    val lines = Files.readAllLines(p).asScala.map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+").toSeq)
    def one(k: String): String = lines.find(_.head == k).map(_(1))
      .getOrElse(sys.error(s"plan: missing $k"))
    def many(k: String): Seq[String] =
      lines.find(_.head == k).map(_.tail).getOrElse(Nil)
    def flag(k: String): Boolean = lines.exists(l => l.head == k && l(1) == "1")
    val warm = lines.filter(_.head == "warm").map(_.tail).toSeq
    if (warm.isEmpty) sys.error("plan: no warm order")
    Plan(
      dir = one("dir"), cores = one("cores").toInt, trace = flag("trace"),
      seconds = one("seconds").toDouble, warmupCycles = one("warmup_cycles").toInt,
      minCycles = one("min_cycles").toInt,
      localDir = one("local_dir"), warehouseDir = one("warehouse_dir"),
      scratchDirs = many("scratch_dirs"),
      spanFile = lines.find(_.head == "span_file").map(_(1)),
      staging = many("staging"), cold = many("cold"), warm = warm,
      selftest = flag("selftest"))
  }
}

/** Executes the plan's passes and writes one JSON result. */
final class Runner(plan: Plan, entryNs: Long, preMainS: Double) {
  private val clock = new Clock
  private val queries = SparkEntry.queries

  /** Self-test stand-ins: one query that throws, one whose row count
    * (7) differs from the expectation `selftest.py` injects. */
  private def lookup(name: String): (SparkSession, String) => DataFrame =
    name match {
      case "selftest_throw" if plan.selftest =>
        (_, _) => throw new IllegalStateException("injected failure")
      case "selftest_wrong_count" if plan.selftest =>
        (s, _) => s.range(7).toDF("id")
      case n => queries(n)
    }

  def run(out: Path): Unit = {
    var spark = Harness.startSession(plan, plan.cores)
    val setupS = preMainS + (System.nanoTime() - entryNs) / 1e9
    val tracer = if (plan.trace) Some(new Tracer(spark, clock)) else None

    val execs = ArrayBuffer.empty[String]
    val passes = ArrayBuffer.empty[String]
    var nextSpan = 0L
    var storagePeak = 0L

    def sampleStorage(): Unit =
      storagePeak = math.max(storagePeak,
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)

    /** One pass; `traced` decides whether spans and job groups are
      * recorded (untraced passes inside a traced run estimate the
      * tracing overhead). Every pass but the cold one starts with the
      * memo resets, outside the pass wall. */
    def onePass(idx: Int, kind: String, order: Seq[String], traced: Boolean): Unit = {
      val resetT0 = System.nanoTime()
      if (idx > 0) Harness.resetMemos()
      val resetT1 = System.nanoTime()
      val resetS = (resetT1 - resetT0) / 1e9
      tracer.foreach { t =>
        if (traced) { t.attach(); if (idx > 0) t.memoReset(idx, resetT0, resetT1) }
        else t.detach()
      }
      sampleStorage()
      val io0 = ProcIo.read()
      val cpu0 = JvmSample.processCpuS()
      val passStart = System.nanoTime()
      val spans = ArrayBuffer.empty[QuerySpan]
      order.foreach { name =>
        nextSpan += 1
        val id = s"pb-$nextSpan"
        val sc = spark.sparkContext
        if (traced) sc.setJobGroup(id, name, interruptOnCancel = false)
        val cpuA = JvmSample.processCpuS()
        val a = System.nanoTime()
        var b = a; var c = a; var d = a
        var rows = -1L
        var err: String = null
        var phases: Map[String, Double] = Map.empty
        try {
          val df = lookup(name)(spark, plan.dir)
          b = System.nanoTime()
          val qe = df.queryExecution
          qe.executedPlan
          c = System.nanoTime()
          rows = qe.toRdd.count()
          d = System.nanoTime()
          if (traced) phases = qe.tracker.phases.map { case (k, v) =>
            k -> v.durationMs / 1e3 }
        } catch {
          case e: Throwable =>
            val now = System.nanoTime()
            if (b == a) b = now
            if (c == a) c = now
            d = now
            err = (e.getClass.getName + ": " + String.valueOf(e.getMessage))
              .linesIterator.nextOption().getOrElse("").take(300)
        }
        MemoUtil.dropScratch()
        val e = System.nanoTime()
        val cpuE = JvmSample.processCpuS()
        if (traced) sc.clearJobGroup()
        sampleStorage()
        System.err.println(f"[perfbench] pass $idx $name ${(e - a) / 1e9}%.3f s" +
          (if (err == null) s" rows=$rows" else s" FAILED $err"))
        val sp = QuerySpan(id, name, idx, a, b, c, d, e, phases)
        spans += sp
        execs += Json.obj(
          "pass" -> Json.num(idx), "kind" -> Json.str(kind),
          "query" -> Json.str(name),
          "construct_s" -> Json.num(sp.constructS), "plan_s" -> Json.num(sp.planS),
          "exec_s" -> Json.num(sp.execS), "drop_scratch_s" -> Json.num(sp.dropS),
          "latency_s" -> Json.num(sp.latencyS), "wall_s" -> Json.num(sp.wallS),
          "cpu_s" -> Json.num(cpuE - cpuA),
          "rows" -> Json.num(rows),
          "error" -> (if (err == null) "null" else Json.str(err)))
      }
      val passEnd = System.nanoTime()
      val cpu1 = JvmSample.processCpuS()
      val io1 = ProcIo.read()
      val layer = tracer.filter(_ => traced).map { t =>
        val scratch = plan.scratchDirs.map(d => Dirs.bytes(Paths.get(d))).sum
        t.passLayers(spans.toSeq, passStart, passEnd) :+
          ("io.scratch_left_mb" -> Json.num(scratch / 1e6))
      }
      passes += Json.obj((Seq(
        "pass" -> Json.num(idx), "kind" -> Json.str(kind),
        "traced" -> Json.bool(traced), "wall_s" -> Json.num((passEnd - passStart) / 1e9),
        "cpu_s" -> Json.num(cpu1 - cpu0),
        "memo.reset_s" -> Json.num(resetS),
        "io.write_calls" -> Json.num(io1.syscw - io0.syscw),
        "io.write_mb" -> Json.num((io1.wchar - io0.wchar) / 1e6),
        "io.read_mb" -> Json.num((io1.rchar - io0.rchar) / 1e6)) ++
        layer.toSeq.flatMap(_.toSeq)): _*)
    }

    onePass(0, "cold", plan.cold, traced = plan.trace)
    val coldJvm = JvmSample.now()
    val k = plan.warm.size
    val warmup = plan.warmupCycles * k
    (0 until warmup).foreach(j => onePass(j + 1, "warmup", plan.warm(j % k), traced = false))
    val warmStart = System.nanoTime()
    var i = 0
    // in a traced run the warm cycles alternate traced / untraced, so the
    // tracing overhead is measured in the same window on the same orders
    while (i < plan.minCycles * k || i % k != 0 ||
        (System.nanoTime() - warmStart) / 1e9 < plan.seconds) {
      val traced = plan.trace && (i / k) % 2 == 0
      onePass(warmup + i + 1, if (traced || !plan.trace) "warm" else "warm_untraced",
        plan.warm(i % k), traced = traced)
      i += 1
    }
    i += warmup
    sampleStorage()
    val spanJson = tracer.map(_.finish(plan.spanFile))
    if (plan.trace) {
      // memos hold plans of the session being stopped: free them first
      Harness.resetMemos()
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      spark = Harness.startSession(plan, cores = 1)
      onePass(i + 1, "warmup_1c", plan.warm(0), traced = false)
      (0 until k).foreach(j => onePass(i + 2 + j, "warm_1c", plan.warm(j), traced = false))
    }
    val res = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "cold_jvm.gc_s" -> Json.num(coldJvm.gcS),
      "cold_jvm.jit_s" -> Json.num(coldJvm.jitS),
      "storage_peak_mb" -> Json.num(storagePeak / 1e6),
      "executions" -> Json.arr(execs.toSeq),
      "passes" -> Json.arr(passes.toSeq)) ++
      spanJson.map(s => "trace" -> s).toSeq: _*)
    Files.writeString(out, res)
    spark.stop()
  }
}

/** One query execution: nanoTime marks at entry, after construction,
  * after planning, after execution and after the scratch drop. */
final case class QuerySpan(id: String, name: String, pass: Int, a: Long, b: Long,
    c: Long, d: Long, e: Long, phases: Map[String, Double]) {
  def constructS: Double = (b - a) / 1e9
  def planS: Double = (c - b) / 1e9
  def execS: Double = (d - c) / 1e9
  def dropS: Double = (e - d) / 1e9
  def latencyS: Double = (d - a) / 1e9
  def wallS: Double = (e - a) / 1e9
}

/** Maps nanoTime onto the wall-clock milliseconds listener events carry. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

final case class JvmSample(gcS: Double, jitS: Double)
object JvmSample {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread: driver, executors, JIT,
    * GC), in seconds. Time the hypervisor stole from the host's CPUs is
    * not in it. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def now(): JvmSample = JvmSample(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0))
}

final case class ProcIo(rchar: Long, wchar: Long, syscw: Long)
object ProcIo {
  def read(): ProcIo = {
    val p = Paths.get("/proc/self/io")
    if (!Files.isReadable(p)) ProcIo(0, 0, 0)
    else {
      val kv = Files.readAllLines(p).asScala.flatMap { l =>
        l.split(":\\s*") match {
          case Array(k, v) => Some(k -> v.trim.toLong)
          case _ => None
        }
      }.toMap
      ProcIo(kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L),
        kv.getOrElse("syscw", 0L))
    }
  }
}

object Dirs {
  /** Bytes in the regular files under `root`. Spark's cleaner deletes
    * shuffle files while the walk runs, so a file or directory that
    * vanishes under it is skipped. */
  def bytes(root: Path): Long = {
    var total = 0L
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, attrs: BasicFileAttributes): FileVisitResult = {
        if (attrs.isRegularFile) total += attrs.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }
}

/** Minimal JSON writer: the harness emits only names, numbers and short
  * messages, and run.py parses it. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
