package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Task metrics summed over the tasks of a stage or job. */
final class TaskSums {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var outBytes = 0L; var shWrite = 0L; var shRead = 0L
  var spill = 0L; var stages = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; outBytes += o.outBytes; shWrite += o.shWrite
    shRead += o.shRead; spill += o.spill; stages += o.stages
  }
}

final case class JobRec(id: Int, group: String, startMs: Double, var endMs: Double,
    sums: TaskSums)
final case class StageRec(id: Int, job: Int, submitMs: Double, endMs: Double,
    tasks: Int)
final case class TriggerRec(runId: String, batch: Long, startMs: Double,
    triggerMs: Double, addBatchMs: Double, stateRows: Long)

/** Traced-run recorder. Listens on Spark's listener bus: jobs, stages,
  * tasks, AQE re-plans, and the streaming query events (trigger
  * progress) every session posts there; attributes what it hears to the query span that was open
  * when it happened (by job group where Spark carries it, by time
  * otherwise); keeps every span in memory and writes the span file once,
  * at the end of the run. */
final class Tracer(spark: SparkSession, clock: Clock) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]()
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()
  private val streamStarts = new ConcurrentLinkedQueue[java.lang.Double]()
  @volatile private var aqeUpdates = 0L

  // bus-thread state
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val stageSums = mutable.Map.empty[Int, TaskSums]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = JobRec(e.jobId, group, e.time.toDouble, e.time.toDouble, new TaskSums)
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobById.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSums.getOrElseUpdate(e.stageId, new TaskSums)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime; s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val sums = stageSums.remove(info.stageId).getOrElse(new TaskSums)
      sums.stages += 1
      val jobId = stageToJob.getOrElse(info.stageId, -1)
      jobById.get(jobId).foreach(_.sums.add(sums))
      stageRecs.add(StageRec(info.stageId, jobId,
        info.submissionTime.map(_.toDouble).getOrElse(0.0),
        info.completionTime.map(_.toDouble).getOrElse(0.0), info.numTasks))
    }
    // streaming events reach the shared bus from every session, also the
    // sessions operators derive with newSession()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates += 1
      case _: StreamingQueryListener.QueryStartedEvent =>
        streamStarts.add(clock.ms(System.nanoTime()))
      case p: StreamingQueryListener.QueryProgressEvent => onProgress(p.progress)
      case _ => ()
    }
  }
  private def onProgress(p: StreamingQueryProgress): Unit = {
    def ms(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val start = try java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      catch { case _: Exception => clock.ms(System.nanoTime()) }
    triggers.add(TriggerRec(p.runId.toString, p.batchId, start,
      ms("triggerExecution"), ms("addBatch"),
      p.stateOperators.map(_.numRowsTotal).sum))
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  private val spanOut = ArrayBuffer.empty[String]
  private val selfTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var violations = 0
  private val violationNotes = ArrayBuffer.empty[String]

  /** Drains the bus, attributes everything heard during the pass to its
    * query spans, records the spans, and returns the pass's per-layer
    * metrics. */
  def passLayers(spans: Seq[QuerySpan], passStartNs: Long,
      passEndNs: Long): Seq[(String, String)] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val passJobs = drainQueue(jobs)
    val passStages = drainQueue(stageRecs)
    val passTriggers = drainQueue(triggers)
    val passStarts = drainQueue(streamStarts)
    val aqe = aqeUpdates; aqeUpdates = 0
    val byGroup = spans.map(s => s.id -> s).toMap
    val tol = SpanCheck.TolMs

    def window(s: QuerySpan) = (clock.ms(s.a), clock.ms(s.e))
    def owner(group: String, t: Double): Option[QuerySpan] =
      byGroup.get(group).orElse(spans.find { s =>
        val (lo, hi) = window(s); t >= lo - tol && t <= hi + tol
      })

    val jobOwner = passJobs.map(j => j -> owner(j.group, j.startMs))
    val sums = new TaskSums
    passJobs.foreach(j => sums.add(j.sums))
    var constructJobs = 0L
    var jobSpanS = 0.0; var gapS = 0.0
    def violation(notes: Seq[String]): Unit = {
      violations += notes.size
      notes.foreach(n => if (violationNotes.size < 20) violationNotes += n)
    }
    violation(SpanCheck.pass(spans, passStartNs, passEndNs))
    spans.foreach { s =>
      val (lo, hi) = window(s)
      val mine = jobOwner.collect { case (j, Some(o)) if o eq s => j }
      mine.foreach { j =>
        if (j.startMs < clock.ms(s.b) + tol && j.startMs >= lo - tol)
          constructJobs += 1
      }
      violation(SpanCheck.query(s,
        mine.filter(_.group == s.id).map(j => (j.startMs, j.endMs)), clock.ms))
      val iv = mine.map(j => (j.startMs, j.endMs))
      val inJobs = SpanCheck.unionLen(iv, lo, hi) / 1e3
      val gap = s.wallS - inJobs
      jobSpanS += inJobs; gapS += gap
      // spans: the query, its four children, and the jobs under it
      val kids = Seq("construct" -> (s.a, s.b), "plan" -> (s.b, s.c),
        "exec" -> (s.c, s.d), "drop_scratch" -> (s.d, s.e))
      spanOut += span(s.id, "", "query", s.name, lo, hi,
        Seq("pass" -> Json.num(s.pass), "driver_gap_s" -> Json.num(gap)))
      kids.foreach { case (k, (x, y)) =>
        val (klo, khi) = (clock.ms(x), clock.ms(y))
        val self = (khi - klo - SpanCheck.unionLen(iv, klo, khi)) / 1e3
        selfTotals(k) += self
        spanOut += span(s"${s.id}.$k", s.id, k, s.name, klo, khi,
          Seq("self_s" -> Json.num(self)))
      }
      mine.foreach { j =>
        spanOut += span(s"job-${j.id}", s.id, "job", s.name, j.startMs, j.endMs,
          Seq("tasks" -> Json.num(j.sums.tasks), "stages" -> Json.num(j.sums.stages)))
      }
    }
    selfTotals("jobs") += jobSpanS
    passStages.foreach { st =>
      spanOut += span(s"stage-${st.id}", s"job-${st.job}", "stage", "",
        st.submitMs, st.endMs, Seq("tasks" -> Json.num(st.tasks)))
    }
    passTriggers.foreach { t =>
      val parent = owner("", t.startMs).map(_.id).getOrElse("")
      spanOut += span(s"trigger-${t.runId}-${t.batch}", parent, "trigger", "",
        t.startMs, t.startMs + t.triggerMs,
        Seq("add_batch_s" -> Json.num(t.addBatchMs / 1e3)))
    }
    val stateRows = passTriggers.groupBy(_.runId).values
      .map(ts => ts.map(_.stateRows).max).sum

    val tasks = sums.tasks.toDouble
    val runS = sums.runMs / 1e3
    def sumOf(f: QuerySpan => Double) = spans.map(f).sum
    def phase(k: String) = spans.map(_.phases.getOrElse(k, 0.0)).sum
    val trig = passTriggers.map(_.triggerMs).sum / 1e3
    val add = passTriggers.map(_.addBatchMs).sum / 1e3
    Seq(
      "operators.construct_s" -> sumOf(_.constructS),
      "operators.construct_jobs" -> constructJobs.toDouble,
      "plans.plan_s" -> sumOf(_.planS),
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.aqe_updates" -> aqe.toDouble,
      "sched.jobs" -> passJobs.size.toDouble,
      "sched.stages" -> sums.stages.toDouble,
      "sched.tasks" -> tasks,
      "sched.tasks_per_stage" -> (if (sums.stages > 0) tasks / sums.stages else 0.0),
      "sched.job_span_s" -> jobSpanS,
      "sched.driver_gap_s" -> gapS,
      "exec.s" -> sumOf(_.execS),
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> sums.cpuNs / 1e9,
      "exec.task_gc_s" -> sums.gcMs / 1e3,
      "exec.input_mb" -> sums.inBytes / 1e6,
      "exec.output_mb" -> sums.outBytes / 1e6,
      "exec.shuffle_write_mb" -> sums.shWrite / 1e6,
      "exec.shuffle_read_mb" -> sums.shRead / 1e6,
      "exec.spill_mb" -> sums.spill / 1e6,
      "exec.core_busy_frac" ->
        (if (jobSpanS > 0) runS / (jobSpanS * cores) else 0.0),
      "memo.drop_scratch_s" -> sumOf(_.dropS),
      "stream.queries" -> passStarts.size.toDouble,
      "stream.batches" -> passTriggers.size.toDouble,
      "stream.trigger_s" -> trig,
      "stream.add_batch_s" -> add,
      "stream.overhead_s" -> (trig - add),
      "stream.state_rows" -> stateRows.toDouble
    ).map { case (k, v) => k -> Json.num(v) }
  }

  /** Records a memo-reset span between passes. */
  def memoReset(pass: Int, startNs: Long, endNs: Long): Unit =
    spanOut += span(s"memo_reset-$pass", "", "memo_reset", "",
      clock.ms(startNs), clock.ms(endNs), Seq("pass" -> Json.num(pass)))

  private def drainQueue[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  private def span(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double, attrs: Seq[(String, String)]): String =
    Json.obj(Seq("id" -> Json.str(id), "parent" -> Json.str(parent),
      "kind" -> Json.str(kind), "name" -> Json.str(name),
      "start_ms" -> Json.num(start), "end_ms" -> Json.num(end)) ++ attrs: _*)

  /** Writes the span file and returns the run's trace summary. */
  def finish(spanFile: Option[String]): String = {
    detach()
    spanFile.foreach { f =>
      Files.createDirectories(Paths.get(f).getParent)
      Files.writeString(Paths.get(f), Json.obj(
        "self_s" -> Json.obj(selfTotals.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*),
        "spans" -> Json.arr(spanOut.toSeq)))
    }
    Json.obj("span_file" -> Json.str(spanFile.getOrElse("")),
      "check_violations" -> Json.num(violations),
      "check_notes" -> Json.arr(violationNotes.toSeq.map(Json.str)),
      "spans" -> Json.num(spanOut.size))
  }
}

/** The traced run's bookkeeping check. It compares each span with values
  * measured apart from its own marks — the pass wall, and the start and
  * end times the listener bus reports for the jobs of the span's job
  * group — and holds no listener state, so the self-test can feed it
  * broken spans. */
object SpanCheck {
  val TolMs = 5.0 // listener times are whole milliseconds

  /** Bookkeeping a pass may spend between its queries, per query. */
  val SlackPerQueryS = 0.05

  /** Union length of intervals clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Double, Double)], lo: Double = Double.NegativeInfinity,
      hi: Double = Double.PositiveInfinity): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Problems with one query span. `groupJobs` are the (start, end) ms of
    * the jobs its job group launched, as the listener bus reported them;
    * `ms` maps a nanoTime mark onto the same clock. The children
    * (construct, plan, exec, drop_scratch) must follow one another, and
    * their self times (time outside the group's jobs) plus the union of
    * the group's jobs, unclipped, must add up to the query's wall: a job
    * that ran outside its query, or a span that missed part of a job,
    * breaks the sum. */
  def query(s: QuerySpan, groupJobs: Seq[(Double, Double)], ms: Long => Double): Seq[String] = {
    val marks = Seq(s.a, s.b, s.c, s.d, s.e)
    if (marks.zip(marks.tail).exists { case (x, y) => y < x })
      return Seq(s"${s.name} (${s.id}): child spans out of order")
    val kids = Seq((s.a, s.b), (s.b, s.c), (s.c, s.d), (s.d, s.e))
    val selfS = kids.map { case (x, y) =>
      (ms(y) - ms(x) - unionLen(groupJobs, ms(x), ms(y))) / 1e3 }.sum
    val jobsS = unionLen(groupJobs) / 1e3
    val diff = selfS + jobsS - s.wallS
    if (math.abs(diff) > 2 * TolMs / 1e3)
      Seq(f"${s.name} (${s.id}): child self ${selfS}%.4f s + jobs ${jobsS}%.4f s " +
        f"!= wall ${s.wallS}%.4f s")
    else Nil
  }

  /** The pass wall, timed apart from the spans, must hold its query spans
    * with no more than SlackPerQueryS of bookkeeping per query. */
  def pass(spans: Seq[QuerySpan], startNs: Long, endNs: Long): Seq[String] = {
    val wall = (endNs - startNs) / 1e9
    val inQueries = spans.map(_.wallS).sum
    val outside = wall - inQueries
    if (outside < -1e-6 || outside > SlackPerQueryS * spans.size)
      Seq(f"pass ${spans.headOption.map(_.pass).getOrElse(-1)}: query spans " +
        f"${inQueries}%.4f s in a pass wall of ${wall}%.4f s")
    else Nil
  }

  /** Runs the check on one well-formed span and on broken ones; returns
    * the number of problems found in each case. */
  def selftest(): String = {
    val ms: Long => Double = ns => ns / 1e6
    val s = 1000000000L // 1 s in ns
    val good = QuerySpan("pb-1", "q", 1, 0L, s, 2 * s, 4 * s, 5 * s, Map.empty)
    val inside = Seq((2100.0, 3000.0), (2500.0, 3900.0))
    val cases = Seq(
      "good" -> query(good, inside, ms),
      "job_outside_query" -> query(good, inside :+ (4500.0, 6500.0), ms),
      "children_out_of_order" -> query(good.copy(c = 5 * s, d = 4 * s), inside, ms),
      "good_pass" -> pass(Seq(good, good.copy(a = 5 * s, e = 6 * s)), 0L, 6 * s + 1000L),
      "pass_shorter_than_spans" -> pass(Seq(good), 0L, 4 * s),
      "pass_time_outside_spans" -> pass(Seq(good), 0L, 7 * s))
    Json.obj(cases.map { case (k, v) => k -> Json.num(v.size) }: _*)
  }
}
