package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.operators.MemoUtil

/** Dev-only query profiler (not part of the driver contract): times
  * named `SparkEntry` queries, then writes each one's plans to
  * `<outDir>/<name>_<suffix>.txt`, the before/after evidence files the
  * optimization rounds commit beside the code. Usage:
  *   runMain graft.Probe <sfDir> <outDir> <suffix> <name> [name...]
  * e.g. runMain graft.Probe /root/testdata/sf0.1 plans/r17 before graph_sssp
  * Run 1 is the cold truth per query: later runs reuse shuffle files.
  */
object Probe {
  val runs = 4

  /** One timed run, the timing rule of `Bench.runPass`: construction,
    * `toRdd.count()` and the scratch drop. Prints `label seconds rows`
    * and returns the rows; a run that threw prints FAILED, no time, and
    * returns None. `toRdd.count()` executes the plan as written
    * (`df.count()` would let Catalyst prune what counting doesn't need). */
  def timed(label: String)(build: => DataFrame): Option[Long] = {
    val t0 = System.nanoTime()
    val rows =
      try Some(build.queryExecution.toRdd.count())
      catch { case e: Throwable => println(s"$label FAILED: $e"); None }
      finally MemoUtil.dropScratch()
    val sec = (System.nanoTime() - t0) / 1e9
    rows.foreach(n => println(f"$label%-32s $sec%8.3f $n%10d"))
    rows
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args
    val spark = GraftSession.local(GraftSession.cpus(32))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      (1 to runs).foreach(i => timed(s"$n run$i")(SparkEntry.queries(n)(spark, sfDir)))
      // one more, untimed run for the plans: the initial formatted plan
      // (pre-execution), then the FINAL adaptive plan — AQE decisions
      // (coalesced reads, join strategy switches) only exist after it
      val df = SparkEntry.queries(n)(spark, sfDir)
      val initial = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      df.queryExecution.toRdd.count()
      val fin = df.queryExecution.executedPlan.toString
      MemoUtil.dropScratch()
      val out = Paths.get(outDir, s"${n}_$suffix.txt")
      Files.write(out, (s"== explain(formatted), initial plan ==\n$initial\n" +
        s"== executed plan after run (AQE final) ==\n$fin\n").getBytes("UTF-8"))
      System.err.println(s"[probe] wrote $out")
    }
    spark.stop()
  }
}
