package graft

/** Dev-only plan snapshotter (not part of the driver contract): writes
  * `.explain("formatted")` for named SparkEntry queries to
  * plans/<tag>/<name>_<suffix>.txt — the before/after evidence files the
  * optimization rounds commit beside the code. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> <name> [name...]
  * e.g. runMain graft.PlanDump /root/testdata/sf0.1 plans/r17 before graph_sssp
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = GraftSession.local(GraftSession.cpus(32))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // initial formatted plan (pre-execution), then execute and append
      // the FINAL adaptive plan — AQE decisions (coalesced reads, join
      // strategy switches) only exist after the run
      val initial = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      df.queryExecution.toRdd.count()
      val fin = df.queryExecution.executedPlan.toString
      val txt = s"== explain(formatted), initial plan ==\n$initial\n" +
        s"== executed plan after run (AQE final) ==\n$fin\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      graft.operators.MemoUtil.dropScratch()
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
