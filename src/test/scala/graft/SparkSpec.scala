package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-JVM SparkSession for all suites (sbt forks one test JVM). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest fixture dir — unit tests stay fast. */
  val sf: String = "/root/testdata/sf0.001"

  /** Jobs this thread launches while `f` runs. */
  def jobsDuring(f: => Any): Int = {
    import org.apache.spark.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.jobs") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.jobs", tag)
    try f
    finally {
      sc.setLocalProperty("graft.spec.jobs", null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Execute, then collect over the FINAL adaptive plan — AQE wraps the
    * executed plan and query stages are leaf nodes, so a plain collect
    * stops at their boundary. */
  def collectFinal[T](df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def walk(p: SparkPlan): Seq[T] = {
      val here = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      here ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
