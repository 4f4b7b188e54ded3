package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

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

  /** Run `main(args)` in a fresh JVM with this JVM's classpath and flags
    * (the --add-opens Spark needs on JDK 17) and heap `xmx`; asserts it
    * exits 0 within `timeout` and returns what it printed. */
  def childJvm(main: String, args: Seq[String] = Nil, xmx: String = "1g",
               timeout: FiniteDuration = 300.seconds): String = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val child = new ProcessBuilder((Seq(java.toString, s"-Xmx$xmx") ++ flags ++
        Seq("-cp", System.getProperty("java.class.path"), main) ++ args).asJava)
      .redirectErrorStream(true).start()
    val out = Future(new String(child.getInputStream.readAllBytes()))
    val exited = try child.waitFor(timeout.toSeconds, SECONDS) finally child.destroyForcibly()
    assert(exited, s"the child JVM ($main) did not exit")
    val printed = Await.result(out, 10.seconds)
    assert(child.exitValue() == 0, printed)
    printed
  }

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
