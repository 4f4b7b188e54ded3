package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{MemoUtil, PipelineOps, StageUtil, StreamIO, StreamRunner}

/** The one stream runner (README "Streams"). */
class StreamRunnerSpec extends SparkSpec {

  test("await: a query that does not finish in time is stopped, and the runner throws naming it") {
    var stopped = false
    val stub = java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[StreamingQuery]),
      (_: AnyRef, m: java.lang.reflect.Method, _: Array[AnyRef]) =>
        m.getName match {
          case "awaitTermination" => java.lang.Boolean.FALSE
          case "stop" => stopped = true; null
          case "name" => "stub_query"
          case "id" => java.util.UUID.randomUUID()
          case other => throw new UnsupportedOperationException(other)
        }).asInstanceOf[StreamingQuery]
    val e = intercept[IllegalStateException](StreamRunner.await(stub))
    assert(stopped, "the timed-out query must be stopped")
    assert(e.getMessage.contains("stub_query"), e.getMessage)
  }

  test("await: a stateful query leaves no listener bus on the SparkContext (pipeline_curation, four warm calls)") {
    // its dedup state reaches the query's cloned session's `streams`,
    // which registers that clone's bus; the runner unregisters it
    def buses(): Int = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      org.apache.spark.StreamBuses(spark.sparkContext)
    }
    def call(): Unit = {
      PipelineOps.pipelineCuration(spark, sf).collect()
      MemoUtil.dropScratch()
    }
    call()
    val warm = buses()
    (1 to 4).foreach(_ => call())
    assert(buses() == warm)
  }

  /** Dirs directly under the staging root that are not stagings (a
    * staging carries the marker and lives for the JVM's life). */
  private def perCallDirs(): Set[Path] =
    scala.util.Using.resource(Files.list(Paths.get(StageUtil.root))) { st =>
      st.iterator.asScala
        .filter(p => Files.isDirectory(p) &&
          !Files.exists(p.resolve("_GRAFT_STAGED")))
        .toSet
    }

  private val cases: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("stream_dedup_within_wm", "ddw_", StreamIO.streamDedupWithinWm _),
    ("sink_stream", "sink_out", StreamIO.sinkStream _),
    ("sink_foreach_batch", "feb_out", StreamIO.sinkForeachBatch _),
    ("pipeline_e2e", "out", PipelineOps.pipelineE2e _))

  cases.foreach { case (op, prefix, fn) =>
    test(s"$op: the result reads twice, no memory-sink view survives, and a drain deletes every dir the call made") {
      val before = perCallDirs()
      val df = fn(spark, sf)
      val first = df.collect().map(_.toSeq).toSeq
      val second = df.collect().map(_.toSeq).toSeq
      assert(first.nonEmpty)
      assert(first.groupBy(identity).view.mapValues(_.size).toMap ==
        second.groupBy(identity).view.mapValues(_.size).toMap,
        "the returned DataFrame must read the same rows twice")
      val views = df.sparkSession.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith(prefix)).map(_.name)
      assert(views.isEmpty, s"memory-sink views left registered: ${views.toSeq}")
      val made = perCallDirs() -- before
      assert(made.nonEmpty, "the call made no per-call dir to check")
      MemoUtil.dropScratch()
      val left = perCallDirs() -- before
      assert(left.isEmpty, s"per-call dirs left after the drain: $left")
    }
  }

  test("source lint: only the runner starts, names or waits on a stream query under src/main") {
    val banned = Seq("format(\"memory\")", "Trigger.AvailableNow",
      "awaitTermination(", "UUID.randomUUID")
    val offenders =
      scala.util.Using.resource(Files.walk(Paths.get("src/main/scala/graft"))) { st =>
        st.iterator.asScala.toSeq
          .filter(p => p.toString.endsWith(".scala") &&
            p.getFileName.toString != "StreamRunner.scala")
          .flatMap { p =>
            Files.readAllLines(p).asScala.zipWithIndex.collect {
              case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}"
            }
          }
      }
    assert(offenders.isEmpty, s"stream runs outside StreamRunner: $offenders")
  }
}
