package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Joins, MemoUtil, StreamIO}

/** The one derived-session builder (README "Sessions"). */
class SessionSpec extends SparkSpec {

  test("derived: isolation is off, the confs apply in order, the parent is untouched") {
    val before = spark.conf.getAll
    val s = GraftSession.derived(spark, "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.shuffle.partitions" -> "5")
    assert(s ne spark)
    assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "5")
    assert(spark.conf.getAll == before)
    intercept[IllegalArgumentException](
      GraftSession.derived(spark, "spark.sql.artifact.isolation.enabled" -> "true"))
  }

  test("confClone: the parent's runtime confs, then the op's own") {
    val k = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val was = spark.conf.get(k)
    spark.conf.set(k, (!was.toBoolean).toString)
    try {
      assert(GraftSession.confClone(spark).conf.get(k) == (!was.toBoolean).toString)
      assert(GraftSession.confClone(spark, k -> was).conf.get(k) == was)
    } finally spark.conf.set(k, was)
  }

  test("a second warm call compiles no codegen class and returns the first call's rows") {
    val printed = childJvm("graft.SessionSpecChild", Seq(sf))
    val rows = printed.linesIterator.filter(_.startsWith("op ")).map(_.split(" ").toSeq).toSeq
    assert(rows.map(_(1)) == SessionSpecChild.ops.map(_._1), printed)
    rows.foreach { case Seq(_, op, compiled, same) =>
      assert(compiled == "0", s"$op: the second warm call compiled $compiled classes")
      assert(same == "true", s"$op: the second warm call returned other rows")
    }
  }

  test("source lint: only the builder makes a session under src/main, and none is changed after it is built") {
    val banned = Seq("newSession()", "cloneSession(", "artifact.isolation")
    // a session bound from the builder or an op's helper that calls it
    val bound = """val (\w+) = (?:GraftSession\.(?:derived|confClone)|\w+Session)\(""".r
    val member = """^  (?:private(?:\[\w+\])? )?def """.r
    val offenders =
      scala.util.Using.resource(Files.walk(Paths.get("src/main/scala/graft"))) { st =>
        st.iterator.asScala.toSeq
          .filter(p => p.toString.endsWith(".scala") &&
            p.getFileName.toString != "GraftSession.scala")
          .flatMap(p => lint(p, banned, bound, member))
      }
    assert(offenders.isEmpty, s"sessions made or changed outside the builder: $offenders")
  }

  /** Lines of `p` holding a banned token, or changing the conf of a
    * session bound earlier in the same member. */
  private def lint(p: Path, banned: Seq[String], bound: scala.util.matching.Regex,
                   member: scala.util.matching.Regex): Seq[String] = {
    var derived = Set.empty[String]
    Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
      if (member.findFirstIn(line).nonEmpty) derived = Set.empty
      val changed = derived.exists(n =>
        line.contains(s"$n.conf.set(") || line.contains(s"$n.conf.unset("))
      derived ++= bound.findAllMatchIn(line).map(_.group(1))
      if (changed || banned.exists(line.contains)) Some(s"$p:${i + 1}") else None
    }.toSeq
  }
}

/** Runs each op three times in a fresh JVM whose root session is built
  * like every main's (no isolation conf) and prints, per op, the
  * classes the third call compiled and whether it returned the first
  * call's rows. */
object SessionSpecChild {
  val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "stream_dedup_within_wm" -> StreamIO.streamDedupWithinWm _,
    "join_skew_aqe" -> Joins.joinSkewAqe _,
    "join_eliminate_autorewrite" -> Joins.joinEliminateAutorewrite _)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2)
    def call(fn: (SparkSession, String) => DataFrame): Seq[String] =
      try fn(spark, args(0)).collect().map(_.toString).sorted.toSeq
      finally MemoUtil.dropScratch()
    ops.foreach { case (name, fn) =>
      val first = call(fn)
      call(fn)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val third = call(fn)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      println(s"op $name $compiled ${third == first}")
    }
    spark.stop()
  }
}
