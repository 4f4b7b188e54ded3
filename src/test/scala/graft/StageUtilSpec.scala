package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Scans, StageUtil}

/** The once-per-JVM staging every operator shares (README "Staging"). */
class StageUtilSpec extends SparkSpec {

  private def names(dir: String): Set[String] =
    scala.util.Using.resource(Files.list(Paths.get(dir))) { st =>
      st.iterator.asScala.map(_.getFileName.toString).toSet
    }

  /** A data-dir name no other test stages. */
  private def uniq(): String = s"/spec/${java.util.UUID.randomUUID()}"

  test("staged: the build runs once per name and the dir carries the marker") {
    val d = uniq()
    var builds = 0
    val first = StageUtil.staged("once", d) { dir =>
      builds += 1
      Files.writeString(Paths.get(dir, "payload"), "v1"); ()
    }
    val second = StageUtil.staged("once", d) { _ => builds += 1 }
    assert(builds == 1 && first == second)
    assert(first == Paths.get(StageUtil.root, StageUtil.key("once", d)).toString)
    assert(names(first) == Set("payload", "_GRAFT_STAGED"))
  }

  test("staged: a build that throws leaves no marker; the next call wipes the partial files and rebuilds") {
    val d = uniq()
    val dir = intercept[IllegalStateException] {
      StageUtil.staged("crash", d) { dir =>
        Files.writeString(Paths.get(dir, "partial"), "half")
        Files.createDirectories(Paths.get(dir, "sub", "deeper"))
        throw new IllegalStateException(dir)
      }
    }.getMessage
    assert(names(dir) == Set("partial", "sub"), "the crash leaves partial files and no marker")
    var sawPartial = true
    StageUtil.staged("crash", d) { dir =>
      sawPartial = Files.exists(Paths.get(dir, "partial"))
      Files.writeString(Paths.get(dir, "whole"), "v2"); ()
    }
    assert(!sawPartial, "the rebuild must start from an empty dir")
    assert(names(dir) == Set("whole", "_GRAFT_STAGED"))
  }

  test("staged: a call nested inside a build returns, with no deadlock") {
    val d = uniq()
    val inner = Future {
      var got = ""
      StageUtil.staged("outer", d) { _ =>
        got = StageUtil.staged("nested", d) { dir =>
          Files.writeString(Paths.get(dir, "x"), "y"); ()
        }
      }
      got
    }
    val got = Await.result(inner, 60.seconds)
    assert(got == Paths.get(StageUtil.root, StageUtil.key("nested", d)).toString)
    assert(Files.exists(Paths.get(got, "_GRAFT_STAGED")))
  }

  test("key: data dirs that sanitize alike or hash alike get distinct names") {
    assert("/t/a_b".replaceAll("[^A-Za-z0-9]", "_") == "/t/a/b".replaceAll("[^A-Za-z0-9]", "_"))
    assert("/t/Aa".hashCode == "/t/BB".hashCode)
    assert(StageUtil.key("p", "/t/a_b") != StageUtil.key("p", "/t/a/b"))
    assert(StageUtil.key("p", "/t/Aa") != StageUtil.key("p", "/t/BB"))
    assert(StageUtil.key("p", "/t/a_b").matches("p_[A-Za-z0-9_]+_[0-9]+"))
  }

  test("the marker is invisible to parquet reads and to a file-stream source; maxFilesPerTrigger batching is unchanged") {
    val src = Files.createTempDirectory("stage_marker_src").resolve("nation")
    val nation = Tables.nation(spark, sf)
    nation.repartition(3).write.parquet(src.toString)
    val parts = StageUtil.parquetParts(src).size
    assert(parts == 3)
    val dir = StageUtil.staged("marker_topic", src.toString) { d =>
      StageUtil.stageTopic(src, Paths.get(d), "part")
    }
    assert(names(dir).contains("_GRAFT_STAGED"))
    val n = nation.count()
    assert(spark.read.parquet(dir).count() == n)
    val name = s"marker_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = spark.readStream.schema(nation.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("stage_marker_ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000L), "AvailableNow must terminate")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == parts, s"one batch per part file, the marker is not a file: $batches")
    assert(spark.table(name).count() == n)
  }

  test("stagedBinDir: a dir left by an interrupted staging is rebuilt, not latched") {
    val d = Files.createTempDirectory("stage_bin").toString
    Tables.documents(spark, sf).where(col("doc_id") < 60)
      .write.parquet(s"$d/documents.parquet")
    // what a run cut off mid-staging leaves: the dir, some files, no marker
    val partial: Path = Paths.get(StageUtil.root, StageUtil.key("bin_docs", d))
    Files.createDirectories(partial)
    Files.writeString(partial.resolve("doc_999.txt"), "torn")
    val want = Tables.documents(spark, d).where(col("doc_id") < 50).count()
    val dir = Scans.stagedBinDir(spark, d)
    assert(dir == partial.toString)
    val docs = names(dir).filter(_.endsWith(".txt"))
    assert(docs.size == want && !docs.contains("doc_999.txt"),
      s"the partial doc set must be replaced: $docs")
    assert(Scans.scanBinaryFile(spark, d).count() == want)
  }

  test("the per-JVM root is deleted when the JVM exits") {
    val printed = childJvm("graft.StageUtilSpecChild", xmx = "64m", timeout = 60.seconds)
    val dir = Paths.get(printed.linesIterator.toSeq.last)
    assert(dir.getParent.getFileName.toString.startsWith("graft_stage"), printed)
    assert(!Files.exists(dir.getParent), s"the root outlived its JVM: ${dir.getParent}")
  }

  test("source lint: only StageUtil creates temp dirs, writes markers or builds staging keys") {
    // operators/ and the mains beside it; not sources/, where
    // ManifestCdcSource checks a commit's _SUCCESS on purpose
    val root = Paths.get("src/main/scala/graft")
    val banned = Seq("createTempDirectory", "\"_GRAFT_", "_SUCCESS\").exists",
      "replaceAll(\"[^A-Za-z0-9]\"")
    val offenders = Seq(root, root.resolve("operators")).flatMap { dir =>
      scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toSeq)
    }.filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "StageUtil.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }
    assert(offenders.isEmpty, s"staging outside StageUtil: $offenders")
  }
}

/** Stages one dir in a fresh JVM, prints its path and exits. */
object StageUtilSpecChild {
  def main(args: Array[String]): Unit = {
    val dir = StageUtil.staged("exit", "/spec/exit") { d =>
      Files.writeString(Paths.get(d, "payload"), "x"); ()
    }
    require(Files.exists(Paths.get(dir, "payload")))
    println(dir)
  }
}
