package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.operators.{Scans, TableLog}

/** The one parquet read path (README "Reads"): rebuilding a read of data
  * already read launches no job, and changed data is never served from
  * the cache. */
class ReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("read_spec").toString

  test("job count: after one warm-up, sink_merge_occ's DataFrame and Tables.lineitem build with 0 jobs") {
    val warm = Scans.sinkMergeOcc(spark, sf).collect()
    assert(jobsDuring(Scans.sinkMergeOcc(spark, sf)) == 0)
    Tables.lineitem(spark, sf)
    assert(jobsDuring(Tables.lineitem(spark, sf)) == 0)
    // the counter sees jobs: an uncached read infers, and a collect runs
    val d = tmp()
    Seq(1L).toDF("a").write.parquet(s"$d/t")
    assert(jobsDuring(Tables.read(spark, s"$d/t")) == 1)
    assert(jobsDuring(Scans.sinkMergeOcc(spark, sf).collect()) >= 1)
    assert(Scans.sinkMergeOcc(spark, sf).collect().toSeq == warm.toSeq)
  }

  test("cache: a dir rewritten in place with another schema reads back the new schema") {
    val d = s"${tmp()}/t"
    Seq(1L, 2L).toDF("a").write.parquet(d)
    assert(Tables.read(spark, d).columns.toSeq == Seq("a"))
    Seq("x").toDF("b").write.mode(SaveMode.Overwrite).parquet(d)
    val back = Tables.read(spark, d)
    assert(back.columns.toSeq == Seq("b"))
    assert(back.as[String].collect().toSeq == Seq("x"))
  }

  test("cache: a manifest staged but not flipped, then overwritten by the next publish, is not served stale") {
    val dir = tmp()
    def data(name: String, keys: Seq[Long]): Seq[String] = {
      keys.toDF("o_orderkey").coalesce(1).write.parquet(s"$dir/$name")
      Tables.read(spark, s"$dir/$name")
        .select(org.apache.spark.sql.functions.input_file_name())
        .as[String].collect().toSeq.distinct.sorted
    }
    def manifest(v: Long, paths: Seq[String]): String = {
      paths.toDF("path").coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/m$v")
      s"m$v"
    }
    val (p1, p2, p3) = (data("d1", Seq(1L)), data("d2", Seq(2L)), data("d3", Seq(3L)))
    TableLog.commit(dir)(manifest(_, p1))
    // staged and logged, then the crash: m2 names d2 but no head adopts it
    TableLog.steps(dir, 2L, manifest(_, p2)).take(2).foreach(_())
    assert(Scans.snapshotPaths(spark, s"$dir/m2") == p2)
    // the next publish reuses version 2 and overwrites the stranded m2
    assert(TableLog.commit(dir)(manifest(_, p3)) == 2L)
    assert(Scans.snapshotPaths(spark, s"$dir/m2") == p3)
    assert(Scans.readPaths(spark, Scans.snapshotPaths(spark, s"$dir/m2"))
      .as[Long].collect().toSeq == Seq(3L))
  }

  test("cache: sessions with different inferTimestampNTZ each get their own column type") {
    // a fixture file: it stores a naive timestamp without the Spark
    // schema a Spark writer adds, which would pin the type whatever the conf
    val d = tmp()
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(d, "events.parquet"))
    def typed(ntz: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz.toString)
      Tables.read(s, d).schema("ts").dataType
    }
    assert(typed(ntz = true) == TimestampNTZType)
    assert(typed(ntz = false) == TimestampType)
    assert(typed(ntz = true) == TimestampNTZType)
  }

  test("source lint: parquet reads under operators/, pipeline/, plans/ and in Tables.scala go through Tables.read") {
    val root = Paths.get("src/main/scala/graft")
    // (file, code on the line, why it may read parquet directly)
    val allowed = Seq(
      ("Tables.scala", "s.read.parquet(paths: _*).schema",
        "Tables.read's own inference on a cache miss"),
      ("Scans.scala", "s.read.option(\"mergeSchema\", \"true\").parquet(p)",
        "scan_evolving tests the merged schema; pinning one file's schema would hide it"),
      ("Scans.scala", "s.read.options(cryptoOpts).parquet(",
        "the footer is encrypted: reading it at all needs the decryption options"),
      ("Scans.scala", "s.read.schema(ddl).parquet(",
        "the schema is given as DDL, so nothing is inferred"))
    val read = """(?<!Tables)\.read\b.*\.parquet\(|\.read\.format\("parquet"\)""".r
    val files = Seq("operators", "pipeline", "plans").flatMap { sub =>
      scala.util.Using.resource(Files.walk(root.resolve(sub)))(_.iterator.asScala.toSeq)
    } :+ root.resolve("Tables.scala")
    val offenders = files.filter(_.toString.endsWith(".scala")).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined && !allowed.exists {
              case (f, code, _) => p.getFileName.toString == f && line.contains(code)
            } => s"${root.relativize(p)}:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"parquet read outside Tables.read: $offenders")
  }
}
