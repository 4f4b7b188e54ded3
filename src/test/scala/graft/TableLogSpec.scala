package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableLog

/** The commit protocol every pointer-flip store shares. Crashes are
  * injected by running only a prefix of TableLog's own publish steps. */
class TableLogSpec extends AnyFunSuite {

  private def table(): String =
    Files.createTempDirectory("tablelog_spec").toString

  private def listing(dir: String): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(dir))) { st =>
      st.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    }

  test("concurrent publishes: two writers of one head never collide and leave no temp file") {
    val dir = table()
    val head = Paths.get(dir, "_HEAD")
    val n = 300
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val writers = Seq("a", "b").map { w =>
      val t = new Thread(() => {
        start.await()
        try (1 to n).foreach(i => TableLog.atomicWrite(head, s"$i $w"))
        catch { case e: Throwable => errors.add(e); () }
      })
      t.start(); t
    }
    start.countDown()
    writers.foreach(_.join())
    assert(errors.isEmpty, s"a writer threw: ${errors.asScala.headOption}")
    assert(listing(dir) == Seq("_HEAD"), s"temp files left: ${listing(dir)}")
    assert(Set("a", "b").map(TableLog.Head(n, _))(TableLog.read(dir)))
    // the locked publish: every version logged once, in order
    val dir2 = table()
    val pubs = Seq("x", "y").map { w =>
      val t = new Thread(() => (1 to 50).foreach(i => TableLog.publish(dir2, s"$w$i")))
      t.start(); t
    }
    pubs.foreach(_.join())
    assert(TableLog.versions(dir2).map(_._1) == (1L to 100L))
    assert(listing(dir2) == Seq("_HEAD", "_LOG"))
  }

  test("crash window: OCC staged but not published leaves the head and the versions unchanged") {
    val dir = table()
    TableLog.publish(dir, "m1")
    val before = (TableLog.read(dir), TableLog.versions(dir))
    val files = Map(1L -> Set("f1", "f2"))
    val (v, outcome, steps) = TableLog.occSteps(dir, 1L, Set("f1"), files,
      (_, _) => ()) { v =>
      Files.writeString(Paths.get(dir, s"m$v"), "f2 g1"); s"m$v"
    }
    assert((v, outcome) == (2L, "committed"))
    steps.take(1).foreach(_()) // staged, then the crash
    assert(Files.exists(Paths.get(dir, "m2")), "the stage step ran")
    assert((TableLog.read(dir), TableLog.versions(dir)) == before,
      "an unpublished OCC commit must not move the head or the log")
    // the writer retries: the same version publishes cleanly
    steps.foreach(_())
    assert(TableLog.versions(dir) == Seq(1L -> "m1", 2L -> "m2"))
  }

  test("crash window: a versioned store logged but not flipped serves the previous head, and its versions omit the unadopted one") {
    val dir = table()
    TableLog.publish(dir, "a;b;")
    TableLog.publish(dir, "a,a1;b;")
    TableLog.steps(dir, 3L, _ => "a2;b;").take(2).foreach(_()) // logged, then the crash
    assert(Files.readAllLines(Paths.get(dir, "_LOG")).size == 3,
      "the log line of the crashed publish is on disk")
    assert(TableLog.read(dir) == TableLog.Head(2L, "a,a1;b;"),
      "readers must still see the previous head")
    assert(TableLog.versions(dir) == Seq(1L -> "a;b;", 2L -> "a,a1;b;"),
      "a version the head never adopted must not be listed")
    // the next publish takes the stranded number; its line wins
    assert(TableLog.publish(dir, "a3;b;") == 3L)
    assert(TableLog.versions(dir) ==
      Seq(1L -> "a;b;", 2L -> "a,a1;b;", 3L -> "a3;b;"))
  }

  test("crash window: a batch generation written but not flipped is adopted exactly once on replay") {
    val dir = table()
    TableLog.publish(dir, "gen_boot")
    var writes = 0
    def write(gen: String)(head: String): Unit = {
      writes += 1
      val g = Files.createDirectories(Paths.get(dir, gen))
      Files.writeString(g.resolve("from"), head)
      Files.createFile(g.resolve("_SUCCESS")); ()
    }
    def adopt(gen: String)(head: String) = Option.when(head != gen)(gen)
    TableLog.batchSteps(dir, "gen_0", adopt("gen_0"))(write("gen_0"))
      .take(1).foreach(_()) // written, then the crash
    assert(writes == 1 && TableLog.head(dir) == "gen_boot")
    // the replay finds the generation and re-issues only the flip
    TableLog.commitBatch(dir, "gen_0", adopt("gen_0"))(write("gen_0"))
    assert(writes == 1, "a replay must never rewrite its generation")
    assert(TableLog.read(dir) == TableLog.Head(2L, "gen_0"))
    // a second replay is a no-op: the generation is adopted exactly once
    TableLog.commitBatch(dir, "gen_0", adopt("gen_0"))(write("gen_0"))
    assert(writes == 1 &&
      TableLog.versions(dir) == Seq(1L -> "gen_boot", 2L -> "gen_0"))
    // the next batch merges into the adopted generation
    TableLog.commitBatch(dir, "gen_1", adopt("gen_1"))(write("gen_1"))
    assert(Files.readString(Paths.get(dir, "gen_1", "from")) == "gen_0")
    assert(TableLog.head(dir) == "gen_1")
  }

  test("source lint: only TableLog names a head file or renames atomically") {
    val root = Paths.get("src/main/scala")
    val offenders = scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator.asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "TableLog.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if Seq("\"_HEAD\"", "\"HEAD\"", "ATOMIC_MOVE")
                .exists(line.contains) => s"${root.relativize(p)}:${i + 1}"
          }
        }
    }
    assert(offenders.isEmpty, s"commit protocol outside TableLog: $offenders")
  }
}
