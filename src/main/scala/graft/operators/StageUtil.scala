package graft.operators

import scala.jdk.CollectionConverters._

/** The one staging module (README "Staging"): every dir an operator
  * stages once per JVM goes through `staged`, under one root.
  *
  * It also holds the fixture→topic copy (ADVICE r10): every file-source
  * "topic" dir is fed by copying a parquet dataset that is EITHER a
  * single file (the driver fixture) OR a directory of part files
  * (ScaleProbe clone tiers, planted spec fixtures). A bare `Files.copy`
  * on the directory shape silently creates an EMPTY topic — the bug
  * class StreamIO fixed twice (r8 dupEventsDir, r10 eventsDir) before
  * PipelineOps copied the broken form.
  */
private[graft] object StageUtil {

  /** The parquet payload files of `src`: itself if a plain file, else
    * its `*.parquet` children (part files). Fails loudly on an empty
    * directory — the silent-empty-topic failure mode this exists for. */
  def parquetParts(src: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (java.nio.file.Files.isDirectory(src)) {
      // Files.list holds a directory handle until closed (ADVICE r11:
      // leaked one handle per staging call) — materialize then close
      val ps = scala.util.Using.resource(java.nio.file.Files.list(src)) { s =>
        s.iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      }
      require(ps.nonEmpty, s"no parquet part files under $src")
      ps
    } else Seq(src)

  /** Copy every payload file of `src` into the (created) `target` topic
    * dir as `<prefix>_NNN.parquet`. */
  def stageTopic(src: java.nio.file.Path, target: java.nio.file.Path,
                 prefix: String): Unit = {
    java.nio.file.Files.createDirectories(target)
    parquetParts(src).zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p, target.resolve(f"${prefix}_$i%03d.parquet"))
    }
  }

  /** Flat file-copy of one parquet dataset dir (part files + _SUCCESS)
    * into `dst` — the cheap way to instantiate a fresh store from a
    * once-per-JVM staged template instead of re-running a Spark write
    * per instantiation (r17: the streaming store inits re-wrote the
    * identical v1 artifact on every invocation). */
  def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dst)
    val copied =
      scala.util.Using.resource(java.nio.file.Files.list(src)) { st =>
        st.iterator.asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map { p =>
            java.nio.file.Files.copy(p, dst.resolve(p.getFileName.toString))
          }.map(_.getFileName.toString).toSeq
      }
    // same loud-failure rule as parquetParts: a template that went
    // partitioned (subdirs) or empty must fail HERE, not as an empty
    // store three operators downstream. A partitioned template still
    // leaves a top-level _SUCCESS regular file, so `copied > 0` alone
    // passes on it (ADVICE r17) — demand actual parquet payload.
    require(copied.exists(_.endsWith(".parquet")),
      s"no parquet payload files to copy under $src (got: $copied)")
  }

  /** The one per-JVM root every operator path resolves under (README
    * "Staging"): once-per-JVM stagings and per-call dirs alike, so
    * concurrent JVMs never share a path. Stagings stay for the JVM's
    * life and the root is wiped when the JVM exits; per-call dirs
    * (`StreamRunner.fresh`) are deleted at drain. The exit wipe is best
    * effort: a task still writing under the root can make it fail. */
  private lazy val stageRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_stage")
    sys.addShutdownHook(scala.util.Try(wipe(r)))
    r
  }
  private val stageLock = new Object

  def root: String = stageRoot.toString

  /** Delete `dir` and everything under it; a missing dir is a no-op. */
  def wipe(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { w =>
        w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator.asScala.foreach(java.nio.file.Files.delete)
      }
    }

  /** The staging key of data dir `d`: `prefix_<d, non-alphanumerics as
    * _>_<abs hash of d>`. Sanitizing alone maps `/t/a_b` and `/t/a/b`
    * to one name and the hash alone maps `Aa` and `BB` to one; the pair
    * tells them apart. */
  def key(prefix: String, d: String): String =
    s"${prefix}_${d.replaceAll("[^A-Za-z0-9]", "_")}_${math.abs(d.hashCode)}"

  /** The dir `key(prefix, d)` under the root, filled by `build` at most
    * once per JVM. Every build runs under one reentrant lock: a build may
    * call `staged` again, but must never wait on another thread that
    * does. The dir is complete only once `_GRAFT_STAGED` exists, written
    * after `build` returns; without it the dir is wiped and rebuilt, so
    * an interrupted build never latches half-staged data. */
  def staged(prefix: String, d: String)(build: String => Unit): String =
    stageLock.synchronized {
      val dir = stageRoot.resolve(key(prefix, d))
      val marker = dir.resolve("_GRAFT_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        wipe(dir)
        java.nio.file.Files.createDirectories(dir)
        build(dir.toString)
        java.nio.file.Files.createFile(marker)
      }
      dir.toString
    }
}
