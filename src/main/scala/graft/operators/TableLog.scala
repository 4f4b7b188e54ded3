package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The one commit protocol of every pointer-flip store: the lakehouse
  * tables (OCC, WAP, the index table), the vector and graph stores and
  * the streaming sinks. A table is a directory holding two files that
  * only this object names:
  *
  *  - `_HEAD` — `<version> <payload>`, replaced atomically: the version
  *    readers see. The payload is opaque here; each store encodes its
  *    own (a manifest name, lists of generation dirs).
  *  - `_LOG` — one `v<version> <payload>` line per publish.
  *
  * Publishing version v runs three steps in order: stage v's artifacts,
  * append v's log line, flip the head. A crash leaves a prefix of them:
  * staged files no version names, or a log line above the head's
  * version. Version numbers come from the head (head + 1), never from
  * the log's length, so the next publish reuses an unadopted number and
  * its line supersedes the stranded one; `versions` keeps the last line
  * per version up to the head's. README "Stores" lists the tested crash
  * windows. */
private[graft] object TableLog {

  final case class Head(version: Long, payload: String)

  /** One lock per JVM: a head read, an optional validation and a
    * publish form one critical section. */
  private val lock = new Object

  private def headPath(dir: String): Path = Paths.get(dir, "_HEAD")
  private def logPath(dir: String): Path = Paths.get(dir, "_LOG")

  /** Atomic small-file publish: write a temp sibling unique to this
    * writer, then rename it over the target. A reader sees the old
    * content or the new, never a torn file, and two writers of one
    * target never share a temp file. */
  def atomicWrite(path: Path, content: String): Unit = {
    val tmp = Files.createTempFile(path.toAbsolutePath.getParent,
      s".${path.getFileName}.", ".tmp")
    try {
      Files.write(tmp, content.getBytes(UTF_8))
      replace(tmp, path)
    } finally Files.deleteIfExists(tmp)
    ()
  }

  /** The one atomic rename in graft: `tmp` over `path`, in one directory
    * (also the java.nio checkpoint file manager's overwrite). */
  def replace(tmp: Path, path: Path): Unit = {
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The head, from one read of `_HEAD`. */
  def read(dir: String): Head = {
    val Array(v, payload) =
      new String(Files.readAllBytes(headPath(dir)), UTF_8).split(" ", 2)
    Head(v.toLong, payload)
  }

  def head(dir: String): String = read(dir).payload

  def version(dir: String): Long = read(dir).version

  /** Every version the head adopted, ascending, with its payload. */
  def versions(dir: String): Seq[(Long, String)] = {
    // head first: the log line of every version up to it already exists
    val adopted = version(dir)
    Files.readAllLines(logPath(dir), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(v, payload) = line.split(" ", 2)
        (v.drop(1).toLong, payload)
      }.filter(_._1 <= adopted).toMap.toSeq.sortBy(_._1)
  }

  def publish(dir: String, payload: String): Long = commit(dir)(_ => payload)

  /** Publish the next version v; `stage(v)` writes v's artifacts while
    * the head is still v − 1 and returns v's payload. */
  def commit(dir: String)(stage: Long => String): Long = lock.synchronized {
    val v = if (Files.exists(headPath(dir))) version(dir) + 1 else 1L
    steps(dir, v, stage).foreach(_())
    v
  }

  /** Optimistic publish by a writer that planned against version
    * `base`; `files(v)` lists version v's data files. Under the lock an
    * unmoved head commits without reading any file list. A moved head
    * rebases unless the versions since `base` replaced a file in
    * `guarded`, then `check(head, added files)` may refuse too. A
    * refusal throws IllegalStateException with the head and the log
    * untouched. Returns the version and "committed" or "rebased". */
  def occPublish(dir: String, base: Long, guarded: Set[String],
                 files: Long => Set[String],
                 check: (Long, Set[String]) => Unit = (_, _) => ())
                (stage: Long => String): (Long, String) = lock.synchronized {
    val (v, outcome, publishSteps) =
      occSteps(dir, base, guarded, files, check)(stage)
    publishSteps.foreach(_())
    (v, outcome)
  }

  /** A micro-batch's commit of generation dir `gen`, whose `_SUCCESS`
    * marks it complete. If absent, `write(head payload)` writes it (or
    * declines, leaving no marker); if present, `adopt(head payload)` is
    * the payload that adopts it — None once the head names it. A
    * replay never writes a generation twice, and re-issues a flip that
    * a crash after the write left undone. */
  def commitBatch(dir: String, gen: String, adopt: String => Option[String])
                 (write: String => Unit): Unit = lock.synchronized {
    batchSteps(dir, gen, adopt)(write).foreach(_())
  }

  /** Publishing version v as steps in commit order — stage, log, flip.
    * Running all of them is the publish; a crash runs a prefix. */
  private[graft] def steps(dir: String, v: Long,
                           stage: Long => String): Seq[() => Unit] = {
    lazy val payload = stage(v)
    Seq(
      () => { payload; () },
      () => {
        Files.write(logPath(dir), s"v$v $payload\n".getBytes(UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        ()
      },
      () => atomicWrite(headPath(dir), s"$v $payload"))
  }

  /** occPublish's validation, run now, and its publish steps. */
  private[graft] def occSteps(dir: String, base: Long, guarded: Set[String],
                              files: Long => Set[String],
                              check: (Long, Set[String]) => Unit)
                             (stage: Long => String)
      : (Long, String, Seq[() => Unit]) = {
    val head = version(dir)
    val outcome =
      if (head == base) "committed"
      else {
        val (was, now) = (files(base), files(head))
        val clash = guarded.intersect(was -- now)
        if (clash.nonEmpty) throw new IllegalStateException(
          s"occ conflict: base v$base is stale and commits up to v$head " +
            s"replaced ${clash.size} file(s) this writer guards — rebase " +
            "impossible, aborting")
        check(head, now -- was)
        "rebased"
      }
    (head + 1, outcome, steps(dir, head + 1, stage))
  }

  /** commitBatch as steps: write the generation, then adopt it. */
  private[graft] def batchSteps(dir: String, gen: String,
                                adopt: String => Option[String])
                               (write: String => Unit): Seq[() => Unit] = {
    val h = read(dir)
    def written = Files.exists(Paths.get(dir, gen, "_SUCCESS"))
    Seq(
      () => if (!written) write(h.payload),
      () => if (written) adopt(h.payload).foreach { p =>
        steps(dir, h.version + 1, _ => p).foreach(_())
      })
  }
}
