package graft.sources

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.operators.TableLog

/** Spark's default checkpoint file manager with its writes done by
  * java.nio on a local path (README "Streams"). Without the native
  * Hadoop library, Hadoop's local file system starts a `chmod` child
  * process for every dir and temp file it creates and a `readlink` for
  * each side of every FileContext rename (and of its `.crc`), on the
  * stream thread: about 106 processes per `stream_dedup_within_wm` call.
  * Reads, listings and deletes stay Spark's, and a path that is not
  * local takes Spark's code for every call.
  *
  * Spark's contract holds: a file becomes visible only whole, by a
  * rename inside its own directory (`TableLog.replace` when
  * overwriting); without overwrite an existing target is kept and the
  * rename throws Hadoop's `FileAlreadyExistsException`, the class
  * `HDFSMetadataLog` catches; an overwrite first deletes the replaced
  * file's Hadoop `.crc`, which a read through Hadoop's `FileSystem` API
  * would otherwise check the new bytes against. Nothing is fsynced, as
  * on Hadoop's local file system. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = isLocal

  private def nio(p: Path): java.nio.file.Path = Paths.get(fc.makeQualified(p).toUri)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (!local) super.createCheckpointDirectory()
    else {
      val q = fc.makeQualified(path)
      Files.createDirectories(nio(q))
      q
    }

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(nio(p))), null)

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (s, d) = (nio(src), nio(dst))
      if (overwriteIfPossible) {
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        TableLog.replace(s, d)
      } else {
        // a hard link is created only where no file is: the target is
        // never replaced, and the temp file goes either way
        val linked =
          try { Files.createLink(d, s); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              throw new FileAlreadyExistsException(s"$dst already exists")
            // a local file system without hard links
            case _: FileSystemException | _: UnsupportedOperationException => false
          }
        if (linked) Files.delete(s) else super.renameTempFile(src, dst, overwriteIfPossible)
      }
    }
}

object LocalCheckpointFileManager {
  /** The internal conf pair that makes Spark build every checkpoint file
    * manager as this class: the offset, commit and file-source logs, the
    * stream metadata and the state stores (through the session's Hadoop
    * conf). */
  val conf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName
}
