package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StageUtil
import graft.sources.LocalCheckpointFileManager

/** The java.nio checkpoint file manager keeps Spark's contract on a
  * local dir (README "Streams"): files written by it read back through
  * Spark's default manager, and the other way round. */
class CheckpointFilesSpec extends AnyFunSuite {

  private def dir(): Path = {
    val d = Files.createTempDirectory(Paths.get(StageUtil.root), "ckpt-files")
    new Path(d.toUri)
  }
  private val conf = new Configuration()
  private def nioFm(d: Path) = new LocalCheckpointFileManager(d, conf)
  private def sparkFm(d: Path) = new FileContextBasedCheckpointFileManager(d, conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(fm: CheckpointFileManager, d: Path): Set[String] =
    fm.list(d).map(_.getPath.getName).toSet

  test("a file written by createAtomic is visible only at close and reads back through Spark's manager") {
    val d = dir()
    val fm = nioFm(d)
    assert(fm.isLocal)
    assert(fm.createCheckpointDirectory() == sparkFm(d).createCheckpointDirectory())
    val sub = new Path(d, "offsets/nested")
    fm.mkdirs(sub)
    val p = new Path(sub, "0")
    val out = fm.createAtomic(p, false)
    out.write("v1".getBytes(UTF_8))
    assert(!fm.exists(p), "the target showed before close")
    out.close()
    assert(read(sparkFm(d), p) == "v1")
    assert(names(fm, sub) == Set("0"), "a temp file is left in the dir")
  }

  test("without overwrite an existing target throws Hadoop's FileAlreadyExistsException and keeps its bytes") {
    val d = dir()
    val fm = nioFm(d)
    val p = new Path(d, "1")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(sparkFm(d), p) == "first")
    assert(names(fm, d) == Set("1"), "a temp file is left in the dir")
  }

  // Spark's FileContext manager reads without checking the .crc; a read
  // through Hadoop's FileSystem API, as Spark's FileSystem-based manager
  // does, checks it
  test("an overwrite of a file Spark's manager wrote, with its .crc, reads back the new bytes through both of Spark's managers") {
    val d = dir()
    val p = new Path(d, "2.delta")
    write(sparkFm(d), p, "old bytes", overwrite = true)
    assert(Files.exists(Paths.get(new Path(d, ".2.delta.crc").toUri)),
      "Spark's manager wrote no .crc, so this checks nothing")
    write(nioFm(d), p, "new, longer bytes", overwrite = true)
    assert(read(sparkFm(d), p) == "new, longer bytes")
    assert(read(new FileSystemBasedCheckpointFileManager(d, conf), p) == "new, longer bytes")
    write(sparkFm(d), p, "third", overwrite = true)
    assert(read(nioFm(d), p) == "third")
  }

  test("cancel leaves no file, and no temp file is ever left in the listing") {
    val d = dir()
    val fm = nioFm(d)
    val p = new Path(d, "3")
    val out = fm.createAtomic(p, true)
    out.write("never".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(fm, d).isEmpty)
    assert(scala.util.Using.resource(Files.list(Paths.get(d.toUri)))(_.count()) == 0,
      "cancel left a file behind")
  }
}
