package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{MemoUtil, StageUtil, StreamIO}

/** Stream checkpoints start no child process (README "Streams"): without
  * the native Hadoop library, Spark's default checkpoint file manager
  * has Hadoop's local file system start a `chmod` or `readlink` for each
  * file it writes, about 106 per `stream_dedup_within_wm` call. */
class CheckpointForksSpec extends SparkSpec {

  /** Each `jdk.ProcessStart` JFR records while `f` runs: the command and
    * the classes on its stack. */
  private def processStarts(f: => Any): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try f finally rec.stop()
    val file = Files.createTempFile(Paths.get(StageUtil.root), "forks", ".jfr")
    try rec.dump(file) finally rec.close()
    RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => e.getString("command") ->
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
  }

  // one op on a derived stream session, one on the caller's session
  Seq[(String, (SparkSession, String) => DataFrame)](
    "stream_dedup_within_wm" -> StreamIO.streamDedupWithinWm _,
    "stream_checkpoint_recovery" -> StreamIO.checkpointRecovery _).foreach { case (name, op) =>
    test(s"$name: a warm call starts no process from checkpoint code") {
      def call(): Unit = try op(spark, sf).collect() finally MemoUtil.dropScratch()
      call()
      val starts = processStarts {
        call()
        new ProcessBuilder("true").start().waitFor() // the recording's control
      }
      assert(starts.exists(_._1 == "true"), s"the recording missed the control process: $starts")
      val fromCheckpoints = starts.filter(_._2.exists(_.contains("CheckpointFileManager")))
      val n = fromCheckpoints.size
      assert(n == 0, s"of ${starts.size} process starts, from checkpoint code: " +
        fromCheckpoints.groupBy(_._1.split(" ").head).map { case (c, s) => s"$c ${s.size}" }.mkString(", "))
    }
  }
}
