package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** `StreamRunner.startAll` checkpoints through Spark's FileSystem-based
  * manager. Without the native Hadoop library, the default FileContext
  * manager forks `readlink` on every checkpoint rename; a Flight Recorder
  * recording of `jdk.ProcessStart` shows whether any query thread still
  * goes through it, the file sources' own logs included (each source
  * builds its log on its query thread, after `start()` returns, which is
  * why `startAll` leaves the setting on the session).
  */
class CheckpointForkSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmpDir(): String = Files.createTempDirectory("graft-ckpt-forks").toString

  private def ev(id: Long, min: Int, value: Double): Ev =
    Ev(id, Timestamp.valueOf(f"2024-01-01 00:$min%02d:00"), id % 25, "purchase", value,
      s"""{"k": ${value.toInt}}""")

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName)

  test("the six queries' checkpoint writes fork no readlink and never use the FileContext manager") {
    // an earlier startAll in this JVM leaves the setting on the shared session
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    spark.conf.unset(key)
    val files = new EvFiles(spark, tmpDir())
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      val queries = new StreamRunner(spark, new CollectingSink, new CollectingAlerter, tmpDir(), dimDir = sfDir)
        .startAll(files.stream)
      try {
        // a restore after start() races the sources' logs and loses only
        // sometimes, so the recording below cannot be relied on to catch it
        assert(spark.conf.getOption(key).contains(classOf[FileSystemBasedCheckpointFileManager].getName))
        for (batch <- Seq(Seq(ev(1, 1, 50.0), ev(2, 2, 0.5)), Seq(ev(3, 3, 60.0)), Seq(ev(4, 4, 500.0)))) {
          files.add(batch: _*)
          queries.foreach(_.processAllAvailable())
        }
      } finally queries.foreach(_.stop())
      recording.stop()
      val dump = Files.createTempFile("graft-ckpt-forks", ".jfr")
      val events =
        try {
          recording.dump(dump)
          RecordingFile.readAllEvents(dump).asScala.toSeq
        } finally Files.delete(dump)

      // a stream thread is named "stream execution thread for <name> [id = <id>, …]"
      val ids = queries.map(_.id.toString)
      val onQueries = events.filter(e =>
        Option(e.getThread).flatMap(t => Option(t.getJavaName)).exists(n => ids.exists(n.contains)))
      // without the native library every created checkpoint file forks a
      // chmod, so an empty selection means the thread filter matched nothing
      if (!NativeCodeLoader.isNativeCodeLoaded) assert(onQueries.nonEmpty, "no process start on any query thread")
      val viaFileContext = onQueries
        .filter(e =>
          e.getString("command").contains("readlink") ||
            frames(e).exists(_.contains("FileContextBasedCheckpointFileManager")))
        .map(e => s"${e.getThread.getJavaName}: ${e.getString("command")}")
      assert(viaFileContext.isEmpty)
    } finally recording.close()
  }
}
