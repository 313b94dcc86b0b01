package graft.fs

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.AbstractFileSystem

import graft.SparkSuite
import graft.model.OplogEntry
import graft.sources.OplogConnector
import graft.streaming.{OplogApply, QuorumDedup}

/** Checkpoint I/O of a stateful streaming query starts no process: the
  * session binds `file:` to [[NioLocalFs]], so offset logs, commit logs
  * and state-store deltas never reach Hadoop's `Shell` (`chmod`,
  * `readlink`). Caveat: this covers FileContext, which is not cached.
  * `FileSystem.get` is cached per scheme and user, so a `file:`
  * FileSystem created in the JVM before the session keeps the stock
  * class for FileSystem-API callers. */
class ForkFreeCheckpointSpec extends SparkSuite {

  private val CheckCorrectness = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"

  private def line(h: Long, sec: Int): String =
    s"""{"ts":"2024-01-01T00:00:${f"$sec%02d"}.000Z","tsInc":$sec,"h":$h,"op":"i","ns":"t.c","o":"{\\"_id\\":$h}","o2":null,"sourceHost":"ignored"}"""

  private def writeMember(root: String, host: String, port: Int, name: String,
      rows: Seq[String]): Unit = {
    val dir = OplogConnector.memberDir(root, "s0", host, port)
    new java.io.File(dir).mkdirs()
    Files.write(Paths.get(s"$dir/$name.json"), rows.mkString("\n").getBytes("UTF-8"))
  }

  private def writeBatch(root: String, name: String, hs: Seq[Long]): Unit =
    Seq("r1" -> 1, "r2" -> 2, "r3" -> 3).foreach { case (host, port) =>
      writeMember(root, host, port, name, hs.map(h => line(h, h.toInt % 60)))
    }

  test("connector -> quorum -> apply checkpoints two micro-batches without forking a shell") {
    implicit val s = spark
    import s.implicits._
    assert(AbstractFileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFs])

    val root = Files.createTempDirectory("graft-forkfree").toFile.getAbsolutePath
    writeBatch(root, "b0", 1L to 4L)
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val jfr = try {
      val src = spark.readStream.format("graft.sources.OplogSourceProvider")
        .option("topology", "s0/r1:1,r2:2,r3:3").load(root).as[OplogEntry]
      // the chain of two stateful operators, as OplogApplySpec runs it
      spark.conf.set(CheckCorrectness, "false")
      val q = try OplogApply.currentState(QuorumDedup(src.withWatermark("ts", "10 seconds"), 3))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[OplogApply.DocState], _: Long) =>
          rows.addAndGet(b.count()); ()
        }
        .start()
      finally spark.conf.unset(CheckCorrectness)
      try {
        q.processAllAvailable()
        writeBatch(root, "b1", 5L to 8L)
        q.processAllAvailable()
      } finally q.stop()
      val out = Files.createTempFile("graft-forkfree", ".jfr")
      rec.stop()
      rec.dump(out)
      out
    } finally rec.close()

    assert(rows.get == 8L, "both micro-batches applied every quorum-complete op")
    val shellForks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
    }
    assert(shellForks.size == 0,
      s"${shellForks.size} Hadoop Shell forks, e.g. ${shellForks.take(3).map(_.getString("command"))}")
  }
}
