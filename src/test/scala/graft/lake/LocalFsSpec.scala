package graft.lake

import graft.SparkTestBase
import graft.ingest.{Cdc, CdcWriter, EnvelopeDecoder}
import graft.queries.CdcQueries
import graft.reliability.RetryPolicy
import graft.streaming.{IngestConfig, IngestPipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import java.io.FileNotFoundException
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem ([[GraftLocalFileSystem]],
  * [[GraftLocalFs]]): the lake writers and the streaming checkpoint
  * spawn no `chmod`/`readlink` process, and the two in-process
  * operations answer what Hadoop's forking ones answer. */
class LocalFsSpec extends SparkTestBase {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** `command: frames` of every process `body` starts whose stack runs
    * through Hadoop's `Shell`, recorded JVM-wide (write tasks included)
    * with the in-process JFR API. */
  private def shellSpawns(body: => Unit): Seq[String] = {
    // Shell's class initializer probes `setsid` once per JVM; load it
    // first so only per-file spawns can show up in the window
    org.apache.hadoop.util.Shell.isSetsidAvailable: Unit
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (frames.exists(_.startsWith("org.apache.hadoop.util.Shell")))
          Some(s"${e.getString("command")}: ${frames.take(12).mkString(" < ")}")
        else None
      }
    } finally { rec.close(); Files.deleteIfExists(file): Unit }
  }

  private def envelope(ids: Seq[Long], lsnBase: Int) = {
    import spark.implicits._
    ids.zipWithIndex.map { case (id, i) =>
      (id, id * 10, 1.0, "INSERT",
        java.sql.Timestamp.valueOf(f"2024-01-${(id % 3) + 1}%02d 00:00:00"),
        f"${lsnBase + i}%016d")
    }.toDF("user_id", "event_id", "value", Cdc.OpColumn, Cdc.TsColumn, Cdc.LsnColumn)
  }

  private def walLine(lsn: Long): String =
    s"""{"before":null,"after":{"user_id":$lsn,"event_id":$lsn,"value":1.5},"op":"c",""" +
      s""""ts_ms":${1704067200000L + lsn * 3600000L},""" +
      s""""source":{"schema":"public","table":"events","lsn":$lsn,"txId":$lsn}}"""

  test("merges, appends and a checkpointed stream spawn no Hadoop shell process") {
    val mergeDir = tmp("graft-localfs-merge")
    val appendDir = tmp("graft-localfs-append")
    val logDir = tmp("graft-localfs-wal")
    Files.writeString(java.nio.file.Paths.get(logDir, "wal-0.json"),
      (1L to 20L).map(walLine).mkString("", "\n", "\n"))
    val cfg = IngestConfig(outDir = tmp("graft-localfs-out"), dlqDir = tmp("graft-localfs-dlq"),
      checkpointDir = tmp("graft-localfs-ckpt"), retry = RetryPolicy(maxAttempts = 1))
    var batches = 0L

    val spawns = shellSpawns {
      CdcWriter.merge(spark, mergeDir, envelope(1L to 30L, 0), Seq("event_id"))
      CdcWriter.merge(spark, mergeDir, envelope(Seq(2L, 5L, 31L), 100), Seq("event_id"))
      CdcWriter.appendCommit(spark, appendDir, envelope(1L to 10L, 200))
      val raw = spark.readStream.format("graft.sources.CdcLogSource")
        .option("path", logDir).option("maxEventsPerBatch", 10).load()
      val decoded = EnvelopeDecoder.flattened(
        EnvelopeDecoder.decode(raw, "value", CdcQueries.SourcePayloadSchema))
      val q = IngestPipeline.start(decoded, cfg, availableNow = true)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0).toLong
    }

    // the steps really ran: 31 merged keys, 10 appended rows, 20 streamed
    assert(CdcWriter.read(spark, mergeDir).count() === 31)
    assert(CdcWriter.read(spark, appendDir).count() === 10)
    assert(CdcWriter.read(spark, s"${cfg.outDir}/events").count() === 20)
    assert(batches === 2)
    assert(spawns.size === 0, s"shell spawns, first five:\n${spawns.take(5).mkString("\n")}")
  }

  test("file: resolves to the engine's classes in a session with no filesystem conf") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf(),
                     new Configuration())) {
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[GraftRawLocalFileSystem])
      assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    }
  }

  test("created files and directories get stock Hadoop's mode bits, umask applied") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def modes(fs: RawLocalFileSystem): (String, String, String) = {
        fs.initialize(new java.net.URI("file:///"), conf)
        val root = tmp("graft-localfs-mode")
        fs.create(new Path(s"$root/f")).close()
        fs.mkdirs(new Path(s"$root/a/b"))
        def mode(rel: String) = java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(java.nio.file.Paths.get(root, rel)))
        (mode("f"), mode("a"), mode("a/b"))
      }
      val stock = modes(new RawLocalFileSystem)
      assert(modes(new GraftRawLocalFileSystem) === stock, s"umask $umask")
      if (umask == "027") assert(stock === (("rw-r-----", "rwxr-x---", "rwxr-x---")))
    }
  }

  test("getFileLinkStatus still reports real symlinks and missing paths") {
    val conf = new Configuration()
    val fs = FileSystem.getLocal(conf).getRaw
    val fc = FileContext.getLocalFSFileContext(conf)
    val root = tmp("graft-localfs-link")
    val target = java.nio.file.Paths.get(root, "target")
    Files.writeString(target, "x")
    val link = Files.createSymbolicLink(java.nio.file.Paths.get(root, "link"), target)
    val stock = new RawLocalFileSystem
    stock.initialize(new java.net.URI("file:///"), conf)
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)),
                   fc.getFileLinkStatus(new Path(link.toString)))) {
      assert(st.isSymlink)
      assert(st.getSymlink === stock.getFileLinkStatus(new Path(link.toString)).getSymlink)
      assert(st.getSymlink.toUri.getPath === target.toString)
    }
    // a plain file is its file status
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen === 1)
    val missing = new Path(s"$root/missing")
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }
}
