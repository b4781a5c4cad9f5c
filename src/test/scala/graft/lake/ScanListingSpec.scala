package graft.lake

import graft.SparkTestBase
import graft.ingest.{Cdc, CdcWriter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot reads plan their splits from the manifest: no read may run
  * Spark's file-listing job, which `InMemoryFileIndex` starts as a
  * distributed job once a read names more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths.
  * Both fixtures hold more than 32 data files. */
class ScanListingSpec extends AnyFunSuite with SparkTestBase {

  /** Descriptions of the listing jobs `body` starts. The listener sees
    * the whole session, so nothing else may run on it meanwhile. */
  private def listingJobs(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files and directories"))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(500) // job events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray.toSeq.map(_.toString)
  }

  private def envelope(ids: Seq[Long], lsnBase: Int, days: Int) = {
    import spark.implicits._
    ids.zipWithIndex.map { case (id, i) =>
      (id, id * 10, 1.0, "INSERT",
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(id % days).atStartOfDay()),
        f"${lsnBase + i}%016d")
    }.toDF("user_id", "event_id", "value",
      Cdc.OpColumn, Cdc.TsColumn, Cdc.LsnColumn)
  }

  test("reading a snapshot of 240 fragment files runs no listing job") {
    val pcol = graft.model.SchemaBuilder.partitionColumn
    val dir = java.nio.file.Files.createTempDirectory("scanlisting").toString + "/t"
    // the compaction round-trip's layout: 30 days, 8 fragment files each
    val env = CdcWriter.withPartitionColumn(envelope(1L to 720L, 100, days = 30))
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir,
        env.withColumn("_fragment",
          concat_ws("_", col(pcol), pmod(floor(col("user_id") / 30), lit(8)))),
        Some("_fragment"))
        .map(f => f.copy(partition = f.partition.takeWhile(_ != '_')))
      SnapshotLog.commit(spark, dir, "append", env.schema, parent = None,
        add = files)
    }
    val snap = SnapshotLog.currentSnapshot(spark, dir).get
    assert(snap.files.size === 240)
    var n = 0L
    val jobs = listingJobs {
      n = SnapshotLog.read(spark, dir, snap).count()
    }
    assert(n === 720L)
    assert(jobs.isEmpty, s"listing jobs: $jobs")
  }

  test("an update merge over a table of more than 32 files runs no listing job") {
    val dir = java.nio.file.Files.createTempDirectory("mergelisting").toString + "/t"
    CdcWriter.merge(spark, dir, envelope(1L to 400L, 100, days = 40), Seq("user_id"))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.size > 32)
    val jobs = listingJobs {
      CdcWriter.merge(spark, dir, envelope(Seq(2L, 5L), 1000, days = 40),
        Seq("user_id"))
    }
    assert(jobs.isEmpty, s"listing jobs: $jobs")
    assert(CdcWriter.read(spark, dir).count() === 400L)
  }
}
