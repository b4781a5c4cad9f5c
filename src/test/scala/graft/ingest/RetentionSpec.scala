package graft.ingest

import graft.SparkTestBase
import graft.lake.SnapshotLog
import graft.queries.CdcQueries
import graft.observe.Metrics
import org.apache.spark.sql.functions._
import java.nio.file.Files

class RetentionSpec extends SparkTestBase {

  test("retention drops only day partitions older than the cutoff (S7)") {
    val dir = Files.createTempDirectory("graft-retention").toString + "/t"
    CdcWriter.appendCommit(spark, dir, CdcQueries.envelope(spark, sf0001))
    def files = SnapshotLog.currentSnapshot(spark, dir).get.files
    def listDays = files.map(_.partition).distinct.sorted
    val before = listDays
    val filesBefore = files
    assert(before.size > 25 && before.head == "2024-01-01")

    val dropped = SnapshotLog.dropDaysBefore(spark, dir, "2024-01-08")
    assert(dropped === before.filter(_ < "2024-01-08"))
    assert(listDays === before.filter(_ >= "2024-01-08"))
    // metadata-only: the retained days keep their exact manifest entries
    // (no file read or rewritten), in one commit
    assert(files.toSet === filesBefore.filter(_.partition >= "2024-01-08").toSet)
    assert(SnapshotLog.snapshots(spark, dir).map(_.operation) === Seq("append", "delete"))
    // data for retained days still reads cleanly
    val remaining = CdcWriter.read(spark, dir)
    assert(remaining.count() > 0)
    // idempotent: second run drops nothing and commits nothing
    assert(SnapshotLog.dropDaysBefore(spark, dir, "2024-01-08") === Seq.empty)
    assert(SnapshotLog.snapshots(spark, dir).size === 2)
  }

  test("retention refuses non-identity partition layouts") {
    val dir = Files.createTempDirectory("graft-retention-spec").toString + "/t"
    CdcWriter.appendCommit(spark, dir, CdcQueries.envelope(spark, sf0001))
    // a month-spec file holds rows on both sides of a day cutoff
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val df = CdcWriter.withPartitionColumn(CdcQueries.envelope(spark, sf0001).limit(10))
      val files = SnapshotLog.writeData(spark, dir,
        df.withColumn("_pmonth", substring(col("_cdc_date"), 1, 7)),
        Some("_pmonth"), spec = Some("month"))
      SnapshotLog.commit(spark, dir, "append", df.schema, cur, add = files)
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.dropDaysBefore(spark, dir, "2024-01-08")
    }
    assert(SnapshotLog.snapshots(spark, dir).size === 2)
  }

  test("streaming ingest feeds the philotes metric surface") {
    import spark.implicits._
    Metrics.reset()
    val listener = new Metrics.Listener
    spark.streams.addListener(listener)
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp, String, String)]
      stream.addData((1L, "INSERT", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "0001", "users"))
      val df = stream.toDF().toDF("event_id", "_cdc_operation", "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
      val cfg = graft.streaming.IngestConfig(
        outDir = Files.createTempDirectory("graft-m-out").toString,
        dlqDir = Files.createTempDirectory("graft-m-dlq").toString,
        checkpointDir = Files.createTempDirectory("graft-m-ckpt").toString)
      graft.streaming.IngestPipeline.start(df, cfg, availableNow = true).awaitTermination()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      var snap = Metrics.snapshot()
      while (!snap.contains("philotes_cdc_events_total") && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); snap = Metrics.snapshot()
      }
      assert(snap.getOrElse("philotes_cdc_events_total", 0.0) >= 1.0)
      assert(snap.getOrElse("philotes_buffer_batches_total", 0.0) >= 1.0)
    } finally {
      spark.streams.removeListener(listener)
      Metrics.reset()
    }
  }
}
