package graft.ingest

import graft.SparkTestBase
import graft.lake.SnapshotLog
import graft.model.SchemaBuilder
import graft.queries.CdcQueries
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CompactionSpec extends SparkTestBase {

  /** Data files per day in the table's current manifest. */
  private def fileCounts(dir: String): Map[String, Int] =
    SnapshotLog.currentSnapshot(spark, dir).toSeq.flatMap(_.files)
      .groupBy(_.partition).view.mapValues(_.size).toMap

  test("compaction rewrites many-file partitions without changing data") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    // simulate the reference's per-micro-batch accretion: 6 appends
    val envelope = CdcQueries.envelope(spark, sf0001)
    (1 to 6).foreach(_ => CdcWriter.appendCommit(spark, dir, envelope))

    val before = fileCounts(dir)
    assert(before.nonEmpty && before.values.forall(_ >= 6))
    val rowsBefore = CdcWriter.read(spark, dir).count()
    val checksumBefore = CdcWriter.read(spark, dir)
      .agg(sum(col("event_id")), sum(col("user_id"))).collect()(0)

    val compacted = SnapshotLog.compact(spark, dir,
      Some(SchemaBuilder.partitionColumn), maxFiles = 4)
    assert(compacted.sorted === before.keys.toSeq.sorted)

    val after = fileCounts(dir)
    assert(after.keySet === before.keySet)
    assert(after.values.forall(_ === 1))
    // content unchanged: same rows, same checksums, still pruned reads
    assert(CdcWriter.read(spark, dir).count() === rowsBefore)
    assert(CdcWriter.read(spark, dir)
      .agg(sum(col("event_id")), sum(col("user_id"))).collect()(0) === checksumBefore)
    // idempotent: nothing left oversized
    assert(SnapshotLog.compact(spark, dir,
      Some(SchemaBuilder.partitionColumn), maxFiles = 4) === Seq.empty)
  }

  test("registered cdc_compaction_roundtrip leaves one file per day") {
    val dir = graft.queries.Lifecycle.compactionRoundtripSetup(spark, sf0001)
    val snaps = SnapshotLog.snapshots(spark, dir)
    // the fragmented state the fold started from: every day in 8 files
    val fragmented = snaps.find(_.operation == "replace").flatMap(r =>
      snaps.find(s => r.parentId.contains(s.id))).get
      .files.groupBy(_.partition).view.mapValues(_.size).toMap
    assert(fragmented.nonEmpty, "fragmented write produced no day partitions")
    assert(fragmented.values.forall(_ === graft.queries.Lifecycle.CompactionFragments),
      s"under-fragmented partitions: $fragmented")
    val counts = fileCounts(dir)
    assert(counts.keySet === fragmented.keySet)
    assert(counts.values.forall(_ === 1), s"uncompacted partitions: $counts")
  }
}
