package graft.ingest

import graft.SparkTestBase
import graft.lake.SnapshotLog
import graft.model.SchemaBuilder
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[CdcWriter.morMerge]]: merge-on-read upserts (Iceberg v2 equality
  * deletes) through the [[SnapshotLog]]. The registered `cdc_mor_merge`
  * query hash-checks MOR state at every snapshot against a full replay;
  * this spec pins the PHYSICAL contract the hash can't see — a MOR merge
  * writes O(|delta|) bytes and never touches a stored file (the write-
  * amplification win over COW), sequence ranking applies deletes to
  * exactly the older files, folds and rollbacks preserve state, and the
  * refusal paths fail loudly. */
class MorMergeSpec extends SparkTestBase {

  private def env(rows: (Long, Long, Double, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "event_id", "value", Cdc.OpColumn, "day")
      .withColumn(Cdc.TsColumn,
        to_timestamp(concat(col("day"), lit(" 12:00:00"))))
      .withColumn(Cdc.LsnColumn, lpad(col("event_id").cast("string"), 16, "0"))
      .drop("day")
  }

  private def dataFileIds(dir: String): Seq[(String, Long, Long)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.currentSnapshot(spark, dir).get.files.sortBy(_.path).map { f =>
      val st = fs.getFileStatus(new Path(s"$dir/${f.path}"))
      (f.path, st.getLen, st.getModificationTime)
    }
  }

  private def state(dir: String): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
  }

  test("MOR merge writes only the delta: stored files byte-identical, deletes rank by seq") {
    val dir = Files.createTempDirectory("graft-mor").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01"),
      (3L, 3L, 3.0, "INSERT", "2024-01-02")), Seq("user_id"))
    val snap1Files = dataFileIds(dir)
    assert(SnapshotLog.currentSnapshot(spark, dir).get.deletes.isEmpty,
      "first commit has nothing older to delete")

    // batch 2: update key 1 (two versions — collapses to newest), delete
    // key 2, insert key 4
    CdcWriter.morMerge(spark, dir, env(
      (1L, 10L, 10.0, "UPDATE", "2024-01-03"),
      (1L, 11L, 11.0, "UPDATE", "2024-01-03"),
      (2L, 12L, 0.0, "DELETE", "2024-01-03"),
      (4L, 13L, 4.0, "INSERT", "2024-01-03")), Seq("user_id"))
    val snap2 = SnapshotLog.currentSnapshot(spark, dir).get
    assert(snap2.deletes.size === 1)
    // every snapshot-1 file carried byte-for-byte — the merge never read
    // or rewrote the stored table (the O(|delta|) write bound)
    val carried = dataFileIds(dir).filter(f => snap1Files.exists(_._1 == f._1))
    assert(carried === snap1Files)
    assert(state(dir) === Seq((1L, 11L, 11.0), (3L, 3L, 3.0), (4L, 13L, 4.0)))

    // batch 3: re-insert deleted key 2 — its row sits at seq 3, the
    // batch-2 delete at seq 2 does NOT outrank it (revival works)
    CdcWriter.morMerge(spark, dir, env(
      (2L, 20L, 22.0, "INSERT", "2024-01-04")), Seq("user_id"))
    assert(state(dir) === Seq(
      (1L, 11L, 11.0), (2L, 20L, 22.0), (3L, 3L, 3.0), (4L, 13L, 4.0)))
    // time travel: snapshot 2 still reads the pre-revival state
    val s2 = SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 2L))
    assert(s2.filter(col("user_id") === 2L).count() === 0L)
  }

  test("MOR read plan: delete application is a broadcast join, data side never shuffles") {
    val dir = Files.createTempDirectory("graft-morplan").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "INSERT", "2024-01-01")), Seq("user_id"))
    CdcWriter.morMerge(spark, dir, env(
      (2L, 5L, 0.0, "DELETE", "2024-01-02")), Seq("user_id"))
    val plan = CdcWriter.read(spark, dir).queryExecution.executedPlan.toString
    // the delete set is delta-sized and must broadcast; a sort-merge join
    // here would shuffle the entire stored table per read at 100 TB
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"stored table shuffled:\n$plan")
  }

  test("foldDeletes materializes the delete set away; history stays exact; expire reclaims") {
    val dir = Files.createTempDirectory("graft-morfold").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "INSERT", "2024-01-01")), Seq("user_id"))
    CdcWriter.morMerge(spark, dir, env(
      (2L, 5L, 0.0, "DELETE", "2024-01-02"),
      (3L, 6L, 3.0, "INSERT", "2024-01-02")), Seq("user_id"))
    val pre = state(dir)
    val folded = SnapshotLog.foldDeletes(spark, dir,
      Some(SchemaBuilder.partitionColumn)).get
    assert(folded.operation === "replace" && folded.deletes.isEmpty)
    assert(state(dir) === pre)
    // pre-fold snapshots still resolve their own file+delete sets
    val s2 = SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 2L))
    assert(s2.filter(col("user_id") === 2L).count() === 0L)
    // fold is idempotent: nothing left to fold
    assert(SnapshotLog.foldDeletes(spark, dir, Some(SchemaBuilder.partitionColumn)).isEmpty)
    // expiring history reclaims the delete file and the shadowed data
    val deleted = SnapshotLog.expire(spark, dir, keepLast = 1)
    assert(deleted > 0)
    assert(state(dir) === pre)
  }

  test("rollback re-exposes a historical snapshot's exact file and delete sets") {
    val dir = Files.createTempDirectory("graft-morroll").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01")), Seq("user_id"))
    CdcWriter.morMerge(spark, dir, env(
      (1L, 5L, 9.0, "UPDATE", "2024-01-02"),
      (2L, 6L, 2.0, "INSERT", "2024-01-02")), Seq("user_id"))
    val at2 = state(dir)
    CdcWriter.morMerge(spark, dir, env(
      (1L, 7L, 0.0, "DELETE", "2024-01-03")), Seq("user_id"))
    assert(state(dir) === Seq((2L, 6L, 2.0)))
    val rb = SnapshotLog.rollback(spark, dir, 2L)
    assert(rb.id === 4L && rb.operation === "rollback" && rb.parentId === Some(3L))
    assert(state(dir) === at2)
    // history is intact — the rolled-past snapshot still reads
    assert(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 3L))
      .filter(col("user_id") === 1L).count() === 0L)
  }

  test("COW merge on a MOR table carries live deletes for untouched days") {
    val dir = Files.createTempDirectory("graft-morcow").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "INSERT", "2024-01-02")), Seq("user_id"))
    CdcWriter.morMerge(spark, dir, env(
      (2L, 5L, 0.0, "DELETE", "2024-01-03")), Seq("user_id"))
    // COW merge touching ONLY day 3's key space (new key, new day): day-1
    // and day-2 files carry — key 2 must stay dead via the carried delete
    CdcWriter.merge(spark, dir, env(
      (9L, 9L, 9.0, "INSERT", "2024-01-04")), Seq("user_id"))
    assert(state(dir) === Seq((1L, 1L, 1.0), (9L, 9L, 9.0)))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.deletes.nonEmpty)
  }

  test("a COW merge that rewrites every day retires the live deletes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morcow-all").toString + "/t"
    val batches = Seq(
      env((1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-02"),
        (3L, 3L, 3.0, "INSERT", "2024-01-02")),
      env((2L, 5L, 0.0, "DELETE", "2024-01-02"), (1L, 6L, 10.0, "UPDATE", "2024-01-01")))
    batches.foreach(CdcWriter.morMerge(spark, dir, _, Seq("user_id")))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.deletes.nonEmpty)
    // keys 1 and 3 live on both stored days: the merge rewrites every file
    val cow = env((3L, 7L, 30.0, "UPDATE", "2024-01-02"),
      (1L, 8L, 11.0, "UPDATE", "2024-01-01"))
    assert(CdcWriter.merge(spark, dir, cow, Seq("user_id")) ===
      Seq("2024-01-01", "2024-01-02"))
    val snap = SnapshotLog.currentSnapshot(spark, dir).get
    assert(snap.deletes.isEmpty && snap.posDeletes.isEmpty)
    val expected = Cdc.currentState((batches :+ cow).reduce(_ unionByName _), Seq("user_id"))
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(state(dir) === expected)
    assert(expected === Seq((1L, 8L, 11.0), (3L, 7L, 30.0)))
  }

  test("incremental append-scan: added files only, replace skipped, merges refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morinc").toString + "/t"
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01")))
    CdcWriter.appendCommit(spark, dir, env(
      (2L, 2L, 2.0, "INSERT", "2024-01-01"),
      (3L, 3L, 3.0, "INSERT", "2024-01-02")))
    CdcWriter.appendCommit(spark, dir, env(
      (4L, 4L, 4.0, "INSERT", "2024-01-02")))
    val added = SnapshotLog.readIncremental(spark, dir, 1L, 3L)
      .select($"user_id").as[Long].collect().sorted
    assert(added.toSeq === Seq(2L, 3L, 4L))
    // compaction in the window contributes nothing
    SnapshotLog.compact(spark, dir, Some(SchemaBuilder.partitionColumn), maxFiles = 1)
    val across = SnapshotLog.readIncremental(spark, dir, 1L, 4L)
      .select($"user_id").as[Long].collect().sorted
    assert(across.toSeq === Seq(2L, 3L, 4L))
    // a rewrite-class snapshot in the window fails loudly
    CdcWriter.merge(spark, dir, env(
      (1L, 9L, 9.9, "UPDATE", "2024-01-01")), Seq("user_id"))
    val ex = intercept[IllegalArgumentException] {
      SnapshotLog.readIncremental(spark, dir, 1L, 5L)
    }
    assert(ex.getMessage.contains("non-append"))
  }

  test("changelog: net per-commit upserts and deletes; rewrites refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morcl").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "DELETE", "2024-01-01")), Seq("user_id")) // no prior state: no delete row
    CdcWriter.morMerge(spark, dir, env(
      (1L, 5L, 0.0, "DELETE", "2024-01-02"),
      (3L, 6L, 3.0, "INSERT", "2024-01-02"),
      (3L, 7L, 4.0, "UPDATE", "2024-01-02")), Seq("user_id"))
    val cl = SnapshotLog.readChangelog(spark, dir, 0L, 2L)
      .select($"_change_snapshot_id", $"_change_type", $"user_id",
        $"event_id", $"value")
      .as[(Long, String, Long, Option[Long], Option[Double])]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(cl === Seq(
      (1L, "upsert", 1L, Some(1L), Some(1.0)),
      (2L, "delete", 1L, None, None),
      (2L, "upsert", 3L, Some(7L), Some(4.0))))
    // a fold in the window is a no-op; a COW merge is refused
    SnapshotLog.foldDeletes(spark, dir, Some(SchemaBuilder.partitionColumn))
    assert(SnapshotLog.readChangelog(spark, dir, 0L, 3L)
      .count() === 3L)
    CdcWriter.merge(spark, dir, env(
      (9L, 9L, 9.0, "INSERT", "2024-01-03")), Seq("user_id"))
    assert(intercept[IllegalArgumentException] {
      SnapshotLog.readChangelog(spark, dir, 0L, 4L)
    }.getMessage.contains("non-append"))
  }

  test("COW widening of a delete KEY column on a MOR table is refused (fold first)") {
    val dir = Files.createTempDirectory("graft-morwiden").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "INSERT", "2024-01-02")), Seq("user_id"))
    CdcWriter.morMerge(spark, dir, env(
      (2L, 5L, 0.0, "DELETE", "2024-01-03")), Seq("user_id"))
    // widening user_id long->double would rewrite data files but STRAND
    // the delete files at int64 under a double key schema — every later
    // read would crash on a committed table; the merge must refuse
    val widen = env((9L, 9L, 9.0, "INSERT", "2024-01-05"))
      .withColumn("user_id", col("user_id").cast("double"))
    assert(intercept[IllegalArgumentException] {
      CdcWriter.merge(spark, dir, widen, Seq("user_id"))
    }.getMessage.contains("foldDeletes"))
    // after a fold the same widening merge is clean
    SnapshotLog.foldDeletes(spark, dir, Some(SchemaBuilder.partitionColumn))
    CdcWriter.merge(spark, dir, widen, Seq("user_id"))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.schema("user_id").dataType ===
      org.apache.spark.sql.types.DoubleType)
  }

  test("an expired snapshot inside an incremental window fails loudly, not silently") {
    val dir = Files.createTempDirectory("graft-morexp").toString + "/t"
    CdcWriter.appendCommit(spark, dir, env((1L, 1L, 1.0, "INSERT", "2024-01-01")))
    CdcWriter.appendCommit(spark, dir, env((2L, 2L, 2.0, "INSERT", "2024-01-01")))
    CdcWriter.appendCommit(spark, dir, env((3L, 3L, 3.0, "INSERT", "2024-01-01")))
    SnapshotLog.expire(spark, dir, keepLast = 1)
    // a consumer that fell behind must hear "your window is gone", not
    // receive a feed silently missing snapshot 2's rows
    assert(intercept[IllegalArgumentException] {
      SnapshotLog.readIncremental(spark, dir, 1L, 3L)
    }.getMessage.contains("expired"))
    assert(intercept[IllegalArgumentException] {
      SnapshotLog.readChangelog(spark, dir, 1L, 3L)
    }.getMessage.contains("expired"))
  }

  test("refusals: TRUNCATE deltas, unreadable widening, compact-with-deletes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morrefuse").toString + "/t"
    CdcWriter.morMerge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01")), Seq("user_id"))
    CdcWriter.morMerge(spark, dir, env(
      (2L, 2L, 2.0, "INSERT", "2024-01-02")), Seq("user_id"))

    val truncMarker = env((999L, 4L, 0.0, "TRUNCATE", "2024-01-03"))
      .withColumn("user_id", lit(null).cast("long"))
    val trunc = env((3L, 3L, 3.0, "INSERT", "2024-01-03"))
      .unionByName(truncMarker)
    assert(intercept[IllegalArgumentException] {
      CdcWriter.morMerge(spark, dir, trunc, Seq("user_id"))
    }.getMessage.contains("TRUNCATE"))

    // long->double on a stored long column needs a physical rewrite
    val widening = env((1L, 5L, 0.0, "UPDATE", "2024-01-03"))
      .withColumn("event_id", col("event_id").cast("double"))
    assert(intercept[IllegalArgumentException] {
      CdcWriter.morMerge(spark, dir, widening, Seq("user_id"))
    }.getMessage.contains("reconcile"))

    // a merely NARROWER delta is fine: its int files read under the
    // stored long column; the schema keeps the stored (wider) type
    val narrower = env((3L, 6L, 6.0, "INSERT", "2024-01-03"))
      .withColumn("event_id", col("event_id").cast("int"))
    val sn = CdcWriter.morMerge(spark, dir, narrower, Seq("user_id"))
    assert(sn.schema("event_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(state(dir).contains((3L, 6L, 6.0)))

    assert(intercept[IllegalArgumentException] {
      SnapshotLog.compact(spark, dir, Some(SchemaBuilder.partitionColumn), maxFiles = 1)
    }.getMessage.contains("foldDeletes"))
  }
}
