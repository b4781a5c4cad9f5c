package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Optimistic cross-process commit concurrency (ref internal/iceberg/
  * catalog/rest.go:187-217 — CommitSnapshot is conditional on the
  * expected metadata state): a stale-parent APPEND rebases onto the
  * winner instead of failing, no batch is lost, no batch is doubled,
  * row-level DML (deleteWhere / updateWhere / mergeInto) RE-DERIVES
  * against the winner (serializable last-writer order), and raw
  * non-append commits still fail loudly on a stale parent. */
class OptimisticCommitSpec extends SparkTestBase {

  import SnapshotLog.Snapshot

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, f"$i%016d")).toDF("id", graft.ingest.Cdc.LsnColumn)
  }

  private def append(dir: String, df: DataFrame): Snapshot =
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.appendFiles(spark, dir, files, df.schema, cur)
    }

  private def idsOf(dir: String): Seq[Long] = {
    import spark.implicits._
    SnapshotLog.readCurrent(spark, dir).get
      .select(col("id")).as[Long].collect().toSeq.sorted
  }

  test("two interleaved writers: the stale one rebases, both batches land") {
    val dir = Files.createTempDirectory("graft-occ").toString + "/t"
    val base = append(dir, rows(1))
    // writer A resolves the head and writes its data files...
    val filesA = SnapshotLog.writeData(spark, dir, rows(2, 3), None)
    // ...writer B commits first (a second process: the JVM lock can't
    // serialize it, so A's expected parent goes stale)
    val b = append(dir, rows(4))
    assert(b.id === base.id + 1)
    // A's append REBASES: same data files, manifest re-derived from B's
    val a = SnapshotLog.appendFiles(spark, dir, filesA, rows(2, 3).schema,
      expectedParent = Some(base))
    assert(a.id === b.id + 1)
    assert(a.parentId === Some(b.id))
    assert(idsOf(dir) === Seq(1L, 2L, 3L, 4L))
    // nothing doubled: A's files appear exactly once
    val paths = SnapshotLog.currentSnapshot(spark, dir).get.files.map(_.path)
    assert(paths.distinct.size === paths.size)
    // rebased entries carry A's REAL commit id as their seq
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files
      .filter(f => filesA.map(_.path).contains(f.path)).forall(_.seq === a.id))
  }

  test("rebase across a concurrent schema evolution keeps the evolved schema") {
    val dir = Files.createTempDirectory("graft-occ-ev").toString + "/t"
    val base = append(dir, rows(1))
    val filesA = SnapshotLog.writeData(spark, dir, rows(2), None)
    // foreign writer widens the schema before A commits
    import spark.implicits._
    val widened = Seq((10L, f"${10}%016d", "x"))
      .toDF("id", graft.ingest.Cdc.LsnColumn, "extra")
    append(dir, widened)
    val a = SnapshotLog.appendFiles(spark, dir, filesA, rows(2).schema,
      expectedParent = Some(base))
    // the committed schema is the add-only merge: evolution not reverted
    assert(a.schema.fieldNames.contains("extra"))
    val state = SnapshotLog.readCurrent(spark, dir).get
    assert(state.count() === 3L)
    // A's rows read whole under the superset schema (extra = null)
    assert(state.filter(col("id") === 2L && col("extra").isNull).count() === 1L)
  }

  test("a NON-racing narrow append keeps the evolved head schema") {
    val dir = Files.createTempDirectory("graft-occ-nw").toString + "/t"
    import spark.implicits._
    val widened = Seq((1L, f"${1}%016d", "x"))
      .toDF("id", graft.ingest.Cdc.LsnColumn, "extra")
    append(dir, widened)
    // a batch predating the evolution, committed with a CORRECT parent:
    // the head schema must not shrink (add-only merge on every attempt,
    // not only on the rebase path)
    val a = append(dir, rows(2))
    assert(a.schema.fieldNames.contains("extra"))
    assert(SnapshotLog.readCurrent(spark, dir).get
      .filter(col("id") === 1L && col("extra") === "x").count() === 1L)
  }

  test("type reconciliation takes the WIDER side; unreadable conflicts refuse") {
    val dir = Files.createTempDirectory("graft-occ-ty").toString + "/t"
    import spark.implicits._
    // head: v long (as if a concurrent writer already promoted)
    append(dir, Seq((1L, 10L, f"${1}%016d"))
      .toDF("id", "v", graft.ingest.Cdc.LsnColumn))
    // a stale INT batch must not regress the head back to int — the
    // long head reads the int files via Spark's widening
    val narrow = Seq((2, 20, f"${2}%016d")).toDF("id", "v", graft.ingest.Cdc.LsnColumn)
      .select(col("id").cast("int").as("id"), col("v").cast("int").as("v"),
        col(graft.ingest.Cdc.LsnColumn))
    val a = SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, narrow, None)
      SnapshotLog.appendFiles(spark, dir, files, narrow.schema, cur)
    }
    assert(a.schema("v").dataType === org.apache.spark.sql.types.LongType)
    assert(SnapshotLog.readCurrent(spark, dir).get
      .select(sum(col("v"))).as[Long].head() === 30L)
    // long vs double: neither side reads the other without a rewrite —
    // the append refuses loudly instead of committing an unreadable head
    val dbl = Seq((3L, 30.5, f"${3}%016d")).toDF("id", "v", graft.ingest.Cdc.LsnColumn)
    intercept[IllegalArgumentException] {
      SnapshotLog.withTableLock(dir) {
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        val files = SnapshotLog.writeData(spark, dir, dbl, None)
        SnapshotLog.appendFiles(spark, dir, files, dbl.schema, cur)
      }
    }
  }

  test("a rebase onto a concurrent TRUNCATE serializes the append after it") {
    val dir = Files.createTempDirectory("graft-occ-tr").toString + "/t"
    val base = append(dir, rows(1, 2))
    val filesA = SnapshotLog.writeData(spark, dir, rows(3), None)
    // foreign overwrite empties the table
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      SnapshotLog.commit(spark, dir, "overwrite", base.schema, cur,
        remove = _ => true)
    }
    SnapshotLog.appendFiles(spark, dir, filesA, rows(3).schema,
      expectedParent = Some(base))
    assert(idsOf(dir) === Seq(3L)) // truncate then append — serialized
  }

  test("non-append commits still fail loudly on a stale parent") {
    val dir = Files.createTempDirectory("graft-occ-st").toString + "/t"
    val base = append(dir, rows(1))
    append(dir, rows(2))
    intercept[SnapshotLog.ConcurrentCommitException] {
      SnapshotLog.commit(spark, dir, "replace", base.schema, Some(base))
    }
  }

  test("retries are bounded: a commit storm surfaces the failure") {
    val dir = Files.createTempDirectory("graft-occ-rt").toString + "/t"
    val base = append(dir, rows(1))
    append(dir, rows(2))
    val filesA = SnapshotLog.writeData(spark, dir, rows(3), None)
    intercept[SnapshotLog.ConcurrentCommitException] {
      // maxRetries = 0: the stale first attempt must surface
      SnapshotLog.appendFiles(spark, dir, filesA, rows(3).schema,
        expectedParent = Some(base), maxRetries = 0)
    }
    // and the table is uncorrupted: the failed append landed nothing
    assert(idsOf(dir) === Seq(1L, 2L))
  }

  /** Lands a "foreign" append between an operation's snapshot
    * resolution and its commit rename (same-thread reentrant lock =
    * cross-process emulation); fires once. */
  private def foreignAppendOnce(dir: String, df: DataFrame): SnapshotLog.DataFile => Boolean = {
    var injected = false
    _ => {
      if (!injected) { injected = true; append(dir, df) }
      true
    }
  }

  test("a stale-parent deleteWhere re-derives and commits after the winner") {
    val dir = Files.createTempDirectory("graft-occ-del").toString + "/t"
    append(dir, rows(1, 2, 3))
    val out = SnapshotLog.deleteWhere(spark, dir, col("id") === 2L,
      keep = foreignAppendOnce(dir, rows(9)))
    assert(out.isDefined)
    // the delete applied AND the foreign row survived — serial order:
    // initial append, foreign append, delete
    assert(idsOf(dir) === Seq(1L, 3L, 9L))
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 2L, 3L))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.operation === "delete")
  }

  test("a stale-parent updateWhere re-derives; the foreign row is visible to the retry") {
    val dir = Files.createTempDirectory("graft-occ-upd").toString + "/t"
    append(dir, rows(1, 2))
    // the foreign append lands row 9; the retried UPDATE's predicate
    // re-evaluates on the NEW live state, so row 9 is updated too —
    // exactly what running the statement after the winner would do
    val out = SnapshotLog.updateWhere(spark, dir, col("id") >= 2L,
      Map("id" -> (col("id") + 100L)),
      keep = foreignAppendOnce(dir, rows(9)))
    assert(out.isDefined)
    assert(idsOf(dir) === Seq(1L, 102L, 109L))
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 2L, 3L))
  }

  /** Arms the commit test hook: the FIRST commit of `onOp` against
    * `dir` lands a foreign append first (self-disarming before the
    * nested commit, dir-scoped so parallel suites never cross-fire). */
  private def armForeignCommit(dir: String, df: DataFrame, onOp: String): Unit = {
    var fired = false
    SnapshotLog.commitTestHook = (d, op) => {
      if (!fired && d == dir && op == onOp) { fired = true; append(dir, df) }
    }
  }

  private def disarm(): Unit =
    SnapshotLog.commitTestHook = (_, _) => ()

  test("a stale-parent MERGE INTO re-derives against the new current") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-occ-mrg").toString + "/t"
    append(dir, rows(1, 2, 9))
    val src = Seq(2L, 9L).toDF("id")
    try {
      // the foreign append lands row 5 between the merge's resolution
      // and its rename; the retried merge still deletes 2 and 9, and
      // row 5 survives — serial last-writer order
      armForeignCommit(dir, rows(5), onOp = "merge-into")
      val out = SnapshotLog.mergeInto(spark, dir, src, Seq("id"),
        Seq(SnapshotLog.MatchedDelete(None)))
      assert(out.isDefined)
    } finally disarm()
    assert(idsOf(dir) === Seq(1L, 5L))
    // serial order: initial append, foreign append, merge
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 2L, 3L))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.operation === "merge-into")
  }

  test("a stale-parent INSERT OVERWRITE and truncateAll re-derive too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-occ-ow").toString + "/t"
    append(dir, rows(1, 2))
    try {
      armForeignCommit(dir, rows(5), onOp = "overwrite")
      SnapshotLog.sqlInsert(spark, dir,
        rows(7).toDF("id", graft.ingest.Cdc.LsnColumn), overwrite = true)
    } finally disarm()
    // last-writer: the overwrite replaces the foreign row too
    assert(idsOf(dir) === Seq(7L))
    try {
      armForeignCommit(dir, rows(5), onOp = "delete")
      SnapshotLog.truncateAll(spark, dir)
    } finally disarm()
    assert(idsOf(dir) === Seq.empty[Long])
  }

  test("DML retries are bounded: a persistent conflict surfaces after maxRetries") {
    val dir = Files.createTempDirectory("graft-occ-dstorm").toString + "/t"
    append(dir, rows(1, 2))
    intercept[SnapshotLog.ConcurrentCommitException] {
      SnapshotLog.deleteWhere(spark, dir, col("id") === 1L,
        keep = foreignAppendOnce(dir, rows(9)), maxRetries = 0)
    }
    // nothing landed from the failed delete; the foreign append did
    assert(idsOf(dir) === Seq(1L, 2L, 9L))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.operation === "append")
  }

}
