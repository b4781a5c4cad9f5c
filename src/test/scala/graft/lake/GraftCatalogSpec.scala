package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The DSv2 SQL surface over the commit log: resolution, time travel,
  * manifest pruning (measured via [[GraftScanStats]] — file counts, not
  * plans), residual-filter safety, metadata tables, and DDL. The pruning
  * contract under test: dropping a manifest entry is only ever an
  * optimization — every SQL result must be identical with pruning active
  * because Spark re-applies all predicates post-scan. */
class GraftCatalogSpec extends SparkTestBase {

  private val cat = "gtest"

  private def register(wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  /** One commit of (id, v, lsn, day) rows, day-partitioned, LSN bounds. */
  private def commitDays(dir: String, rows: Seq[(Long, Long, String, String)],
                         op: String = "append"): SnapshotLog.Snapshot = {
    import spark.implicits._
    val df = rows.toDF("id", "v", graft.ingest.Cdc.LsnColumn, "_cdc_date")
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, df, Some("_cdc_date"))
      SnapshotLog.commit(spark, dir, op, df.schema, cur, add = files)
    }
  }

  private def lsn(i: Int): String = f"$i%016d"

  /** 3 days × 2 commits; LSN ranges disjoint per commit. */
  private def buildTable(): (String, String) = {
    val wh = Files.createTempDirectory("graft-cat").toString
    val dir = s"$wh/ns/t"
    commitDays(dir, Seq(
      (1L, 10L, lsn(1), "2024-01-01"), (2L, 20L, lsn(2), "2024-01-02")))
    commitDays(dir, Seq(
      (3L, 30L, lsn(3), "2024-01-02"), (4L, 40L, lsn(4), "2024-01-03")))
    register(wh)
    (wh, dir)
  }

  private def ids(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select(col("id").cast("long")).as[Long].collect().toSeq.sorted
  }

  test("SQL SELECT resolves the current manifest; partition filter prunes files") {
    val (_, dir) = buildTable()
    val out = spark.sql(
      s"SELECT id, v FROM $cat.ns.t WHERE _cdc_date = '2024-01-02' ORDER BY id")
    assert(ids(out) === Seq(2L, 3L))
    // 4 files (one per day per commit); day 01-02 lives in 2 of them
    val (kept, total) = GraftScanStats.lastScan(dir).get
    assert(total === 4L)
    assert(kept === 2L)
  }

  test("stats-bounds filter prunes to the overlapping commit's files") {
    val (_, dir) = buildTable()
    val c = graft.ingest.Cdc.LsnColumn
    val out = spark.sql(
      s"SELECT id FROM $cat.ns.t WHERE $c >= '${lsn(3)}' ORDER BY id")
    assert(ids(out) === Seq(3L, 4L))
    val (kept, total) = GraftScanStats.lastScan(dir).get
    assert(total === 4L)
    assert(kept === 2L) // only commit 2's files can hold lsn >= 3
  }

  test("EXPLAIN shows pushed filters and the pruned read schema") {
    buildTable()
    val plan = spark.sql(
      s"SELECT id FROM $cat.ns.t WHERE v > 15").queryExecution
      .executedPlan.toString
    // the eligible table plans the NATIVE batch scan (GraftBatchScanSpec
    // pins the eligibility split); pushed filter + pruned projection
    // stay visible in its description
    assert(plan.contains("GraftBatchScan"))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(v,15)"))
    assert(plan.contains("columns=id,v"))
  }

  test("untranslatable predicates keep every file and stay correct") {
    val (_, dir) = buildTable()
    val out = spark.sql(s"SELECT id FROM $cat.ns.t WHERE id % 2 = 0 ORDER BY id")
    assert(ids(out) === Seq(2L, 4L))
    val (kept, total) = GraftScanStats.lastScan(dir).get
    assert(kept === total) // modulo never prunes; correctness unharmed
  }

  test("column pruning and count(*) (empty projection) work through the V1 bridge") {
    val (_, _) = buildTable()
    import spark.implicits._
    assert(spark.sql(s"SELECT v FROM $cat.ns.t ORDER BY v").as[Long].collect()
      === Array(10L, 20L, 30L, 40L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() === 4L)
  }

  test("VERSION AS OF id / tag / branch head; TIMESTAMP AS OF; loud unknowns") {
    val (_, dir) = buildTable()
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 1")) === Seq(1L, 2L))
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 2")) === Seq(1L, 2L, 3L, 4L))
    SnapshotLog.tag(spark, dir, "trainrun", 1L)
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 'trainrun'")) === Seq(1L, 2L))
    // a branch head resolves through the same version syntax
    SnapshotLog.createBranch(spark, dir, "audit")
    import spark.implicits._
    SnapshotLog.appendToBranch(spark, dir, "audit",
      Seq((9L, 90L, lsn(9), "2024-01-09"))
        .toDF("id", "v", graft.ingest.Cdc.LsnColumn, "_cdc_date"),
      Some("_cdc_date"))
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 'audit'"))
      === Seq(1L, 2L, 3L, 4L, 9L))
    // main is unchanged by the staged branch commit
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t")) === Seq(1L, 2L, 3L, 4L))
    // future timestamp → current snapshot
    assert(ids(spark.sql(
      s"SELECT id FROM $cat.ns.t TIMESTAMP AS OF '2100-01-01 00:00:00'"))
      === Seq(1L, 2L, 3L, 4L))
    val e1 = intercept[Exception](
      spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 'nope'").collect())
    assert(e1.getMessage.contains("nope"))
    val e2 = intercept[Exception](
      spark.sql(s"SELECT id FROM $cat.ns.t TIMESTAMP AS OF '1990-01-01 00:00:00'").collect())
    assert(e2.getMessage.toLowerCase.contains("no snapshot"))
  }

  test("positional deletes apply transparently to SQL reads") {
    val (_, dir) = buildTable()
    SnapshotLog.deleteWhere(spark, dir, col("id") === 2L)
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t")) === Seq(1L, 3L, 4L))
    // and time travel still sees the pre-delete state
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 2"))
      === Seq(1L, 2L, 3L, 4L))
  }

  test("metadata tables ride nested identifiers, measured from the manifest") {
    val (_, dir) = buildTable()
    import spark.implicits._
    val snaps = spark.sql(
      s"SELECT snapshot_id, n_rows FROM $cat.ns.t.snapshots ORDER BY snapshot_id")
      .as[(Long, Long)].collect().toSeq
    assert(snaps === Seq((1L, 2L), (2L, 4L)))
    val cur = spark.sql(
      s"SELECT snapshot_id FROM $cat.ns.t.history WHERE is_current")
      .as[Long].collect().toSeq
    assert(cur === Seq(2L))
    SnapshotLog.tag(spark, dir, "pin", 1L)
    val refs = spark.sql(
      s"SELECT ref_name, ref_type, snapshot_id FROM $cat.ns.t.refs ORDER BY ref_name")
      .as[(String, String, Long)].collect().toSeq
    assert(refs === Seq(("main", "branch", 2L), ("pin", "tag", 1L)))
    val files = spark.sql(
      s"SELECT count(*), sum(n_rows) FROM $cat.ns.t.files")
      .as[(Long, Long)].head()
    assert(files === ((4L, 4L)))
    val parts = spark.sql(
      s"SELECT partition, n_files, n_rows FROM $cat.ns.t.partitions ORDER BY partition")
      .as[(String, Long, Long)].collect().toSeq
    assert(parts === Seq(("2024-01-01", 1L, 1L), ("2024-01-02", 2L, 2L),
      ("2024-01-03", 1L, 1L)))
  }

  test("DDL: create/list/drop tables and namespaces, loud on misuse") {
    val wh = Files.createTempDirectory("graft-cat-ddl").toString
    register(wh)
    spark.sql(s"CREATE NAMESPACE $cat.db1")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0))
      .contains("db1"))
    spark.sql(s"CREATE TABLE $cat.db1.empty (id BIGINT, v STRING)")
    assert(spark.sql(s"SHOW TABLES IN $cat.db1").collect()
      .map(_.getString(1)) === Array("empty"))
    // an empty created table reads as zero rows under its declared schema
    val out = spark.sql(s"SELECT * FROM $cat.db1.empty")
    assert(out.columns.toSeq === Seq("id", "v"))
    assert(out.count() === 0L)
    // invalid identifiers are rejected before any filesystem touch
    intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db1.`bad-name` (id BIGINT)"))
    // non-cascade drop of a non-empty namespace fails loudly
    intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.db1"))
    spark.sql(s"DROP TABLE $cat.db1.empty")
    assert(spark.sql(s"SHOW TABLES IN $cat.db1").collect().isEmpty)
    spark.sql(s"DROP NAMESPACE $cat.db1")
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("db1"))
  }

  test("INSERT INTO appends, INSERT OVERWRITE replaces — each one atomic snapshot") {
    val wh = Files.createTempDirectory("graft-cat-ins").toString
    register(wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 30)")
    assert(ids(spark.sql(s"SELECT id FROM $cat.db.t")) === Seq(1L, 2L, 3L))
    // an empty INSERT is a no-op: no snapshot, no 0-row manifest entries
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, v FROM $cat.db.t WHERE id < 0")
    assert(SnapshotLog.snapshotIds(spark, s"$wh/db/t") === Seq(1L, 2L, 3L))
    assert(SnapshotLog.currentSnapshot(spark, s"$wh/db/t").get.files
      .forall(_.rows > 0L))
    spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES (9, 90)")
    assert(ids(spark.sql(s"SELECT id FROM $cat.db.t")) === Seq(9L))
    // the overwrite is a snapshot, not a wipe: version 3 still reads whole
    assert(ids(spark.sql(s"SELECT id FROM $cat.db.t VERSION AS OF 3"))
      === Seq(1L, 2L, 3L))
    assert(SnapshotLog.snapshotIds(spark, s"$wh/db/t") === Seq(1L, 2L, 3L, 4L))
  }

  test("INSERT INTO a day-partitioned table keeps the partition layout prunable") {
    val (wh, dir) = buildTable()
    spark.sql(s"INSERT INTO $cat.ns.t VALUES " +
      s"(8, 80, '${lsn(8)}', '2024-01-08'), (9, 90, '${lsn(9)}', '2024-01-01')")
    val out = spark.sql(
      s"SELECT id FROM $cat.ns.t WHERE _cdc_date = '2024-01-08'")
    assert(ids(out) === Seq(8L))
    val (kept, total) = GraftScanStats.lastScan(dir).get
    assert(total === 6L) // 4 original + 2 inserted day files
    assert(kept === 1L)  // the new day prunes to its own file
  }

  test("DELETE FROM routes through positional deletes; full DELETE truncates") {
    val wh = Files.createTempDirectory("graft-cat-del").toString
    register(wh)
    spark.sql(s"CREATE TABLE $cat.t2 (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t2 VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"DELETE FROM $cat.t2 WHERE v >= 20")
    assert(ids(spark.sql(s"SELECT id FROM $cat.t2")) === Seq(1L))
    // the delete wrote slots, not data files
    val cur = SnapshotLog.currentSnapshot(spark, s"$wh/t2").get
    assert(cur.posDeletes.map(_.rows).sum === 2L)
    assert(cur.files.size ===
      SnapshotLog.snapshotAt(spark, s"$wh/t2", 2).files.size)
    // DELETE with no predicate = truncate to an empty live set
    spark.sql(s"DELETE FROM $cat.t2")
    assert(spark.sql(s"SELECT * FROM $cat.t2").count() === 0L)
    assert(ids(spark.sql(s"SELECT id FROM $cat.t2 VERSION AS OF 2"))
      === Seq(1L, 2L, 3L))
  }

  test("CREATE TABLE AS SELECT lands as create + one append commit") {
    val wh = Files.createTempDirectory("graft-cat-ctas").toString
    register(wh)
    spark.sql(s"CREATE TABLE $cat.src (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.src VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"CREATE TABLE $cat.derived AS " +
      s"SELECT id, v * 2 AS v2 FROM $cat.src WHERE id > 1")
    assert(ids(spark.sql(s"SELECT id FROM $cat.derived")) === Seq(2L, 3L))
    import spark.implicits._
    assert(spark.sql(s"SELECT v2 FROM $cat.derived ORDER BY v2")
      .as[Long].collect().toSeq === Seq(40L, 60L))
    assert(SnapshotLog.snapshotIds(spark, s"$wh/derived") === Seq(1L, 2L))
  }

  test("ALTER TABLE ADD COLUMN is add-only, metadata-only evolution") {
    val wh = Files.createTempDirectory("graft-cat-alter").toString
    register(wh)
    spark.sql(s"CREATE TABLE $cat.ev (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev VALUES (1, 10)")
    spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN w BIGINT")
    // pre-evolution rows surface the new column as null
    import spark.implicits._
    assert(spark.sql(s"SELECT w FROM $cat.ev").as[Option[Long]].collect()
      === Array(None))
    // post-evolution inserts carry it; the evolve commit moved no bytes
    spark.sql(s"INSERT INTO $cat.ev VALUES (2, 20, 200)")
    assert(spark.sql(s"SELECT sum(w) FROM $cat.ev").as[Long].head() === 200L)
    val dir = s"$wh/ev"
    val snaps = SnapshotLog.snapshots(spark, dir)
    assert(snaps.map(_.operation) === Seq("create", "append",
      "evolve-schema", "append"))
    assert(snaps(2).files === snaps(1).files)
    // time travel reads the OLD schema before the evolution
    assert(spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 2").columns.toSeq
      === Seq("id", "v"))
    // drops and renames are field-id evolution commits (metadata-only;
    // old files resolve by id) — full semantics in SchemaEvolutionSpec
    spark.sql(s"ALTER TABLE $cat.ev RENAME COLUMN v TO vv")
    assert(spark.sql(s"SELECT sum(vv) FROM $cat.ev").as[Long].head() === 30L)
    spark.sql(s"ALTER TABLE $cat.ev RENAME COLUMN vv TO v")
    // a case-insensitive duplicate would make every later reference
    // ambiguous; NOT NULL is unsatisfiable for pre-evolution rows
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN V BIGINT"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN z BIGINT NOT NULL"))
  }

  test("manifest statistics are reported; joins broadcast at runtime") {
    val (_, dir) = buildTable()
    // the scan's estimate is the manifest-measured size (footer sums,
    // zero I/O); the join outcome is pinned through AQE's runtime re-plan
    val snap = SnapshotLog.currentSnapshot(spark, dir).get
    val scan = new GraftBatchScan(spark, dir, snap, snap.schema, Array.empty)
    val est = scan.estimateStatistics()
    assert(est.sizeInBytes.getAsLong === snap.files.map(_.sizeBytes).sum)
    assert(est.numRows.getAsLong === 4L)
    // pruning narrows the estimate with the file set
    val pruned = new GraftBatchScan(spark, dir, snap, snap.schema,
      Array(org.apache.spark.sql.sources.EqualTo("_cdc_date", "2024-01-01")))
    assert(pruned.estimateStatistics().numRows.getAsLong === 1L)
    // a join against a big frame ends as a broadcast join at runtime
    spark.range(200000).toDF("id").createOrReplaceTempView("gcat_big")
    val df = spark.sql(
      s"SELECT count(*) FROM gcat_big b JOIN $cat.ns.t t ON b.id = t.id")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"expected runtime broadcast join, got:\n$finalPlan")
  }

  test("mixed partition specs prune per-file: identity exact, month conservative") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-cat-spec").toString
    val dir = s"$wh/ns/t"
    // commit 1: identity-partitioned days; commit 2: month-spec files
    // (partition-spec evolution mid-table)
    val idRows = Seq((1L, lsn(1), "2024-01-05"), (2L, lsn(2), "2024-02-05"))
      .toDF("id", graft.ingest.Cdc.LsnColumn, "_cdc_date")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, idRows, Some("_cdc_date"))
      SnapshotLog.commit(spark, dir, "append", idRows.schema, parent = None,
        add = files)
    }
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir).get
      val moRows = Seq((3L, lsn(3), "2024-01-20"), (4L, lsn(4), "2024-02-20"))
        .toDF("id", graft.ingest.Cdc.LsnColumn, "_cdc_date")
        .withColumn("_month", substring(col("_cdc_date"), 1, 7))
      val files = SnapshotLog.writeData(spark, dir,
        moRows, Some("_month"), spec = Some("month"))
      SnapshotLog.commit(spark, dir, "append", cur.schema, Some(cur), add = files)
    }
    register(wh)
    // equality on a January day: keeps the identity 01-05 file and the
    // January month file; prunes the February files of BOTH specs
    val out = spark.sql(
      s"SELECT id FROM $cat.ns.t WHERE _cdc_date = '2024-01-05'")
    assert(ids(out) === Seq(1L))
    val (kept, total) = GraftScanStats.lastScan(dir).get
    assert(total === 4L)
    assert(kept === 2L)
    // a February range: identity 02-05 + February month file
    val out2 = spark.sql(
      s"SELECT id FROM $cat.ns.t WHERE _cdc_date >= '2024-02-01'")
    assert(ids(out2) === Seq(2L, 4L))
    assert(GraftScanStats.lastScan(dir).get._1 === 2L)
  }

  test("a pinned snapshot is immune to commits that land mid-query") {
    val (_, dir) = buildTable()
    // resolve the table (pins snapshot 2), then commit snapshot 3
    val pinned = spark.sql(s"SELECT id FROM $cat.ns.t")
    commitDays(dir, Seq((7L, 70L, lsn(7), "2024-01-07")))
    // the already-analyzed plan still reads snapshot 2's file set
    assert(ids(pinned) === Seq(1L, 2L, 3L, 4L))
    // a fresh statement sees snapshot 3
    assert(ids(spark.sql(s"SELECT id FROM $cat.ns.t")) === Seq(1L, 2L, 3L, 4L, 7L))
  }
}
