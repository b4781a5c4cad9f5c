package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL CALL surface: every maintenance procedure through the real
  * `CALL <cat>.system.<proc>(...)` statement, with measured effects. */
class GraftProceduresSpec extends SparkTestBase {

  private val cat = "gproc"

  private def fresh(): (String, String) = {
    val wh = Files.createTempDirectory("graft-proc").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT)")
    (wh, s"$wh/db/t")
  }

  private def call(sql: String): Long = {
    import spark.implicits._
    spark.sql(sql).as[Long].head()
  }

  private def ids(q: String): Seq[Long] = {
    import spark.implicits._
    spark.sql(q).as[Long].collect().toSeq.sorted
  }

  test("rewrite_data_files + expire_snapshots with tag protection") {
    val (_, dir) = fresh()
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO $cat.db.t VALUES ($i, ${i * 10})"))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.size === 3)
    // compact 3 files → 1 under a replace snapshot (id 5)
    assert(call(s"CALL $cat.system.rewrite_data_files(" +
      s"table => 'db.t', max_files => 1)") === 1L)
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.size === 1)
    // tag the last pre-compaction snapshot: its files survive expiry
    assert(call(s"CALL $cat.system.create_tag(" +
      s"table => 'db.t', tag => 'pre', snapshot_id => 4)") === 4L)
    // the tag protects every data file snapshot 4 references — the only
    // sweepables are the 4 _SUCCESS markers the 4 writes left behind.
    // Those markers are FRESH never-referenced debris: the procedure's
    // default orphan-cleanup grace shields them…
    assert(call(s"CALL $cat.system.expire_snapshots(" +
      s"table => 'db.t', keep_last => 1)") === 0L)
    // …and an explicit grace 0 sweeps them now
    assert(call(s"CALL $cat.system.expire_snapshots(" +
      s"table => 'db.t', keep_last => 1, debris_grace_ms => 0)") === 4L)
    assert(ids(s"SELECT id FROM $cat.db.t VERSION AS OF 'pre'") === Seq(1L, 2L, 3L))
    // untag → the replaced small files become reclaimable
    assert(call(s"CALL $cat.system.drop_tag(table => 'db.t', tag => 'pre')") === 1L)
    assert(call(s"CALL $cat.system.expire_snapshots(" +
      s"table => 'db.t', keep_last => 1)") === 3L)
    assert(ids(s"SELECT id FROM $cat.db.t") === Seq(1L, 2L, 3L))
  }

  test("fold_deletes retires the live delete set; rollback restores state") {
    val (_, dir) = fresh()
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2")
    assert(SnapshotLog.currentSnapshot(spark, dir).get.posDeletes.nonEmpty)
    val folded = call(s"CALL $cat.system.fold_deletes(table => 'db.t')")
    assert(folded === SnapshotLog.currentSnapshot(spark, dir).get.id)
    assert(SnapshotLog.currentSnapshot(spark, dir).get.posDeletes.isEmpty)
    assert(ids(s"SELECT id FROM $cat.db.t") === Seq(1L, 3L))
    // rollback to the pre-delete snapshot: id 2 lives again
    assert(call(s"CALL $cat.system.rollback_to_snapshot(" +
      s"table => 'db.t', snapshot_id => 2)") ===
      SnapshotLog.currentSnapshot(spark, dir).get.id)
    assert(ids(s"SELECT id FROM $cat.db.t") === Seq(1L, 2L, 3L))
  }

  test("a cluster_by table refuses a COW merge until normalize_layout") {
    import spark.implicits._
    import graft.ingest.{Cdc, CdcWriter}
    val (wh, _) = fresh()
    val dir = s"$wh/db/e"
    def env(rows: (Long, Double, String, String, String)*) =
      rows.toDF("id", "v", Cdc.OpColumn, "day", Cdc.LsnColumn)
        .withColumn(Cdc.TsColumn, to_timestamp(concat(col("day"), lit(" 12:00:00"))))
        .drop("day")
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 1.0, "INSERT", "2024-01-01", "0000000000000001"),
      (2L, 2.0, "INSERT", "2024-01-02", "0000000000000002")))
    call(s"CALL $cat.system.cluster_by(table => 'db.e', column => 'v', splits => '1.5')")
    val update = env((1L, 10.0, "UPDATE", "2024-01-01", "0000000000000003"))
    val e = intercept[IllegalArgumentException](
      CdcWriter.merge(spark, dir, update, Seq("id")))
    assert(e.getMessage.contains("CALL <catalog>.system.normalize_layout("))
    assert(call(s"CALL $cat.system.normalize_layout(table => 'db.e')") ===
      SnapshotLog.currentSnapshot(spark, dir).get.id)
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.map(_.partition)
      .distinct.sorted === Seq("2024-01-01", "2024-01-02"))
    assert(CdcWriter.merge(spark, dir, update, Seq("id")) === Seq("2024-01-01"))
    assert(spark.sql(s"SELECT id, v FROM $cat.db.e ORDER BY id").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 10.0), (2L, 2.0)))
  }

  test("cluster_by rewrites into range buckets with recorded bounds") {
    val (_, dir) = fresh()
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 5), (2, 15), (3, 25), (4, 35)")
    val snapId = call(s"CALL $cat.system.cluster_by(" +
      s"table => 'db.t', column => 'v', splits => '10, 20, 30')")
    assert(snapId === 3L)
    val snap = SnapshotLog.currentSnapshot(spark, dir).get
    assert(snap.files.size === 4) // one file per non-empty bucket
    assert(snap.files.forall(_.boundsFor("v").isDefined))
    // range pruning works from the clustered bounds
    assert(snap.files.count(GraftPruning.filePredicate(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("v", 12),
      org.apache.spark.sql.sources.LessThanOrEqual("v", 18)))) === 1)
  }

  test("write-audit-publish flows through branch procedures") {
    val (wh, dir) = fresh()
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10)")
    assert(call(s"CALL $cat.system.create_branch(" +
      s"table => 'db.t', branch => 'audit')") === 2L)
    import spark.implicits._
    SnapshotLog.appendToBranch(spark, dir, "audit",
      Seq((2L, 20L)).toDF("id", "v"))
    // staged rows: visible on the branch, invisible on main
    assert(ids(s"SELECT id FROM $cat.db.t VERSION AS OF 'audit'") === Seq(1L, 2L))
    assert(ids(s"SELECT id FROM $cat.db.t") === Seq(1L))
    assert(call(s"CALL $cat.system.fast_forward(" +
      s"table => 'db.t', branch => 'audit')") === 1L)
    assert(ids(s"SELECT id FROM $cat.db.t") === Seq(1L, 2L))
    assert(call(s"CALL $cat.system.drop_branch(" +
      s"table => 'db.t', branch => 'audit')") === 1L)
  }

  test("unknown procedures and namespaces fail loudly") {
    fresh()
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.system.nope(table => 'db.t')").collect())
    assert(e.getMessage.contains("no procedure") ||
      e.getMessage.toLowerCase.contains("nope"))
    intercept[Exception](
      spark.sql(s"CALL $cat.other.expire_snapshots(table => 'db.t')").collect())
    // a path-traversal table argument must never resolve to a dir
    // outside the warehouse
    val e2 = intercept[Exception](spark.sql(
      s"CALL $cat.system.expire_snapshots(table => '../other', keep_last => 1)")
      .collect())
    assert(e2.getMessage.contains("malformed") ||
      e2.getMessage.toLowerCase.contains("identifier") ||
      e2.getMessage.contains("segment"))
    // dot-only names split to zero validatable segments — refused, not
    // silently resolved to the warehouse root
    val e3 = intercept[Exception](spark.sql(
      s"CALL $cat.system.expire_snapshots(table => '..', keep_last => 1)")
      .collect())
    assert(e3.getMessage.contains("malformed"))
  }
}
