package graft.queries

import graft.SparkTestBase
import graft.lake.SnapshotLog

/** Write-path behavior: day partition layout and partition pruning (Q18). */
class LifecycleSpec extends SparkTestBase {

  test("day-partitioned write prunes the scan on _cdc_date (Q18)") {
    // the registered cdc_write_roundtrip's own table and pruned read path
    val (dir, snap) = Lifecycle.writeRoundtripSetup(spark, sf0001)
    val allDays = snap.files.map(_.partition).distinct
    val kept = SnapshotLog.pruneToDays(snap, Lifecycle.RoundtripDays)
    // the manifest keeps exactly the 7 window days' files (one per day)
    // of ~31 before any file is opened
    assert(allDays.size > 25)
    assert(kept.map(_.partition).sorted === Lifecycle.RoundtripDays)
    val pruned = SnapshotLog.readPruned(spark, dir, snap, kept.toSet)
    // the physical scan plans only the kept files
    assert(pruned.select(org.apache.spark.sql.functions.col("_cdc_date").cast("string"))
      .collect().map(_.getString(0)).toSet.size === 7)
    assert(graft.lake.GraftScanStats.lastScan(dir).map(_._1) === Some(kept.size.toLong))
  }

  test("explain_analyze surfaces non-zero runtime metrics per operator") {
    val rows = graft.SparkEntry.queries("explain_analyze")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // at least one operator actually emitted rows, and a scan is present
    assert(rows.exists(r =>
      r.getAs[String]("metric") == "number of output rows" && r.getAs[Long]("value") > 0))
    assert(rows.exists(_.getAs[String]("operator").toLowerCase.contains("scan")))
  }

  test("DDL entry points reject non-identifier names before building SQL") {
    // ref internal/api/services/query.go:18-53: ^[a-zA-Z_][a-zA-Z0-9_]*$,
    // rejected before any SQL exists — injection can't reach the parser
    val base = java.nio.file.Files.createTempDirectory("graft-ident").toString
    for (bad <- Seq("events bad", "1abc", "a;drop table x", "a-b", "", "a.b")) {
      intercept[IllegalArgumentException] {
        Lifecycle.ensureTable(spark, bad, "t", "id BIGINT", base)
      }
      intercept[IllegalArgumentException] {
        Lifecycle.ensureTable(spark, "graft_ident_ns", bad, "id BIGINT", base)
      }
    }
    // a valid pair passes and is idempotent
    val fq = Lifecycle.ensureTable(spark, "graft_ident_ns", "t_1",
      "id BIGINT", base)
    assert(fq === "graft_ident_ns.t_1")
    assert(Lifecycle.ensureTable(spark, "graft_ident_ns", "t_1",
      "id BIGINT", base) === fq)
    spark.sql("DROP TABLE IF EXISTS graft_ident_ns.t_1")
    spark.sql("DROP NAMESPACE IF EXISTS graft_ident_ns")
  }

  test("catalog_describe covers every column of every table") {
    val rows = graft.SparkEntry.queries("catalog_describe")(spark, sf0001).collect()
    val expected = graft.Tables.names
      .map(t => t -> graft.Tables.load(spark, sf0001, t).schema.size).toMap
    val got = rows.groupBy(_.getAs[String]("table_name")).view.mapValues(_.length).toMap
    assert(got === expected)
    // the embeddings vector column surfaces as a typed array, not a blob
    assert(rows.exists(r => r.getAs[String]("column_name") == "embedding" &&
      r.getAs[String]("data_type") == "FLOAT[]"))
  }
}
