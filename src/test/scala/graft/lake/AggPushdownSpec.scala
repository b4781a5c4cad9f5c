package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Metadata-only aggregate pushdown (Iceberg's aggregate pushdown over
  * manifest stats): COUNT(*), MIN/MAX over bounds-bearing columns, and
  * day-grouped COUNT(*) are answered from manifest entries alone — the
  * plan is a LocalTableScan, no data file opens. The contract under
  * test: the metadata path engages ONLY where its answer is provably
  * exact, and every other shape falls back to the ordinary scan with
  * identical results. */
class AggPushdownSpec extends SparkTestBase {

  private val cat = "gaggtest"

  private def register(wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  private def lsn(i: Int): String = f"$i%016d"

  private def commitDays(dir: String, rows: Seq[(Long, Long, String, String)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("id", "v", graft.ingest.Cdc.LsnColumn, "_cdc_date")
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, df, Some("_cdc_date"))
      SnapshotLog.commit(spark, dir, "append",
        cur.toSeq.flatMap(_.files) ++ files, df.schema, parent = cur,
        deletes = cur.toSeq.flatMap(_.deletes),
        posDeletes = cur.toSeq.flatMap(_.posDeletes))
    }
  }

  private def buildTable(): (String, String) = {
    val wh = Files.createTempDirectory("graft-aggpush").toString
    val dir = s"$wh/ns/t"
    commitDays(dir, Seq(
      (1L, 10L, lsn(1), "2024-01-01"), (2L, 20L, lsn(2), "2024-01-02")))
    commitDays(dir, Seq(
      (3L, 30L, lsn(3), "2024-01-02"), (4L, 40L, lsn(4), "2024-01-03")))
    register(wh)
    (wh, dir)
  }

  private def metadataAnswered(dir: String)(q: => org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.Row], Boolean) = {
    GraftAggStats.clear(dir)
    val rows = q.collect().toSeq
    (rows, GraftAggStats.lastAgg(dir).isDefined)
  }

  test("COUNT(*) is answered from the manifest: LocalTableScan, no file scan") {
    val (_, dir) = buildTable()
    val df = spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t")
    val (rows, meta) = metadataAnswered(dir)(df)
    assert(rows.map(_.getLong(0)) === Seq(4L))
    assert(meta, "count(*) was not answered from metadata")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected LocalTableScan:\n$plan")
    assert(!plan.contains("BatchScan"), s"file scan in plan:\n$plan")
  }

  test("day-grouped COUNT(*) comes one row per partition from the manifest") {
    val (_, dir) = buildTable()
    val (rows, meta) = metadataAnswered(dir)(spark.sql(
      s"SELECT _cdc_date AS day, count(*) AS n FROM $cat.ns.t " +
        "GROUP BY _cdc_date ORDER BY day"))
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-03", 1L)))
    assert(meta, "grouped count was not answered from metadata")
  }

  test("MIN/MAX ride recorded bounds after a clustering rewrite") {
    val (_, dir) = buildTable()
    // cluster on v: every file then records exact v bounds
    SnapshotLog.clusterBy(spark, dir, "v", Seq(25.0))
    val (rows, meta) = metadataAnswered(dir)(spark.sql(
      s"SELECT min(v) AS mn, max(v) AS mx, count(*) AS n FROM $cat.ns.t"))
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Seq((10L, 40L, 4L)))
    assert(meta, "min/max was not answered from metadata")
    // a column WITHOUT bounds in every file falls back — and matches
    val (rows2, meta2) = metadataAnswered(dir)(spark.sql(
      s"SELECT min(id) AS mn FROM $cat.ns.t"))
    assert(rows2.map(_.getLong(0)) === Seq(1L))
    assert(!meta2, "min over a bounds-less column must not claim metadata")
  }

  test("filters, deletes, and unsupported functions all fall back to the real scan") {
    val (_, dir) = buildTable()
    // a residual filter disables the metadata path
    val (r1, m1) = metadataAnswered(dir)(spark.sql(
      s"SELECT count(*) AS n FROM $cat.ns.t WHERE v > 15"))
    assert(r1.map(_.getLong(0)) === Seq(3L))
    assert(!m1, "filtered count must not claim metadata")
    // avg is not manifest-answerable
    val (r2, m2) = metadataAnswered(dir)(spark.sql(
      s"SELECT avg(v) AS a FROM $cat.ns.t"))
    assert(r2.map(_.getDouble(0)) === Seq(25.0))
    assert(!m2)
    // a live positional delete makes manifest counts upper bounds only
    spark.sql(s"DELETE FROM $cat.ns.t WHERE id = 2")
    val (r3, m3) = metadataAnswered(dir)(spark.sql(
      s"SELECT count(*) AS n FROM $cat.ns.t"))
    assert(r3.map(_.getLong(0)) === Seq(3L))
    assert(!m3, "count over live deletes must not claim metadata")
  }

  test("day-filtered COUNTs are claimed exact and answered from the pruned manifest") {
    val (_, dir) = buildTable()
    // equality window: the IsNotNull + EqualTo conjuncts are CLAIMED
    // (identity pruning is exact), so the aggregate pushes down and the
    // fold runs over the pruned file set only
    val (r1, m1) = metadataAnswered(dir)(spark.sql(
      s"SELECT count(*) AS n FROM $cat.ns.t WHERE _cdc_date = '2024-01-02'"))
    assert(r1.map(_.getLong(0)) === Seq(2L))
    assert(m1, "day-filtered count was not answered from metadata")
    // range window
    val (r2, m2) = metadataAnswered(dir)(spark.sql(
      s"""SELECT count(*) AS n FROM $cat.ns.t
         |WHERE _cdc_date BETWEEN '2024-01-02' AND '2024-01-03'""".stripMargin))
    assert(r2.map(_.getLong(0)) === Seq(3L))
    assert(m2, "day-window count was not answered from metadata")
    // filtered AND grouped: only the window's groups come back
    val (r3, m3) = metadataAnswered(dir)(spark.sql(
      s"""SELECT _cdc_date AS day, count(*) AS n FROM $cat.ns.t
         |WHERE _cdc_date >= '2024-01-02'
         |GROUP BY _cdc_date ORDER BY day""".stripMargin))
    assert(r3.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("2024-01-02", 2L), ("2024-01-03", 1L)))
    assert(m3, "filtered grouped count was not answered from metadata")
    // the claimed conjuncts stay exact on the ROW path too — Spark does
    // not re-evaluate them, the manifest pruning IS the filter
    import spark.implicits._
    val ids = spark.sql(
      s"SELECT id FROM $cat.ns.t WHERE _cdc_date = '2024-01-02'")
      .as[Long].collect().toSeq.sorted
    assert(ids === Seq(2L, 3L))
  }

  test("a month-spec era disables claiming: day-filtered count takes the real scan") {
    val (_, dir) = buildTable()
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      import spark.implicits._
      val df = Seq((9L, 90L, lsn(9), "2024-01-31"))
        .toDF("id", "v", graft.ingest.Cdc.LsnColumn, "_cdc_date")
      val withMonth = df.withColumn("_pmonth",
        substring(col("_cdc_date"), 1, 7))
      val files = SnapshotLog.writeData(spark, dir, withMonth,
        Some("_pmonth"), spec = Some("month"))
      SnapshotLog.commit(spark, dir, "append",
        cur.toSeq.flatMap(_.files) ++ files, df.schema, parent = cur)
    }
    // a month-partitioned file can hold ANY January day: day pruning is
    // no longer exact row filtering, so nothing is claimed, the filter
    // stays residual, and the count takes the real scan — still correct
    val (r, m) = metadataAnswered(dir)(spark.sql(
      s"SELECT count(*) AS n FROM $cat.ns.t WHERE _cdc_date = '2024-01-02'"))
    assert(r.map(_.getLong(0)) === Seq(2L))
    assert(!m, "month-spec day-filtered count must not claim metadata")
  }

  test("a NULL day partition disables grouped pushdown instead of leaking the sentinel") {
    val wh = Files.createTempDirectory("graft-aggpush-null").toString
    register(wh)
    spark.sql(s"CREATE TABLE $cat.ns.npart (id BIGINT, _cdc_date STRING)")
    spark.sql(s"INSERT INTO $cat.ns.npart VALUES (1, '2024-01-01'), (2, NULL)")
    val dir = s"$wh/ns/npart"
    // the real scan returns a NULL group; the manifest records the
    // __HIVE_DEFAULT_PARTITION__ sentinel STRING — claiming the
    // metadata answer would silently replace NULL with the sentinel
    val (rows, meta) = metadataAnswered(dir)(spark.sql(
      s"SELECT _cdc_date AS day, count(*) AS n FROM $cat.ns.npart " +
        "GROUP BY _cdc_date ORDER BY day"))
    assert(rows.map(r => (Option(r.getString(0)), r.getLong(1))) ===
      Seq((None, 1L), (Some("2024-01-01"), 1L)))
    assert(!meta, "grouped count over a null-day partition claimed metadata")
    // the GLOBAL count is partition-value-independent: still metadata
    val (r2, m2) = metadataAnswered(dir)(spark.sql(
      s"SELECT count(*) AS n FROM $cat.ns.npart"))
    assert(r2.map(_.getLong(0)) === Seq(2L))
    assert(m2)
  }

  test("plan-time manifest folds run once per plan, not once per optimizer probe") {
    val (_, dir) = buildTable()
    SnapshotLog.clusterBy(spark, dir, "v", Seq(25.0))
    GraftFoldStats.reset()
    // one grouped MIN/MAX/COUNT plan: the optimizer asks the builder
    // supportCompletePushDown AND pushAggregation (each folding the
    // group shape + both bounds columns without the memo), then build
    // re-checks — the per-snapshot memo collapses all of it to one fold
    // per aspect
    val df = spark.sql(
      s"""SELECT _cdc_date AS day, min(v) AS mn, max(v) AS mx, count(*) AS n
         |FROM $cat.ns.t GROUP BY _cdc_date""".stripMargin)
    df.collect()
    val folds = GraftFoldStats.count
    // aspects folded: exactDayTable (shared by the filter claim and the
    // group check) + boundsAnswerable:v (the era aspect doesn't run on
    // the metadata path) — each ONCE
    assert(folds <= 2L, s"expected <= 2 manifest folds for one plan, got $folds")
  }

  test("an empty created table answers count 0 and null min from metadata") {
    val wh = Files.createTempDirectory("graft-aggpush-empty").toString
    register(wh)
    spark.sql(s"CREATE TABLE $cat.ns.e (id BIGINT, v BIGINT)")
    import spark.implicits._
    val out = spark.sql(s"SELECT count(*) AS n FROM $cat.ns.e")
      .as[Long].collect().toSeq
    assert(out === Seq(0L))
  }
}
