package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Field-id schema evolution (ref internal/iceberg/types.go:27-51 — the
  * stable ids every NestedField carries): RENAME is metadata-only (old
  * files resolve the column by id under its new name), DROP is
  * projection-masked (bytes stay, reads don't see them), a re-added name
  * takes a FRESH id so dropped bytes never leak back, and time travel
  * reads every snapshot under its own schema. */
class SchemaEvolutionSpec extends SparkTestBase {

  private def lsn(i: Long): String = f"$i%016d"

  private def fresh(rows: (Long, Long)*): String = {
    val dir = Files.createTempDirectory("graft-evo").toString + "/t"
    import spark.implicits._
    val df = rows.toSeq.toDF("id", "v")
      .withColumn(graft.ingest.Cdc.LsnColumn, lpad(col("id").cast("string"), 16, "0"))
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    dir
  }

  private def append(dir: String, df: DataFrame): SnapshotLog.Snapshot =
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.appendFiles(spark, dir, files, df.schema, cur)
    }

  test("rename is metadata-only: old files resolve by field id, " +
    "new writes use the new name, time travel keeps the old one") {
    val dir = fresh(1L -> 10L, 2L -> 20L)
    val pre = SnapshotLog.currentSnapshot(spark, dir).get
    val evolved = SnapshotLog.renameColumn(spark, dir, "v", "score")
    // zero files touched
    assert(evolved.files.map(_.path).sorted === pre.files.map(_.path).sorted)
    assert(evolved.schema.fieldNames.toSeq
      === Seq("id", "score", graft.ingest.Cdc.LsnColumn))
    // old rows surface under the NEW name (by-id resolution)
    import spark.implicits._
    val state = SnapshotLog.readCurrent(spark, dir).get
    assert(state.select(col("id").cast("long"), col("score").cast("long"))
      .as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
    // new writes under the new name coexist with old files
    val add = Seq((3L, 30L)).toDF("id", "score")
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(3)))
    append(dir, add)
    assert(SnapshotLog.readCurrent(spark, dir).get
      .select(col("id").cast("long"), col("score").cast("long"))
      .as[(Long, Long)].collect().toMap
      === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // time travel: the pre-rename snapshot still reads under 'v'
    val old = SnapshotLog.read(spark, dir,
      SnapshotLog.snapshotAt(spark, dir, pre.id))
    assert(old.columns.contains("v") && !old.columns.contains("score"))
    assert(old.select(sum(col("v"))).as[Long].head() === 30L)
  }

  test("drop masks the column; re-adding the name yields NULL for old rows") {
    val dir = fresh(1L -> 10L, 2L -> 20L)
    SnapshotLog.dropColumn(spark, dir, "v")
    val dropped = SnapshotLog.currentSnapshot(spark, dir).get
    assert(!dropped.schema.fieldNames.contains("v"))
    assert(SnapshotLog.read(spark, dir, dropped).columns.toSeq
      === Seq("id", graft.ingest.Cdc.LsnColumn))
    // re-add the same name (fresh field id — Iceberg's no-reuse rule)
    import spark.implicits._
    val widened = org.apache.spark.sql.types.StructType(
      dropped.schema.fields :+ org.apache.spark.sql.types.StructField(
        "v", org.apache.spark.sql.types.LongType))
    SnapshotLog.withTableLock(dir) {
      SnapshotLog.commit(spark, dir, "evolve-schema", widened, Some(dropped))
    }
    val re = SnapshotLog.readCurrent(spark, dir).get
    // the old files' physical 'v' bytes MUST NOT leak into the new 'v'
    assert(re.filter(col("v").isNotNull).count() === 0L)
    // a new write fills the re-added column
    append(dir, Seq((3L, 99L)).toDF("id", "v")
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(3)))
      .select("id", graft.ingest.Cdc.LsnColumn, "v"))
    val m = SnapshotLog.readCurrent(spark, dir).get
      .select(col("id").cast("long"),
        coalesce(col("v"), lit(-1L)).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> -1L, 2L -> -1L, 3L -> 99L))
    // time travel to snapshot 1 still shows the ORIGINAL v values
    assert(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 1))
      .select(sum(col("v"))).as[Long].head() === 30L)
  }

  test("rename composes with row-level DML and MOR reads") {
    val dir = fresh(1L -> 10L, 2L -> 20L, 3L -> 30L)
    SnapshotLog.renameColumn(spark, dir, "v", "score")
    // positional delete keyed on the NEW name over OLD files
    SnapshotLog.deleteWhere(spark, dir, col("score") === 20L)
    import spark.implicits._
    assert(SnapshotLog.readCurrent(spark, dir).get
      .select(col("id").cast("long")).as[Long].collect().sorted.toSeq
      === Seq(1L, 3L))
    // update through the renamed column
    SnapshotLog.updateWhere(spark, dir, col("id") === 3L,
      Map("score" -> lit(33L)))
    assert(SnapshotLog.readCurrent(spark, dir).get
      .select(col("id").cast("long"), col("score").cast("long"))
      .as[(Long, Long)].collect().toMap === Map(1L -> 10L, 3L -> 33L))
  }

  test("incremental and changelog scans skip evolve-schema commits, " +
    "resolving old eras by id under the final schema") {
    val dir = fresh(1L -> 10L)                         // snapshot 1
    SnapshotLog.renameColumn(spark, dir, "v", "score") // snapshot 2
    import spark.implicits._
    append(dir, Seq((2L, 20L)).toDF("id", "score")     // snapshot 3
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(2))))
    // the window spans the rename: no refusal, no rows from it, and
    // snapshot 1's file (written under 'v') surfaces as 'score'
    val inc = SnapshotLog.readIncremental(spark, dir, 0L, 3L)
    assert(inc.columns.contains("score"))
    assert(inc.select(col("id").cast("long"), col("score").cast("long"))
      .as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 20L))
    val ch = SnapshotLog.readChangelog(spark, dir, 0L, 3L)
    assert(ch.filter(col("_change_type") === "upsert").count() === 2L)
    assert(ch.filter(col("_change_snapshot_id") === 2L).count() === 0L)
  }

  test("SQL ALTER RENAME/DROP COLUMN flow through the catalog") {
    val cat = "gevo"
    val wh = Files.createTempDirectory("graft-evo-sql").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO score")
    import spark.implicits._
    assert(spark.sql(s"SELECT sum(score) FROM $cat.t").as[Long].head() === 30L)
    // history: the pre-rename version still serves 'v'
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t VERSION AS OF 2")
      .as[Long].head() === 30L)
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN score")
    assert(spark.sql(s"SELECT * FROM $cat.t").columns.toSeq === Seq("id"))
    // guards stay loud: dropping the last column is refused
    assertThrows[Exception](spark.sql(s"ALTER TABLE $cat.t DROP COLUMN id"))
  }

  test("evolution refuses while equality deletes key on the column") {
    val dir = Files.createTempDirectory("graft-evo-eq").toString + "/t"
    import spark.implicits._
    val env = Seq((1L, 10L)).toDF("id", "v")
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(1)))
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, env, None)
      val dels = SnapshotLog.writeDeletes(spark, dir,
        Seq(Tuple1(99L)).toDF("id"), Seq("id"))
      SnapshotLog.commit(spark, dir, "mor-merge", env.schema, parent = None,
        add = files, addDeletes = dels)
    }
    assertThrows[IllegalArgumentException](
      SnapshotLog.renameColumn(spark, dir, "id", "key"))
    assertThrows[IllegalArgumentException](
      SnapshotLog.dropColumn(spark, dir, "id"))
  }

  test("a stale pre-rename writer cannot silently re-add the renamed-away name") {
    val dir = fresh(1L -> 10L, 2L -> 20L)
    SnapshotLog.renameColumn(spark, dir, "v", "score")
    import spark.implicits._
    // a writer still holding the pre-rename schema: 'v' is absent from
    // the head by name but lives in a retained historical schema whose
    // field id now answers to 'score' — the add-only merge must refuse,
    // not mint a permanently-null legacy-named column
    val stale = Seq((3L, 30L)).toDF("id", "v")
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(3)))
    val e = intercept[IllegalArgumentException](append(dir, stale))
    assert(e.getMessage.contains("renamed to score"))
    // head schema unpolluted; a refreshed writer proceeds
    assert(SnapshotLog.currentSnapshot(spark, dir).get.schema.fieldNames.toSeq
      === Seq("id", "score", graft.ingest.Cdc.LsnColumn))
    append(dir, Seq((3L, 30L)).toDF("id", "score")
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(3))))
    assert(SnapshotLog.readCurrent(spark, dir).get.count() === 3L)
    // a DROPPED name stays a legal re-add (fresh id) — the guard is
    // rename-specific, not a ban on resurrecting any historical name
    SnapshotLog.dropColumn(spark, dir, "score")
    append(dir, Seq((4L, 999L)).toDF("id", "score")
      .withColumn(graft.ingest.Cdc.LsnColumn, lit(lsn(4))))
    val readded = SnapshotLog.readCurrent(spark, dir).get
    assert(readded.filter(col("id") === 4L)
      .select(col("score").cast("long")).as[Long].head() === 999L)
  }

}
