package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

import SnapshotLog.{MatchedDelete, MatchedUpdate, NotMatchedInsert,
  NotMatchedBySourceDelete, NotMatchedBySourceUpdate}

/** Generic MERGE INTO semantics through the commit log: first-clause-
  * wins ordering, conditional clauses, cardinality enforcement, and
  * single-snapshot atomicity (slots + replacements + inserts land in ONE
  * manifest rename). */
class MergeIntoSpec extends SparkTestBase {

  private def df(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def freshTable(rows: (Long, Long)*): String = {
    val dir = Files.createTempDirectory("graft-mi").toString + "/t"
    val base = df(rows: _*)
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, base, partitionCol = None)
      SnapshotLog.commit(spark, dir, "append", base.schema, parent = None,
        add = files)
    }
    dir
  }

  private def state(dir: String): Map[Long, Long] = {
    import spark.implicits._
    SnapshotLog.readCurrent(spark, dir).get
      .select(col("id").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect().toMap
  }

  test("update + delete + insert clauses compose in one snapshot") {
    val dir = freshTable(1L -> 10L, 2L -> 20L, 3L -> 30L)
    val snap = SnapshotLog.mergeInto(spark, dir,
      df(1L -> 11L, 2L -> -1L, 4L -> 40L), Seq("id"), Seq(
        MatchedDelete(Some(col("_src_v") < 0)),
        MatchedUpdate(None, Map("v" -> col("_src_v"))),
        NotMatchedInsert(None))).get
    assert(state(dir) === Map(1L -> 11L, 3L -> 30L, 4L -> 40L))
    // ONE commit: slots + update rows + insert rows under a single id
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 2L))
    assert(snap.posDeletes.map(_.rows).sum === 2L) // rows 1 and 2 actioned
    // time travel still sees the pre-merge state
    assert(state(dir) !== null)
    import spark.implicits._
    assert(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 1))
      .select(col("id").cast("long")).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("WHEN NOT MATCHED BY SOURCE: full sync demotes unmentioned target rows") {
    val dir = freshTable(1L -> 10L, 2L -> 60L, 3L -> 30L, 4L -> 70L)
    // source mentions 1 (update) and 5 (insert); 2/3/4 are unmentioned:
    // hot rows (v > 50) delete, the rest tombstone to -1 — by-source
    // clauses apply first-wins, independent of the matched family
    val snap = SnapshotLog.mergeInto(spark, dir, df(1L -> 11L, 5L -> 50L),
      Seq("id"), Seq(
        MatchedUpdate(None, Map("v" -> col("_src_v"))),
        NotMatchedInsert(None),
        NotMatchedBySourceDelete(Some(col("v") > 50)),
        NotMatchedBySourceUpdate(None, Map("v" -> lit(-1L))))).get
    assert(state(dir) === Map(1L -> 11L, 3L -> -1L, 5L -> 50L))
    // one snapshot; slots cover matched-update 1 + deleted 2,4 + demoted 3
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 2L))
    assert(snap.posDeletes.map(_.rows).sum === 4L)
    // time travel: the pre-sync state is intact
    import spark.implicits._
    assert(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 1))
      .select(col("id").cast("long")).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
  }

  test("by-source conditions referencing source columns fail loudly") {
    val dir = freshTable(1L -> 10L, 2L -> 20L)
    // SQL forbids source references in NOT MATCHED BY SOURCE clauses;
    // the engine surfaces that as an analysis error (the unmatched rows
    // come from an anti-join that carries no _src_ columns), never as
    // silently-null conditions
    intercept[org.apache.spark.sql.AnalysisException] {
      SnapshotLog.mergeInto(spark, dir, df(1L -> 0L), Seq("id"), Seq(
        NotMatchedBySourceDelete(Some(col("_src_v") > 0))))
    }
  }

  test("by-source-only merge works without matched or insert clauses") {
    val dir = freshTable(1L -> 10L, 2L -> 20L)
    SnapshotLog.mergeInto(spark, dir, df(1L -> 0L), Seq("id"), Seq(
      NotMatchedBySourceDelete(None)))
    assert(state(dir) === Map(1L -> 10L)) // row 2 unmentioned → deleted
  }

  test("first matching clause wins: a delete listed first beats a later update") {
    val dir = freshTable(1L -> 10L)
    SnapshotLog.mergeInto(spark, dir, df(1L -> 99L), Seq("id"), Seq(
      MatchedDelete(Some(col("_src_v") > 0)),
      MatchedUpdate(None, Map("v" -> col("_src_v")))))
    assert(state(dir) === Map.empty[Long, Long])
    // and in the reverse order the update shields the row
    val dir2 = freshTable(1L -> 10L)
    SnapshotLog.mergeInto(spark, dir2, df(1L -> 99L), Seq("id"), Seq(
      MatchedUpdate(None, Map("v" -> col("_src_v"))),
      MatchedDelete(Some(col("_src_v") > 0))))
    assert(state(dir2) === Map(1L -> 99L))
  }

  test("conditional insert skips ineligible source rows; no-op merge commits nothing") {
    val dir = freshTable(1L -> 10L)
    SnapshotLog.mergeInto(spark, dir, df(5L -> -5L, 6L -> 60L), Seq("id"),
      Seq(NotMatchedInsert(Some(col("_src_v") > 0))))
    assert(state(dir) === Map(1L -> 10L, 6L -> 60L))
    // a merge whose clauses action nothing must not commit a snapshot
    val before = SnapshotLog.snapshotIds(spark, dir).size
    val out = SnapshotLog.mergeInto(spark, dir, df(5L -> -5L), Seq("id"),
      Seq(NotMatchedInsert(Some(col("_src_v") > 0))))
    assert(out.isEmpty)
    assert(SnapshotLog.snapshotIds(spark, dir).size === before)
  }

  test("duplicate source keys are a loud cardinality violation") {
    val dir = freshTable(1L -> 10L)
    val e = intercept[IllegalArgumentException](
      SnapshotLog.mergeInto(spark, dir, df(1L -> 11L, 1L -> 12L), Seq("id"),
        Seq(MatchedUpdate(None, Map("v" -> col("_src_v"))))))
    assert(e.getMessage.contains("cardinality"))
    assert(state(dir) === Map(1L -> 10L)) // basis intact
  }

  test("a row dead under existing deletes cannot match again") {
    val dir = freshTable(1L -> 10L, 2L -> 20L)
    SnapshotLog.deleteWhere(spark, dir, col("id") === 1L)
    // id 1 is dead: MERGE must treat it as NOT matched → insert path
    SnapshotLog.mergeInto(spark, dir, df(1L -> 99L), Seq("id"), Seq(
      MatchedUpdate(None, Map("v" -> lit(-1L))),
      NotMatchedInsert(None)))
    assert(state(dir) === Map(1L -> 99L, 2L -> 20L))
  }

  test("two not-matched clauses are refused — they would double-insert") {
    val dir = freshTable(1L -> 10L)
    val e = intercept[IllegalArgumentException](
      SnapshotLog.mergeInto(spark, dir, df(5L -> 50L), Seq("id"), Seq(
        NotMatchedInsert(Some(col("_src_v") > 0)),
        NotMatchedInsert(None))))
    assert(e.getMessage.contains("NOT MATCHED"))
  }

  test("a source column named 'matched' keeps its data (sentinel is reserved)") {
    import spark.implicits._
    val dir = freshTable(1L -> 10L, 2L -> 20L)
    val src = Seq((1L, true), (2L, false)).toDF("id", "matched")
    SnapshotLog.mergeInto(spark, dir, src, Seq("id"), Seq(
      MatchedDelete(Some(col("_src_matched") === true))))
    // only id 1 (source matched=true) deleted; false must NOT read as
    // the internal join marker
    assert(state(dir) === Map(2L -> 20L))
  }

  test("source columns colliding after _src_ prefixing are refused") {
    import spark.implicits._
    // a join column literally named `_src_x` collides with the prefixed
    // form of a source payload column `x` — the one shape the injective
    // prefix map cannot keep apart
    val dir = Files.createTempDirectory("graft-mi-col").toString + "/t"
    val base = Seq((1L, 10L)).toDF("_src_x", "v")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, base, partitionCol = None)
      SnapshotLog.commit(spark, dir, "append", base.schema, parent = None,
        add = files)
    }
    val src = Seq((1L, 5L, 6L)).toDF("_src_x", "x", "v")
    val e = intercept[IllegalArgumentException](
      SnapshotLog.mergeInto(spark, dir, src, Seq("_src_x"), Seq(
        MatchedUpdate(None, Map("v" -> col("_src_v"))))))
    assert(e.getMessage.contains("collide"))
  }

  test("assignments to unknown columns are rejected before any write") {
    val dir = freshTable(1L -> 10L)
    val e = intercept[IllegalArgumentException](
      SnapshotLog.mergeInto(spark, dir, df(1L -> 11L), Seq("id"),
        Seq(MatchedUpdate(None, Map("nope" -> lit(1L))))))
    assert(e.getMessage.contains("unknown column"))
  }
}
