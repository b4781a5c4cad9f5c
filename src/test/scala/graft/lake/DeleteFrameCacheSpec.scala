package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ingest.Cdc

/** The content-addressed delete-frame cache: repeated reads of the
  * same MOR snapshot build the pos-slot / eq-max frames ONCE (no
  * listing, no delete-parquet re-read), a new delete commit changes
  * the content key and rebuilds, and cached results are identical to
  * the uncached path. */
class DeleteFrameCacheSpec extends SparkTestBase {

  private def lsn(i: Int): String = f"$i%016d"

  /** 10 rows; eq-delete ids 1,2; pos-delete id 3. */
  private def build(): String = {
    val wh = Files.createTempDirectory("graft-dfc").toString
    val dir = s"$wh/db/t"
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, i * 10, lsn(i.toInt), "2024-01-01"))
      .toDF("id", "v", Cdc.LsnColumn, "_cdc_date")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, Some("_cdc_date"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir).get
      val del = SnapshotLog.writeDeletes(spark, dir,
        Seq(1L, 2L).toDF("id"), Seq("id"))
      SnapshotLog.commit(spark, dir, "delete", cur.schema, Some(cur),
        addDeletes = del)
    }
    SnapshotLog.deleteWhere(spark, dir, col("id") === 3L)
    dir
  }

  test("frames build once per delete-set content; new deletes rebuild; results exact") {
    val dir = build()
    def readIds(): Set[Long] = SnapshotLog.readCurrent(spark, dir).get
      .select("id").collect().map(_.getLong(0)).toSet

    // read 1: first sighting stays LAZY (no plan-time collect jobs) —
    // the uncached path, whose answer every cached read must match;
    // read 2: the repeated key collects once and fills the cache;
    // reads 3+: pure hits — zero frame builds
    val beforeFirst = SnapshotLog.deleteFrameBuilds.get()
    assert(readIds() === (4L to 10L).toSet)
    assert(SnapshotLog.deleteFrameBuilds.get() > beforeFirst)
    assert(readIds() === (4L to 10L).toSet)
    val afterFill = SnapshotLog.deleteFrameBuilds.get()
    assert(readIds() === (4L to 10L).toSet)
    assert(SnapshotLog.deleteFrameBuilds.get() === afterFill)
    assert(readIds() === (4L to 10L).toSet)
    assert(SnapshotLog.deleteFrameBuilds.get() === afterFill)

    // a NEW delete commit changes the content key → rebuild, new answer
    SnapshotLog.deleteWhere(spark, dir, col("id") === 4L)
    val beforeNew = SnapshotLog.deleteFrameBuilds.get()
    assert(readIds() === (5L to 10L).toSet)
    assert(SnapshotLog.deleteFrameBuilds.get() > beforeNew)
    // ... and the new content is itself cached after its repeat
    assert(readIds() === (5L to 10L).toSet)
    val afterNew = SnapshotLog.deleteFrameBuilds.get()
    assert(readIds() === (5L to 10L).toSet)
    assert(SnapshotLog.deleteFrameBuilds.get() === afterNew)
  }

  test("cached frames serve the SQL batch-scan MOR rewrite too") {
    val dir = build()
    val wh = new java.io.File(dir).getParentFile.getParent
    val cat = "dfctest"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    def sqlIds(): Set[Long] = spark.sql(s"SELECT id FROM $cat.db.t")
      .collect().map(_.getLong(0)).toSet
    assert(sqlIds() === (4L to 10L).toSet) // first sighting: lazy
    assert(sqlIds() === (4L to 10L).toSet) // repeat: fills the cache
    val after = SnapshotLog.deleteFrameBuilds.get()
    assert(sqlIds() === (4L to 10L).toSet) // hit
    assert(SnapshotLog.deleteFrameBuilds.get() === after)
  }
}
