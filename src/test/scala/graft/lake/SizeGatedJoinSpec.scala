package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The size-gated join strategy on the MOR read path and MERGE INTO:
  * delta-sized delete sets / sources broadcast (the common CDC shape),
  * oversized ones switch to a shuffle-hash join built on the small(er)
  * side — never a forced driver-sized broadcast, never a sort of the
  * stored table. Both regimes are hash-checked for identical results
  * and plan-pinned by join node. */
class SizeGatedJoinSpec extends SparkTestBase {

  private def lsn(i: Long): String = f"$i%016d"

  private def freshPosDeleteTable(): String = {
    val dir = Files.createTempDirectory("graft-szgate").toString + "/t"
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, lsn(i))).toDF("id", graft.ingest.Cdc.LsnColumn)
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    SnapshotLog.deleteWhere(spark, dir, col("id") % 10 === 0L)
    dir
  }

  private def idsOf(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select(col("id")).as[Long].collect().toSeq.sorted
  }

  private def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("MOR read: small delete set broadcasts, oversized one shuffle-hash-joins") {
    val dir = freshPosDeleteTable()
    val expect = (1L to 100L).filterNot(_ % 10 == 0)
    // small regime (default threshold): broadcast anti-join
    val smallDf = SnapshotLog.readCurrent(spark, dir).get
    assert(idsOf(smallDf) === expect)
    val smallPlan = smallDf.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin"),
      s"delta deletes should broadcast:\n$smallPlan")
    // big regime (threshold forced to 0 via -1=disabled): shuffle hash,
    // same rows — the gate is a strategy switch, never a semantics one
    withThreshold("-1") {
      val bigDf = SnapshotLog.readCurrent(spark, dir).get
      assert(idsOf(bigDf) === expect)
      val bigPlan = bigDf.queryExecution.executedPlan.toString
      assert(bigPlan.contains("ShuffledHashJoin"),
        s"oversized deletes should shuffle-hash-join:\n$bigPlan")
      assert(!bigPlan.contains("SortMergeJoin"),
        s"the stored table must not sort for delete application:\n$bigPlan")
    }
  }

  test("MERGE INTO lands identical results in both join regimes") {
    import spark.implicits._
    def run(threshold: String): Map[Long, Long] = {
      val dir = Files.createTempDirectory("graft-szgate-m").toString + "/t"
      val df = (1L to 50L).map(i => (i, i * 10)).toDF("id", "v")
        .withColumn(graft.ingest.Cdc.LsnColumn, lpad(col("id").cast("string"), 16, "0"))
      SnapshotLog.withTableLock(dir) {
        val files = SnapshotLog.writeData(spark, dir, df, None)
        SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
          add = files)
      }
      withThreshold(threshold) {
        val src = (40L to 60L).map(i => (i, i * 100)).toDF("id", "nv")
        SnapshotLog.mergeInto(spark, dir, src, Seq("id"), Seq(
          SnapshotLog.MatchedUpdate(None, Map("v" -> col("_src_nv"))),
          SnapshotLog.NotMatchedInsert(None,
            Map("v" -> col("_src_nv"),
              graft.ingest.Cdc.LsnColumn ->
                lpad(col("id").cast("string"), 16, "0")))))
      }
      SnapshotLog.readCurrent(spark, dir).get
        .select(col("id").cast("long"), col("v").cast("long"))
        .as[(Long, Long)].collect().toMap
    }
    val small = run("10MB")
    val big = run("-1")
    assert(small === big)
    assert(small(39L) === 390L)  // untouched
    assert(small(45L) === 4500L) // updated
    assert(small(55L) === 5500L) // inserted
    assert(small.size === 60)
  }

  test("keyWidthEstimate: the unknown-size sentinel passes through instead of wrapping") {
    // Long.MaxValue means "stats unavailable — never broadcast"; the old
    // srcBytes * nKeys product wrapped negative and clamped to 1, which
    // force-broadcast exactly the pathological source
    assert(SnapshotLog.keyWidthEstimate(Long.MaxValue, 5, 2) === Long.MaxValue)
    assert(SnapshotLog.keyWidthEstimate(1000L, 5, 2) === 400L)
    assert(SnapshotLog.keyWidthEstimate(3L, 5, 2) === 1L) // floor
    assert(SnapshotLog.keyWidthEstimate(1000L, 0, 1) === 1000L) // no div-by-0
  }

}
