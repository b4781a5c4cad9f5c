package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import java.nio.file.Files

/** Grid (z-order-class) clustered rewrite: multi-dimension manifest
  * bounds, pruning on every clustered column, and the refusal paths. */
class GridClusterSpec extends SparkTestBase {

  /** The manifest files that may hold `lo <= c <= hi`. */
  private def range(c: String, lo: Double, hi: Double) =
    GraftPruning.filePredicate(Array(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)))

  private def build(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-grid").toString + "/t"
    // 4 quadrants of a 2-D space, deliberately interleaved in one file
    val rows = for (a <- 0 until 20; b <- 0 until 20)
      yield (a.toLong * 20 + b, a.toDouble, b.toDouble)
    val df = rows.toDF("id", "x", "y")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None, statsCol = "x")
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    dir
  }

  test("each cell's manifest entry carries bounds for every dimension") {
    val dir = build()
    val snap = SnapshotLog.clusterByGrid(spark, dir,
      Seq("x" -> Seq(10.0), "y" -> Seq(10.0)))
    assert(snap.files.size === 4) // 2×2 grid, all cells non-empty
    snap.files.foreach { f =>
      assert(f.boundsColumn === "x")
      assert(f.minLsn.isDefined && f.maxLsn.isDefined)
      assert(f.extraBounds.contains("y"))
      assert(f.boundsFor("y").isDefined)
      assert(f.boundsFor("z").isEmpty) // unrecorded column: no bounds
    }
    // every cell spans < the full range on BOTH dimensions
    snap.files.foreach { f =>
      val (xm, xx) = f.boundsFor("x").get
      val (ym, yx) = f.boundsFor("y").get
      assert(BigDecimal(xx) - BigDecimal(xm) <= 9)
      assert(BigDecimal(yx) - BigDecimal(ym) <= 9)
    }
  }

  test("range predicates prune on either dimension; results stay complete") {
    import spark.implicits._
    val dir = build()
    SnapshotLog.clusterByGrid(spark, dir, Seq("x" -> Seq(10.0), "y" -> Seq(10.0)))
    val snap = SnapshotLog.currentSnapshot(spark, dir).get
    // x-range hits 2 of 4 cells; y-range likewise; the pre-rewrite
    // snapshot's single file had bounds for x only — y never pruned there
    assert(snap.files.count(range("x", 0, 9)) === 2)
    assert(snap.files.count(range("y", 10, 19)) === 2)
    val pre = SnapshotLog.snapshotAt(spark, dir, 1)
    assert(pre.files.count(range("y", 10, 19)) === pre.files.size)
    val out = SnapshotLog.readPruned(spark, dir, snap, range("y", 10, 19))
      .filter(col("y") >= 10).select(col("id").cast("long")).as[Long]
      .collect().toSet
    assert(out.size === 20 * 10)
    // SQL reads prune on the second dimension through the catalog too
    spark.conf.set("spark.sql.catalog.ggrid", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggrid.warehouse",
      dir.stripSuffix("/t"))
    val sqlOut = spark.sql("SELECT id FROM ggrid.t WHERE y >= 10")
    assert(sqlOut.count() === 200L)
    val (kept, total) = GraftScanStats.lastScan(dir).get
    assert(total === 4L)
    assert(kept === 2L)
  }

  test("multi-row-group numeric bounds fold numerically, never lexically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-grid-rg").toString + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val old = conf.get("parquet.block.size")
    conf.set("parquet.block.size", "1048576") // force many row groups
    try {
      // ascending values 0.0 .. ~1000.0: later row groups carry maxes
      // like "1000.0" that sort lexically BELOW earlier "262.1" maxes —
      // a lexical fold would record max < real max and pruning would
      // silently skip files containing matching rows
      val df = (0 until 1000000).map(i => (i.toLong, i * 0.001))
        .toDF("id", "v").repartition(1).sortWithinPartitions("id")
      SnapshotLog.withTableLock(dir) {
        val files = SnapshotLog.writeData(spark, dir, df, None, statsCol = "v")
        SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
          add = files)
      }
      val f = SnapshotLog.currentSnapshot(spark, dir).get.files.head
      val (mn, mx) = f.boundsFor("v").get
      assert(BigDecimal(mn) === BigDecimal(0))
      assert(BigDecimal(mx) > BigDecimal(999))
      // and the pruning built on those bounds keeps the file for a
      // query range near the true max
      val snap = SnapshotLog.currentSnapshot(spark, dir).get
      assert(snap.files.exists(range("v", 990, 1000)))
    } finally {
      if (old == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", old)
    }
  }

  test("an infinite clustered bound keeps its file instead of failing the range read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-grid-inf").toString + "/t"
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, Double.PositiveInfinity)).toDF("id", "v")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None, statsCol = "v")
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    val snap = SnapshotLog.clusterBy(spark, dir, "v", Seq(2.0))
    // the upper bucket records max "Infinity", which has no decimal form:
    // the range test cannot exclude it, so it keeps the file
    assert(snap.files.exists(_.boundsFor("v").exists(_._2 == "Infinity")))
    assert(snap.files.count(range("v", 1.5, 3.0)) === 1)
    val out = SnapshotLog.readPruned(spark, dir, snap, range("v", 1.5, 3.0))
      .filter(col("v").between(1.5, 3.0)).select(col("id")).as[Long]
      .collect().toSeq
    assert(out === Seq(2L))
  }

  test("an infinite row-group bound folds into the file's bounds") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-grid-inf-rg").toString + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val old = conf.get("parquet.block.size")
    conf.set("parquet.block.size", "1024") // a row group per size check
    try {
      val df = (0 until 1000).map(i =>
          (i.toLong, if (i == 999) Double.PositiveInfinity else i.toDouble))
        .toDF("id", "v").repartition(1).sortWithinPartitions("id")
      val f = SnapshotLog.withTableLock(dir) {
        val files = SnapshotLog.writeData(spark, dir, df, None, statsCol = "v")
        SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
          add = files)
      }.files.head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir, f.path), conf))
      val groups = try reader.getFooter.getBlocks.asScala.size finally reader.close()
      assert(groups >= 2, s"expected several row groups, got $groups")
      val (mn, mx) = f.boundsFor("v").get
      assert(BigDecimal(mn) === BigDecimal(0)) // parquet records a 0.0 min as -0.0
      assert(mx === "Infinity")
    } finally {
      if (old == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", old)
    }
  }

  test("one dimension is clusterBy: one cell per bucket, bounds for that column only") {
    val dir = build()
    val snap = SnapshotLog.clusterByGrid(spark, dir, Seq("x" -> Seq(10.0)))
    assert(snap.files.map(_.partition).sorted === Seq("0000", "0001"))
    snap.files.foreach { f =>
      assert(f.spec === Some("cluster"))
      assert(f.boundsColumn === "x")
      assert(f.extraBounds.isEmpty)
    }
    assert(snap.files.count(range("x", 0, 9)) === 1)
  }

  test("refusals: no dimension, bad splits, live deletes") {
    val dir = build()
    intercept[IllegalArgumentException](
      SnapshotLog.clusterByGrid(spark, dir, Seq.empty))
    intercept[IllegalArgumentException](
      SnapshotLog.clusterByGrid(spark, dir,
        Seq("x" -> Seq(10.0, 5.0), "y" -> Seq(10.0))))
    SnapshotLog.deleteWhere(spark, dir, col("id") === 0L)
    intercept[IllegalArgumentException](
      SnapshotLog.clusterByGrid(spark, dir,
        Seq("x" -> Seq(10.0), "y" -> Seq(10.0))))
  }
}
