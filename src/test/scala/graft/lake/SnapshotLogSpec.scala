package graft.lake

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
import java.nio.file.Files

/** The snapshot commit protocol (ref internal/iceberg/catalog/
  * rest.go:187-217, types.go:78-153): a reader must never observe a
  * partial commit, at ANY crash point — data files are invisible until
  * the single manifest rename, and the rename is atomic. This spec
  * enumerates the crash windows the old rename-aside design had and
  * proves each one is now structurally impossible, plus the
  * concurrent-commit composition the DLQ rewrite path relies on. */
class SnapshotLogSpec extends SparkTestBase {

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, i * 10, f"$i%016d")).toDF("id", "v", graft.ingest.Cdc.LsnColumn)
  }

  private def idsOf(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select(col("id")).as[Long].collect().toSeq.sorted
  }

  private def commitRows(dir: String, df: DataFrame, op: String,
                         carry: Boolean = true): SnapshotLog.Snapshot =
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, df, partitionCol = None)
      SnapshotLog.commit(spark, dir, op, df.schema, cur, add = files,
        remove = _ => !carry)
    }

  test("commit → resolve roundtrip; historical snapshots stay readable") {
    val dir = Files.createTempDirectory("graft-snaplog").toString + "/t"
    val s1 = commitRows(dir, rows(1, 2), "append")
    val s2 = commitRows(dir, rows(3), "append")
    val s3 = commitRows(dir, rows(4, 5), "append")
    assert(Seq(s1.id, s2.id, s3.id) === Seq(1L, 2L, 3L))
    assert(s3.parentId === Some(2L))
    // VERSION AS OF: every retained snapshot resolves its own file set
    assert(idsOf(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 1)))
      === Seq(1L, 2L))
    assert(idsOf(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, 2)))
      === Seq(1L, 2L, 3L))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L, 4L, 5L))
    // manifest row counts are real footer counts, not estimates
    assert(SnapshotLog.currentSnapshot(spark, dir).get.totalRows === 5L)
  }

  test("crash window 1 — data files written, no commit: invisible to every reader") {
    val dir = Files.createTempDirectory("graft-snaplog-c1").toString + "/t"
    commitRows(dir, rows(1), "append")
    SnapshotLog.writeData(spark, dir, rows(2, 3), partitionCol = None)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === 1L)
  }

  test("crash window 2 — manifest written to temp, never renamed: ignored") {
    val dir = Files.createTempDirectory("graft-snaplog-c2").toString + "/t"
    commitRows(dir, rows(1), "append")
    // a crashed commit's half-state: temp manifest file present
    val md = new Path(s"$dir/${SnapshotLog.MetaDirName}")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(md, ".tmp-snap-crashed"), false)
    out.write("{not even json".getBytes); out.close()
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === 1L)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L))
    // expire clears the debris (grace 0: fresh tmp files sweep now)
    SnapshotLog.expire(spark, dir, keepLast = 1, debrisGraceMs = 0L)
    assert(!fs.exists(new Path(md, ".tmp-snap-crashed")))
  }

  test("crash window 3 — after the rename: the commit is complete by definition") {
    val dir = Files.createTempDirectory("graft-snaplog-c3").toString + "/t"
    commitRows(dir, rows(1), "append")
    val s2 = commitRows(dir, rows(2), "append")
    // nothing else to do after the rename — the snapshot IS current
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === s2.id)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L))
  }

  test("a rewrite composes with a concurrent append: manifest diff keeps both") {
    // the DLQ race the round-8 design documented as its residual window:
    // a rewrite based on snapshot k must not clobber files appended at
    // k+1. The rewrite computes its manifest as a DIFF inside the table
    // lock — base files out, rewritten files in, everything newer stays.
    val dir = Files.createTempDirectory("graft-snaplog-cas").toString + "/t"
    val base = commitRows(dir, rows(1, 2), "append")
    // rewrite of base begins: new files materialized (e.g. rows marked)
    val rewritten = SnapshotLog.writeData(spark, dir,
      rows(1, 2).withColumn("v", col("v") + 1), partitionCol = None)
    // ...an append lands FIRST (the batch processor dead-letters row 3)
    commitRows(dir, rows(3), "append")
    // the rewrite commits as a diff against the TRUE current, not base
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val baseSet = base.files.map(_.path).toSet
      SnapshotLog.commit(spark, dir, "rewrite", base.schema, cur,
        add = rewritten, remove = f => baseSet(f.path))
    }
    val fin = SnapshotLog.readCurrent(spark, dir).get
    assert(idsOf(fin) === Seq(1L, 2L, 3L)) // append survived the rewrite
    import spark.implicits._
    // rewritten rows carry the new values; the appended row is untouched
    assert(fin.select(col("id"), col("v")).as[(Long, Long)].collect().toSeq.sortBy(_._1)
      === Seq((1L, 11L), (2L, 21L), (3L, 30L)))
  }

  test("a stale-parent commit fails loudly instead of dropping files") {
    val dir = Files.createTempDirectory("graft-snaplog-stale").toString + "/t"
    val s1 = commitRows(dir, rows(1), "append")
    commitRows(dir, rows(2), "append") // current moves to 2
    val orphan = SnapshotLog.writeData(spark, dir, rows(9), partitionCol = None)
    intercept[SnapshotLog.ConcurrentCommitException] {
      SnapshotLog.commit(spark, dir, "append", s1.schema, Some(s1), add = orphan)
    }
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L))
  }

  test("expire retains the kept snapshots' files and reclaims everything else") {
    val dir = Files.createTempDirectory("graft-snaplog-exp").toString + "/t"
    commitRows(dir, rows(1), "append")
    commitRows(dir, rows(2), "append")
    // a full-table REWRITE: snapshot 3 references only new files
    commitRows(dir, rows(7, 8), "overwrite", carry = false)
    SnapshotLog.writeData(spark, dir, rows(99), partitionCol = None) // orphan
    val deleted = SnapshotLog.expire(spark, dir, keepLast = 1,
      debrisGraceMs = 0L) // grace 0: the fresh orphan sweeps too
    assert(deleted > 0)
    assert(SnapshotLog.snapshots(spark, dir).map(_.id) === Seq(3L))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(7L, 8L))
    // every remaining data file is referenced: re-expiring deletes nothing
    assert(SnapshotLog.expire(spark, dir, keepLast = 1) === 0)
  }

  test("manifest partition pruning reads only the asked-for files") {
    val dir = Files.createTempDirectory("graft-snaplog-prune").toString + "/t"
    import spark.implicits._
    val df = Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("id", "_cdc_date")
      .withColumn(graft.ingest.Cdc.LsnColumn, lpad(col("id").cast("string"), 16, "0"))
    val snap = SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, Some("_cdc_date"))
      assert(files.map(_.partition).distinct.sorted === Seq("2024-01-01", "2024-01-02"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    val pruned = SnapshotLog.readPruned(spark, dir, snap,
      GraftPruning.filePredicate(Array(EqualTo("_cdc_date", "2024-01-02"))))
    assert(idsOf(pruned.select(col("id"))) === Seq(2L, 3L))
    // file-skipping happened at the manifest, before the plan: the scan's
    // input file list holds only day-02 files
    val scanned = pruned.select(input_file_name()).distinct().as[String].collect()
    val dayOf = snap.files.map(f => s"$dir/${f.path}" -> f.partition).toMap
    assert(scanned.forall(p => dayOf.exists { case (path, day) =>
      p.endsWith(path.stripPrefix(dir)) && day == "2024-01-02" }))
  }

  test("per-file LSN bounds land in the manifest from parquet footers") {
    val dir = Files.createTempDirectory("graft-snaplog-stats").toString + "/t"
    val snap = commitRows(dir, rows(3, 7, 5), "append")
    assert(snap.files.nonEmpty)
    assert(snap.lsnWatermark === Some(f"${7L}%016d"))
    assert(snap.files.flatMap(_.minLsn).min === f"${3L}%016d")
  }

  // ---- compaction (rewrite_data_files through the log)

  private def dayRows(d: String, ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, d)).toDF("id", "_cdc_date")
      .withColumn(graft.ingest.Cdc.LsnColumn, lpad(col("id").cast("string"), 16, "0"))
  }

  private def appendDays(dir: String, df: DataFrame): SnapshotLog.Snapshot =
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val files = SnapshotLog.writeData(spark, dir, df, Some("_cdc_date"))
      SnapshotLog.commit(spark, dir, "append", df.schema, cur, add = files)
    }

  test("compact folds oversized partitions; untouched entries carried verbatim") {
    val dir = Files.createTempDirectory("graft-snaplog-cmp").toString + "/t"
    // per-batch accretion: day-01 receives three appends, day-02 one
    appendDays(dir, dayRows("2024-01-01", 1).union(dayRows("2024-01-02", 2)))
    appendDays(dir, dayRows("2024-01-01", 3))
    appendDays(dir, dayRows("2024-01-01", 4))
    val pre = SnapshotLog.currentSnapshot(spark, dir).get
    assert(pre.files.count(_.partition == "2024-01-01") === 3)
    val d2Entries = pre.files.filter(_.partition == "2024-01-02")
    val compacted = SnapshotLog.compact(spark, dir, Some("_cdc_date"), maxFiles = 1)
    assert(compacted === Seq("2024-01-01"))
    val post = SnapshotLog.currentSnapshot(spark, dir).get
    assert(post.operation === "replace")
    assert(post.parentId === Some(pre.id))
    // the oversized day folded to one file; the untouched day's manifest
    // entry is carried VERBATIM — same path, same bytes, never rewritten
    assert(post.files.count(_.partition == "2024-01-01") === 1)
    assert(post.files.filter(_.partition == "2024-01-02") === d2Entries)
    assert(idsOf(SnapshotLog.read(spark, dir, post)) === Seq(1L, 2L, 3L, 4L))
    // time travel across the rewrite is exact: the pre-compaction
    // snapshot still resolves its own (small-file) file set
    assert(idsOf(SnapshotLog.read(spark, dir,
      SnapshotLog.snapshotAt(spark, dir, pre.id))) === Seq(1L, 2L, 3L, 4L))
    // the rewrite itself reclaims nothing — expire does: every replaced
    // small file is swept (plus write-marker debris), every live file kept
    SnapshotLog.expire(spark, dir, keepLast = 1)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val replaced = pre.files.filter(_.partition == "2024-01-01")
    assert(replaced.forall(f => !fs.exists(new Path(s"$dir/${f.path}"))))
    assert(post.files.forall(f => fs.exists(new Path(s"$dir/${f.path}"))))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L, 4L))
  }

  test("compact is a no-op below the threshold and on an absent log") {
    val dir = Files.createTempDirectory("graft-snaplog-cmp0").toString + "/t"
    assert(SnapshotLog.compact(spark, dir, Some("_cdc_date")) === Seq.empty)
    appendDays(dir, dayRows("2024-01-01", 1))
    assert(SnapshotLog.compact(spark, dir, Some("_cdc_date"), maxFiles = 1)
      === Seq.empty)
    // no replace snapshot was committed
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === 1L)
  }

  test("tags pin snapshots through expiry; drop releases them") {
    val dir = Files.createTempDirectory("graft-snaplog-tags").toString + "/t"
    // non-carrying commits: each snapshot references ONLY its own file,
    // so surviving expiry genuinely requires the tag to protect bytes
    commitRows(dir, rows(1), "append")
    commitRows(dir, rows(2), "append", carry = false)
    commitRows(dir, rows(3), "append", carry = false)
    SnapshotLog.tag(spark, dir, "run-x", 1L)
    // expire keeps the newest AND the tagged snapshot, with its files
    SnapshotLog.expire(spark, dir, keepLast = 1)
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 3L))
    assert(idsOf(SnapshotLog.read(spark, dir,
      SnapshotLog.snapshotAtTag(spark, dir, "run-x"))) === Seq(1L))
    // re-tag moves the pin atomically; dropping releases it to expiry
    SnapshotLog.tag(spark, dir, "run-x", 3L)
    assert(SnapshotLog.tags(spark, dir) === Map("run-x" -> 3L))
    SnapshotLog.dropTag(spark, dir, "run-x")
    SnapshotLog.expire(spark, dir, keepLast = 1)
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(3L))
    // guard rails: unknown target id, invalid name, unknown tag
    assertThrows[NoSuchElementException](SnapshotLog.tag(spark, dir, "t", 99L))
    assertThrows[IllegalArgumentException](SnapshotLog.tag(spark, dir, "a/b", 3L))
    assertThrows[NoSuchElementException](SnapshotLog.snapshotAtTag(spark, dir, "gone"))
  }

  test("clusterBy makes per-file bounds disjoint; stats-range pruning then skips") {
    val dir = Files.createTempDirectory("graft-snaplog-cluster").toString + "/t"
    // 3 ingest-ordered commits, each interleaving the full v range
    // (v = id * 10): every file overlaps every range → zero skipping
    commitRows(dir, rows(1, 10, 20), "append")
    commitRows(dir, rows(2, 11, 21), "append")
    commitRows(dir, rows(3, 12, 22), "append")
    val pre = SnapshotLog.currentSnapshot(spark, dir).get
    val vRange = GraftPruning.filePredicate(Array(
      GreaterThanOrEqual("v", 100), LessThanOrEqual("v", 150)))
    assert(pre.files.count(vRange) === pre.files.size)
    // cluster on v: buckets [-inf,100) [100,200) [200,inf)
    val sn = SnapshotLog.clusterBy(spark, dir, "v", Seq(100.0, 200.0))
    assert(sn.operation === "replace")
    // one file per non-empty bucket, all bounds tagged v and disjoint
    assert(sn.files.size === 3)
    assert(sn.files.forall(_.statsCol === Some("v")))
    val bounds = sn.files.map(f => (BigDecimal(f.minLsn.get), BigDecimal(f.maxLsn.get)))
      .sortBy(_._1)
    assert(bounds.sliding(2).forall { case Seq((_, aMax), (bMin, _)) => aMax < bMin })
    // range [100,150] now restricts to ONE file, and the read is complete
    assert(sn.files.count(vRange) === 1)
    assert(idsOf(SnapshotLog.readPruned(spark, dir, sn, vRange)
      .filter(col("v").between(100, 150))) === Seq(10L, 11L, 12L))
    // content preserved whole; bucket column is layout, not schema
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get)
      === Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 22L))
    assert(sn.schema.fieldNames.toSeq === pre.schema.fieldNames.toSeq)
    // LSN pruning no longer trusts the v bounds (wrong-column guard):
    // a narrow LSN window keeps every clustered file
    assert(sn.files.count(GraftPruning.filePredicate(Array(
      GreaterThanOrEqual(graft.ingest.Cdc.LsnColumn, f"${1L}%016d"),
      LessThanOrEqual(graft.ingest.Cdc.LsnColumn, f"${1L}%016d")))) === 3)
    // clustered files carry the "cluster" spec: bucket ids are LAYOUT,
    // never identity partition values — a day-pruned read must keep
    // them (unknown-to-the-predicate transforms never prune)
    assert(sn.files.forall(_.spec === Some("cluster")))
    assert(idsOf(SnapshotLog.readPruned(spark, dir, sn,
      GraftPruning.matchesDay(_, "2024-01-01"))).size === 9)
    // per-partition rewrites refuse the non-identity layout loudly;
    // normalizeLayout rewrites it back to an identity table
    assertThrows[IllegalArgumentException](
      SnapshotLog.compact(spark, dir, partitionCol = None))
    SnapshotLog.normalizeLayout(spark, dir, partitionCol = None)
    val norm = SnapshotLog.currentSnapshot(spark, dir).get
    assert(GraftPruning.exactDayLayout(norm))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get).size === 9)
    // guard rails
    assertThrows[IllegalArgumentException](
      SnapshotLog.clusterBy(spark, dir, "v", Seq(200.0, 100.0)))
    assertThrows[IllegalArgumentException](
      SnapshotLog.clusterBy(spark, dir, "missing", Seq(1.0)))
  }

  test("mass deleteWhere writes its slots in parallel (>1 pos-delete file)") {
    val dir = Files.createTempDirectory("graft-snaplog-massdel").toString + "/t"
    import spark.implicits._
    val df = spark.range(0, 20000).toDF("id")
      .withColumn("day", concat(lit("2024-01-"),
        lpad((col("id") % 9 + 1).cast("string"), 2, "0")))
      .withColumn(graft.ingest.Cdc.LsnColumn,
        lpad(col("id").cast("string"), 16, "0"))
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, Some("day"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    // force small shuffle partitions so the parallel write is OBSERVABLE
    // at test scale (at 100 TB the slot volume does this by itself)
    val knobs = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = knobs.map(k => k -> spark.conf.getOption(k))
    knobs.foreach(spark.conf.set(_, "8kb"))
    try {
      // delete most days' rows — a multi-day mass delete
      val sn = SnapshotLog.deleteWhere(spark, dir, col("day") <= "2024-01-07").get
      assert(sn.posDeletes.size > 1,
        s"mass delete serialized into ${sn.posDeletes.size} file(s)")
      assert(sn.posDeletes.map(_.rows).sum > 15000L)
      assert(sn.posDeletes.forall(_.rows > 0L)) // no empty-task debris
      assert(SnapshotLog.readCurrent(spark, dir).get.count()
        === df.filter(col("day") > "2024-01-07").count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("DML manifest pruning: keep gates the scan; predicates stay exact") {
    val dir = Files.createTempDirectory("graft-snaplog-dmlprune").toString + "/t"
    import spark.implicits._
    val df = spark.range(0, 300).toDF("id")
      .withColumn("day", concat(lit("2024-01-0"),
        (col("id") % 3 + 1).cast("string")))
      .withColumn(graft.ingest.Cdc.LsnColumn,
        lpad(col("id").cast("string"), 16, "0"))
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, Some("day"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    // the keep predicate is LOAD-BEARING: count which files the scan
    // admits — a day-targeted delete must open only that day's files
    var admitted = 0
    SnapshotLog.deleteWhere(spark, dir, col("day") === "2024-01-02",
      keep = f => { val k = GraftPruning.matchesDay(f, "2024-01-02"); if (k) admitted += 1; k })
    assert(admitted === 1, s"pruned delete admitted $admitted files")
    assert(SnapshotLog.readCurrent(spark, dir).get.count() === 200L)
    assert(SnapshotLog.readCurrent(spark, dir).get
      .filter(col("day") === "2024-01-02").count() === 0L)
    // updateWhere prunes the same way and the untouched days survive
    var admitted2 = 0
    SnapshotLog.updateWhere(spark, dir, col("day") === "2024-01-03",
      Map("id" -> (col("id") + 1000L)), partitionCol = Some("day"),
      keep = f => { val k = GraftPruning.matchesDay(f, "2024-01-03"); if (k) admitted2 += 1; k })
    assert(admitted2 >= 1 && admitted2 <= 2) // day-3 base (+ nothing else)
    val state = SnapshotLog.readCurrent(spark, dir).get
    assert(state.filter(col("day") === "2024-01-03" && col("id") < 1000L)
      .count() === 0L)
    assert(state.filter(col("day") === "2024-01-01" && col("id") < 1000L)
      .count() === 100L)
  }

  test("without AQE, a small delete falls back to the single pos-delete file") {
    val dir = Files.createTempDirectory("graft-snaplog-noaqe").toString + "/t"
    commitRows(dir, rows(1, 2, 3, 4, 5), "append")
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val sn = SnapshotLog.deleteWhere(spark, dir, col("id").isin(2, 4)).get
      assert(sn.posDeletes.size === 1, // not one tiny file per partition
        s"AQE-off delete fanned out into ${sn.posDeletes.size} files")
      assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 3L, 5L))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("deleteWhere removes rows by slot identity without touching data files") {
    val dir = Files.createTempDirectory("graft-snaplog-posdel").toString + "/t"
    commitRows(dir, rows(1, 2, 3), "append")
    commitRows(dir, rows(4, 5), "append")
    val pre = SnapshotLog.currentSnapshot(spark, dir).get
    // DELETE FROM t WHERE id IN (2, 4)
    val sn = SnapshotLog.deleteWhere(spark, dir, col("id").isin(2, 4)).get
    assert(sn.operation === "delete")
    assert(sn.files.map(_.path) === pre.files.map(_.path)) // zero rewrite
    assert(sn.posDeletes.size === 1 && sn.posDeletes.head.rows === 2L)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 3L, 5L))
    // time travel: the pre-delete snapshot still shows every row
    assert(idsOf(SnapshotLog.read(spark, dir,
      SnapshotLog.snapshotAt(spark, dir, pre.id))) === Seq(1L, 2L, 3L, 4L, 5L))
    // second delete accumulates; re-matching a dead slot is harmless
    SnapshotLog.deleteWhere(spark, dir, col("id") >= 4)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 3L))
    // no match → no commit
    assert(SnapshotLog.deleteWhere(spark, dir, col("id") === 99).isEmpty)
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === sn.id + 1)
    // rewrites refuse live deletes; the fold retires them
    assertThrows[IllegalArgumentException](
      SnapshotLog.compact(spark, dir, partitionCol = None))
    assertThrows[IllegalArgumentException](
      SnapshotLog.clusterBy(spark, dir, "v", Seq(30.0)))
    val folded = SnapshotLog.foldDeletes(spark, dir, partitionCol = None).get
    assert(folded.posDeletes.isEmpty)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 3L))
    // rollback to the pre-delete snapshot resurrects exactly its state
    SnapshotLog.rollback(spark, dir, pre.id)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("positional deletes survive appends and expiry; compose with eq deletes") {
    val dir = Files.createTempDirectory("graft-snaplog-posdel2").toString + "/t"
    commitRows(dir, rows(1, 2), "append")
    SnapshotLog.deleteWhere(spark, dir, col("id") === 1)
    // an append carries the pos-delete set: id 1 stays dead
    commitRows(dir, rows(3), "append")
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(2L, 3L))
    // expire to the newest snapshot only: the delete file is LIVE
    // metadata of the kept snapshot and must survive the sweep
    SnapshotLog.expire(spark, dir, keepLast = 1)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(2L, 3L))
    // an equality delete on top: both kinds apply in one read
    val cur = SnapshotLog.currentSnapshot(spark, dir).get
    SnapshotLog.withTableLock(dir) {
      val dels = SnapshotLog.writeDeletes(spark, dir,
        rows(2).select(col("id")), Seq("id"))
      SnapshotLog.commit(spark, dir, "mor-merge", cur.schema, Some(cur),
        addDeletes = dels)
    }
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(3L))
  }

  test("MOR read plans O(1) scan legs however many un-folded commits exist") {
    val dir = Files.createTempDirectory("graft-snaplog-planw").toString + "/t"
    // 10 MOR commits: commit i adds a data file (ids i, i+100) AND an
    // equality-delete file killing the PREVIOUS commit's id — 10
    // distinct data seqs, 10 distinct delete seqs, 9 deletes that apply
    (1 to 10).foreach { i =>
      SnapshotLog.withTableLock(dir) {
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        val files = SnapshotLog.writeData(spark, dir, rows(i.toLong, i + 100L),
          partitionCol = None)
        val dels = SnapshotLog.writeDeletes(spark, dir,
          rows(i.toLong - 1).select(col("id")), Seq("id"))
        SnapshotLog.commit(spark, dir, "mor-merge", rows(1).schema, cur,
          add = files, addDeletes = dels)
      }
    }
    def parquetLegs(plan: String): Int =
      """FileScan parquet|Scan parquet|\bBatchScan\b""".r.findAllIn(plan).length
    // the first read is the delete frames' first sighting, which stays
    // uncached — the structural contract: ONE multi-path data scan +
    // ONE multi-path delete scan, regardless of the 10 distinct seqs on
    // each side — the seq ranking joins in from broadcast manifest maps
    // instead of widening the plan per commit
    val df = SnapshotLog.readCurrent(spark, dir).get
    // correctness first: commit i's delete (seq i) outranks id i-1's
    // file (seq i-1) — ids 1..9 die, id 10 and every id+100 survive
    val got = idsOf(df)
    assert(got === (Seq(10L) ++ (1 to 10).map(_ + 100L)).sorted,
      s"MOR survivors wrong: $got")
    val legs = parquetLegs(df.queryExecution.executedPlan.toString)
    assert(legs === 2,
      s"expected 2 parquet scan legs (data + deletes), got $legs:\n" +
        df.queryExecution.executedPlan.toString.take(4000))
    // once cached (the steady state), the delete side collapses to an
    // in-memory LocalTableScan: ONE parquet leg total
    val warm = SnapshotLog.readCurrent(spark, dir).get // populates the cache
    assert(idsOf(warm) === (Seq(10L) ++ (1 to 10).map(_ + 100L)).sorted)
    val cached = SnapshotLog.readCurrent(spark, dir).get
    val cachedPlan = cached.queryExecution.executedPlan.toString
    assert(idsOf(cached) === (Seq(10L) ++ (1 to 10).map(_ + 100L)).sorted)
    assert(parquetLegs(cachedPlan) === 1,
      s"expected the cached delete side to leave ONE parquet leg:\n" +
        cachedPlan.take(4000))
    assert(cachedPlan.contains("LocalTableScan"),
      "cached delete frames should plan as LocalTableScan")
  }

  test("URI-escaped partition values keep row identity: deletes apply under hour specs") {
    val dir = Files.createTempDirectory("graft-snaplog-esc").toString + "/t"
    import spark.implicits._
    // hour-spec layout: the partition DIRECTORY name contains a space,
    // so the raw manifest path and the percent-encoded lineage `_abs`
    // form diverge — every path-identity join (pos-delete slots, the
    // eq-delete seq maps) must key on the lineage form or silently
    // drop/resurrect rows
    val df = Seq(1L -> "2024-01-10", 2L -> "2024-01-10", 3L -> "2024-01-11")
      .toDF("id", "day")
    SnapshotLog.withTableLock(dir) {
      val withHour = df.withColumn("_phour", concat(col("day"), lit(" 07")))
      val files = SnapshotLog.writeData(spark, dir, withHour,
        Some("_phour"), spec = Some("hour"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    // equality delete of id=1 (seq 2 outranks the hour files' seq 1)
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir).get
      val dels = SnapshotLog.writeDeletes(spark, dir,
        Seq(1L).toDF("id"), Seq("id"))
      SnapshotLog.commit(spark, dir, "mor-merge", cur.schema, Some(cur),
        addDeletes = dels)
    }
    // positional delete of id=2 (slots target the ENCODED file identity)
    SnapshotLog.deleteWhere(spark, dir, col("id") === 2L)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(3L))
  }

  test("expire keeps the retain floor and tags") {
    val dir = Files.createTempDirectory("graft-snaplog-floor").toString + "/t"
    commitRows(dir, rows(1), "append", carry = false)
    commitRows(dir, rows(2), "append", carry = false)
    commitRows(dir, rows(3), "append", carry = false)
    commitRows(dir, rows(4), "append", carry = false)
    // the newest keepLast snapshots and the tagged one keep their
    // manifests and their bytes; snapshot 2 is neither, and its data
    // file is reclaimed
    SnapshotLog.tag(spark, dir, "pinned", 1L)
    assert(SnapshotLog.expire(spark, dir, keepLast = 2) >= 1)
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 3L, 4L))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(4L))
    assert(idsOf(SnapshotLog.read(spark, dir,
      SnapshotLog.snapshotAt(spark, dir, 3L))) === Seq(3L))
    assert(idsOf(SnapshotLog.read(spark, dir,
      SnapshotLog.snapshotAtTag(spark, dir, "pinned"))) === Seq(1L))
  }

  test("partition-spec evolution: pruning follows each file's transform") {
    val dir = Files.createTempDirectory("graft-snaplog-spec").toString + "/t"
    import spark.implicits._
    def days(rows: (Long, String)*): DataFrame =
      rows.toDF("id", "day")
    // commit 1: identity (day) spec
    SnapshotLog.withTableLock(dir) {
      val df = days(1L -> "2024-01-10", 2L -> "2024-02-20")
      val files = SnapshotLog.writeData(spark, dir, df, Some("day"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    // commit 2: month spec via a hidden transform column
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      val df = days(3L -> "2024-01-15", 4L -> "2024-03-05")
      val withMonth = df.withColumn("_pmonth", substring(col("day"), 1, 7))
      val files = SnapshotLog.writeData(spark, dir, withMonth,
        Some("_pmonth"), spec = Some("month"))
      SnapshotLog.commit(spark, dir, "append", df.schema, cur, add = files)
    }
    val cur = SnapshotLog.currentSnapshot(spark, dir).get
    assert(cur.files.size === 4) // 2 day files + 2 month files
    // a January day keeps its own day file plus the January month file
    val jan = cur.files.filter(GraftPruning.matchesDay(_, "2024-01-10"))
    assert(jan.map(_.partition).sorted === Seq("2024-01", "2024-01-10"))
    // the read prunes the same way and filters rows correctly
    assert(idsOf(SnapshotLog.readPruned(spark, dir, cur,
      GraftPruning.matchesDay(_, "2024-01-10"))
      .filter(col("day") === "2024-01-10")) === Seq(1L))
    // the month file yields its mid-month row through a day-window read
    assert(idsOf(SnapshotLog.readPruned(spark, dir, cur,
      GraftPruning.matchesDay(_, "2024-01-15"))
      .filter(col("day") === "2024-01-15")) === Seq(3L))
    // hidden transform column is layout, not schema
    assert(SnapshotLog.readCurrent(spark, dir).get.columns.toSeq
      === Seq("id", "day"))
    // commit 3: YEAR spec; commit 4: HOUR spec (the full reference
    // transform family — ref internal/iceberg/types.go:54-75)
    SnapshotLog.withTableLock(dir) {
      val c = SnapshotLog.currentSnapshot(spark, dir)
      val df = days(5L -> "2024-04-01", 6L -> "2025-06-15")
      val withYear = df.withColumn("_pyear", substring(col("day"), 1, 4))
      val files = SnapshotLog.writeData(spark, dir, withYear,
        Some("_pyear"), spec = Some("year"))
      SnapshotLog.commit(spark, dir, "append", df.schema, c, add = files)
    }
    SnapshotLog.withTableLock(dir) {
      val c = SnapshotLog.currentSnapshot(spark, dir)
      val df = days(7L -> "2024-01-10", 8L -> "2024-01-20")
      val withHour = df.withColumn("_phour", concat(col("day"), lit(" 07")))
      val files = SnapshotLog.writeData(spark, dir, withHour,
        Some("_phour"), spec = Some("hour"))
      SnapshotLog.commit(spark, dir, "append", df.schema, c, add = files)
    }
    val cur2 = SnapshotLog.currentSnapshot(spark, dir).get
    assert(cur2.files.size === 8) // 2 day + 2 month + 2 year + 2 hour
    // a January-2024 day keeps: its day file, the Jan month file, the
    // 2024 year file (coarse), and ITS OWN hour file only (hour is
    // finer than the day predicate — file-exact pruning again)
    val jan10 = cur2.files.filter(GraftPruning.matchesDay(_, "2024-01-10"))
    assert(jan10.map(_.partition).sorted ===
      Seq("2024", "2024-01", "2024-01-10", "2024-01-10 07"))
    // the read composes all four layouts and filters rows exactly
    assert(idsOf(SnapshotLog.readPruned(spark, dir, cur2,
      GraftPruning.matchesDay(_, "2024-01-10"))
      .filter(col("day") === "2024-01-10")) === Seq(1L, 7L))
    // a 2025 day prunes everything but the 2025 year file
    assert(cur2.files.filter(GraftPruning.matchesDay(_, "2025-06-15"))
      .map(_.partition) === Seq("2025"))
    // an unknown spec never prunes
    val alien = cur.copy(files = cur.files.map(_.copy(spec = Some("bucket"))))
    assert(alien.files.filter(GraftPruning.matchesDay(_, "1999-01-01")).size === 4)
  }

  test("updateWhere rewrites matching rows atomically by slot + append") {
    val dir = Files.createTempDirectory("graft-snaplog-upd").toString + "/t"
    commitRows(dir, rows(1, 2, 3), "append")
    val pre = SnapshotLog.currentSnapshot(spark, dir).get
    // UPDATE t SET v = v + 1000 WHERE id >= 2
    val sn = SnapshotLog.updateWhere(spark, dir, col("id") >= 2,
      Map("v" -> (col("v") + 1000))).get
    assert(sn.operation === "update")
    assert(sn.posDeletes.size === 1 && sn.posDeletes.head.rows === 2L)
    // every pre-update file carried untouched, replacement file(s) added
    assert(sn.files.map(_.path).toSet.intersect(pre.files.map(_.path).toSet)
      === pre.files.map(_.path).toSet)
    assert(sn.files.size > pre.files.size)
    import spark.implicits._
    val state = SnapshotLog.readCurrent(spark, dir).get
      .select(col("id"), col("v")).as[(Long, Long)].collect().sorted.toSeq
    assert(state === Seq((1L, 10L), (2L, 1020L), (3L, 1030L)))
    // time travel shows the pre-update values
    assert(SnapshotLog.read(spark, dir, SnapshotLog.snapshotAt(spark, dir, pre.id))
      .filter(col("id") === 2).select(col("v")).as[Long].collect().toSeq === Seq(20L))
    // updates see LIVE state: a second update over the same predicate
    // reassigns the replacement rows, not the dead originals
    SnapshotLog.updateWhere(spark, dir, col("id") >= 2,
      Map("v" -> (col("v") + 1)))
    assert(SnapshotLog.readCurrent(spark, dir).get
      .select(col("v")).as[Long].collect().sorted.toSeq === Seq(10L, 1021L, 1031L))
    // dead rows never match: deleting then updating touches nothing
    SnapshotLog.deleteWhere(spark, dir, col("id") === 3)
    assert(SnapshotLog.updateWhere(spark, dir, col("id") === 3,
      Map("v" -> lit(0))).isEmpty)
    // unknown assignment column fails loudly
    assertThrows[IllegalArgumentException](
      SnapshotLog.updateWhere(spark, dir, lit(true), Map("nope" -> lit(1))))
    // fold retires the accumulated slots; state is unchanged
    SnapshotLog.foldDeletes(spark, dir, partitionCol = None)
    assert(SnapshotLog.readCurrent(spark, dir).get
      .select(col("v")).as[Long].collect().sorted.toSeq === Seq(10L, 1021L))
  }

  test("write-audit-publish: staged commits are invisible until fast-forward") {
    val dir = Files.createTempDirectory("graft-snaplog-wap").toString + "/t"
    commitRows(dir, rows(1), "append")
    SnapshotLog.createBranch(spark, dir, "audit")
    SnapshotLog.appendToBranch(spark, dir, "audit", rows(2))
    SnapshotLog.appendToBranch(spark, dir, "audit", rows(3))
    // isolation: main still at snapshot 1 with only its own rows; the
    // branch head sees the full staged state (the audit read)
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === 1L)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L))
    val head = SnapshotLog.branchHead(spark, dir, "audit")
    assert(head.id === 3L)
    assert(idsOf(SnapshotLog.read(spark, dir, head)) === Seq(1L, 2L, 3L))
    // an expire during the audit must NOT reclaim staged data files
    SnapshotLog.expire(spark, dir, keepLast = 1)
    assert(idsOf(SnapshotLog.read(spark, dir,
      SnapshotLog.branchHead(spark, dir, "audit"))) === Seq(1L, 2L, 3L))
    // publish: metadata-only fast-forward, ids slot in as 2 and 3
    assert(SnapshotLog.publish(spark, dir, "audit") === Seq(2L, 3L))
    assert(SnapshotLog.snapshotIds(spark, dir) === Seq(1L, 2L, 3L))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L))
    assert(SnapshotLog.branches(spark, dir).isEmpty)
  }

  test("publish resumes after a mid-publish crash; half-created branches are debris") {
    val dir = Files.createTempDirectory("graft-snaplog-wap3").toString + "/t"
    commitRows(dir, rows(1), "append")
    SnapshotLog.createBranch(spark, dir, "audit")
    SnapshotLog.appendToBranch(spark, dir, "audit", rows(2))
    SnapshotLog.appendToBranch(spark, dir, "audit", rows(3))
    // emulate a crash after the FIRST staged rename landed on main
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new Path(s"$dir/${SnapshotLog.MetaDirName}")
    assert(fs.rename(new Path(md, "branch-audit/snap-000000000002.json"),
      new Path(md, "snap-000000000002.json")))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.id === 2L)
    // publish resumes the suffix instead of refusing the fast-forward
    assert(SnapshotLog.publish(spark, dir, "audit") === Seq(3L))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L))
    // a branch dir with no base.json (createBranch crashed mid-way) is
    // debris: expire reclaims it instead of failing forever
    fs.mkdirs(new Path(md, "branch-crashed"))
    SnapshotLog.expire(spark, dir, keepLast = 3)
    assert(!fs.exists(new Path(md, "branch-crashed")))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L))
  }

  test("row-level DML and branch staging refuse partitioned tables without a partitionCol") {
    val dir = Files.createTempDirectory("graft-snaplog-dmlpart").toString + "/t"
    import spark.implicits._
    val df = Seq((1L, "2024-01-10"), (2L, "2024-01-11")).toDF("id", "day")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, Some("day"))
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    assertThrows[IllegalArgumentException](
      SnapshotLog.updateWhere(spark, dir, col("id") === 1, Map("id" -> lit(9))))
    SnapshotLog.createBranch(spark, dir, "b")
    assertThrows[IllegalArgumentException](
      SnapshotLog.appendToBranch(spark, dir, "b", df))
    // with the partition column passed, both paths keep day pruning sound
    SnapshotLog.appendToBranch(spark, dir, "b",
      Seq((3L, "2024-01-12")).toDF("id", "day"), Some("day"))
    SnapshotLog.publish(spark, dir, "b")
    SnapshotLog.updateWhere(spark, dir, col("id") === 1,
      Map("id" -> lit(9L)), Some("day"))
    assert(idsOf(SnapshotLog.readPruned(spark, dir,
      SnapshotLog.currentSnapshot(spark, dir).get,
      GraftPruning.matchesDay(_, "2024-01-10"))).contains(9L))
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(2L, 3L, 9L))
  }

  test("publish fails loudly when main advanced; drop reclaims staged work") {
    val dir = Files.createTempDirectory("graft-snaplog-wap2").toString + "/t"
    commitRows(dir, rows(1), "append")
    SnapshotLog.createBranch(spark, dir, "audit")
    SnapshotLog.appendToBranch(spark, dir, "audit", rows(2))
    // main advances past the base: the staged id is taken
    commitRows(dir, rows(9), "append")
    assertThrows[SnapshotLog.ConcurrentCommitException](
      SnapshotLog.publish(spark, dir, "audit"))
    // the failed audit is dropped; its data files become debris
    SnapshotLog.dropBranch(spark, dir, "audit")
    // grace 0: the dropped branch's staged file is fresh never-referenced debris
    val reclaimed = SnapshotLog.expire(spark, dir, keepLast = 1, debrisGraceMs = 0L)
    assert(reclaimed >= 1) // the staged append's file went away
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 9L))
    // guard rails
    assertThrows[NoSuchElementException](
      SnapshotLog.branchHead(spark, dir, "gone"))
    SnapshotLog.createBranch(spark, dir, "b2")
    assertThrows[IllegalArgumentException](
      SnapshotLog.createBranch(spark, dir, "b2"))
    // empty-branch publish is a no-op that just drops the branch
    assert(SnapshotLog.publish(spark, dir, "b2") === Seq.empty)
  }

  test("snapshotAsOfTime resolves the newest snapshot at or before the clock") {
    val dir = Files.createTempDirectory("graft-snaplog-asof").toString + "/t"
    val s1 = commitRows(dir, rows(1), "append")
    val s2 = commitRows(dir, rows(2), "append")
    // before the first commit: nothing to resolve
    assert(SnapshotLog.snapshotAsOfTime(spark, dir, s1.tsMs - 1).isEmpty)
    // exactly at / between / after commit times (ids and tsMs co-monotone)
    // at s1's instant: s1 wins unless s2 landed on the same millisecond
    // (tsMs has ms resolution; the id tiebreak picks the newest)
    val atS1 = SnapshotLog.snapshotAsOfTime(spark, dir, s1.tsMs).map(_.id)
    assert(atS1 === Some(if (s2.tsMs == s1.tsMs) s2.id else s1.id))
    val mid = SnapshotLog.snapshotAsOfTime(spark, dir, s2.tsMs - 1).map(_.id)
    if (s1.tsMs <= s2.tsMs - 1) assert(mid === Some(s1.id)) else assert(mid.isEmpty)
    assert(SnapshotLog.snapshotAsOfTime(spark, dir, s2.tsMs + 1000).map(_.id) === Some(s2.id))
  }

  test("LSN windows skip files from manifest bounds; missing bounds never skip") {
    val dir = Files.createTempDirectory("graft-snaplog-prune").toString + "/t"
    // one file per commit (coalesce) so bounds-per-file are deterministic
    commitRows(dir, rows(1, 2, 3).coalesce(1), "append")    // bounds [..1, ..3]
    commitRows(dir, rows(10, 11, 12).coalesce(1), "append") // bounds [..10, ..12]
    commitRows(dir, rows(20, 21).coalesce(1), "append")     // bounds [..20, ..21]
    val sn = SnapshotLog.currentSnapshot(spark, dir).get
    def lsn(i: Long) = f"$i%016d"
    def window(lo: Long, hi: Long) = GraftPruning.filePredicate(Array(
      GreaterThanOrEqual(graft.ingest.Cdc.LsnColumn, lsn(lo)),
      LessThanOrEqual(graft.ingest.Cdc.LsnColumn, lsn(hi))))
    // middle window: only commit 2's file overlaps
    val mid = sn.files.filter(window(5, 15))
    assert(mid.size === 1 && mid.head.minLsn === Some(lsn(10)))
    assert(idsOf(SnapshotLog.readPruned(spark, dir, sn, window(5, 15)))
      === Seq(10L, 11L, 12L))
    // boundary inclusivity: a window ending exactly at a file's min keeps it
    assert(sn.files.count(window(3, 10)) === 2)
    // empty window between commits skips everything
    assert(sn.files.count(window(13, 19)) === 0)
    // a file without recorded bounds is never skipped
    val blind = sn.copy(files = sn.files.map(_.copy(minLsn = None, maxLsn = None)))
    assert(blind.files.count(window(13, 19)) === sn.files.size)
  }

  test("unpartitioned compact folds the whole file set into one file") {
    val dir = Files.createTempDirectory("graft-snaplog-cmpu").toString + "/t"
    commitRows(dir, rows(1), "append")
    commitRows(dir, rows(2), "append")
    commitRows(dir, rows(3), "append")
    assert(SnapshotLog.compact(spark, dir, partitionCol = None, maxFiles = 2)
      === Seq(""))
    val post = SnapshotLog.currentSnapshot(spark, dir).get
    assert(post.operation === "replace")
    assert(post.files.size === 1)
    assert(idsOf(SnapshotLog.readCurrent(spark, dir).get) === Seq(1L, 2L, 3L))
  }

  test("expire's DEFAULT debris grace shields fresh never-referenced files") {
    val dir = Files.createTempDirectory("graft-snaplog-grace").toString + "/t"
    commitRows(dir, rows(1), "append")
    // a cross-process writer mid-commit: data written, manifest not yet
    // renamed — the default grace must shield it from a concurrent expire
    val orphan = SnapshotLog.writeData(spark, dir, rows(9), partitionCol = None)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def orphanExists = orphan.forall(f => fs.exists(new Path(s"$dir/${f.path}")))
    SnapshotLog.expire(spark, dir, keepLast = 1)
    assert(orphanExists, "default grace swept a fresh unreferenced file")
    // explicit 0 = strict single-process semantics: sweep now
    assert(SnapshotLog.expire(spark, dir, keepLast = 1, debrisGraceMs = 0L) > 0)
    assert(!orphanExists)
  }

}
