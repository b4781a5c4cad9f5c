package graft.ingest

import graft.SparkTestBase
import graft.lake.SnapshotLog
import graft.model.SchemaBuilder
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[CdcWriter.merge]]: upserts into the stored day-partitioned table,
  * committed through the [[SnapshotLog]] protocol. The registered
  * `cdc_lake_merge` query hash-checks the merged state against a full
  * recompute; this spec asserts the PHYSICAL properties the hash can't
  * see — partitions without affected keys keep their manifest entries
  * (same files, byte-for-byte: the partition-pruned merge that makes the
  * operation viable at 100 TB), emptied partitions leave the manifest,
  * and data files are immutable (a merge never rewrites a live file). */
class LakeMergeSpec extends SparkTestBase {

  private def env(rows: (Long, Long, Double, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "event_id", "value", Cdc.OpColumn, "day")
      .withColumn(Cdc.TsColumn,
        to_timestamp(concat(col("day"), lit(" 12:00:00"))))
      .withColumn(Cdc.LsnColumn, lpad(col("event_id").cast("string"), 16, "0"))
      .drop("day")
  }

  /** The day's live file identities: manifest entries (path, size,
    * mtime). Equality across a merge = the files were neither replaced
    * nor rewritten in place. */
  private def files(dir: String, day: String): Seq[(String, Long, Long)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.currentSnapshot(spark, dir).toSeq.flatMap(
      _.files.filter(_.partition == day).sortBy(_.path).map { f =>
        val st = fs.getFileStatus(new Path(s"$dir/${f.path}"))
        (f.path, st.getLen, st.getModificationTime)
      })
  }

  test("merge rewrites only key-affected partitions; others keep their files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge").toString + "/t"
    // stored state: keys 1,2 on day1; 3,4 on day2; 5,6 on day3
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01"),
      (3L, 3L, 3.0, "INSERT", "2024-01-02"), (4L, 4L, 4.0, "INSERT", "2024-01-02"),
      (5L, 5L, 5.0, "INSERT", "2024-01-03"), (6L, 6L, 6.0, "INSERT", "2024-01-03")))
    val before1 = files(dir, "2024-01-01")
    val before3 = files(dir, "2024-01-03")
    assert(before1.nonEmpty && before3.nonEmpty)

    // deltas: update key 3 (moves to day4), delete key 4, insert key 7;
    // two versions of key 3 prove the batch collapses to newest-per-key
    val touched = CdcWriter.merge(spark, dir, env(
      (3L, 10L, 30.0, "UPDATE", "2024-01-04"),
      (3L, 11L, 31.0, "UPDATE", "2024-01-04"),
      (4L, 12L, 0.0, "DELETE", "2024-01-04"),
      (7L, 13L, 7.0, "INSERT", "2024-01-04")), Seq("user_id"))
    assert(touched === Seq("2024-01-02", "2024-01-04"))

    // the 100 TB property: unaffected partitions untouched, byte-for-byte
    // (the seed's files carry into the merge's manifest, never rewritten)
    assert(files(dir, "2024-01-01") === before1)
    assert(files(dir, "2024-01-03") === before3)

    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(state.toSeq === Seq(
      (1L, 1L, 1.0), (2L, 2L, 2.0), (3L, 11L, 31.0),
      (5L, 5L, 5.0), (6L, 6L, 6.0), (7L, 13L, 7.0)))
    // key 3's new version lives in its event's day partition
    assert(CdcWriter.read(spark, dir).filter($"user_id" === 3)
      .select(col(SchemaBuilder.partitionColumn).cast("string"))
      .as[String].head() === "2024-01-04")
  }

  test("a partition emptied by deletes leaves the manifest; expire reclaims its bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-del").toString + "/t"
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "INSERT", "2024-01-02"), (3L, 3L, 3.0, "INSERT", "2024-01-02")))
    val touched = CdcWriter.merge(spark, dir, env(
      (2L, 10L, 0.0, "DELETE", "2024-01-05"),
      (3L, 11L, 0.0, "DELETE", "2024-01-05")), Seq("user_id"))
    // only day2 is affected: DELETEs produce no upsert rows for day5
    assert(touched === Seq("2024-01-02"))
    assert(files(dir, "2024-01-02").isEmpty)
    assert(CdcWriter.read(spark, dir).select($"user_id").as[Long].collect().toSeq
      === Seq(1L))
    // the emptied day's old file is retained for time travel only;
    // expiring history reclaims it and the surviving day still reads
    assert(SnapshotLog.expire(spark, dir, keepLast = 1) > 0)
    assert(CdcWriter.read(spark, dir).select($"user_id").as[Long].collect().toSeq
      === Seq(1L))
  }

  test("two successive merges equal one recompute over the full history") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-seq").toString + "/t"
    val batch0 = env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01"))
    val batch1 = env(
      (1L, 10L, 10.0, "UPDATE", "2024-01-02"), (3L, 11L, 3.0, "INSERT", "2024-01-02"))
    val batch2 = env(
      (2L, 20L, 0.0, "DELETE", "2024-01-03"), (1L, 21L, 99.0, "UPDATE", "2024-01-03"))
    CdcWriter.appendCommit(spark, dir, Cdc.currentState(batch0, Seq("user_id")))
    CdcWriter.merge(spark, dir, batch1, Seq("user_id"))
    CdcWriter.merge(spark, dir, batch2, Seq("user_id"))
    val merged = CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    val recomputed = Cdc.currentState(
      batch0.unionByName(batch1).unionByName(batch2), Seq("user_id"))
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(merged.toSeq === recomputed.toSeq)
    assert(merged.toSeq === Seq((1L, 21L, 99.0), (3L, 11L, 3.0)))
  }

  test("re-merging the same batch is idempotent (exactly-once under replay)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-replay").toString + "/t"
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01")))
    val batch = env(
      (1L, 10L, 10.0, "UPDATE", "2024-01-02"),
      (2L, 11L, 0.0, "DELETE", "2024-01-02"),
      (3L, 12L, 3.0, "INSERT", "2024-01-02"))
    def state() = CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val t1 = CdcWriter.merge(spark, dir, batch, Seq("user_id"))
    val s1 = state()
    // the streaming sink's failure mode: the batch replays whole after a
    // crash — applying it a second time must change nothing
    val t2 = CdcWriter.merge(spark, dir, batch, Seq("user_id"))
    assert(state() === s1)
    // run 1 also rewrote day1 (it held the upserted/deleted keys); on
    // replay those keys already live in day2, so only day2 is touched —
    // the replay does strictly less work, and the state is unchanged
    assert(t1 === Seq("2024-01-01", "2024-01-02"))
    assert(t2 === Seq("2024-01-02"))
    assert(s1 === Seq((1L, 10L, 10.0), (3L, 12L, 3.0)))
  }

  test("a no-op delta batch (keys absent, no inserts) touches nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-noop").toString + "/t"
    CdcWriter.appendCommit(spark, dir, env((1L, 1L, 1.0, "INSERT", "2024-01-01")))
    val before = files(dir, "2024-01-01")
    val touched = CdcWriter.merge(spark, dir, env(
      (9L, 10L, 0.0, "DELETE", "2024-01-06")), Seq("user_id"))
    assert(touched === Seq.empty)
    assert(files(dir, "2024-01-01") === before)
  }

  /** TRUNCATE marker row: no row image, null key, only a position
    * (ref internal/cdc/source/postgres/reader.go:237-242). */
  private def truncMarker(eventId: Long, day: String): DataFrame = {
    import spark.implicits._
    Seq((eventId, day)).toDF("event_id", "day")
      .select(
        lit(null).cast("long").as("user_id"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"),
        lit("TRUNCATE").as(Cdc.OpColumn),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as(Cdc.TsColumn),
        lpad(col("event_id").cast("string"), 16, "0").as(Cdc.LsnColumn))
  }

  test("a TRUNCATE marker wipes stored pre-marker days from the manifest and " +
    "filters in-batch pre-marker rows before the upsert applies") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-trunc").toString + "/t"
    // stored state entirely before the marker: both days must be wiped
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01"),
      (3L, 3L, 3.0, "INSERT", "2024-01-02")))
    // batch: one pre-marker row (discarded), the marker at LSN 10, and
    // two post-marker rows (applied) — one of them re-inserting key 1
    val delta = env(
      (4L, 9L, 4.0, "INSERT", "2024-01-03"),
      (1L, 11L, 10.0, "INSERT", "2024-01-03"),
      (5L, 12L, 5.0, "INSERT", "2024-01-04"))
      .unionByName(truncMarker(10L, "2024-01-03"))
    val touched = CdcWriter.merge(spark, dir, delta, Seq("user_id"))
    // wiped: day1, day2 (all pre-marker); new: day3, day4
    assert(touched === Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    assert(files(dir, "2024-01-01").isEmpty && files(dir, "2024-01-02").isEmpty)
    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(state === Seq((1L, 11L, 10.0), (5L, 12L, 5.0)))
    // and it equals the DataFrame-layer TRUNCATE semantics over the
    // concatenated history — lake merge ≡ currentStateWithTruncate
    val recomputed = Cdc.currentStateWithTruncate(
      env((1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01"),
        (3L, 3L, 3.0, "INSERT", "2024-01-02")).unionByName(delta), Seq("user_id"))
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(state === recomputed)
  }

  test("a TRUNCATE only resets state at or before its LSN; newer stored rows survive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-trunc2").toString + "/t"
    // key 1 stored BEFORE the marker LSN, key 2 stored after it (a
    // replayed batch can legitimately hold rows newer than the marker)
    CdcWriter.appendCommit(spark, dir, env(
      (1L, 5L, 1.0, "INSERT", "2024-01-01"),
      (2L, 15L, 2.0, "INSERT", "2024-01-01")))
    val touched = CdcWriter.merge(spark, dir,
      truncMarker(10L, "2024-01-02"), Seq("user_id"))
    assert(touched === Seq("2024-01-01")) // rewritten, not dropped: key 2 survives
    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSeq.sorted
    assert(state === Seq((2L, 15L)))
  }

  test("TRUNCATE wipe detection keeps files whose bounds are not LSN bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-trunc3").toString + "/t"
    CdcWriter.merge(spark, dir, env(
      (1L, 5L, 1.0, "INSERT", "2024-01-01"),
      (2L, 6L, 2.0, "INSERT", "2024-01-02")), Seq("user_id"))
    // a maintenance rewrite that records VALUE bounds under min/max —
    // the metadata shortcut must not compare them against an LSN
    graft.lake.SnapshotLog.normalizeLayout(spark, dir,
      Some(graft.model.SchemaBuilder.partitionColumn), statsCol = "value")
    val cur = graft.lake.SnapshotLog.currentSnapshot(spark, dir).get
    assert(cur.files.exists(_.statsCol === Some("value")))
    // TRUNCATE at LSN 10: both stored days hold pre-marker rows and
    // must be wiped — a lexical value-vs-LSN compare would miss them;
    // files without LSN bounds are admitted, so both days are touched
    CdcWriter.merge(spark, dir, truncMarker(10L, "2024-01-03"), Seq("user_id"))
    val state = CdcWriter.read(spark, dir)
      .select($"user_id").as[Long].collect().toSeq
    assert(state === Seq.empty)
  }

  test("a TRUNCATE merge over entries without LSN bounds equals currentStateWithTruncate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-trunc4").toString + "/t"
    // day1 entirely before the marker, day2 straddling it, day3 after it
    val stored = env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"), (2L, 2L, 2.0, "INSERT", "2024-01-01"),
      (3L, 3L, 3.0, "INSERT", "2024-01-02"), (4L, 14L, 4.0, "INSERT", "2024-01-02"),
      (5L, 15L, 5.0, "INSERT", "2024-01-03"))
    CdcWriter.appendCommit(spark, dir, stored)
    // the same files with their LSN bounds dropped from the manifest
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir).get
      SnapshotLog.commit(spark, dir, "replace",
        cur.files.map(_.copy(minLsn = None, maxLsn = None)), cur.schema,
        parent = Some(cur))
    }
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files
      .forall(f => f.minLsn.isEmpty && f.maxLsn.isEmpty))
    val delta = env(
      (6L, 9L, 6.0, "INSERT", "2024-01-04"),
      (2L, 11L, 20.0, "INSERT", "2024-01-04"),
      (5L, 16L, 50.0, "UPDATE", "2024-01-03"))
      .unionByName(truncMarker(10L, "2024-01-04"))
    CdcWriter.merge(spark, dir, delta, Seq("user_id"))
    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val recomputed = Cdc.currentStateWithTruncate(stored.unionByName(delta), Seq("user_id"))
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(state === recomputed)
    assert(state === Seq((2L, 11L, 20.0), (4L, 14L, 4.0), (5L, 16L, 50.0)))
  }

  test("COW write amplification is bounded by the DELTA's day-spread, not the table's") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-cow").toString + "/t"
    // a 10-day table; the delta's keys all live in ONE day and its events
    // land in ONE new day — the merge must rewrite exactly those two,
    // however many days the table holds (the 100 TB bound: cost ∝ delta)
    CdcWriter.appendCommit(spark, dir, env((1L to 20L).map(i =>
      (i, i, i.toDouble, "INSERT", f"2024-01-${(i - 1) % 10 + 1}%02d")): _*))
    val touched = CdcWriter.merge(spark, dir, env(
      (3L, 100L, 30.0, "UPDATE", "2024-02-01"),
      (13L, 101L, 130.0, "UPDATE", "2024-02-01")), Seq("user_id"))
    // keys 3 and 13 both live in day 03; delta day is 02-01
    assert(touched === Seq("2024-01-03", "2024-02-01"))
    assert(touched.size === 2)
  }

  test("a crash before the commit rename is invisible; the replayed merge lands whole") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-crash").toString + "/t"
    CdcWriter.merge(spark, dir, env(
      (1L, 1L, 1.0, "INSERT", "2024-01-01"),
      (2L, 2L, 2.0, "INSERT", "2024-01-02")), Seq("user_id"))
    def state() = CdcWriter.read(spark, dir)
      .select($"user_id").as[Long].collect().toSeq.sorted
    // simulate the worst crash window of the old rename-aside design:
    // batch 2's data files fully written, commit never happened — the
    // files exist on disk but NO reader resolves them
    SnapshotLog.writeData(spark, dir,
      CdcWriter.withPartitionColumn(env((3L, 10L, 3.0, "INSERT", "2024-01-03"))),
      Some(SchemaBuilder.partitionColumn))
    assert(state() === Seq(1L, 2L))
    // the stream replays the batch: the merge commits, state is whole,
    // and the orphaned first attempt stays invisible until expire
    val touched = CdcWriter.merge(spark, dir, env(
      (3L, 10L, 3.0, "INSERT", "2024-01-03")), Seq("user_id"))
    assert(touched === Seq("2024-01-03"))
    assert(state() === Seq(1L, 2L, 3L))
    assert(SnapshotLog.expire(spark, dir, keepLast = 1,
      debrisGraceMs = 0L) > 0) // fresh orphan reclaimed under grace 0
    assert(state() === Seq(1L, 2L, 3L))
  }

  test("a merge that empties the whole table leaves a log the next merge can bootstrap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-empty").toString + "/t"
    CdcWriter.appendCommit(spark, dir, env((1L, 1L, 1.0, "INSERT", "2024-01-01")))
    CdcWriter.merge(spark, dir, env(
      (1L, 10L, 0.0, "DELETE", "2024-01-02")), Seq("user_id"))
    assert(files(dir, "2024-01-01").isEmpty)
    // the commit log records an empty table — the next merge must treat
    // it as such (empty frame with the committed schema), not fail
    assert(CdcWriter.read(spark, dir).count() === 0L)
    val touched = CdcWriter.merge(spark, dir, env(
      (2L, 20L, 2.0, "INSERT", "2024-01-03")), Seq("user_id"))
    assert(touched === Seq("2024-01-03"))
    assert(CdcWriter.read(spark, dir).select($"user_id").as[Long].collect().toSeq
      === Seq(2L))
  }

  /** `env` rows with a typed `score` column appended (the promotion
    * target of the type-widening tests). */
  private def envScore(scoreType: String,
                       rows: (Long, Long, Double, String, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "event_id", "value", Cdc.OpColumn, "day", "score")
      .withColumn("score", col("score").cast(scoreType))
      .withColumn(Cdc.TsColumn,
        to_timestamp(concat(col("day"), lit(" 12:00:00"))))
      .withColumn(Cdc.LsnColumn, lpad(col("event_id").cast("string"), 16, "0"))
      .drop("day")
  }

  test("a long→double widening merge cast-and-rewrites carried narrow files in the same commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-promote").toString + "/t"
    // batch 1: score is LONG, two days
    CdcWriter.merge(spark, dir, envScore("long",
      (1L, 1L, 1.0, "INSERT", "2024-01-01", 7.0),
      (2L, 2L, 2.0, "INSERT", "2024-01-02", 9.0)), Seq("user_id"))
    val day1Before = files(dir, "2024-01-01")
    assert(day1Before.nonEmpty)
    // batch 2: score widened to DOUBLE, touches only day-2's key — day 1
    // is carried, and its long-typed file cannot be read under the
    // widened schema, so the merge must rewrite it in the same commit
    CdcWriter.merge(spark, dir, envScore("double",
      (2L, 20L, 2.5, "UPDATE", "2024-01-02", 9.5)), Seq("user_id"))
    val snap = SnapshotLog.currentSnapshot(spark, dir).get
    assert(snap.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(files(dir, "2024-01-01") !== day1Before) // physically rewritten
    // the whole table reads under the committed schema, values intact
    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"score").as[(Long, Double)].collect().toSeq.sorted
    assert(state === Seq((1L, 7.0), (2L, 9.5)))
  }

  test("a long→double widening merge rewrites a RENAMED column's carried files by field id") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-promote-ren").toString + "/t"
    CdcWriter.merge(spark, dir, envScore("long",
      (1L, 1L, 1.0, "INSERT", "2024-01-01", 7.0),
      (2L, 2L, 2.0, "INSERT", "2024-01-02", 9.0)), Seq("user_id"))
    // the day-1 file stores the column as `score`, which now serves
    // `points`: the widening check must follow the field id, or the
    // carried long bytes stay under a double column no reader widens to
    SnapshotLog.renameColumn(spark, dir, "score", "points")
    val day1Before = files(dir, "2024-01-01")
    CdcWriter.merge(spark, dir, envScore("double",
      (2L, 20L, 2.5, "UPDATE", "2024-01-02", 9.5))
      .withColumnRenamed("score", "points"), Seq("user_id"))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.schema("points").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(files(dir, "2024-01-01") !== day1Before)
    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"points").as[(Long, Double)].collect().toSeq.sorted
    assert(state === Seq((1L, 7.0), (2L, 9.5)))
  }

  test("int widening stays metadata-only: carried int files are readable, not rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lakemerge-intwiden").toString + "/t"
    CdcWriter.merge(spark, dir, envScore("int",
      (1L, 1L, 1.0, "INSERT", "2024-01-01", 7.0),
      (2L, 2L, 2.0, "INSERT", "2024-01-02", 9.0)), Seq("user_id"))
    val day1Before = files(dir, "2024-01-01")
    CdcWriter.merge(spark, dir, envScore("long",
      (2L, 20L, 2.5, "UPDATE", "2024-01-02", 9.0)), Seq("user_id"))
    assert(SnapshotLog.currentSnapshot(spark, dir).get.schema("score").dataType ===
      org.apache.spark.sql.types.LongType)
    // int→long is a widening READ in Spark's parquet scan (Iceberg's own
    // metadata-only promotion rule): the carried file keeps its bytes
    assert(files(dir, "2024-01-01") === day1Before)
    val state = CdcWriter.read(spark, dir)
      .select($"user_id", $"score").as[(Long, Long)].collect().toSeq.sorted
    assert(state === Seq((1L, 7L), (2L, 9L)))
  }

  test("the registered cdc_lake_merge query is re-runnable within one session") {
    // the first run's merge() turns the scratch dir snapshot-backed;
    // without the pre-delete the second run's write() trips the
    // hive-append guard — which is exactly what a bench re-measure or a
    // second full-surface pass does in one JVM (caught live by the
    // WindowKeyGateSpec + SmokeSpec double pass, r20)
    val q = graft.SparkEntry.queries("cdc_lake_merge")
    val first = q(spark, sf0001).collect().map(_.toString).sorted.toSeq
    val second = q(spark, sf0001).collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty && first === second)
  }
}
