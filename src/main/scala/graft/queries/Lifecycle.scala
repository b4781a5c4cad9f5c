package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.ingest.{Cdc, CdcWriter, TimeTravel}
import graft.lake.GraftPruning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThanOrEqual}

/** Lifecycle surface: the write path, time travel, catalog exploration and
  * EXPLAIN — the parts of the reference's product surface that live around
  * plain SELECTs (SURVEY §2.4 Q1, Q5, Q6, Q17, Q18).
  */
object Lifecycle extends QueryModule {

  /** Envelope CTE shared with CdcQueries oracles. */
  private[queries] val envelopeSql =
    """SELECT user_id, event_id, value,
      | CASE event_type WHEN 'signup' THEN 'INSERT'
      |                 WHEN 'error' THEN 'DELETE'
      |                 ELSE 'UPDATE' END AS _cdc_operation,
      | CAST(ts AS TIMESTAMP) AS _cdc_timestamp,
      | lpad(CAST(event_id AS VARCHAR), 16, '0') AS _cdc_lsn
      |FROM events""".stripMargin

  /** Per-process scratch dir: keyed by the sf tag AND the Spark
    * applicationId, so two JVMs running concurrently against the same sf
    * dir (e.g. bench and verify overlapping) never Overwrite-race on each
    * other's half-written files. Within one JVM the id is stable, so
    * re-measures still reuse the path. */
  private[graft] def scratchDir(s: SparkSession, prefix: String, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/${prefix}_${s.sparkContext.applicationId}$tag"
  }

  /** [[scratchDir]], emptied first: a query that seeds its table with an
    * append must not append onto the table a previous run left there. */
  private[graft] def freshScratchDir(s: SparkSession, prefix: String, sfDir: String): String = {
    val dir = scratchDir(s, prefix, sfDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  // ---- write path + partition pruning (Q18): envelope → day-partitioned
  // SnapshotLog table → pruned read-back. The manifest's per-file day
  // values select only the 7 of ~31 days' files the window needs before
  // any file is opened — the pruning Iceberg metadata gives (asserted in
  // LifecycleSpec).
  private[graft] val RoundtripDays = (5 to 11).map(i => f"2024-01-$i%02d")

  /** Append the envelope as one commit; returns the table dir and its
    * snapshot. Shared with LifecycleSpec so the spec asserts pruning on
    * exactly what the registered query wrote. */
  def writeRoundtripSetup(s: SparkSession, d: String)
  : (String, graft.lake.SnapshotLog.Snapshot) = {
    val dir = freshScratchDir(s, "graft_roundtrip", d)
    (dir, CdcWriter.appendCommit(s, dir, CdcQueries.envelope(s, d)))
  }

  private def writeRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val (dir, snap) = writeRoundtripSetup(s, d)
    SnapshotLog.readPruned(s, dir, snap, GraftPruning.filePredicate(
      Array(In(graft.model.SchemaBuilder.partitionColumn, RoundtripDays.toArray[Any]))))
      .filter(col("_cdc_date").between(RoundtripDays.head, RoundtripDays.last))
      .groupBy(col("_cdc_date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col(Cdc.OpColumn) === "DELETE", 1).otherwise(0)).as("n_deletes"))
      .orderBy(col("day"))
  }

  private val writeRoundtripSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT strftime(_cdc_timestamp, '%Y-%m-%d') AS day, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users,
       |  CAST(sum(CASE WHEN _cdc_operation = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
       |FROM envelope
       |WHERE strftime(_cdc_timestamp, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-11'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- compaction round-trip: fragment the envelope into many small
  // files per day partition (8 files per day — the exact pathology the
  // reference's 5 s micro-batches produce, ref writer/writer.go:
  // 141-163), fold each day to one file with SnapshotLog.compact, then
  // read back. The oracle replays the aggregate from the raw events —
  // proving compaction changed the file layout and nothing else.
  // CompactionSpec asserts the file counts actually dropped 8 → 1.
  private[graft] val CompactionFragments = 8

  /** Fragmented write + compact; returns the table dir. Shared with
    * CompactionSpec so the spec asserts layout on exactly what the
    * registered query ran. */
  def compactionRoundtripSetup(s: SparkSession, d: String): String = {
    import graft.lake.SnapshotLog
    val pcol = graft.model.SchemaBuilder.partitionColumn
    val dir = freshScratchDir(s, "graft_compact", d)
    val env = CdcWriter.withPartitionColumn(CdcQueries.envelope(s, d))
    // ONE write job fragments every day: a hidden `<day>_<event_id mod 8>`
    // partition gives each day 8 files, and the manifest records each file
    // under its day (all of a file's rows carry that day). The hidden
    // column stays out of the committed schema, so readers never see it.
    val fragmented = env.withColumn("_fragment", concat_ws("_", col(pcol),
      pmod(col("event_id"), lit(CompactionFragments))))
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(s, dir, fragmented, Some("_fragment"))
        .map(f => f.copy(partition = f.partition.takeWhile(_ != '_')))
      SnapshotLog.commit(s, dir, "append", files, env.schema, parent = None)
    }
    SnapshotLog.compact(s, dir, Some(pcol), maxFiles = 4)
    dir
  }

  private def compactionRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = compactionRoundtripSetup(s, d)
    CdcWriter.read(s, dir)
      .groupBy(col("_cdc_date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("day"))
  }

  private val compactionRoundtripSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT strftime(_cdc_timestamp, '%Y-%m-%d') AS day, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- alternate-format round-trips: the same envelope write path
  // through ORC (second columnar format, natively codegen'd scans) and
  // JSON lines (the reference's actual blob storage format — ref
  // internal/iceberg/writer/writer.go marshals row JSON). Both prove the
  // sink/source pair is lossless: the oracle replays the aggregate from
  // the raw events, so any encode/decode drift fails the hash. JSON
  // reads back through an EXPLICIT schema — at 100 TB schema inference
  // would be a second full scan.
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = scratchDir(s, "graft_orc", d)
    CdcWriter.withPartitionColumn(CdcQueries.envelope(s, d))
      .repartition(col(graft.model.SchemaBuilder.partitionColumn))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy(graft.model.SchemaBuilder.partitionColumn)
      .orc(dir)
    s.read.orc(dir)
      .groupBy(col("_cdc_date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("day"))
  }

  private def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = scratchDir(s, "graft_json", d)
    val env = CdcQueries.envelope(s, d)
    env.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(dir)
    s.read.schema(env.schema).json(dir)
      .groupBy(col("_cdc_operation"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.LsnColumn)).as("lsn_min"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("_cdc_operation"))
  }

  // CSV: the interchange format every export surface ends up speaking.
  // Written with header + explicit timestamp format, read back through an
  // EXPLICIT schema (inference would be a second full scan at 100 TB and
  // would strip the LSN's leading zeros by guessing a number). The
  // aggregate avoids float columns entirely — count/distinct/min/max over
  // strings are text-roundtrip-exact by construction.
  private def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = scratchDir(s, "graft_csv", d)
    val env = CdcQueries.envelope(s, d)
    env.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(dir)
    s.read.schema(env.schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(dir)
      .groupBy(col("_cdc_operation"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.TsColumn)).as("ts_min"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("_cdc_operation"))
  }

  private val csvRoundtripSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT _cdc_operation, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users,
       |  min(_cdc_timestamp) AS ts_min, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  private val jsonRoundtripSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT _cdc_operation, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users,
       |  min(_cdc_lsn) AS lsn_min, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- retention round-trip (S7): append the envelope day-partitioned,
  // drop partitions older than the cutoff (one metadata-only commit of
  // the filtered manifest — never a scan), read back. The oracle applies
  // the same cutoff as a WHERE clause over the raw events: surviving
  // data must be exactly "everything at or after the cutoff day".
  private val RetentionCutoff = "2024-01-20"

  private def retentionRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = freshScratchDir(s, "graft_retain", d)
    CdcWriter.appendCommit(s, dir, CdcQueries.envelope(s, d))
    graft.lake.SnapshotLog.dropDaysBefore(s, dir, RetentionCutoff)
    CdcWriter.read(s, dir)
      .groupBy(col("_cdc_date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.LsnColumn)).as("lsn_min"))
      .orderBy(col("day"))
  }

  private val retentionRoundtripSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT strftime(_cdc_timestamp, '%Y-%m-%d') AS day, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users, min(_cdc_lsn) AS lsn_min
       |FROM envelope
       |WHERE strftime(_cdc_timestamp, '%Y-%m-%d') >= '$RetentionCutoff'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- time travel (Q5): state AS OF a timestamp / an LSN
  private val AsOfTs = "2024-01-15 00:00:00"
  private val AsOfLsn = "0000000000000500"

  private def asOfTimestamp(s: SparkSession, d: String): DataFrame =
    TimeTravel.asOfTimestamp(CdcQueries.envelope(s, d), Seq("user_id"),
        lit(AsOfTs).cast("timestamp"))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))

  private val asOfTimestampSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT user_id, event_id, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn
       |  FROM envelope WHERE _cdc_timestamp <= TIMESTAMP '$AsOfTs') t
       |WHERE rn = 1 AND _cdc_operation <> 'DELETE' ORDER BY user_id""".stripMargin

  private def asOfLsnQ(s: SparkSession, d: String): DataFrame =
    TimeTravel.asOfLsn(CdcQueries.envelope(s, d), Seq("user_id"), lit(AsOfLsn))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))

  private val asOfLsnSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT user_id, event_id, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn
       |  FROM envelope WHERE _cdc_lsn <= '$AsOfLsn') t
       |WHERE rn = 1 AND _cdc_operation <> 'DELETE' ORDER BY user_id""".stripMargin

  // ---- snapshot commit protocol (Q5/Q6, upgraded round 9): a real
  // 3-commit table built by merging LSN-contiguous batches through
  // [[graft.lake.SnapshotLog]] (ref internal/iceberg/catalog/rest.go:
  // 187-217 CommitSnapshot, types.go:78-153). The fixture is built once
  // per (session, sfDir) — identical rebuilds on a scratch path, so
  // re-measures time the reads, like PipelineOps' stream fixtures.
  // Boundaries are ABSOLUTE LSNs chosen non-empty at every SF (event ids
  // start at 0); ts is monotone in event_id in the testdata, so
  // incremental merge-at-boundary ≡ recompute-at-boundary and the oracle
  // can replay each snapshot as a plain AS-OF-LSN state.
  private[queries] val SnapLsn1 = "0000000000000300"
  private[queries] val SnapLsn2 = "0000000000000600"

  /** Commit-log fixture cache: builds must be MEMOIZED and SERIALIZED —
    * the snapshot queries run concurrently under Verify's thread pool,
    * and these builds APPEND commits (not an idempotent overwrite like
    * the stream fixtures), so a double evaluation would interleave
    * duplicate commits. One lock per cache keeps unrelated fixtures
    * building in parallel; the double-checked get keeps warm re-measures
    * lock-free. */
  private[graft] final class FixtureCache(prefix: String) {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[(String, String), String]
    private val lock = new Object
    def dir(s: SparkSession, d: String)(build: String => Unit): String = {
      val key = (graft.SessionKeys(s), d)
      cache.get(key).getOrElse(lock.synchronized {
        cache.getOrElseUpdate(key, {
          val dir = scratchDir(s, prefix, d)
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          build(dir)
          dir
        })
      })
    }
  }

  private val snapLogFixture = new FixtureCache("graft_snaplog")

  private def snapCommitDir(s: SparkSession, d: String): String =
    snapLogFixture.dir(s, d) { dir =>
      val env = CdcQueries.envelope(s, d)
      val lsn = col(Cdc.LsnColumn)
      CdcWriter.merge(s, dir, env.filter(lsn <= SnapLsn1), Seq("user_id"))
      CdcWriter.merge(s, dir,
        env.filter(lsn > SnapLsn1 && lsn <= SnapLsn2), Seq("user_id"))
      CdcWriter.merge(s, dir, env.filter(lsn > SnapLsn2), Seq("user_id"))
    }

  /** Shared oracle prefix: per-snapshot state replay at each boundary. */
  private[queries] val snapStateSql =
    s"""WITH envelope AS ($envelopeSql),
       |bounds AS (SELECT * FROM (VALUES
       |  (CAST(1 AS BIGINT), '$SnapLsn1'),
       |  (CAST(2 AS BIGINT), '$SnapLsn2'),
       |  (CAST(3 AS BIGINT), 'zzzz')) AS t(snap_id, wm)),
       |ranked AS (
       |  SELECT b.snap_id, e.user_id, e.event_id, e.value, e._cdc_operation,
       |    e._cdc_lsn, strftime(e._cdc_timestamp, '%Y-%m-%d') AS day,
       |    row_number() OVER (PARTITION BY b.snap_id, e.user_id
       |      ORDER BY e._cdc_timestamp DESC, e._cdc_lsn DESC) AS rn
       |  FROM bounds b JOIN envelope e ON e._cdc_lsn <= b.wm),
       |state AS (SELECT * FROM ranked
       |  WHERE rn = 1 AND _cdc_operation <> 'DELETE')""".stripMargin

  // VERSION AS OF through real file-set resolution: every historical
  // snapshot id resolves manifest → files → full state. A stale manifest,
  // a file wrongly carried across a commit, or a lost survivor row at ANY
  // point in the table's history fails the hash.
  private def snapshotCommit(s: SparkSession, d: String): DataFrame = {
    val dir = snapCommitDir(s, d)
    import graft.lake.SnapshotLog
    SnapshotLog.snapshots(s, dir).map { sn =>
      SnapshotLog.read(s, dir, sn).select(lit(sn.id).as("snap_id"),
        col("user_id"), col("event_id"), col("value"))
    }.reduce(_ unionByName _).orderBy(col("snap_id"), col("user_id"))
  }

  private val snapshotCommitSql =
    s"""$snapStateSql
       |SELECT snap_id, user_id, event_id, value FROM state
       |ORDER BY snap_id, user_id""".stripMargin

  // ---- compaction through the commit log (Q18 at the snapshot layer):
  // 3 append commits reproduce the reference writer's per-batch flush
  // (one file per day per batch, writer/writer.go:141-163) — a day
  // touched by k of the 3 LSN slices holds exactly k small files — then
  // SnapshotLog.compact folds every multi-file day into one file under a
  // "replace" snapshot. The query reads BOTH the pre-compaction snapshot
  // (3) and the replace snapshot (4): identical per-day state (time
  // travel across a rewrite is exact — rows never change, only files)
  // with MEASURED manifest file counts (pre = distinct slices touching
  // the day, post = 1). A rewrite that loses rows, carries a replaced
  // file, or breaks the one-file-per-day-per-batch layout contract
  // fails the hash.
  private val snapCompactFixture = new FixtureCache("graft_snapcompact")

  private def snapCompactDir(s: SparkSession, d: String): String =
    snapCompactFixture.dir(s, d) { dir =>
      val env = CdcQueries.envelope(s, d)
      val lsn = col(Cdc.LsnColumn)
      CdcWriter.appendCommit(s, dir, env.filter(lsn <= SnapLsn1))
      CdcWriter.appendCommit(s, dir,
        env.filter(lsn > SnapLsn1 && lsn <= SnapLsn2))
      CdcWriter.appendCommit(s, dir, env.filter(lsn > SnapLsn2))
      val compacted = graft.lake.SnapshotLog.compact(s, dir,
        Some(graft.model.SchemaBuilder.partitionColumn), maxFiles = 1)
      // the slice boundaries land mid-day at every SF, so at least one
      // day collects 2+ files — if this ever degenerates the rewrite
      // path silently un-exercises; fail the fixture, not the hash
      require(compacted.nonEmpty,
        s"no multi-file day to compact in $dir — fixture degenerate")
    }

  private def snapshotCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.lake.SnapshotLog
    val dir = snapCompactDir(s, d)
    val pcol = graft.model.SchemaBuilder.partitionColumn
    def stateOf(id: Long): DataFrame = {
      val sn = SnapshotLog.snapshotAt(s, dir, id)
      val fileCounts = sn.files.groupBy(_.partition)
        .map { case (p, fs) => (p, fs.size.toLong) }.toSeq
        .toDF("day", "n_files")
      SnapshotLog.read(s, dir, sn)
        .groupBy(col(pcol).cast("string").as("day"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          max(col(Cdc.LsnColumn)).as("lsn_max"))
        .join(fileCounts, Seq("day"))
        .select(lit(id).as("snap_id"), col("day"), col("n_rows"),
          col("n_users"), col("lsn_max"), col("n_files"))
    }
    stateOf(3L).unionByName(stateOf(4L)).orderBy(col("snap_id"), col("day"))
  }

  private val snapshotCompactSql =
    s"""WITH envelope AS ($envelopeSql),
       |sliced AS (SELECT *, strftime(_cdc_timestamp, '%Y-%m-%d') AS day,
       |  CASE WHEN _cdc_lsn <= '$SnapLsn1' THEN 1
       |       WHEN _cdc_lsn <= '$SnapLsn2' THEN 2 ELSE 3 END AS slice
       |  FROM envelope),
       |by_day AS (SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  max(_cdc_lsn) AS lsn_max,
       |  CAST(count(DISTINCT slice) AS BIGINT) AS files_pre
       |  FROM sliced GROUP BY day)
       |SELECT CAST(3 AS BIGINT) AS snap_id, day, n_rows, n_users, lsn_max,
       |  files_pre AS n_files FROM by_day
       |UNION ALL
       |SELECT CAST(4 AS BIGINT) AS snap_id, day, n_rows, n_users, lsn_max,
       |  CAST(1 AS BIGINT) AS n_files FROM by_day
       |ORDER BY snap_id, day""".stripMargin

  // ---- merge-on-read (Iceberg v2 equality deletes) through the commit
  // log: 3 MOR merges write ONLY their deltas (new data files + one
  // equality-delete file naming the touched keys — never a stored-table
  // rewrite), then foldDeletes materializes the delete set away (snap 4)
  // and rollback_to_snapshot re-exposes snap 2's exact file+delete sets
  // as snap 5. State at EVERY snapshot is hash-checked against the plain
  // AS-OF-LSN replay — a delete that under- or over-applies (seq ranking
  // wrong, fold lossy, rollback carrying the wrong sets) fails the hash;
  // per-snapshot delete-file counts are MEASURED from the manifest.
  private val morFixture = new FixtureCache("graft_morlog")

  private def morDir(s: SparkSession, d: String): String =
    morFixture.dir(s, d) { dir =>
      val env = CdcQueries.envelope(s, d)
      val lsn = col(Cdc.LsnColumn)
      CdcWriter.morMerge(s, dir, env.filter(lsn <= SnapLsn1), Seq("user_id"))
      CdcWriter.morMerge(s, dir,
        env.filter(lsn > SnapLsn1 && lsn <= SnapLsn2), Seq("user_id"))
      CdcWriter.morMerge(s, dir, env.filter(lsn > SnapLsn2), Seq("user_id"))
      graft.lake.SnapshotLog.foldDeletes(s, dir,
        Some(graft.model.SchemaBuilder.partitionColumn))
      graft.lake.SnapshotLog.rollback(s, dir, 2L)
      graft.lake.SnapshotLog.tag(s, dir, "pre-fold", 2L)
    }

  private def morMergeQ(s: SparkSession, d: String): DataFrame = {
    val dir = morDir(s, d)
    import graft.lake.SnapshotLog
    (1L to 4L).map { id =>
      val sn = SnapshotLog.snapshotAt(s, dir, id)
      SnapshotLog.read(s, dir, sn).select(
        lit(id).as("snap_id"), lit(sn.deletes.size.toLong).as("n_delete_files"),
        col("user_id"), col("event_id"), col("value"))
    }.reduce(_ unionByName _).orderBy(col("snap_id"), col("user_id"))
  }

  private val morMergeSql =
    s"""$snapStateSql,
       |dcounts AS (SELECT * FROM (VALUES
       |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
       |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
       |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
       |  (CAST(4 AS BIGINT), CAST(0 AS BIGINT))) AS t(snap_id, n_delete_files)),
       |full_state AS (
       |  SELECT snap_id, user_id, event_id, value FROM state
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), user_id, event_id, value FROM state
       |  WHERE snap_id = 3)
       |SELECT f.snap_id, d.n_delete_files, f.user_id, f.event_id, f.value
       |FROM full_state f JOIN dcounts d USING (snap_id)
       |ORDER BY snap_id, user_id""".stripMargin

  // named ref (Iceberg tag): "pre-fold" pins snapshot 2 — resolution
  // goes name → pinned id → manifest → file+delete sets, so the state
  // read through the tag must equal the snapshot-2 replay exactly.
  private def snapshotTag(s: SparkSession, d: String): DataFrame = {
    val dir = morDir(s, d)
    import graft.lake.SnapshotLog
    val sn = SnapshotLog.snapshotAtTag(s, dir, "pre-fold")
    SnapshotLog.read(s, dir, sn).select(
      lit("pre-fold").as("tag"), lit(sn.id).as("snapshot_id"),
      col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  private val snapshotTagSql =
    s"""$snapStateSql
       |SELECT 'pre-fold' AS tag, CAST(2 AS BIGINT) AS snapshot_id,
       |  user_id, event_id, value
       |FROM state WHERE snap_id = 2 ORDER BY user_id""".stripMargin

  // $refs metadata table (Trino's "table$refs"): every named ref with
  // its kind and pinned snapshot, plus the live row count each ref
  // RESOLVES to (name -> id -> manifest -> deletes-applied read). The
  // mor fixture ends rolled back to snapshot 2 with tag "pre-fold"
  // pinning 2, so both refs must resolve to the identical snapshot-2
  // state — a tag resolving to the wrong manifest breaks n_rows.
  private def tableRefs(s: SparkSession, d: String): DataFrame = {
    val dir = morDir(s, d)
    import graft.lake.SnapshotLog
    import s.implicits._
    val mainSnap = SnapshotLog.currentSnapshot(s, dir).get
    val rows =
      Seq(("main", "BRANCH", mainSnap.id,
        SnapshotLog.read(s, dir, mainSnap).count())) ++
        SnapshotLog.tags(s, dir).toSeq.map { case (n, id) =>
          (n, "TAG", id,
            SnapshotLog.read(s, dir, SnapshotLog.snapshotAt(s, dir, id)).count())
        } ++
        SnapshotLog.branches(s, dir).map { b =>
          val h = SnapshotLog.branchHead(s, dir, b)
          (b, "BRANCH", h.id, SnapshotLog.read(s, dir, h).count())
        }
    rows.toDF("ref_name", "ref_type", "snapshot_id", "n_rows")
      .orderBy(col("ref_name"))
  }

  private val tableRefsSql =
    s"""$snapStateSql,
       |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM state
       |  WHERE snap_id = 2)
       |SELECT ref_name, ref_type, snapshot_id, n_rows
       |FROM (VALUES ('main', 'BRANCH', CAST(5 AS BIGINT)),
       |  ('pre-fold', 'TAG', CAST(2 AS BIGINT))) AS r(ref_name, ref_type, snapshot_id),
       |  s2
       |ORDER BY ref_name""".stripMargin

  private def snapshotRollback(s: SparkSession, d: String): DataFrame = {
    val dir = morDir(s, d)
    import graft.lake.SnapshotLog
    val cur = SnapshotLog.currentSnapshot(s, dir).get
    SnapshotLog.read(s, dir, cur).select(
      lit(cur.id).as("snapshot_id"), lit(cur.operation).as("operation"),
      lit(cur.parentId.getOrElse(-1L)).as("parent_id"),
      col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  private val snapshotRollbackSql =
    s"""$snapStateSql
       |SELECT CAST(5 AS BIGINT) AS snapshot_id, 'rollback' AS operation,
       |  CAST(4 AS BIGINT) AS parent_id, user_id, event_id, value
       |FROM state WHERE snap_id = 2 ORDER BY user_id""".stripMargin

  // ---- checkpointed incremental CONSUMER over the commit log (the
  // lake as a streaming source — Iceberg's streaming read): polls
  // advance by snapshot id with the offset committed AFTER the batch
  // lands, and a crash INJECTED between the two proves the contract —
  // the replayed window overwrites the same per-window output, so
  // at-least-once delivery + an idempotent sink reads back exactly-once.
  // The oracle replays the full envelope: a lost window, a double-applied
  // replay, or a poll that read uncommitted files fails the hash.
  private def logConsume(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotConsumer
    val env = CdcQueries.envelope(s, d)
    val lsn = col(Cdc.LsnColumn)
    val base = scratchDir(s, "graft_logconsume", d)
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val (src, ckpt, out) = (s"$base/t", s"$base/ckpt", s"$base/out")
    def sink(b: DataFrame, from: Long, to: Long): Unit =
      b.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$out/w_${from}_$to")
    CdcWriter.appendCommit(s, src, env.filter(lsn <= SnapLsn1))
    // poll 1 crashes AFTER the batch lands, BEFORE the offset commits
    val crashed = intercept(
      SnapshotConsumer.pollOnce(s, src, ckpt) { (b, f, t) =>
        sink(b, f, t); throw new IllegalStateException("injected consumer crash")
      })
    require(crashed, "expected the injected crash to abort poll 1")
    // poll 2 replays the WHOLE window idempotently (same out dir)
    require(SnapshotConsumer.pollOnce(s, src, ckpt)(sink).contains((0L, 1L)),
      "replay poll must re-process the crashed window")
    CdcWriter.appendCommit(s, src, env.filter(lsn > SnapLsn1))
    require(SnapshotConsumer.pollOnce(s, src, ckpt)(sink).contains((1L, 2L)),
      "second poll must consume only the new commit")
    // drained: nothing new to poll
    require(SnapshotConsumer.pollOnce(s, src, ckpt)((_, _, _) => ()).isEmpty,
      "a drained consumer must return None")
    // explicit window dirs, not a glob: FileStreamSink's metadata probe
    // logs a scary (benign) FileNotFoundException stack for glob paths
    val outPath = new org.apache.hadoop.fs.Path(out)
    val windows = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(outPath).map(_.getPath.toString).toSeq.sorted
    s.read.parquet(windows: _*)
      .groupBy(col("_cdc_date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("day"))
  }

  private def intercept(body: => Any): Boolean =
    try { body; false }
    catch { case e: IllegalStateException => e.getMessage.contains("injected") }

  private val logConsumeSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT strftime(_cdc_timestamp, '%Y-%m-%d') AS day, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- changelog scan (Iceberg's CDC-out surface) over the MOR
  // fixture: the NET per-commit changes — each mor-merge's added files
  // are its latest-per-key upserts, its delete keys minus upserted keys
  // are net deletions (retraction markers). The oracle replays the same
  // net-change rule per LSN slice; commit 1 emits no delete rows (no
  // prior state, morMerge writes no delete file) — a changelog that
  // invents deletions there, loses one, or mis-classifies an upsert
  // fails the hash.
  private def changelogQ(s: SparkSession, d: String): DataFrame = {
    val dir = morDir(s, d)
    graft.lake.SnapshotLog.readChangelog(s, dir, 0L, 3L)
      .select(col("_change_snapshot_id").as("snap_id"),
        col("_change_type").as("change"),
        col("user_id"), col("event_id"), col("value"))
      .orderBy(col("snap_id"), col("user_id"))
  }

  private val changelogSql =
    s"""WITH envelope AS ($envelopeSql),
       |sliced AS (SELECT *,
       |  CASE WHEN _cdc_lsn <= '$SnapLsn1' THEN 1
       |       WHEN _cdc_lsn <= '$SnapLsn2' THEN 2 ELSE 3 END AS slice
       |  FROM envelope),
       |latest AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY slice, user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn FROM sliced)
       |  WHERE rn = 1)
       |SELECT CAST(slice AS BIGINT) AS snap_id,
       |  CASE WHEN _cdc_operation = 'DELETE' THEN 'delete' ELSE 'upsert' END AS change,
       |  user_id,
       |  CASE WHEN _cdc_operation = 'DELETE' THEN NULL ELSE event_id END AS event_id,
       |  CASE WHEN _cdc_operation = 'DELETE' THEN NULL ELSE value END AS value
       |FROM latest
       |WHERE NOT (slice = 1 AND _cdc_operation = 'DELETE')
       |ORDER BY snap_id, user_id""".stripMargin

  // ---- incremental append-scan (Iceberg's CDC-consumer read): rows
  // ADDED between two snapshot ids of the append fixture, resolved from
  // per-file sequence numbers — and the (1,4] range proves a "replace"
  // rewrite (compaction) contributes NOTHING: same rows before and after
  // snapshot 4, because a rewrite moves bytes, not data.
  private def incrementalRead(s: SparkSession, d: String): DataFrame = {
    val dir = snapCompactDir(s, d)
    import graft.lake.SnapshotLog
    Seq(("s1_s3", 3L), ("s1_s4", 4L)).map { case (label, to) =>
      SnapshotLog.readIncremental(s, dir, 1L, to).select(
        lit(label).as("range"), col("user_id"), col("event_id"),
        col("value"), col(Cdc.LsnColumn))
    }.reduce(_ unionByName _).orderBy(col("range"), col(Cdc.LsnColumn))
  }

  private val incrementalReadSql =
    s"""WITH envelope AS ($envelopeSql),
       |added AS (SELECT user_id, event_id, value, _cdc_lsn FROM envelope
       |  WHERE _cdc_lsn > '$SnapLsn1')
       |SELECT r.range, a.user_id, a.event_id, a.value, a._cdc_lsn
       |FROM (SELECT 's1_s3' AS range UNION ALL SELECT 's1_s4') r
       |CROSS JOIN added a
       |ORDER BY range, _cdc_lsn""".stripMargin

  // ---- metadata tables (Q6): $snapshots MEASURED from the commit log —
  // ids, operations, per-snapshot day/row totals and LSN watermarks come
  // from manifest entries (parquet-footer stats summed at commit time),
  // never from re-reading data; the oracle recomputes each from the raw
  // events, so a wrong footer sum or stale manifest fails the hash.
  private def snapshotsQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.lake.SnapshotLog.snapshots(s, snapCommitDir(s, d)).map { sn =>
      (sn.id, sn.operation, sn.files.map(_.partition).distinct.size.toLong,
        sn.totalRows, sn.lsnWatermark.getOrElse(""))
    }.toDF("snapshot_id", "operation", "n_days", "n_rows", "lsn_watermark")
      .orderBy(col("snapshot_id"))
  }

  private val snapshotsSql =
    s"""$snapStateSql
       |SELECT snap_id AS snapshot_id, 'merge' AS operation,
       |  CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  max(_cdc_lsn) AS lsn_watermark
       |FROM state GROUP BY snap_id ORDER BY snapshot_id""".stripMargin

  // ---- metadata tables (Q6): $history = the snapshot lineage (ref
  // sample-queries.sql:57-58) from the commit log's parent chain;
  // current = the resolution rule readers use (highest id).
  private def tableHistory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val snaps = graft.lake.SnapshotLog.snapshots(s, snapCommitDir(s, d))
    val curId = snaps.last.id
    snaps.map(sn => (sn.id, sn.parentId, sn.totalRows, sn.id == curId))
      .toDF("snapshot_id", "parent_id", "n_rows", "is_current")
      .orderBy(col("snapshot_id"))
  }

  private val tableHistorySql =
    s"""$snapStateSql
       |SELECT snap_id AS snapshot_id,
       |  CASE WHEN snap_id = 1 THEN NULL ELSE snap_id - 1 END AS parent_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  snap_id = 3 AS is_current
       |FROM state GROUP BY snap_id ORDER BY snapshot_id""".stripMargin

  // ---- metadata tables (Q6): $partitions emulation (ref
  // sample-queries.sql:60-61: partition value, record/file counts).
  // Row counts come from reading the written table back; file counts are
  // MEASURED from the committed manifest — and the oracle expects exactly
  // 1 per day, because that is the layout contract SnapshotLog.writeData's
  // pre-write repartition(partitionCol) exists to enforce. A regression
  // to many-files-per-day fails correctness, not just a perf eyeball.
  private def tablePartitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = freshScratchDir(s, "graft_parts", d)
    val files = CdcWriter.appendCommit(s, dir, CdcQueries.envelope(s, d))
      .files.groupBy(_.partition)
      .map { case (day, fs) => (day, fs.size) }.toSeq
      .toDF("day", "n_files")
      .select(col("day"), col("n_files").cast("bigint").as("n_files"))
    CdcWriter.read(s, dir)
      .groupBy(col("_cdc_date").cast("string").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .join(files, Seq("day"))
      .orderBy(col("day"))
  }

  private val tablePartitionsSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT strftime(_cdc_timestamp, '%Y-%m-%d') AS day,
       |  count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
       |  max(_cdc_lsn) AS lsn_max, CAST(1 AS BIGINT) AS n_files
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- manifest-level FILE SKIPPING by stats bounds (Iceberg scan
  // planning): a query over the middle LSN slice of the 3-append fixture
  // must, from per-file footer bounds alone, restrict the scan to
  // exactly commit 2's files — slice-1 files end at or below the window,
  // slice-3 files start above it. Scanned and total file counts are
  // MEASURED from the manifest and part of the hash (the oracle
  // recomputes both from the slice/day structure), so a bounds
  // regression that silently reads everything fails correctness, not
  // just a perf eyeball. Snapshot 3 is pinned (pre-compaction: the
  // per-commit file layout is the interesting one).
  private def fileSkipping(s: SparkSession, d: String): DataFrame = {
    val dir = snapCompactDir(s, d)
    import graft.lake.SnapshotLog
    val sn = SnapshotLog.snapshotAt(s, dir, 3L)
    // window is (SnapLsn1, SnapLsn2]; bounds pruning treats a strict
    // bound as inclusive, so lo is the successor LSN (ids are contiguous
    // 16-digit strings)
    val lo = f"${SnapLsn1.toLong + 1}%016d"
    val window = GraftPruning.filePredicate(Array(
      GreaterThanOrEqual(Cdc.LsnColumn, lo), LessThanOrEqual(Cdc.LsnColumn, SnapLsn2)))
    val scanned = sn.files.filter(window)
    SnapshotLog.readPruned(s, dir, sn, window)
      .filter(col(Cdc.LsnColumn) > SnapLsn1 && col(Cdc.LsnColumn) <= SnapLsn2)
      .groupBy(col(graft.model.SchemaBuilder.partitionColumn).cast("string").as("day"))
      .agg(count(lit(1)).as("n_rows"), min(col(Cdc.LsnColumn)).as("lsn_min"),
        max(col(Cdc.LsnColumn)).as("lsn_max"))
      .select(col("day"), col("n_rows"), col("lsn_min"), col("lsn_max"),
        lit(scanned.size.toLong).as("n_files_scanned"),
        lit(sn.files.size.toLong).as("n_files_total"))
      .orderBy(col("day"))
  }

  private val fileSkippingSql =
    s"""WITH envelope AS ($envelopeSql),
       |sliced AS (SELECT *, strftime(_cdc_timestamp, '%Y-%m-%d') AS day,
       |  CASE WHEN _cdc_lsn <= '$SnapLsn1' THEN 1
       |       WHEN _cdc_lsn <= '$SnapLsn2' THEN 2 ELSE 3 END AS slice
       |  FROM envelope),
       |counts AS (SELECT
       |  CAST(count(DISTINCT CASE WHEN slice = 2 THEN day END) AS BIGINT)
       |    AS n_files_scanned,
       |  CAST(count(DISTINCT day || '/' || CAST(slice AS VARCHAR)) AS BIGINT)
       |    AS n_files_total FROM sliced)
       |SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(_cdc_lsn) AS lsn_min, max(_cdc_lsn) AS lsn_max,
       |  n_files_scanned, n_files_total
       |FROM sliced, counts WHERE slice = 2
       |GROUP BY day, n_files_scanned, n_files_total ORDER BY day""".stripMargin

  // ---- range-clustered rewrite + data-column file skipping (Iceberg
  // rewrite_data_files with a sort strategy): 3 ingest-ordered appends
  // (event_id mod 3, so every file spans the full `value` range — stats
  // exist but prune NOTHING: before_scanned == before_total), then
  // clusterBy(value) rewrites the table into range-disjoint bucket files.
  // The same closed range [100, 200] now restricts the scan to exactly
  // the overlapping buckets — scanned/total counts on BOTH sides of the
  // rewrite are MEASURED from the manifest and hash-checked (the oracle
  // recomputes before-counts from per-slice min/max and after-counts from
  // bucket membership, which coincides with bounds overlap exactly
  // because the query endpoints are split points). The per-bucket row
  // content proves the pruned read is still complete.
  private val clusterFixture = new FixtureCache("graft_cluster")
  private val ClusterSplits = Seq(50.0, 100.0, 150.0, 200.0, 250.0, 300.0, 400.0)

  private def clusterDir(s: SparkSession, d: String): String =
    clusterFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
      SnapshotLog.withTableLock(dir) {
        (0 until 3).foreach { k =>
          val cur = SnapshotLog.currentSnapshot(s, dir)
          val slice = ev.filter(col("event_id") % 3 === k).repartition(1)
          val files = SnapshotLog.writeData(s, dir, slice,
            partitionCol = None, statsCol = "value")
          SnapshotLog.commit(s, dir, "append",
            cur.toSeq.flatMap(_.files) ++ files, slice.schema, parent = cur)
        }
      }
      SnapshotLog.clusterBy(s, dir, "value", ClusterSplits)
    }

  // ---- grid/z-order clustered rewrite (multi-dimension skipping): the
  // 3-append table rewritten into (value, u_mod) cells, each cell ONE
  // file carrying manifest bounds for BOTH dimensions. Two probes, one
  // per dimension, each measuring scanned/total files from bounds alone
  // — after the rewrite a range on EITHER column prunes; before it,
  // value prunes only as well as ingest order allows and u_mod (no
  // recorded bounds) must NEVER skip, which the before-counts pin
  // structurally. Query endpoints sit on split points, so bounds overlap
  // coincides exactly with cell membership and the oracle recomputes
  // every count from the data.
  private val zorderFixture = new FixtureCache("graft_zorder")
  private val ZValueSplits = Seq(100.0, 200.0, 300.0)
  private val ZModSplits = Seq(2.0, 5.0, 8.0)

  private def zorderDir(s: SparkSession, d: String): String =
    zorderFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("value"), (col("user_id") % 10).as("u_mod"))
      SnapshotLog.withTableLock(dir) {
        (0 until 3).foreach { k =>
          val cur = SnapshotLog.currentSnapshot(s, dir)
          val slice = ev.filter(col("event_id") % 3 === k).repartition(1)
          val files = SnapshotLog.writeData(s, dir, slice,
            partitionCol = None, statsCol = "value")
          SnapshotLog.commit(s, dir, "append",
            cur.toSeq.flatMap(_.files) ++ files, slice.schema, parent = cur)
        }
      }
      SnapshotLog.clusterByGrid(s, dir,
        Seq("value" -> ZValueSplits, "u_mod" -> ZModSplits))
    }

  private def zorderSkipping(s: SparkSession, d: String): DataFrame = {
    val dir = zorderDir(s, d)
    import graft.lake.SnapshotLog
    val pre = SnapshotLog.snapshotAt(s, dir, 3L)
    val post = SnapshotLog.currentSnapshot(s, dir).get
    def bucketOf(c: String, splits: Seq[Double]) =
      splits.foldLeft(lit(0)) { (acc, sp) =>
        acc + when(col(c) >= lit(sp), 1).otherwise(0)
      }.cast("bigint")
    def probe(label: String, c: String, splits: Seq[Double],
              lo: BigDecimal, hi: BigDecimal): DataFrame = {
      val range = GraftPruning.filePredicate(Array(
        GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)))
      SnapshotLog.readPruned(s, dir, post, range)
        .filter(col(c).between(lo.toDouble, hi.toDouble))
        .groupBy(bucketOf(c, splits).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"))
        .select(lit(label).as("probe"), col("bucket"), col("n_rows"),
          col("id_sum"),
          lit(post.files.count(range).toLong).as("n_scanned"),
          lit(post.files.size.toLong).as("n_total"),
          lit(pre.files.count(range).toLong).as("n_before_scanned"),
          lit(pre.files.size.toLong).as("n_before_total"))
    }
    probe("value", "value", ZValueSplits, BigDecimal(100), BigDecimal(200))
      .unionByName(
        probe("u_mod", "u_mod", ZModSplits, BigDecimal(2), BigDecimal(7)))
      .orderBy(col("probe"), col("bucket"))
  }

  private val zorderSkippingSql = {
    def bucketSql(c: String, splits: Seq[Double]) = splits.map(sp =>
      s"(CASE WHEN $c >= $sp THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH ev AS (SELECT event_id, user_id, value, user_id % 10 AS u_mod
       |  FROM events),
       |cells AS (SELECT *,
       |  CAST(${bucketSql("value", ZValueSplits)} AS BIGINT) AS vb,
       |  CAST(${bucketSql("u_mod", ZModSplits)} AS BIGINT) AS ub FROM ev),
       |slices AS (SELECT event_id % 3 AS slice, min(value) AS mn,
       |  max(value) AS mx FROM ev GROUP BY 1),
       |meta AS (SELECT
       |  CAST(count(DISTINCT vb || '-' || ub) AS BIGINT) AS n_total,
       |  CAST(count(DISTINCT CASE WHEN value BETWEEN 100 AND 200
       |    THEN vb || '-' || ub END) AS BIGINT) AS v_scanned,
       |  CAST(count(DISTINCT CASE WHEN u_mod BETWEEN 2 AND 7
       |    THEN vb || '-' || ub END) AS BIGINT) AS m_scanned FROM cells),
       |pre AS (SELECT
       |  CAST(count(*) FILTER (WHERE mn <= 200 AND mx >= 100) AS BIGINT)
       |    AS v_before,
       |  CAST(count(*) AS BIGINT) AS n_before_total FROM slices),
       |pa AS (SELECT 'value' AS probe, vb AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(event_id) AS BIGINT) AS id_sum
       |  FROM cells WHERE value BETWEEN 100 AND 200 GROUP BY vb),
       |pb AS (SELECT 'u_mod' AS probe, ub AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(event_id) AS BIGINT) AS id_sum
       |  FROM cells WHERE u_mod BETWEEN 2 AND 7 GROUP BY ub)
       |SELECT u.probe, u.bucket, u.n_rows, u.id_sum,
       |  CASE u.probe WHEN 'value' THEN m.v_scanned ELSE m.m_scanned END
       |    AS n_scanned,
       |  m.n_total,
       |  CASE u.probe WHEN 'value' THEN p.v_before ELSE p.n_before_total END
       |    AS n_before_scanned,
       |  p.n_before_total
       |FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb) u, meta m, pre p
       |ORDER BY probe, bucket""".stripMargin
  }

  private def clusterSkipping(s: SparkSession, d: String): DataFrame = {
    val dir = clusterDir(s, d)
    import graft.lake.SnapshotLog
    val (lo, hi) = (BigDecimal(100), BigDecimal(200))
    val pre = SnapshotLog.snapshotAt(s, dir, 3L)
    val post = SnapshotLog.currentSnapshot(s, dir).get
    val range = GraftPruning.filePredicate(Array(
      GreaterThanOrEqual("value", lo), LessThanOrEqual("value", hi)))
    val beforeScanned = pre.files.count(range)
    val afterScanned = post.files.count(range)
    val bucket = ClusterSplits.foldLeft(lit(0)) { (acc, sp) =>
      acc + when(col("value") >= lit(sp), 1).otherwise(0)
    }
    SnapshotLog.readPruned(s, dir, post, range)
      .filter(col("value").between(100, 200))
      .groupBy(bucket.cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("value")).as("value_min"),
        max(col("value")).as("value_max"))
      .select(col("bucket"), col("n_rows"), col("value_min"), col("value_max"),
        lit(beforeScanned.toLong).as("n_before_scanned"),
        lit(pre.files.size.toLong).as("n_before_total"),
        lit(afterScanned.toLong).as("n_after_scanned"),
        lit(post.files.size.toLong).as("n_after_total"))
      .orderBy(col("bucket"))
  }

  private val clusterSkippingSql = {
    val bucketSql = ClusterSplits.map(sp =>
      s"(CASE WHEN value >= $sp THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH ev AS (SELECT event_id, user_id, value FROM events),
       |bucketed AS (SELECT *, CAST($bucketSql AS BIGINT) AS bucket FROM ev),
       |slices AS (SELECT event_id % 3 AS slice, min(value) AS mn,
       |  max(value) AS mx FROM ev GROUP BY 1),
       |before_counts AS (SELECT
       |  CAST(count(*) FILTER (WHERE mn <= 200 AND mx >= 100) AS BIGINT)
       |    AS n_before_scanned,
       |  CAST(count(*) AS BIGINT) AS n_before_total FROM slices),
       |after_counts AS (SELECT
       |  CAST(count(DISTINCT CASE WHEN value BETWEEN 100 AND 200
       |    THEN bucket END) AS BIGINT) AS n_after_scanned,
       |  CAST(count(DISTINCT bucket) AS BIGINT) AS n_after_total
       |  FROM bucketed)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(value) AS value_min, max(value) AS value_max,
       |  n_before_scanned, n_before_total, n_after_scanned, n_after_total
       |FROM bucketed, before_counts, after_counts
       |WHERE value BETWEEN 100 AND 200
       |GROUP BY bucket, n_before_scanned, n_before_total, n_after_scanned,
       |  n_after_total
       |ORDER BY bucket""".stripMargin
  }

  // ---- positional deletes (Iceberg v2 DELETE FROM): two DELETE WHERE
  // commits over a 2-append table, each recording only the matching
  // rows' (file, row-ordinal) slots — zero data files rewritten (the
  // manifest file count is part of the hash). The surviving state is
  // read back with both delete files applied and hash-checked per
  // event_id residue; the slot counts measured from the manifest match
  // the oracle's LIVE-match counts (SQL DELETE semantics: the second
  // delete sees the first one applied, so already-dead rows contribute
  // no slots), and the pre-delete snapshot's row count proves time
  // travel across a delete sees the undeleted table.
  private val posDelFixture = new FixtureCache("graft_posdel")

  /** Two parity-sliced append commits of `(event_id, user_id, value)` —
    * the base table shape both row-level-DML gates build on. */
  private def appendEventSlices(s: SparkSession, d: String, dir: String): Unit = {
    import graft.lake.SnapshotLog
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
    SnapshotLog.withTableLock(dir) {
      (0 until 2).foreach { k =>
        val cur = SnapshotLog.currentSnapshot(s, dir)
        val slice = ev.filter(col("event_id") % 2 === k).repartition(1)
        val files = SnapshotLog.writeData(s, dir, slice,
          partitionCol = None, statsCol = "value")
        SnapshotLog.commit(s, dir, "append",
          cur.toSeq.flatMap(_.files) ++ files, slice.schema, parent = cur)
      }
    }
  }

  private def posDelDir(s: SparkSession, d: String): String =
    posDelFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      appendEventSlices(s, d, dir)
      SnapshotLog.deleteWhere(s, dir, col("value").between(50, 100))
      SnapshotLog.deleteWhere(s, dir, col("event_id") % 7 === 0)
    }

  private def posDelete(s: SparkSession, d: String): DataFrame = {
    val dir = posDelDir(s, d)
    import graft.lake.SnapshotLog
    val cur = SnapshotLog.currentSnapshot(s, dir).get
    val pre = SnapshotLog.snapshotAt(s, dir, 2L)
    SnapshotLog.read(s, dir, cur)
      .groupBy((col("event_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"),
        min(col("value")).as("value_min"), max(col("value")).as("value_max"))
      .select(col("bucket"), col("n_rows"), col("id_sum"),
        col("value_min"), col("value_max"),
        lit(cur.files.size.toLong).as("n_data_files"),
        lit(cur.posDeletes.size.toLong).as("n_pos_files"),
        lit(cur.posDeletes.map(_.rows).sum).as("n_del_slots"),
        lit(pre.totalRows).as("n_pre_rows"))
      .orderBy(col("bucket"))
  }

  private val posDeleteSql =
    s"""WITH ev AS (SELECT event_id, user_id, value FROM events),
       |meta AS (SELECT
       |  CAST(count(*) FILTER (WHERE value BETWEEN 50 AND 100)
       |    + count(*) FILTER (WHERE event_id % 7 = 0
       |        AND NOT (value BETWEEN 50 AND 100)) AS BIGINT)
       |    AS n_del_slots,
       |  CAST(count(*) AS BIGINT) AS n_pre_rows FROM ev)
       |SELECT event_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(event_id) AS BIGINT) AS id_sum,
       |  min(value) AS value_min, max(value) AS value_max,
       |  CAST(2 AS BIGINT) AS n_data_files, CAST(2 AS BIGINT) AS n_pos_files,
       |  n_del_slots, n_pre_rows
       |FROM ev, meta
       |WHERE NOT (value BETWEEN 50 AND 100) AND NOT (event_id % 7 = 0)
       |GROUP BY bucket, n_del_slots, n_pre_rows ORDER BY bucket""".stripMargin

  // ---- partition-spec evolution (Iceberg evolve-spec): the table
  // starts day-partitioned (two appends), evolves to month granularity
  // (one append under a hidden month transform — the month value is
  // table LAYOUT, not schema), then to HOUR granularity (one append
  // under yyyy-MM-dd HH values, ref internal/iceberg/types.go:54-75's
  // full identity/year/month/day/hour family), without rewriting a
  // single old file. A 3-day window read must prune under EACH file's
  // own transform: day files by value equality (only window days
  // survive), month files by month overlap (the coarse file is scanned
  // whole — the trade-off spec evolution buys), hour files by their
  // day PREFIX (finer than the predicate → file-exact again). Scanned/
  // total file counts are measured from the manifest and hash-checked;
  // the per-day row content proves rows from all three layouts land in
  // one correct read.
  private val specEvoFixture = new FixtureCache("graft_specevo")
  private val EvoWindow = Seq("2024-01-10", "2024-01-11", "2024-01-12")

  private def specEvoDir(s: SparkSession, d: String): String =
    specEvoFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      val base = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("value"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      SnapshotLog.withTableLock(dir) {
        (0 until 4).foreach { k =>
          val slice = base.filter(col("event_id") % 4 === k)
          val cur = SnapshotLog.currentSnapshot(s, dir)
          val files =
            if (k < 2)
              SnapshotLog.writeData(s, dir, slice, Some("day"))
            else if (k == 2)
              SnapshotLog.writeData(s, dir,
                slice.withColumn("_pmonth", substring(col("day"), 1, 7)),
                Some("_pmonth"), spec = Some("month"))
            else
              // hour values derived deterministically (event_id % 24):
              // the transform contract under test is the LAYOUT prefix
              // relation, not wall-clock fidelity
              SnapshotLog.writeData(s, dir,
                slice.withColumn("_phour", concat(col("day"), lit(" "),
                  lpad((col("event_id") % 24).cast("string"), 2, "0"))),
                Some("_phour"), spec = Some("hour"))
          SnapshotLog.commit(s, dir, "append",
            cur.toSeq.flatMap(_.files) ++ files, slice.schema, parent = cur)
        }
      }
    }

  private def partitionEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = specEvoDir(s, d)
    import graft.lake.SnapshotLog
    val cur = SnapshotLog.currentSnapshot(s, dir).get
    // the table's day column is `day`, not the convention column, so
    // the window prunes through the day mapping's equality case
    val inWindow = (f: SnapshotLog.DataFile) =>
      EvoWindow.exists(GraftPruning.matchesDay(f, _))
    val scanned = cur.files.count(inWindow)
    SnapshotLog.readPruned(s, dir, cur, inWindow)
      .filter(col("day").isin(EvoWindow: _*))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"),
        min(col("value")).as("value_min"), max(col("value")).as("value_max"))
      .select(col("day"), col("n_rows"), col("id_sum"),
        col("value_min"), col("value_max"),
        lit(scanned.toLong).as("n_files_scanned"),
        lit(cur.files.size.toLong).as("n_files_total"))
      .orderBy(col("day"))
  }

  private val partitionEvolutionSql = {
    val windowIn = EvoWindow.map(w => s"'$w'").mkString(", ")
    s"""WITH ev AS (SELECT event_id, user_id, value,
       |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |  event_id % 4 AS slice FROM events),
       |keyed AS (SELECT *, CASE
       |    WHEN slice < 2 THEN day
       |    WHEN slice = 2 THEN substring(day, 1, 7)
       |    ELSE day || ' ' || lpad(CAST(event_id % 24 AS VARCHAR), 2, '0')
       |  END AS pval FROM ev),
       |counts AS (SELECT
       |  CAST(count(DISTINCT CASE WHEN (slice < 2 AND day IN ($windowIn))
       |      OR (slice = 2 AND substring(day, 1, 7) = '2024-01')
       |      OR (slice = 3 AND day IN ($windowIn))
       |      THEN slice || '/' || pval END) AS BIGINT) AS n_files_scanned,
       |  CAST(count(DISTINCT slice || '/' || pval) AS BIGINT)
       |    AS n_files_total FROM keyed)
       |SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(event_id) AS BIGINT) AS id_sum,
       |  min(value) AS value_min, max(value) AS value_max,
       |  n_files_scanned, n_files_total
       |FROM ev, counts WHERE day IN ($windowIn)
       |GROUP BY day, n_files_scanned, n_files_total
       |ORDER BY day""".stripMargin
  }

  // ---- UPDATE WHERE (Iceberg merge-on-read UPDATE): three stacked DML
  // commits — double sub-50 values, delete the %5 residue, then flag
  // users whose (possibly doubled) value landed in [100, 110] — each
  // atomic (slot file + replacement rows in ONE snapshot), each
  // evaluated on LIVE state, so the oracle replays them as sequential
  // CTE transforms. Slot counts measured from the manifest must equal
  // the oracle's per-step live-match counts; the final state is
  // hash-checked per residue including uid_sum (which only moves if
  // update 3 reassigned exactly the right rows of the post-delete,
  // post-double state).
  private val updFixture = new FixtureCache("graft_updwhere")

  private def updDir(s: SparkSession, d: String): String =
    updFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      appendEventSlices(s, d, dir)
      SnapshotLog.updateWhere(s, dir, col("value") < 50,
        Map("value" -> (col("value") * 2)))
      SnapshotLog.deleteWhere(s, dir, col("event_id") % 5 === 0)
      SnapshotLog.updateWhere(s, dir, col("value").between(100, 110),
        Map("user_id" -> (col("user_id") + 1000000)))
    }

  private def updateWhereQ(s: SparkSession, d: String): DataFrame = {
    val dir = updDir(s, d)
    import graft.lake.SnapshotLog
    val cur = SnapshotLog.currentSnapshot(s, dir).get
    SnapshotLog.read(s, dir, cur)
      .groupBy((col("event_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"),
        sum(col("user_id")).as("uid_sum"),
        min(col("value")).as("value_min"), max(col("value")).as("value_max"))
      .select(col("bucket"), col("n_rows"), col("id_sum"), col("uid_sum"),
        col("value_min"), col("value_max"),
        lit(SnapshotLog.snapshotIds(s, dir).size.toLong).as("n_snapshots"),
        lit(cur.posDeletes.size.toLong).as("n_pos_files"),
        lit(cur.posDeletes.map(_.rows).sum).as("n_del_slots"))
      .orderBy(col("bucket"))
  }

  private val updateWhereSql =
    s"""WITH ev AS (SELECT event_id, user_id, value FROM events),
       |ev1 AS (SELECT event_id, user_id,
       |  CASE WHEN value < 50 THEN value * 2 ELSE value END AS value FROM ev),
       |ev2 AS (SELECT * FROM ev1 WHERE NOT (event_id % 5 = 0)),
       |ev3 AS (SELECT event_id,
       |  CASE WHEN value BETWEEN 100 AND 110 THEN user_id + 1000000
       |       ELSE user_id END AS user_id, value FROM ev2),
       |meta AS (SELECT CAST(5 AS BIGINT) AS n_snapshots,
       |  CAST(3 AS BIGINT) AS n_pos_files,
       |  CAST((SELECT count(*) FROM ev WHERE value < 50)
       |    + (SELECT count(*) FROM ev1 WHERE event_id % 5 = 0)
       |    + (SELECT count(*) FROM ev2 WHERE value BETWEEN 100 AND 110)
       |    AS BIGINT) AS n_del_slots)
       |SELECT event_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(event_id) AS BIGINT) AS id_sum,
       |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
       |  min(value) AS value_min, max(value) AS value_max,
       |  n_snapshots, n_pos_files, n_del_slots
       |FROM ev3, meta
       |GROUP BY bucket, n_snapshots, n_pos_files, n_del_slots
       |ORDER BY bucket""".stripMargin

  // ---- MERGE INTO (the generic Iceberg merge verb, beyond the CDC
  // writers' fixed upsert shape): target = the 2-commit merged state,
  // source = the late slice's latest versions, three WHEN clauses with
  // real first-clause-wins interplay — a matched source DELETE deletes
  // even when its value would also satisfy the update condition, the
  // update fires only when the source value EXCEEDS the stored one
  // (conditional upgrade, not blind upsert), and not-matched inserts
  // skip source deletes. Row-level output: one misrouted row fails the
  // hash. Slot counts measured from the manifest must equal the
  // oracle's matched-actioned count.
  private val mergeIntoFixture = new FixtureCache("graft_mergeinto")

  private def mergeIntoDir(s: SparkSession, d: String): String =
    mergeIntoFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      val env = CdcQueries.envelope(s, d)
      val lsn = col(Cdc.LsnColumn)
      CdcWriter.merge(s, dir, env.filter(lsn <= SnapLsn1), Seq("user_id"))
      CdcWriter.merge(s, dir,
        env.filter(lsn > SnapLsn1 && lsn <= SnapLsn2), Seq("user_id"))
      val late = CdcWriter.withPartitionColumn(
        Cdc.latestVersions(env.filter(lsn > SnapLsn2), Seq("user_id")))
      SnapshotLog.mergeInto(s, dir, late, Seq("user_id"), Seq(
        SnapshotLog.MatchedDelete(
          Some(col(s"_src_${Cdc.OpColumn}") === "DELETE")),
        SnapshotLog.MatchedUpdate(
          Some(col("_src_value") > col("value")),
          Map("value" -> col("_src_value"),
            "event_id" -> col("_src_event_id"))),
        SnapshotLog.NotMatchedInsert(
          Some(col(s"_src_${Cdc.OpColumn}") =!= "DELETE"))),
        Some(graft.model.SchemaBuilder.partitionColumn))
    }

  private def mergeIntoQ(s: SparkSession, d: String): DataFrame = {
    val dir = mergeIntoDir(s, d)
    import graft.lake.SnapshotLog
    val cur = SnapshotLog.currentSnapshot(s, dir).get
    SnapshotLog.read(s, dir, cur)
      .select(col("user_id"), col("event_id"), col("value"),
        lit(SnapshotLog.snapshotIds(s, dir).size.toLong).as("n_snapshots"),
        lit(cur.posDeletes.map(_.rows).sum).as("n_del_slots"))
      .orderBy(col("user_id"))
  }

  private val mergeIntoSql =
    s"""WITH envelope AS ($envelopeSql),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn
       |  FROM envelope WHERE _cdc_lsn <= '$SnapLsn2'),
       |target AS (SELECT user_id, event_id, value FROM tr
       |  WHERE rn = 1 AND _cdc_operation <> 'DELETE'),
       |sr AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn
       |  FROM envelope WHERE _cdc_lsn > '$SnapLsn2'),
       |src AS (SELECT user_id, event_id, value, _cdc_operation FROM sr
       |  WHERE rn = 1),
       |kept AS (SELECT t.user_id,
       |    CASE WHEN s.user_id IS NOT NULL AND s._cdc_operation <> 'DELETE'
       |        AND s.value > t.value THEN s.event_id ELSE t.event_id
       |      END AS event_id,
       |    CASE WHEN s.user_id IS NOT NULL AND s._cdc_operation <> 'DELETE'
       |        AND s.value > t.value THEN s.value ELSE t.value
       |      END AS value
       |  FROM target t LEFT JOIN src s USING (user_id)
       |  WHERE s.user_id IS NULL OR s._cdc_operation <> 'DELETE'),
       |ins AS (SELECT s.user_id, s.event_id, s.value FROM src s
       |  WHERE s._cdc_operation <> 'DELETE'
       |    AND s.user_id NOT IN (SELECT user_id FROM target)),
       |meta AS (SELECT CAST(3 AS BIGINT) AS n_snapshots,
       |  CAST((SELECT count(*) FROM target t JOIN src s USING (user_id)
       |    WHERE s._cdc_operation = 'DELETE' OR s.value > t.value)
       |    AS BIGINT) AS n_del_slots)
       |SELECT u.user_id, u.event_id, u.value, m.n_snapshots, m.n_del_slots
       |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins) u, meta m
       |ORDER BY user_id""".stripMargin

  // ---- write-audit-publish (Iceberg WAP branches): the quality-gate
  // workflow a training-data pipeline runs per crawl batch — stage the
  // batch on a branch, audit the branch head, publish by metadata-only
  // fast-forward. The query performs the WHOLE flow against a fresh
  // scratch table every run: base append on main, two staged appends on
  // an "audit" branch, pre-publish isolation MEASURED live (main's row
  // count with the branch fully staged — the oracle pins it to the base
  // slice alone, so a staged row leaking onto main fails the hash; the
  // audit read must already see all three slices), then publish and
  // hash-check the published state per residue plus the final snapshot
  // count (base + 2 fast-forwarded ids).
  private def wapPublish(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val dir = scratchDir(s, "graft_wap", d) + "/t"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
    def slice(k: Int) = ev.filter(col("event_id") % 3 === k).repartition(1)
    SnapshotLog.withTableLock(dir) {
      val base = slice(0)
      val files = SnapshotLog.writeData(s, dir, base, partitionCol = None)
      SnapshotLog.commit(s, dir, "append", files, base.schema, parent = None)
    }
    SnapshotLog.createBranch(s, dir, "audit")
    SnapshotLog.appendToBranch(s, dir, "audit", slice(1))
    SnapshotLog.appendToBranch(s, dir, "audit", slice(2))
    val mainPre = SnapshotLog.readCurrent(s, dir).get.count()
    val audited = SnapshotLog.read(s, dir,
      SnapshotLog.branchHead(s, dir, "audit")).count()
    SnapshotLog.publish(s, dir, "audit")
    val nSnaps = SnapshotLog.snapshotIds(s, dir).size
    SnapshotLog.readCurrent(s, dir).get
      .groupBy((col("event_id") % 3).as("residue"))
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"),
        min(col("value")).as("value_min"), max(col("value")).as("value_max"))
      .select(col("residue"), col("n_rows"), col("id_sum"),
        col("value_min"), col("value_max"),
        lit(mainPre).as("n_main_pre_publish"),
        lit(audited).as("n_audit_rows"),
        lit(nSnaps.toLong).as("n_snapshots"))
      .orderBy(col("residue"))
  }

  private val wapPublishSql =
    s"""WITH ev AS (SELECT event_id, user_id, value FROM events),
       |meta AS (SELECT
       |  CAST(count(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT)
       |    AS n_main_pre_publish,
       |  CAST(count(*) AS BIGINT) AS n_audit_rows,
       |  CAST(3 AS BIGINT) AS n_snapshots FROM ev)
       |SELECT event_id % 3 AS residue, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(event_id) AS BIGINT) AS id_sum,
       |  min(value) AS value_min, max(value) AS value_max,
       |  n_main_pre_publish, n_audit_rows, n_snapshots
       |FROM ev, meta
       |GROUP BY residue, n_main_pre_publish, n_audit_rows, n_snapshots
       |ORDER BY residue""".stripMargin

  // ---- metadata tables (Q6): $files — the per-file manifest listing
  // (ref types.go:78-103 DataFile; Trino's "$files") measured ENTIRELY
  // from the commit log: per-day file counts, footer-summed row counts
  // and LSN bounds come from manifest entries, no data read. The oracle
  // recomputes each from the raw events plus the layout contract (one
  // file per day after a merge's repartition-by-day write), so a stale
  // manifest entry, a wrong footer stat, or a broken layout contract
  // fails the hash.
  private def tableFiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = snapCommitDir(s, d)
    val sn = graft.lake.SnapshotLog.currentSnapshot(s, dir).get
    sn.files.groupBy(_.partition).toSeq.map { case (day, fs) =>
      (day, fs.size.toLong, fs.map(_.rows).sum,
        fs.flatMap(_.minLsn).min, fs.flatMap(_.maxLsn).max)
    }.toDF("day", "n_files", "n_rows", "lsn_min", "lsn_max")
      .orderBy(col("day"))
  }

  private val tableFilesSql =
    s"""$snapStateSql
       |SELECT day, CAST(1 AS BIGINT) AS n_files,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(_cdc_lsn) AS lsn_min, max(_cdc_lsn) AS lsn_max
       |FROM state WHERE snap_id = 3 GROUP BY day ORDER BY day""".stripMargin

  // ---- catalog exploration (Q1): SHOW TABLES parity with live row counts.
  // One unioned job instead of a driver loop of per-table count() actions
  // (10 serial job round-trips was most of this query's bench time; the
  // per-table counts still come from parquet row-group metadata).
  private def catalogTables(s: SparkSession, d: String): DataFrame =
    Tables.names.sorted.map { t =>
      Tables.load(s, d, t)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"))
    }.reduce(_ unionAll _).orderBy(col("table_name"))

  private val catalogTablesSql = Tables.names.sorted
    .map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
    .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  // ---- catalog exploration (Q1): DESCRIBE / SHOW CREATE TABLE parity.
  // The reference proxies these through Trino (ref internal/api/services/
  // query.go:121-265; docs/query/sample-queries.sql:12-24). Schemas are
  // catalog metadata — built driver-side from the table schemas (parquet
  // footers), no jobs run. The DuckDB oracle replays both from
  // information_schema.columns, so the type names the two engines surface
  // are proven identical, not just plausible.

  /** Spark type → the ANSI-ish name the reference's DESCRIBE surface
    * (Trino types) and DuckDB's information_schema both speak. */
  private def ansiName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case StringType => "VARCHAR"
      case TimestampType => "TIMESTAMP"
      // parquet isAdjustedToUTC=false surfaces as NTZ in Spark; DuckDB's
      // TIMESTAMP has NTZ semantics, so both map to the same ANSI name
      case TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case BooleanType => "BOOLEAN"
      case ArrayType(e, _) => ansiName(e) + "[]"
      case o => o.sql
    }
  }

  private val tablesInList = Tables.names.map(t => s"'$t'").mkString("(", ", ", ")")

  private def catalogDescribe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.names.flatMap { t =>
      Tables.load(s, d, t).schema.fields.zipWithIndex.map { case (f, i) =>
        (t, f.name, (i + 1).toLong, ansiName(f.dataType), f.nullable)
      }
    }.toDF("table_name", "column_name", "ordinal", "data_type", "nullable")
      .orderBy(col("table_name"), col("ordinal"))
  }

  private val catalogDescribeSql =
    s"""SELECT table_name, column_name,
       |  CAST(ordinal_position AS BIGINT) AS ordinal, data_type,
       |  (is_nullable = 'YES') AS nullable
       |FROM information_schema.columns
       |WHERE table_name IN $tablesInList
       |ORDER BY table_name, ordinal""".stripMargin

  private def catalogShowCreate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.names.map { t =>
      val cols = Tables.load(s, d, t).schema.fields
        .map(f => s"${f.name} ${ansiName(f.dataType)}").mkString(", ")
      (t, s"CREATE TABLE $t ($cols)")
    }.toDF("table_name", "ddl").orderBy(col("table_name"))
  }

  private val catalogShowCreateSql =
    s"""SELECT table_name,
       |  'CREATE TABLE ' || table_name || ' (' ||
       |  string_agg(column_name || ' ' || data_type, ', ' ORDER BY ordinal_position)
       |  || ')' AS ddl
       |FROM information_schema.columns
       |WHERE table_name IN $tablesInList
       |GROUP BY table_name ORDER BY table_name""".stripMargin

  // ---- catalog exploration (Q1): SHOW CATALOGS / SHOW SCHEMAS emulation
  // (ref sample-queries.sql:12-18: catalog `iceberg`, schema `philotes`).
  // Single-catalog engine, so the namespace rows are config — but the
  // table inventory is MEASURED from the warehouse dir, and the oracle
  // counts DuckDB's information_schema over the same registration: the
  // two engines must agree on what the catalog actually contains.
  private def catalogSchemas(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val n = Tables.names.count(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/$t.parquet")))
    Seq(("iceberg", "philotes", n.toLong))
      .toDF("catalog_name", "schema_name", "n_tables")
  }

  private val catalogSchemasSql =
    s"""SELECT 'iceberg' AS catalog_name, 'philotes' AS schema_name,
       |  count(*) AS n_tables
       |FROM information_schema.tables
       |WHERE table_name IN $tablesInList""".stripMargin

  // ---- metadata tables (Q6): $properties emulation (ref
  // sample-queries.sql:140-143). Key/value rows of the written table's
  // static config — format and partition spec measured from the committed
  // manifest, row count and LSN watermark from the read-back — so a
  // layout regression fails correctness, not just an eyeball.
  private def tableProperties(s: SparkSession, d: String): DataFrame = {
    val dir = freshScratchDir(s, "graft_props", d)
    val snap = CdcWriter.appendCommit(s, dir, CdcQueries.envelope(s, d))
    // partitioned iff every data file carries a day value
    val partCol = graft.lake.SnapshotLog.conventionPartitionCol(snap.schema)
      .filter(_ => snap.files.forall(_.partition.nonEmpty)).getOrElse("")
    // data format from the manifest's file names
    val fmt = snap.files.map(_.path.split('.').last).distinct.sorted.mkString(",")
    CdcWriter.read(s, dir)
      .agg(count(lit(1)).as("n"), max(col(Cdc.LsnColumn)).as("wm"),
        countDistinct(col(graft.model.SchemaBuilder.partitionColumn)).as("nparts"))
      .select(explode(map(
        lit("format"), lit(fmt),
        lit("lsn.watermark"), col("wm"),
        lit("partition.columns"), lit(partCol),
        lit("partition.count"), col("nparts").cast("string"),
        lit("rows.total"), col("n").cast("string"))).as(Seq("key", "value")))
      .orderBy(col("key"))
  }

  private val tablePropertiesSql =
    s"""WITH envelope AS ($envelopeSql),
       |m AS (SELECT count(*) AS n, max(_cdc_lsn) AS wm,
       |  count(DISTINCT strftime(_cdc_timestamp, '%Y-%m-%d')) AS nparts
       |  FROM envelope)
       |SELECT key, value FROM (
       |  SELECT 'format' AS key, 'parquet' AS value FROM m
       |  UNION ALL SELECT 'lsn.watermark', wm FROM m
       |  UNION ALL SELECT 'partition.columns', '_cdc_date' FROM m
       |  UNION ALL SELECT 'partition.count', CAST(nparts AS VARCHAR) FROM m
       |  UNION ALL SELECT 'rows.total', CAST(n AS VARCHAR) FROM m) t
       |ORDER BY key""".stripMargin

  // ---- schema-evolution history ($metadata, ref sample-queries.sql:
  // 135-138; persisted per-version in the reference's
  // philotes.cdc_schema_history, init-scripts/02-cdc-schema.sql:21-31).
  // Version 1 is the declared source payload (the typed subscription
  // schema); version 2 is SchemaBuilder.merge of the drifted source
  // relation read from the warehouse footer — add-only, version bumped,
  // existing fields keep position (ref MergeSchemas, schema.go:149-174).
  // The oracle replays the identical merge from information_schema and
  // measures the same per-version LSN watermarks from the envelope.
  private val DriftLsn = "0000000000005000"

  private def schemaHistory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v1 = CdcQueries.SourcePayloadSchema
    val incoming = Tables.events(s, d).schema
    val (v2, ver2) = graft.model.SchemaBuilder.merge(v1, incoming, 1)
    val added = v2.fields.drop(v1.fields.length).map(_.name)
    val versions = Seq(
      (1L, v1.fields.map(_.name).mkString(","), None: Option[String]),
      (ver2.toLong, v2.fields.map(_.name).mkString(","), Some(added.mkString(","))))
      .toDF("version", "columns", "added_columns")
    // per-version capture watermarks, measured from the stream itself
    val wm = CdcQueries.envelope(s, d).agg(
      max(when(col(Cdc.LsnColumn) <= DriftLsn, col(Cdc.LsnColumn))).as("w1"),
      max(col(Cdc.LsnColumn)).as("w2"))
    versions.crossJoin(broadcast(wm))
      .select(col("version"),
        when(col("version") === 1, col("w1")).otherwise(col("w2")).as("lsn_watermark"),
        col("columns"), col("added_columns"))
      .orderBy(col("version"))
  }

  private val schemaHistorySql =
    s"""WITH envelope AS ($envelopeSql),
       |added AS (
       |  SELECT string_agg(column_name, ',' ORDER BY ordinal_position) AS ac
       |  FROM information_schema.columns
       |  WHERE table_name = 'events'
       |    AND column_name NOT IN ('user_id', 'event_id', 'value')),
       |wm AS (
       |  SELECT max(CASE WHEN _cdc_lsn <= '$DriftLsn' THEN _cdc_lsn END) AS w1,
       |         max(_cdc_lsn) AS w2
       |  FROM envelope)
       |SELECT 1 AS version, w1 AS lsn_watermark,
       |  'user_id,event_id,value' AS columns, CAST(NULL AS VARCHAR) AS added_columns
       |FROM wm
       |UNION ALL
       |SELECT 2, w2, 'user_id,event_id,value' || ',' || ac, ac
       |FROM wm, added
       |ORDER BY version""".stripMargin

  // ---- table/namespace DDL (S11): the CREATE path through the real
  // Spark catalog — namespace + typed table, BOTH idempotent (IF NOT
  // EXISTS; the second CREATE is the reference's 409-tolerant re-create,
  // ref internal/iceberg/catalog/rest.go:40-184), CDC current state
  // inserted through the catalog, read back via spark.table. The oracle
  // recomputes the same state from the raw envelope: the DDL + insert +
  // catalog read-back loop must round-trip the data exactly.
  /** Guarded DDL entry point (S11): namespace and table identifiers are
    * validated BEFORE any SQL is built — the reference rejects
    * non-identifier names at its query surface to prevent injection
    * (ref internal/api/services/query.go:18-53); this is the same guard
    * on the path that interpolates names into DDL. Idempotent (both
    * statements are IF NOT EXISTS). Returns the qualified name. */
  def ensureTable(s: SparkSession, namespace: String, table: String,
                  columnsDdl: String, location: String): String = {
    val ns = graft.model.Identifiers.validate(namespace, "schema")
    val t = graft.model.Identifiers.validate(table, "table")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns LOCATION '$location/ns'")
    s.sql(
      s"""CREATE TABLE IF NOT EXISTS $ns.$t ($columnsDdl)
         |  USING parquet LOCATION '$location/$t'""".stripMargin)
    s"$ns.$t"
  }

  private def catalogCreateTable(s: SparkSession, d: String): DataFrame = {
    val base = scratchDir(s, "graft_ddl", d)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(base)))
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // deterministic re-runs
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_cat LOCATION '$base/ns'")
    s.sql("DROP TABLE IF EXISTS graft_cat.user_state")
    ensureTable(s, "graft_cat", "user_state",
      "user_id BIGINT, event_id BIGINT, value DOUBLE", base)
    // idempotent re-create: must be a no-op, not a failure
    ensureTable(s, "graft_cat", "user_state",
      "user_id BIGINT, event_id BIGINT, value DOUBLE", base)
    graft.ingest.Cdc.currentState(CdcQueries.envelope(s, d), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("value"))
      .write.insertInto("graft_cat.user_state")
    s.table("graft_cat.user_state")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(lit("graft_cat.user_state").as("table_name"), col("n_rows"),
        col("n_users"), col("min_value"), col("max_value"))
  }

  private val catalogCreateTableSql =
    s"""WITH envelope AS ($envelopeSql),
       |st AS (
       |  SELECT user_id, event_id, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn FROM envelope) t
       |  WHERE rn = 1 AND _cdc_operation <> 'DELETE')
       |SELECT 'graft_cat.user_state' AS table_name, count(*) AS n_rows,
       |  count(DISTINCT user_id) AS n_users,
       |  min(value) AS min_value, max(value) AS max_value
       |FROM st""".stripMargin

  // ---- API cursor pagination: the reference streams query results page
  // by page behind a nextUri cursor (ref internal/api/services/
  // query.go:335-426). graft.queries.Paging holds the executed result
  // iterator engine-side (one partition on the driver at a time); this
  // query drains a deterministic ordered scan through the REAL cursor and
  // emits per-page boundaries — the oracle recomputes them with a window,
  // so page stability and completeness are hash-checked.
  private val PageSize = 2000

  private def cursorPages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("k"))
      .orderBy(col("k"))
    val cur = Paging.cursor(q, PageSize)
    val pages = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var pageNo = 0L
    while (cur.hasMore) {
      val p = cur.nextPage()
      if (p.nonEmpty) {
        pages += ((pageNo, p.length.toLong, p.head.getLong(0), p.last.getLong(0)))
        pageNo += 1
      }
    }
    pages.toSeq.toDF("page_no", "n_rows", "first_key", "last_key")
      .orderBy(col("page_no"))
  }

  private val cursorPagesSql =
    s"""SELECT page_no, count(*) AS n_rows,
       |  min(k) AS first_key, max(k) AS last_key
       |FROM (
       |  SELECT CAST(o_orderkey AS BIGINT) AS k,
       |    (row_number() OVER (ORDER BY o_orderkey) - 1) // $PageSize AS page_no
       |  FROM orders) t
       |GROUP BY page_no ORDER BY page_no""".stripMargin

  // ---- EXPLAIN surface (Q17): the formatted plan of a representative
  // query as data. Plan text embeds paths/stats → rows-only check.
  private def explainPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Relational.all.head.run(s, d)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq(plan).toDF("plan")
  }

  // ---- EXPLAIN ANALYZE surface (Q17, ref sample-queries.sql:150-154):
  // execute the representative query, then surface the final physical
  // plan's RUNTIME metrics (rows/bytes/time per operator) as data — the
  // same per-operator numbers Trino's EXPLAIN ANALYZE prints. Values are
  // runtime-dependent → rows-only check; ExplainAnalyzeSpec asserts the
  // row counts are real.
  private def explainAnalyze(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val q = Relational.all.head.run(s, d)
    q.collect() // populates the SQL metrics on q's own executedPlan
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String, Long)]
    var nextId = 0L
    def walk(p: SparkPlan, depth: Long): Unit = p match {
      // AQE/stage wrappers: descend into the plan that actually ran
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case st: QueryStageExec => walk(st.plan, depth)
      case op =>
        val id = nextId
        nextId += 1
        op.metrics.toSeq.sortBy(_._1).foreach { case (name, m) =>
          rows += ((id, depth, op.nodeName, m.name.getOrElse(name), m.value))
        }
        op.children.foreach(walk(_, depth + 1))
    }
    walk(q.queryExecution.executedPlan, 0L)
    rows.toSeq.toDF("op_id", "depth", "operator", "metric", "value")
  }

  // ---- alert rule evaluation (C1, ref internal/alerting/evaluator.go):
  // per-series threshold compare over a metrics aggregation
  private val alertRules = Seq(
    graft.observe.Alerts.Rule("avg_value_high", "gt", 50.0),
    graft.observe.Alerts.Rule("avg_value_floor", "gte", 10.0))

  private def alertEval(s: SparkSession, d: String): DataFrame = {
    val metrics = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(round(avg(col("value")), 4).as("avg_value"))
    graft.observe.Alerts.evaluateAll(metrics, "event_type", "avg_value", alertRules)
  }

  private val alertEvalSql =
    """WITH m AS (
      |  SELECT event_type AS series, round(avg(value), 4) AS value
      |  FROM events GROUP BY 1)
      |SELECT series, value, 'avg_value_high' AS rule,
      |  CASE WHEN value > 50.0 THEN 'firing' ELSE 'resolved' END AS state FROM m
      |UNION ALL
      |SELECT series, value, 'avg_value_floor' AS rule,
      |  CASE WHEN value >= 10.0 THEN 'firing' ELSE 'resolved' END AS state FROM m
      |ORDER BY rule, series""".stripMargin

  // ---- alert for-duration state machine on the gate (C1 completion,
  // ref internal/alerting/manager.go:201-330): a deterministic 8-tick
  // timeline drives [[graft.observe.Alerts.cycle]] and the FULL machine
  // trace (per tick × series: presence, value, pending clock, firing
  // instance, fired/resolved events) is the output, hash-checked against
  // a recursive-CTE replay of the same machine in DuckDB. Data series:
  // value(t,k) = count(events of type t with event_id % 8 = k), threshold
  // = the type's per-bucket average (total/8.0 — exact in binary, so the
  // marginal compares are deterministic cross-engine), present unless
  // (k + len(t)) % 4 == 0 (absence is the reference's ONLY resolution
  // path — see the cycle scaladoc). A formula-driven `canary` series
  // guarantees one fired (tick 4) and one resolved (tick 6) at every SF;
  // the data series exercise the machine against real aggregates.
  private def alertTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.observe.Alerts
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"), (col("event_id") % 8).as("k"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dataTypes = counts.keys.map(_._1).toSeq.distinct
    val totals = dataTypes.map(t =>
      t -> (0 until 8).map(k => counts.getOrElse((t, k.toLong), 0L)).sum).toMap
    val series = (dataTypes :+ "canary").sorted
    def presentAt(t: String, k: Int): Boolean =
      if (t == "canary") k != 6 else (k + t.length) % 4 != 0
    def valueAt(t: String, k: Int): Double =
      if (t == "canary") { if (k >= 2 && k <= 5) 100.0 else 1.0 }
      else counts.getOrElse((t, k.toLong), 0L).toDouble
    def condAt(t: String, k: Int): Boolean =
      if (t == "canary") valueAt(t, k) > 50.0
      else valueAt(t, k) > totals(t) / 8.0
    val step = 1000L
    val durationMs = 2 * step
    var st = Alerts.MachineState.empty
    val rows = (0 until 8).flatMap { k =>
      val evals = series.filter(presentAt(_, k)).map(t =>
        Alerts.Eval(t, valueAt(t, k), condAt(t, k), durationMs))
      val (next, events) = Alerts.cycle(st, evals, k * step)
      st = next
      val evMap = events.map(e => e.fingerprint -> e.event).toMap
      series.map { t =>
        val present = presentAt(t, k)
        (k.toLong, t, present,
          if (present) Some(valueAt(t, k)) else None,
          st.pendingSinceMs.get(t).map(_ / step),
          st.firing.contains(t), evMap.get(t))
      }
    }
    rows.toDF("tick", "series", "present", "value", "pending_since",
      "firing", "event")
      .orderBy(col("tick"), col("series"))
  }

  private val alertTransitionsSql =
    """WITH RECURSIVE
      |cnt AS (
      |  SELECT event_type AS t, event_id % 8 AS k, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT t, sum(n) AS total FROM cnt GROUP BY 1),
      |grid AS (
      |  SELECT ty.t, gs.k,
      |    ((gs.k + length(ty.t)) % 4 <> 0) AS present,
      |    CAST(coalesce(c.n, 0) AS DOUBLE) AS v,
      |    CAST(coalesce(c.n, 0) AS DOUBLE) > (tot.total / 8.0) AS cond
      |  FROM (SELECT DISTINCT t FROM cnt) ty
      |  CROSS JOIN (SELECT unnest(range(8)) AS k) gs
      |  LEFT JOIN cnt c ON c.t = ty.t AND c.k = gs.k
      |  JOIN tot ON tot.t = ty.t
      |  UNION ALL
      |  SELECT 'canary' AS t, gs.k, gs.k <> 6 AS present,
      |    CAST(CASE WHEN gs.k BETWEEN 2 AND 5 THEN 100 ELSE 1 END AS DOUBLE) AS v,
      |    CASE WHEN gs.k BETWEEN 2 AND 5 THEN 100 ELSE 1 END > 50 AS cond
      |  FROM (SELECT unnest(range(8)) AS k) gs),
      |sm AS (
      |  SELECT t, CAST(-1 AS BIGINT) AS k, CAST(NULL AS BIGINT) AS pend,
      |    false AS fir, CAST(NULL AS VARCHAR) AS event,
      |    false AS present, CAST(NULL AS DOUBLE) AS v
      |  FROM (SELECT DISTINCT t FROM grid)
      |  UNION ALL
      |  SELECT b.t, b.k,
      |    CASE WHEN NOT b.present THEN s.pend
      |         WHEN b.cond AND s.pend IS NULL THEN b.k
      |         WHEN b.cond AND b.k - s.pend >= 2 AND NOT s.fir THEN NULL
      |         WHEN b.cond THEN s.pend
      |         ELSE NULL END,
      |    CASE WHEN NOT b.present THEN false
      |         WHEN b.cond AND s.pend IS NOT NULL AND b.k - s.pend >= 2 THEN true
      |         ELSE s.fir END,
      |    CASE WHEN NOT b.present AND s.fir THEN 'resolved'
      |         WHEN b.present AND b.cond AND s.pend IS NOT NULL
      |              AND b.k - s.pend >= 2 AND NOT s.fir THEN 'fired'
      |         ELSE NULL END,
      |    b.present,
      |    CASE WHEN b.present THEN b.v END
      |  FROM sm s JOIN grid b ON b.t = s.t AND b.k = s.k + 1)
      |SELECT k AS tick, t AS series, present, v AS value,
      |  pend AS pending_since, fir AS firing, event
      |FROM sm WHERE k >= 0 ORDER BY tick, series""".stripMargin

  // ---- notification delivery as data (C1 completion, ref internal/
  // alerting/notifier.go:82-193, manager.go:280-369): the transitions
  // timeline plus a formula-driven `steady` series (fires at tick 3,
  // re-fires at 6 and 7) drives [[graft.observe.Alerts.notifyCycle]]
  // against three routes — c1 (repeat 0: every event), c2 (repeat 3
  // ticks: the tick-7 re-fire is suppressed), c3 (disabled: never
  // delivers) — and the NOTIFICATIONS TABLE is the output, hash-checked
  // against a recursive-CTE replay of machine + notifier in DuckDB.
  // Pinned reference subtleties: resolution clears the tracking then
  // the resolved send re-stamps it (so a re-fire within the repeat
  // interval of a resolution is suppressed on slow channels), and
  // re-fires only resume once the re-armed pending clock passes the
  // duration again.
  /** The 8-tick notifier replay (machine cycle + channel routing over
    * the events-derived series) shared by `alert_notifications` — the
    * decision output as data — and `alert_webhook_delivery` — the SAME
    * notifications pushed through REAL loopback HTTP. */
  private def alertTimelineNotes(s: SparkSession, d: String)
      : Seq[graft.observe.Alerts.Notification] = {
    import graft.observe.Alerts
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"), (col("event_id") % 8).as("k"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dataTypes = counts.keys.map(_._1).toSeq.distinct
    val totals = dataTypes.map(t =>
      t -> (0 until 8).map(k => counts.getOrElse((t, k.toLong), 0L)).sum).toMap
    val series = (dataTypes ++ Seq("canary", "steady")).sorted
    def presentAt(t: String, k: Int): Boolean = t match {
      case "canary" => k != 6
      case "steady" => true
      case _        => (k + t.length) % 4 != 0
    }
    def condAt(t: String, k: Int): Boolean = t match {
      case "canary" => k >= 2 && k <= 5
      case "steady" => k >= 1
      case _ => counts.getOrElse((t, k.toLong), 0L).toDouble > totals(t) / 8.0
    }
    val step = AlertStep // ONE tick unit: built here, decoded by both gates
    val routes = Seq(
      Alerts.Route("avg_rule", "c1", enabled = true, repeatIntervalMs = 0L),
      Alerts.Route("avg_rule", "c2", enabled = true, repeatIntervalMs = 3 * step),
      Alerts.Route("avg_rule", "c3", enabled = false, repeatIntervalMs = 0L))
    var machine = Alerts.MachineState.empty
    var notifier = Alerts.NotifierState.empty
    (0 until 8).flatMap { k =>
      val evals = series.filter(presentAt(_, k)).map(t =>
        Alerts.Eval(t, if (condAt(t, k)) 100.0 else 1.0, condAt(t, k), 2 * step))
      val (m2, n2, notes) = Alerts.notifyCycle(machine, notifier, evals,
        _ => "avg_rule", routes, k * step)
      machine = m2
      notifier = n2
      notes
    }
  }

  private val AlertStep = 1000L

  private def alertNotifications(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    alertTimelineNotes(s, d)
      .map(n => (n.atMs / AlertStep, n.fingerprint, n.rule, n.channel, n.event))
      .toDF("tick", "series", "rule", "channel", "event")
      .orderBy(col("tick"), col("series"), col("channel"), col("event"))
  }

  // ---- webhook DELIVERY of the same timeline (ref internal/alerting/
  // channels/webhook.go:16-151): every notification POSTs its JSON
  // payload to a per-channel URL on a real loopback receiver, and the
  // gate's OUTPUT is rebuilt purely from what the receiver captured —
  // a dropped POST, a mangled payload field, or a channel routed to the
  // wrong URL each break the hash against the alert_notifications
  // oracle. The receiver path carries the channel id; the payload must
  // agree with it.
  private def alertWebhookDelivery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import java.net.{InetAddress, InetSocketAddress}
    import java.nio.charset.StandardCharsets.UTF_8
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val notes = alertTimelineNotes(s, d)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val srv = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    srv.createContext("/", (ex: HttpExchange) => {
      val ch = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty).last
      received.add((ch, new String(ex.getRequestBody.readAllBytes(), UTF_8)))
      ex.sendResponseHeaders(200, -1L)
      ex.close()
    })
    srv.start()
    val rows = try {
      val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
      val out = graft.observe.Webhooks.deliver(notes,
        c => Some(s"$base/hook/$c"))
      require(out.forall(_.delivered),
        s"webhook deliveries failed: ${out.filterNot(_.delivered).mkString(", ")}")
      received.toArray.toSeq.map { case (pathCh: String, body: String) =>
        val j = JsonMethods.parse(body)
        def str(v: JValue): String = v.asInstanceOf[JString].s
        val ch = str(j \ "channel" \ "id")
        require(ch == pathCh,
          s"payload channel $ch delivered to the $pathCh endpoint")
        val tick = (j \ "timestamp") match {
          case JInt(n) => n.toLong / AlertStep
          case other   => sys.error(s"bad webhook timestamp: $other")
        }
        (tick, str(j \ "alert" \ "fingerprint"), str(j \ "rule" \ "name"),
          ch, str(j \ "event"))
      }
    } finally srv.stop(0)
    rows.toDF("tick", "series", "rule", "channel", "event")
      .orderBy(col("tick"), col("series"), col("channel"), col("event"))
  }

  private val alertNotificationsSql =
    """WITH RECURSIVE
      |cnt AS (
      |  SELECT event_type AS t, event_id % 8 AS k, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT t, sum(n) AS total FROM cnt GROUP BY 1),
      |grid AS (
      |  SELECT ty.t, gs.k,
      |    ((gs.k + length(ty.t)) % 4 <> 0) AS present,
      |    CAST(coalesce(c.n, 0) AS DOUBLE) > (tot.total / 8.0) AS cond
      |  FROM (SELECT DISTINCT t FROM cnt) ty
      |  CROSS JOIN (SELECT unnest(range(8)) AS k) gs
      |  LEFT JOIN cnt c ON c.t = ty.t AND c.k = gs.k
      |  JOIN tot ON tot.t = ty.t
      |  UNION ALL
      |  SELECT 'canary' AS t, gs.k, gs.k <> 6 AS present,
      |    gs.k BETWEEN 2 AND 5 AS cond
      |  FROM (SELECT unnest(range(8)) AS k) gs
      |  UNION ALL
      |  SELECT 'steady' AS t, gs.k, true AS present, gs.k >= 1 AS cond
      |  FROM (SELECT unnest(range(8)) AS k) gs),
      |sm AS (
      |  SELECT t, CAST(-1 AS BIGINT) AS k, CAST(NULL AS BIGINT) AS pend,
      |    false AS fir, false AS firenote, false AS c2note,
      |    false AS resnote, CAST(NULL AS BIGINT) AS last2
      |  FROM (SELECT DISTINCT t FROM grid)
      |  UNION ALL
      |  SELECT b.t, b.k,
      |    CASE WHEN NOT b.present THEN s.pend
      |         WHEN b.cond AND s.pend IS NULL THEN b.k
      |         WHEN b.cond AND b.k - s.pend >= 2 AND NOT s.fir THEN NULL
      |         WHEN b.cond THEN s.pend
      |         ELSE NULL END,
      |    CASE WHEN NOT b.present THEN false
      |         WHEN b.cond AND s.pend IS NOT NULL AND b.k - s.pend >= 2 THEN true
      |         ELSE s.fir END,
      |    b.present AND b.cond AND s.pend IS NOT NULL AND b.k - s.pend >= 2,
      |    (b.present AND b.cond AND s.pend IS NOT NULL AND b.k - s.pend >= 2)
      |      AND (s.last2 IS NULL OR b.k - s.last2 >= 3),
      |    NOT b.present AND s.fir,
      |    CASE WHEN (b.present AND b.cond AND s.pend IS NOT NULL
      |            AND b.k - s.pend >= 2)
      |            AND (s.last2 IS NULL OR b.k - s.last2 >= 3) THEN b.k
      |         WHEN NOT b.present AND s.fir THEN b.k
      |         ELSE s.last2 END
      |  FROM sm s JOIN grid b ON b.t = s.t AND b.k = s.k + 1),
      |notif AS (
      |  SELECT k AS tick, t AS series, 'c1' AS channel, 'fired' AS event
      |    FROM sm WHERE firenote
      |  UNION ALL SELECT k, t, 'c2', 'fired' FROM sm WHERE c2note
      |  UNION ALL SELECT k, t, 'c1', 'resolved' FROM sm WHERE resnote
      |  UNION ALL SELECT k, t, 'c2', 'resolved' FROM sm WHERE resnote)
      |SELECT tick, series, 'avg_rule' AS rule, channel, event FROM notif
      |ORDER BY tick, series, channel, event""".stripMargin

  // ---- scaling decisions as data (C2/C5 DECISION layer; ref internal/
  // scaling/evaluator.go:84-178, types.go:216-228, idle/detector.go —
  // actuation against K8s/KEDA stays out of scope per SURVEY §2.3, the
  // rule logic is product behavior). Metric values come from the
  // envelope (the reference polls Prometheus; metrics are data here),
  // the policies are fixed, the clock is pinned — each policy's decision
  // is a pure function the oracle recomputes with CASE logic: p_up is
  // live envelope-dependent, p_cool pins the cooldown veto, p_floor pins
  // the min-replica guard (a scale-down that cannot move executes
  // nothing), p_zero pins the scale-to-zero path.
  private def scalingDecision(s: SparkSession, d: String): DataFrame = {
    import graft.observe.Scaling
    import graft.observe.Scaling._
    val metrics = Map(
      "philotes_cdc_events_total" -> CdcQueries.envelope(s, d).count().toDouble)
    val now = 1000000L
    def rule(id: String, op: Op, thr: Double, by: Int) =
      Rule(id, "philotes_cdc_events_total", op, thr, by)
    val cases = Seq(
      ("p_up", Policy("p_up", 1, 10, 0L, scaleToZero = false,
        Seq(rule("up1", Op.Gt, 1000.0, 2)), Nil), State(3)),
      ("p_cool", Policy("p_cool", 1, 10, 60000L, scaleToZero = false,
        Seq(rule("up2", Op.Gt, 0.0, 1)), Nil), State(3, Some(now - 1000))),
      ("p_floor", Policy("p_floor", 1, 10, 0L, scaleToZero = false,
        Nil, Seq(rule("dn1", Op.Lt, 1e12, -1))), State(1)),
      ("p_zero", Policy("p_zero", 1, 10, 0L, scaleToZero = true,
        Nil, Seq(rule("dn2", Op.Lt, 1e12, -1))), State(1)))
    import s.implicits._
    cases.map { case (name, p, st) =>
      val dec = Scaling.evaluatePolicy(p, st, metrics, now)
      val action = dec.action match {
        case Action.ScaleUp   => "scale_up"
        case Action.ScaleDown => "scale_down"
        case Action.None      => "none"
      }
      (name, action, dec.desiredReplicas.toLong, dec.shouldExecute)
    }.toDF("policy", "action", "desired_replicas", "should_execute")
      .orderBy(col("policy"))
  }

  private val scalingDecisionSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql}),
       |m AS (SELECT count(*) AS ev FROM envelope)
       |SELECT 'p_cool' AS policy, 'none' AS action,
       |  CAST(3 AS BIGINT) AS desired_replicas, false AS should_execute FROM m
       |UNION ALL SELECT 'p_floor', 'none', CAST(1 AS BIGINT), false FROM m
       |UNION ALL SELECT 'p_up',
       |  CASE WHEN ev > 1000 THEN 'scale_up' ELSE 'none' END,
       |  CAST(CASE WHEN ev > 1000 THEN 5 ELSE 3 END AS BIGINT),
       |  ev > 1000 FROM m
       |UNION ALL SELECT 'p_zero', 'scale_down', CAST(0 AS BIGINT), true FROM m
       |ORDER BY policy""".stripMargin

  // ---- query-ENGINE scaling decisions as data (C3 DECISION layer; ref
  // internal/scaling/query/policy.go:67-231, defaults config.go:921-926
  // — Trino-replica actuation stays out of scope per SURVEY §2.3: Spark
  // executors scale via dynamic allocation; the threshold logic is
  // product behavior). Queue depths derive from the envelope's operation
  // counts (queued=INSERTs, running=UPDATEs, blocked=DELETEs, p95=total
  // as ms) so the oracle recomputes every live branch with the same
  // CASE logic: q_up_queued walks the trigger-priority chain live,
  // q_up_latency pins the p95 trigger, q_ceiling pins the maxReplicas
  // skip-to-scale-down, q_down pins the half-threshold floor division,
  // q_zero the all-idle path, q_cool/q_off/q_blind the vetoes.
  private def queryScalingDecision(s: SparkSession, d: String): DataFrame = {
    import graft.observe.Scaling._
    val ops = CdcQueries.envelope(s, d).groupBy(col(Cdc.OpColumn)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nIns = ops.getOrElse("INSERT", 0L).toInt
    val nUpd = ops.getOrElse("UPDATE", 0L).toInt
    val nDel = ops.getOrElse("DELETE", 0L).toInt
    val live = QueryMetrics(nIns, nUpd, nDel,
      Some((nIns + nUpd + nDel).toDouble))
    val now = 1000000L
    val cases = Seq(
      ("q_up_queued", QueryPolicy("q_up_queued"), QueryState(2), Option(live)),
      ("q_up_latency", QueryPolicy("q_up_latency",
        queuedThreshold = Int.MaxValue, runningThreshold = Int.MaxValue,
        latencyThresholdSec = 1), QueryState(2), Option(live)),
      ("q_ceiling", QueryPolicy("q_ceiling", maxReplicas = 4),
        QueryState(4), Option(live)),
      ("q_cool", QueryPolicy("q_cool"),
        QueryState(3, Some(now - 1000)), Option(live)),
      ("q_down", QueryPolicy("q_down", queuedThreshold = 2 * nIns + 2,
        runningThreshold = 2 * nUpd + 2, latencyThresholdSec = 0),
        QueryState(3), Option(live)),
      ("q_zero", QueryPolicy("q_zero", scaleToZero = true,
        queuedThreshold = 2, runningThreshold = 2),
        QueryState(1), Option(QueryMetrics(0, 0, 0))),
      ("q_off", QueryPolicy("q_off", enabled = false),
        QueryState(3), Option(live)),
      ("q_blind", QueryPolicy("q_blind"), QueryState(3), None))
    import s.implicits._
    cases.map { case (name, p, st, m) =>
      val dec = graft.observe.Scaling.evaluateQueryPolicy(p, st, m, now)
      (name, dec.action, dec.desiredReplicas.toLong, dec.reason)
    }.toDF("policy", "action", "desired_replicas", "reason")
      .orderBy(col("policy"))
  }

  private val queryScalingDecisionSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql}),
       |m AS (SELECT
       |  CAST(sum(CASE WHEN _cdc_operation = 'INSERT' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
       |  CAST(sum(CASE WHEN _cdc_operation = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
       |  CAST(count(*) AS BIGINT) AS n_tot FROM envelope)
       |SELECT 'q_blind' AS policy, 'none' AS action,
       |  CAST(3 AS BIGINT) AS desired_replicas,
       |  'no metrics available' AS reason FROM m
       |UNION ALL SELECT 'q_ceiling',
       |  CASE WHEN n_ins < 2 AND n_upd < 5 THEN 'scale_down' ELSE 'none' END,
       |  CAST(CASE WHEN n_ins < 2 AND n_upd < 5 THEN 3 ELSE 4 END AS BIGINT),
       |  CASE WHEN n_ins < 2 AND n_upd < 5 THEN 'low query load'
       |       ELSE 'within thresholds' END FROM m
       |UNION ALL SELECT 'q_cool', 'none', CAST(3 AS BIGINT), 'in cooldown' FROM m
       |UNION ALL SELECT 'q_down', 'scale_down', CAST(2 AS BIGINT),
       |  'low query load' FROM m
       |UNION ALL SELECT 'q_off', 'none', CAST(3 AS BIGINT),
       |  'policy disabled' FROM m
       |UNION ALL SELECT 'q_up_latency',
       |  CASE WHEN n_tot >= 1000 THEN 'scale_up' ELSE 'scale_down' END,
       |  CAST(CASE WHEN n_tot >= 1000 THEN 3 ELSE 1 END AS BIGINT),
       |  CASE WHEN n_tot >= 1000 THEN 'p95_latency >= 1000ms'
       |       ELSE 'low query load' END FROM m
       |UNION ALL SELECT 'q_up_queued',
       |  CASE WHEN n_ins >= 5 OR n_upd >= 10 OR n_tot >= 30000 THEN 'scale_up'
       |       WHEN n_ins < 2 AND n_upd < 5 THEN 'scale_down'
       |       ELSE 'none' END,
       |  CAST(CASE WHEN n_ins >= 5 OR n_upd >= 10 OR n_tot >= 30000 THEN 3
       |       WHEN n_ins < 2 AND n_upd < 5 THEN 1 ELSE 2 END AS BIGINT),
       |  CASE WHEN n_ins >= 5 THEN 'queued_queries >= 5'
       |       WHEN n_upd >= 10 THEN 'running_queries >= 10'
       |       WHEN n_tot >= 30000 THEN 'p95_latency >= 30000ms'
       |       WHEN n_ins < 2 AND n_upd < 5 THEN 'low query load'
       |       ELSE 'within thresholds' END FROM m
       |UNION ALL SELECT 'q_zero', 'scale_to_zero', CAST(0 AS BIGINT),
       |  'no active queries' FROM m
       |ORDER BY policy""".stripMargin

  // ---- DML manifest pruning: a day-targeted DELETE opens only that
  // day's files (the keep predicate gates the scan before the row
  // predicate applies). files_scanned is MEASURED from the manifest
  // with the same per-file test the keep closure uses; the oracle pins
  // it to exactly one file (the fixture writes one file per day) and
  // replays the surviving rows — an unpruned scan cannot fail this
  // gate's hash, but a WRONGLY-pruned one (missed matches, lost
  // survivors) fails the row counts.
  private val dmlPruneFixture = new FixtureCache("graft_dmlprune")

  private def dmlPruneDir(s: SparkSession, d: String): (String, String) = {
    val dir = dmlPruneFixture.dir(s, d) { dir =>
      CdcWriter.appendCommit(s, dir, CdcQueries.envelope(s, d))
      val pcol = graft.model.SchemaBuilder.partitionColumn
      val minDay = graft.lake.SnapshotLog.currentSnapshot(s, dir).get
        .files.map(_.partition).filter(_.nonEmpty).min
      graft.lake.SnapshotLog.deleteWhere(s, dir, col(pcol) === minDay,
        keep = GraftPruning.matchesDay(_, minDay))
    }
    val minDay = graft.lake.SnapshotLog.snapshotAt(s, dir, 1L)
      .files.map(_.partition).filter(_.nonEmpty).min
    (dir, minDay)
  }

  private def dmlPrunedDelete(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val (dir, minDay) = dmlPruneDir(s, d)
    val base = SnapshotLog.snapshotAt(s, dir, 1L)
    val scanned = base.files.count(GraftPruning.matchesDay(_, minDay)).toLong
    val total = base.files.size.toLong
    Seq(1L, 2L).map { id =>
      SnapshotLog.read(s, dir, SnapshotLog.snapshotAt(s, dir, id))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(id).as("snap_id"), col("n_rows"),
          lit(scanned).as("files_scanned"), lit(total).as("files_total"))
    }.reduce(_ unionByName _).orderBy(col("snap_id"))
  }

  private val dmlPrunedDeleteSql =
    s"""WITH envelope AS ($envelopeSql),
       |days AS (SELECT strftime(_cdc_timestamp, '%Y-%m-%d') AS day
       |  FROM envelope),
       |m AS (SELECT min(day) AS minday FROM days),
       |tot AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS files_total
       |  FROM days)
       |SELECT CAST(1 AS BIGINT) AS snap_id,
       |  (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_rows,
       |  CAST(1 AS BIGINT) AS files_scanned, tot.files_total FROM tot
       |UNION ALL
       |SELECT CAST(2 AS BIGINT),
       |  (SELECT CAST(count(*) AS BIGINT) FROM days, m WHERE day <> m.minday),
       |  CAST(1 AS BIGINT), tot.files_total FROM tot
       |ORDER BY snap_id""".stripMargin

  // ---- manifest-list scaling (the 100-TB commit-cost property): 40
  // append commits through the sharded metadata layer, then hash-check
  // BOTH the data (state at checkpoints 10/20/30/40 replays as a plain
  // modulo slice) AND the scaling invariants measured from the metadata
  // dir — every snapshot resolves ≤ MaxSegments segment reads, and the
  // total manifest entries ever written stay within a small multiple of
  // the live manifest (an inline O(total)-per-commit layout writes ~20×
  // here and fails the hash).
  private val manifestScaleFixture = new FixtureCache("graft_mscale")
  private val MScaleCap = 960
  private val MScaleSlices = 40

  private def manifestScaleDir(s: SparkSession, d: String): String =
    manifestScaleFixture.dir(s, d) { dir =>
      val env = CdcQueries.envelope(s, d).filter(col("event_id") < MScaleCap)
      (0 until MScaleSlices).foreach { i =>
        CdcWriter.appendCommit(s, dir,
          env.filter(col("event_id") % MScaleSlices === i))
      }
    }

  private def manifestScaling(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val dir = manifestScaleDir(s, d)
    val cur = SnapshotLog.currentSnapshot(s, dir).get
    val segBounded = (1 to MScaleSlices).forall(i =>
      SnapshotLog.segmentCount(s, dir, i.toLong) <= SnapshotLog.MaxSegments)
    val written = SnapshotLog.totalSegmentEntries(s, dir)
    val subQuadratic = written < 8L * math.max(cur.files.size.toLong, 1L)
    Seq(10, 20, 30, 40).map { k =>
      SnapshotLog.read(s, dir, SnapshotLog.snapshotAt(s, dir, k.toLong))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(k.toLong).as("snap_id"), col("n_rows"),
          lit(if (segBounded) 1L else 0L).as("seg_bounded"),
          lit(if (subQuadratic) 1L else 0L).as("sub_quadratic"))
    }.reduce(_ unionByName _).orderBy(col("snap_id"))
  }

  private val manifestScalingSql =
    s"""WITH envelope AS ($envelopeSql),
       |capped AS (SELECT * FROM envelope WHERE event_id < $MScaleCap),
       |ks AS (SELECT * FROM (VALUES (CAST(10 AS BIGINT)), (CAST(20 AS BIGINT)),
       |  (CAST(30 AS BIGINT)), (CAST(40 AS BIGINT))) AS t(snap_id))
       |SELECT k.snap_id,
       |  (SELECT CAST(count(*) AS BIGINT) FROM capped c
       |     WHERE c.event_id % $MScaleSlices < k.snap_id) AS n_rows,
       |  CAST(1 AS BIGINT) AS seg_bounded,
       |  CAST(1 AS BIGINT) AS sub_quadratic
       |FROM ks k ORDER BY snap_id""".stripMargin

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery("cdc_manifest_scaling", manifestScaling, Some(manifestScalingSql)),
    GraftQuery("cdc_dml_pruned_delete", dmlPrunedDelete, Some(dmlPrunedDeleteSql)),
    GraftQuery("alert_eval", alertEval, Some(alertEvalSql)),
    GraftQuery("query_scaling_decision", queryScalingDecision, Some(queryScalingDecisionSql)),
    GraftQuery("alert_transitions", alertTransitions, Some(alertTransitionsSql)),
    GraftQuery("alert_notifications", alertNotifications, Some(alertNotificationsSql)),
    GraftQuery("alert_webhook_delivery", alertWebhookDelivery, Some(alertNotificationsSql)),
    GraftQuery("scaling_decision", scalingDecision, Some(scalingDecisionSql)),
    GraftQuery("cdc_write_roundtrip", writeRoundtrip, Some(writeRoundtripSql)),
    GraftQuery("cdc_compaction_roundtrip", compactionRoundtrip, Some(compactionRoundtripSql)),
    GraftQuery("cdc_retention_roundtrip", retentionRoundtrip, Some(retentionRoundtripSql)),
    GraftQuery("cdc_orc_roundtrip", orcRoundtrip, Some(compactionRoundtripSql)),
    GraftQuery("cdc_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)),
    GraftQuery("cdc_csv_roundtrip", csvRoundtrip, Some(csvRoundtripSql)),
    GraftQuery("cdc_as_of_timestamp", asOfTimestamp, Some(asOfTimestampSql)),
    GraftQuery("cdc_as_of_lsn", asOfLsnQ, Some(asOfLsnSql)),
    GraftQuery("cdc_snapshot_commit", snapshotCommit, Some(snapshotCommitSql)),
    GraftQuery("cdc_snapshot_compact", snapshotCompact, Some(snapshotCompactSql)),
    GraftQuery("cdc_mor_merge", morMergeQ, Some(morMergeSql)),
    GraftQuery("cdc_snapshot_rollback", snapshotRollback, Some(snapshotRollbackSql)),
    GraftQuery("cdc_snapshot_tag", snapshotTag, Some(snapshotTagSql)),
    GraftQuery("cdc_table_refs", tableRefs, Some(tableRefsSql)),
    GraftQuery("cdc_incremental_read", incrementalRead, Some(incrementalReadSql)),
    GraftQuery("cdc_changelog", changelogQ, Some(changelogSql)),
    GraftQuery("cdc_log_consume", logConsume, Some(logConsumeSql)),
    GraftQuery("cdc_snapshots", snapshotsQ, Some(snapshotsSql)),
    GraftQuery("cdc_table_history", tableHistory, Some(tableHistorySql)),
    GraftQuery("cdc_table_partitions", tablePartitions, Some(tablePartitionsSql)),
    GraftQuery("cdc_table_files", tableFiles, Some(tableFilesSql)),
    GraftQuery("cdc_file_skipping", fileSkipping, Some(fileSkippingSql)),
    GraftQuery("cdc_cluster_skipping", clusterSkipping, Some(clusterSkippingSql)),
    GraftQuery("cdc_zorder_skipping", zorderSkipping, Some(zorderSkippingSql)),
    GraftQuery("cdc_pos_delete", posDelete, Some(posDeleteSql)),
    GraftQuery("cdc_wap_publish", wapPublish, Some(wapPublishSql)),
    GraftQuery("cdc_update_where", updateWhereQ, Some(updateWhereSql)),
    GraftQuery("cdc_merge_into", mergeIntoQ, Some(mergeIntoSql)),
    GraftQuery("cdc_partition_evolution", partitionEvolution, Some(partitionEvolutionSql)),
    GraftQuery("catalog_tables", catalogTables, Some(catalogTablesSql)),
    GraftQuery("catalog_schemas", catalogSchemas, Some(catalogSchemasSql)),
    GraftQuery("catalog_create_table", catalogCreateTable, Some(catalogCreateTableSql)),
    GraftQuery("api_cursor_pages", cursorPages, Some(cursorPagesSql)),
    GraftQuery("cdc_table_properties", tableProperties, Some(tablePropertiesSql)),
    GraftQuery("cdc_schema_history", schemaHistory, Some(schemaHistorySql)),
    GraftQuery("catalog_describe", catalogDescribe, Some(catalogDescribeSql)),
    GraftQuery("catalog_show_create", catalogShowCreate, Some(catalogShowCreateSql)),
    GraftQuery("explain_plan", explainPlan, None),
    GraftQuery("explain_analyze", explainAnalyze, None),
  )
}
