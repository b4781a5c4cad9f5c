package graft.ingest

import graft.model.SchemaBuilder
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch CDC write path: envelope → day-partitioned SnapshotLog table.
  *
  * The reference buffers events in Postgres, encodes Parquet in memory and
  * commits files to Iceberg with a day(_cdc_timestamp) partition spec
  * (ref internal/iceberg/writer/writer.go:95-194, schema/schema.go:106-135).
  * Here every write commits through the [[graft.lake.SnapshotLog]] commit
  * log: data files land under `data/<uuid>/`, one file per day per
  * commit, and become visible only when the manifest rename publishes
  * them — an append ([[appendCommit]]) or an upsert ([[merge]],
  * [[morMerge]]) is atomic, and a crashed write leaves only unreferenced
  * debris for [[graft.lake.SnapshotLog.expire]]. Per-file day values in
  * the manifest drive partition pruning without a directory listing.
  *
  * Fidelity fix vs reference: columns are written TYPED. The reference's
  * physical files hold the whole row as one JSON string column
  * (ref writer/parquet.go:48-66) and its declared schema lies; here the
  * declared and physical schemas are the same thing.
  */
object CdcWriter {

  /** The day an envelope row lands in (ref schema.go:106-135:
    * `_cdc_date`) — the one definition the write and the ingest router's
    * per-table day count share. */
  def dayOf: Column = date_format(col(Cdc.TsColumn), "yyyy-MM-dd")

  /** Derived day-partition column. */
  def withPartitionColumn(envelope: DataFrame): DataFrame =
    envelope.withColumn(SchemaBuilder.partitionColumn, dayOf)

  /** Append a batch through the commit log WITHOUT merging — the
    * reference writer's flush path (one immutable file per day per
    * batch, ref writer/writer.go:141-163), which is exactly how a
    * snapshot table accretes small files between rewrites: a day
    * receiving k batches holds k files until
    * [[graft.lake.SnapshotLog.compact]] folds them. New entries join the
    * carried manifest under an "append" snapshot; a missing log
    * bootstraps the table. `days`, when the caller already knows it, is
    * the batch's distinct [[dayOf]] count (see
    * [[graft.lake.SnapshotLog.writeData]]'s `partitionValues`). */
  def appendCommit(spark: SparkSession, tableDir: String,
                   envelope: DataFrame,
                   days: Option[Int] = None): graft.lake.SnapshotLog.Snapshot = {
    import graft.lake.SnapshotLog
    val pcol = SchemaBuilder.partitionColumn
    val df = withPartitionColumn(envelope)
    SnapshotLog.withTableLock(tableDir) {
      val cur = SnapshotLog.currentSnapshot(spark, tableDir)
      val files = SnapshotLog.writeData(spark, tableDir, df, Some(pcol),
        partitionValues = days)
      // optimistic append: a cross-process writer racing this commit
      // triggers a rebase (manifest-only retry), never a lost batch
      SnapshotLog.appendFiles(spark, tableDir, files, df.schema,
        expectedParent = cur)
    }
  }

  /** Read a table's current snapshot (manifest → file set). A directory
    * with no commit log is not a table and fails loudly. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    graft.lake.SnapshotLog.readCurrent(spark, tableDir).getOrElse(
      throw new NoSuchElementException(s"no snapshot log at $tableDir"))

  /** Lake-level MERGE: apply a CDC delta batch as upserts into the STORED
    * day-partitioned current-state table — the reference writer's upsert
    * semantics (ref internal/iceberg/writer/writer.go:95-194) applied to
    * the physical lake, not just a DataFrame view — committed through the
    * [[graft.lake.SnapshotLog]] snapshot protocol (ref internal/iceberg/
    * catalog/rest.go:187-217 CommitSnapshot).
    *
    * Contract: `deltas` is the stream suffix after the stored snapshot's
    * watermark (the reference applies its ordered batch last-write-wins,
    * with no version comparison — same here; [[Cdc.latestVersions]]
    * collapses the batch to one newest version per key first).
    *
    * TRUNCATE markers (no row image, null key — ref internal/cdc/source/
    * postgres/reader.go:237-242) reset the table up to their LSN: stored
    * rows AND in-batch rows at LSN ≤ the newest marker are discarded
    * before the upsert applies — the lake counterpart of
    * [[Cdc.currentStateWithTruncate]]. Days holding only pre-marker rows
    * drop out of the manifest.
    *
    * The 100 TB shape:
    *  1. TRUNCATE-wiped days resolve from the MANIFEST alone (a
    *     metadata-only probe — the Iceberg file-stats shortcut): the days
    *     of every file [[graft.lake.GraftPruning]] admits for
    *     `lsn <= marker`. A file without LSN bounds is admitted, so the
    *     set is a SUPERSET of the days holding doomed rows — safe, since
    *     every touched day is re-read whole and only its rows past the
    *     marker survive; an extra day is rewritten unchanged.
    *  2. Key-affected partitions resolve with a KEY+PARTITION-column-only
    *     scan semi-joined against the broadcast delta key set — the
    *     delta batch is the small side by construction.
    *  3. ONLY touched-day files are read in full (manifest-pruned file
    *     list, no directory listing), affected keys anti-joined out,
    *     the delta upserts unioned in, and the result written as NEW
    *     immutable files. Untouched days keep their manifest entries —
    *     their files are never read in full, never rewritten, and keep
    *     their bytes (asserted in LakeMergeSpec).
    *
    * Crash-safety is structural now: data files are invisible until the
    * single manifest rename commits them, so a crash at ANY point leaves
    * the previous snapshot current and complete — no swap windows, no
    * recovery pass, no aside dirs (the round-8 rename-aside machinery is
    * retired). Replaying the batch after a crash re-merges idempotently;
    * orphaned uncommitted files are reclaimed by [[graft.lake.SnapshotLog.expire]].
    *
    * Write amplification at scale: this is copy-on-write — every touched
    * day is rewritten whole. Cost per merge ∝ the DELTA's day-spread, not
    * the table (LakeMergeSpec pins touched == the delta's distinct days),
    * which is the right bound when CDC deltas cluster in recent days. A
    * per-trigger merge of a uniformly-spread delta rewrites the table
    * O(batches) times — the known COW tradeoff; the scale lever is
    * merge-on-read delete files ([[morMerge]] — Iceberg v2 equality
    * deletes through the same commit log).
    *
    * The batch schema meets the table's by [[graft.lake.SchemaEvolution.plan]];
    * the COW merge is the one writer that performs a plan's rewrite set.
    *
    * Returns the rewritten partition values (sorted). DELETE deltas drop
    * the key; a partition emptied of all rows leaves the manifest. */
  def merge(spark: SparkSession, tableDir: String, deltas: DataFrame,
            keyCols: Seq[String]): Seq[String] = BatchExec.withAqe(deltas) {
    val pcol = SchemaBuilder.partitionColumn
    // persist the batch FIRST — CONDITIONALLY: the TRUNCATE probe below
    // and the latest-per-key collapse are two independent actions that
    // each replay the delta's full lineage. For a WAL-log micro-batch
    // that is a whole re-read + envelope re-decode of the source per
    // action (measured: the dominant single-task jobs of every e2e
    // streaming query) — persist. For a plain file-source micro-batch
    // (lineage = a two-file parquet scan) the recompute is cheaper than
    // the cache-write amplification — skip (guide §5). The batch is
    // admission-bounded by construction, so when it does cache, caching
    // it whole is O(micro-batch), never O(table).
    val doPersist = !BatchExec.cheapToRecompute(deltas)
    val deltasP = if (doPersist) deltas.persist() else deltas
    try {
      // newest TRUNCATE marker of the batch: a 1-row aggregate that also
      // serves as the cache-filling action (marker metadata, not data)
      val wmRow = deltasP.agg(
        max(when(col(Cdc.OpColumn) === "TRUNCATE", col(Cdc.LsnColumn)))).collect()(0)
      val truncLsn = if (wmRow.isNullAt(0)) None else Some(wmRow.getString(0))
      val effective = truncLsn.fold(deltasP)(t =>
        deltasP.filter(col(Cdc.OpColumn) =!= "TRUNCATE" && col(Cdc.LsnColumn) > t))
      // the collapsed batch feeds four consumers (key probe, new-day scan,
      // upsert union, anti-join key set) — persist so the latest-per-key
      // window runs once, not four times, and persist it adaptively so
      // the cache holds as many partitions as its bytes need (one for a
      // small batch), not spark.sql.shuffle.partitions: each consumer
      // runs one task per cached partition
      val deltaLatest = BatchExec.persistAdaptive(Cdc.latestVersions(effective, keyCols))
      try graft.lake.SnapshotLog.withTableLock(tableDir) {
        merge0(spark, tableDir, deltaLatest, keyCols, truncLsn, pcol)
      } finally deltaLatest.unpersist(blocking = true)
    } finally if (doPersist) deltasP.unpersist(blocking = true)
  }

  private def merge0(spark: SparkSession, tableDir: String,
                     deltaLatest: DataFrame, keyCols: Seq[String],
                     truncLsn: Option[String], pcol: String): Seq[String] = {
    import graft.lake.SnapshotLog
    // resolve the stored table: an absent log bootstraps (the first
    // merged batch CREATES the table — the streaming-upsert sink's first
    // trigger).
    val cur = SnapshotLog.currentSnapshot(spark, tableDir)
    // the touched-day machinery treats partition values as exact day
    // keys; a clusterBy/spec-evolved layout (may-contain pruning) would
    // pull foreign rows into survivors while untouched keeps their
    // files — duplication. Normalize first.
    cur.foreach(SnapshotLog.requireExactDayLayout(_, tableDir, "a COW merge"))
    val upserts0 = withPartitionColumn(
      deltaLatest.filter(col(Cdc.OpColumn) =!= "DELETE"))
    // the one evolution rule; the COW merge alone may take a rewrite
    // set (long→double), which it pays for below by rewriting the
    // carried narrow files in this commit
    val plan = graft.lake.SchemaEvolution.plan(cur, upserts0.schema).fold(throw _, identity)
    val upserts = castTo(upserts0, plan.schema)
    // deltaLatest IS one row per key (Cdc.latestVersions keeps rn=1 per
    // key partition) — a .distinct() here would add a full exchange +
    // aggregate inside every broadcast build for nothing
    val deltaKeys = deltaLatest.select(keyCols.map(col): _*)
    val stored0 = cur.map(s => SnapshotLog.read(spark, tableDir, s))
      .getOrElse(upserts.filter(lit(false)))
    // TRUNCATE: stored rows at or before the marker are discarded; every
    // day holding such rows must be rewritten (or dropped). A file the
    // manifest admits for `lsn <= marker` may hold a doomed row, so its
    // day is touched — metadata only, no scan.
    val wipedDays: Seq[String] = (truncLsn, cur) match {
      case (Some(t), Some(snap)) =>
        val doomed = graft.lake.GraftPruning.filePredicate(
          Array(org.apache.spark.sql.sources.LessThanOrEqual(Cdc.LsnColumn, t)))
        snap.files.filter(doomed).map(_.partition).distinct
      case _ => Seq.empty
    }
    val stored = truncLsn.fold(stored0)(t => stored0.filter(col(Cdc.LsnColumn) > t))
    // ONE fused touched-day probe (affected ∪ new) where two independent
    // actions would run per micro-batch — on the streaming sinks the
    // per-batch job count IS the fixed overhead (guide §1.2): each action
    // here is a full pass over the stored key/partition projection or the
    // cached delta.
    val affectedFrame = stored
      .select(keyCols.map(col) :+ col(pcol): _*)
      .join(broadcast(deltaKeys), keyCols, "left_semi")
      .select(col(pcol))
    val newFrame = upserts.select(col(pcol))
    val probed = affectedFrame.union(newFrame)
      .distinct().collect().map(_.getString(0)).toSeq
    val touched = (wipedDays ++ probed).distinct.sorted
    if (touched.isEmpty) return Seq.empty
    val touchedSet = touched.toSet
    // survivors: manifest-pruned read of ONLY the touched days — the
    // complement of the carried files below
    val survivors = cur
      .map(s => SnapshotLog.readPruned(spark, tableDir, s, f => touchedSet(f.partition)))
      .getOrElse(upserts.filter(lit(false)))
      .transform(df => truncLsn.fold(df)(t => df.filter(col(Cdc.LsnColumn) > t)))
      .join(broadcast(deltaKeys), keyCols, "left_anti")
    // allowMissingColumns: a delta carrying a NEW column (mid-stream
    // schema evolution) widens the table, and survivors surface it as
    // null; survivors of a widened column widen in the union
    val merged = survivors.unionByName(upserts, allowMissingColumns = true)
    // survivors and upserts both hold only touched days
    val newFiles = SnapshotLog.writeData(spark, tableDir, merged, Some(pcol),
      partitionValues = Some(touched.size))
    val untouched = cur.toSeq.flatMap(_.files.filterNot(f => touchedSet(f.partition)))
    // Type promotion (ref schema/schema.go:149-174 + writer/writer.go:
    // 197-253): carried files of a plan's rewrite columns (long→double —
    // the widening a parquet scan cannot upcast) are cast-and-rewritten
    // IN THE SAME COMMIT, so every committed snapshot reads whole under
    // its own schema. Equality-delete files store ONLY key columns and
    // are never rewritten: a rewrite of a delete KEY column would leave
    // them at the old physical type under a schema that can no longer
    // read them. Refuse loudly; folding first retires the delete set.
    val rewriteCols = plan.rewrite.map(_.name)
    val (narrow, widened) =
      if (untouched.isEmpty || rewriteCols.isEmpty) (Set.empty[SnapshotLog.DataFile], Nil)
      else {
        val clash = rewriteCols.intersect(cur.toSeq.flatMap(_.deletes).flatMap(_.eqCols))
        require(clash.isEmpty,
          s"widening merge would rewrite delete key column(s) ${clash.mkString(", ")} " +
            s"past their stored physical type in $tableDir — run foldDeletes first")
        rewriteNarrow(spark, tableDir, cur.get, untouched, plan.schema, rewriteCols, pcol)
      }
    // carried (untouched-day) files keep the live delete set; the
    // rewritten files outrank every carried delete (higher seq) and were
    // written deletes-applied, so carrying is exact. Positional entries
    // naming rewritten-away files miss the manifest join and are inert
    // until a fold retires them. A merge that rewrites every file
    // retires the delete set (the carry rule of SnapshotLog.commit).
    SnapshotLog.commit(spark, tableDir,
      if (truncLsn.isDefined) "truncate-merge" else "merge",
      plan.schema, parent = cur, add = newFiles ++ widened,
      remove = f => touchedSet(f.partition) || narrow(f))
    touched
  }

  /** Merge-on-READ upsert (Iceberg v2 equality deletes): apply a CDC
    * delta batch by writing ONLY the batch — new data files for its
    * upserts plus one equality-delete file naming every key it touched —
    * and never reading or rewriting the stored table. The heavy lifting
    * moves to readers ([[graft.lake.SnapshotLog.read]] drops a key's rows
    * from files the delete outranks) and to the maintenance fold
    * ([[graft.lake.SnapshotLog.foldDeletes]]).
    *
    * This is the write-amplification lever [[merge]]'s scaladoc prices
    * out: COW rewrites every touched day per merge (cost ∝ delta
    * day-spread × day size), MOR writes O(|delta|) bytes per merge
    * regardless of spread — the right choice for high-frequency triggers
    * or deltas that scatter across old days. The tradeoff is read-side:
    * one scan group per retained commit plus a broadcast anti-filter,
    * until a fold resets the table to plain files. Same contract as
    * [[merge]]: `deltas` is the stream suffix after the stored watermark,
    * applied last-write-wins after [[Cdc.latestVersions]] collapses the
    * batch.
    *
    * Refused loudly: TRUNCATE markers (a reset is a file-set wipe — COW
    * [[merge]] handles it as metadata) and any batch schema
    * [[graft.lake.SchemaEvolution.plan]] refuses, or plans with a
    * rewrite set: MOR never rewrites carried files. */
  def morMerge(spark: SparkSession, tableDir: String, deltas: DataFrame,
               keyCols: Seq[String]): graft.lake.SnapshotLog.Snapshot =
    BatchExec.withAqe(deltas) {
      // persist first — conditionally, same rule as merge: the TRUNCATE
      // guard probe and the latest-per-key collapse otherwise each
      // replay the micro-batch's full decode lineage; a cheap file-scan
      // lineage recomputes for less than the cache write costs.
      val doPersist = !BatchExec.cheapToRecompute(deltas)
      val deltasP = if (doPersist) deltas.persist() else deltas
      try morMerge0(spark, tableDir, deltasP, keyCols)
      finally if (doPersist) deltasP.unpersist(blocking = true)
    }

  private def morMerge0(spark: SparkSession, tableDir: String, deltas: DataFrame,
                        keyCols: Seq[String]): graft.lake.SnapshotLog.Snapshot = {
    import graft.lake.SnapshotLog
    val pcol = SchemaBuilder.partitionColumn
    val hasTrunc = !deltas.agg(
      max(when(col(Cdc.OpColumn) === "TRUNCATE", col(Cdc.LsnColumn)))).collect()(0).isNullAt(0)
    require(!hasTrunc,
      s"TRUNCATE markers in a MOR delta for $tableDir — route resets through merge()")
    // read by the data write and the delete-key write: the window runs
    // once, into a cache sized by its bytes (see merge)
    val deltaLatest = BatchExec.persistAdaptive(Cdc.latestVersions(deltas, keyCols))
    try SnapshotLog.withTableLock(tableDir) {
      val cur = SnapshotLog.currentSnapshot(spark, tableDir)
      val upserts = withPartitionColumn(
        deltaLatest.filter(col(Cdc.OpColumn) =!= "DELETE"))
      val schema = graft.lake.SchemaEvolution.plan(cur, upserts.schema)
        .flatMap(_.metadataOnly).fold(throw _, identity)
      val newFiles = SnapshotLog.writeData(spark, tableDir, upserts, Some(pcol))
      // every key the batch touched (upserts AND deletes) outranks its
      // older versions; the batch's own rows sit at this commit's seq and
      // are untouched. First commit: nothing older exists to delete.
      val delFiles =
        if (cur.isEmpty) Nil
        else SnapshotLog.writeDeletes(spark, tableDir,
          deltaLatest.select(keyCols.map(col): _*), keyCols)
      SnapshotLog.commit(spark, tableDir, "mor-merge", schema, parent = cur,
        add = newFiles, addDeletes = delFiles)
    } finally deltaLatest.unpersist(blocking = true)
  }

  /** `df` with every column cast to its type in `schema`; `df` itself
    * when the types already agree (the common batch: no projection). */
  private def castTo(df: DataFrame,
                     schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    if (df.schema.fields.forall(f => types.get(f.name).contains(f.dataType))) df
    else df.select(df.schema.fields.toSeq.map(f =>
      col(f.name).cast(types(f.name)).as(f.name)): _*)
  }

  /** Physical file schema from the parquet footer — a driver-side
    * metadata read, not a per-file DataFrame analysis (each
    * `spark.read.parquet(file).schema` pays listing + analysis; over N
    * carried files that is N× pure driver overhead on the widening
    * path). */
  private def footerSchema(spark: SparkSession, file: org.apache.hadoop.fs.Path)
  : org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter()
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  /** Cast-and-rewrite carried files that hold a `rewriteCols` column
    * (a plan's rewrite set) at a physical type other than its `target`
    * type; every other file (including pre-evolution files missing the
    * column entirely) keeps its manifest entry untouched. Returns the
    * narrow files and their rewrites. Footer schema checks are
    * driver-side metadata reads, O(carried files), only on rewrite
    * merges; the rewrite reads exactly the narrow files, in one scan. */
  private def rewriteNarrow(spark: SparkSession, tableDir: String,
                            cur: graft.lake.SnapshotLog.Snapshot,
                            carried: Seq[graft.lake.SnapshotLog.DataFile],
                            target: org.apache.spark.sql.types.StructType,
                            rewriteCols: Seq[String], pcol: String)
  : (Set[graft.lake.SnapshotLog.DataFile], Seq[graft.lake.SnapshotLog.DataFile]) = {
    import graft.lake.SnapshotLog
    import graft.model.FieldIds
    import org.apache.spark.sql.types.{DataType, StructType}
    val rewriteTypes = rewriteCols.map(c => c -> target(c).dataType).toMap
    // footer opens are independent driver-side metadata reads — do them
    // in parallel (same treatment as SnapshotLog.writeData's stats pass);
    // a widening merge over a year of carried day files would otherwise
    // serialize O(files) opens inside the table lock
    val schemaOf = locally {
      import scala.collection.parallel.CollectionConverters._
      carried.par.map { f =>
        f -> footerSchema(spark, new org.apache.hadoop.fs.Path(s"$tableDir/${f.path}"))
      }.seq.toMap
    }
    // the current column a footer column holds: by field id through the
    // file's write-era schema, so a renamed column's bytes are checked
    // against the type of the column they now serve
    val eras = cur.schemasById.map { case (k, j) =>
      k -> DataType.fromJson(j).asInstanceOf[StructType] }
    def heldAs(f: SnapshotLog.DataFile, physical: String): Option[String] =
      eras.get(f.schemaId).flatMap(_.fields.find(_.name == physical))
        .flatMap(FieldIds.idOf) match {
        case Some(id) => FieldIds.fieldById(cur.schema, id).map(_.name)
        case None     => Some(physical)
      }
    val narrow = carried.filter(f => schemaOf(f).fields.exists(ff =>
      heldAs(f, ff.name).flatMap(rewriteTypes.get).exists(_ != ff.dataType)))
    if (narrow.isEmpty) return (Set.empty, Nil)
    // every committed file reads under its snapshot's schema (by field
    // id), so THESE files read there and cast up. Live equality AND
    // positional deletes apply DURING the rewrite: the rewritten files
    // get this commit's seq (outranking every live eq delete) and fresh
    // paths (missing every positional delete) — rewriting a doomed row
    // without dropping it here would resurrect it (the carried delete no
    // longer applies to the new file)
    val stored = cur.schema.fieldNames.toSet
    val casted = SnapshotLog.read(spark, tableDir, cur.copy(files = narrow))
      .select(target.fields.toSeq.map(tf =>
        (if (stored.contains(tf.name)) col(tf.name) else lit(null))
          .cast(tf.dataType).as(tf.name)): _*)
    (narrow.toSet, SnapshotLog.writeData(spark, tableDir, casted, Some(pcol)))
  }
}

/** Time-travel emulation over the CDC envelope.
  *
  * The reference exposes Iceberg `FOR TIMESTAMP AS OF` / `FOR VERSION AS
  * OF` and metadata tables through Trino (ref docs/query/
  * sample-queries.sql:47-61). Without the Iceberg runtime, the envelope
  * itself is the full history, so AS OF t = "latest version per key among
  * events with commit position ≤ t" — the same reconstruction Iceberg
  * does from snapshots, expressed as filter + window (both engines can
  * replay it, so it stays oracle-checkable).
  */
object TimeTravel {

  /** State as of a timestamp (inclusive): filter, latest per key, drop
    * keys whose newest op ≤ t is DELETE. */
  def asOfTimestamp(envelope: DataFrame, keyCols: Seq[String], ts: Column): DataFrame =
    Cdc.currentState(envelope.filter(col(Cdc.TsColumn) <= ts), keyCols)

  /** State as of an LSN (inclusive) — LSNs are zero-padded sortable
    * strings, the total order Postgres provides. */
  def asOfLsn(envelope: DataFrame, keyCols: Seq[String], lsn: Column): DataFrame =
    Cdc.currentState(envelope.filter(col(Cdc.LsnColumn) <= lsn), keyCols)
}
