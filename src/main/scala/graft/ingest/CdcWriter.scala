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

  /** Derived day-partition column (ref schema.go:106-135: `_cdc_date`). */
  def withPartitionColumn(envelope: DataFrame): DataFrame =
    envelope.withColumn(SchemaBuilder.partitionColumn,
      date_format(col(Cdc.TsColumn), "yyyy-MM-dd"))

  /** Append a batch through the commit log WITHOUT merging — the
    * reference writer's flush path (one immutable file per day per
    * batch, ref writer/writer.go:141-163), which is exactly how a
    * snapshot table accretes small files between rewrites: a day
    * receiving k batches holds k files until
    * [[graft.lake.SnapshotLog.compact]] folds them. New entries join the
    * carried manifest under an "append" snapshot; a missing log
    * bootstraps the table. */
  def appendCommit(spark: SparkSession, tableDir: String,
                   envelope: DataFrame): graft.lake.SnapshotLog.Snapshot = {
    import graft.lake.SnapshotLog
    val pcol = SchemaBuilder.partitionColumn
    val df = withPartitionColumn(envelope)
    SnapshotLog.withTableLock(tableDir) {
      val cur = SnapshotLog.currentSnapshot(spark, tableDir)
      val files = SnapshotLog.writeData(spark, tableDir, df, Some(pcol))
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
    *  1. TRUNCATE-wiped days resolve from MANIFEST LSN bounds alone (a
    *     metadata-only probe — the Iceberg file-stats shortcut) when
    *     every file carries bounds; otherwise a thin two-column scan.
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
    * O(batches) times — the known COW tradeoff; the scale levers are a
    * bounded cadence ([[MergeCadence]]: stage n batches, merge once) or
    * merge-on-read delete files ([[morMerge]] — Iceberg v2 equality
    * deletes through the same commit log).
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
      // window runs once, not four times
      val deltaLatest = Cdc.latestVersions(effective, keyCols).persist()
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
    cur.foreach(s => require(SnapshotLog.allIdentitySpec(s),
      s"$tableDir holds non-identity partition layouts; " +
        "run SnapshotLog.normalizeLayout before a COW merge"))
    val upserts = withPartitionColumn(
      deltaLatest.filter(col(Cdc.OpColumn) =!= "DELETE"))
    // deltaLatest IS one row per key (Cdc.latestVersions keeps rn=1 per
    // key partition) — a .distinct() here would add a full exchange +
    // aggregate inside every broadcast build for nothing
    val deltaKeys = deltaLatest.select(keyCols.map(col): _*)
    val stored0 = cur.map(s => SnapshotLog.read(spark, tableDir, s))
      .getOrElse(upserts.filter(lit(false)))
    // TRUNCATE: stored rows at or before the marker are discarded; every
    // day holding such rows must be rewritten (or dropped). With LSN
    // bounds in the manifest this is metadata-only: a file whose minLsn
    // ≤ marker holds at least one doomed row, so its day is touched.
    // A boundless manifest falls back to a thin two-column scan, fused
    // below into the single touched-day job.
    val wipedMetaDays: Seq[String] = truncLsn match {
      case None => Seq.empty
      case Some(t) => cur match {
        // the metadata shortcut only holds when every file's recorded
        // bounds ARE LSN bounds — a statsCol rewrite stores some other
        // column's min/max under the same fields, and comparing those
        // lexically against a zero-padded LSN would silently skip days
        // holding doomed rows
        case Some(snap) if snap.files.nonEmpty && snap.files.forall(f =>
          f.boundsColumn == Cdc.LsnColumn && f.minLsn.isDefined) =>
          snap.files.filter(_.minLsn.exists(_ <= t)).map(_.partition).distinct
        case _ => Seq.empty
      }
    }
    val needWipedScan = truncLsn.isDefined && (cur match {
      case Some(snap) => !(snap.files.nonEmpty && snap.files.forall(f =>
        f.boundsColumn == Cdc.LsnColumn && f.minLsn.isDefined))
      case None => false
    })
    val stored = truncLsn.fold(stored0)(t => stored0.filter(col(Cdc.LsnColumn) > t))
    // ONE fused touched-day probe (affected ∪ new ∪ wiped-fallback) where
    // three independent actions used to run per micro-batch — on the
    // streaming sinks the per-batch job count IS the fixed overhead
    // (guide §1.2): each action here is a full pass over the stored
    // key/partition projection or the cached delta.
    val affectedFrame = stored
      .select(keyCols.map(col) :+ col(pcol): _*)
      .join(broadcast(deltaKeys), keyCols, "left_semi")
      .select(col(pcol))
    val newFrame = upserts.select(col(pcol))
    val wipedFrame =
      if (needWipedScan)
        Seq(stored0.filter(col(Cdc.LsnColumn) <= truncLsn.get).select(col(pcol)))
      else Seq.empty
    val probed = (Seq(affectedFrame, newFrame) ++ wipedFrame)
      .reduce(_ union _).distinct().collect().map(_.getString(0)).toSeq
    val touched = (wipedMetaDays ++ probed).distinct.sorted.toSeq
    if (touched.isEmpty) return Seq.empty
    val touchedSet = touched.toSet
    // survivors: manifest-pruned read of ONLY the touched days
    val survivors = cur.map(s => SnapshotLog.read(spark, tableDir, s, Some(touched)))
      .getOrElse(upserts.filter(lit(false)))
      .transform(df => truncLsn.fold(df)(t => df.filter(col(Cdc.LsnColumn) > t)))
      .join(broadcast(deltaKeys), keyCols, "left_anti")
    // allowMissingColumns: a delta carrying a NEW column (mid-stream
    // schema evolution) widens the table; survivors surface it as null,
    // and union coercion widens TYPES (long+double → double)
    val merged = survivors.unionByName(upserts, allowMissingColumns = true)
    val newFiles = SnapshotLog.writeData(spark, tableDir, merged, Some(pcol))
    val untouched = cur.toSeq.flatMap(_.files.filterNot(f => touchedSet(f.partition)))
    // Type promotion (ref schema/schema.go:149-174 + writer/writer.go:
    // 197-253): when coercion widened a column past what a parquet scan
    // can upcast (long→double; int→long/int→double/float→double are
    // metadata-only widening reads — Iceberg's own promotion rule),
    // carried files holding the narrow physical type are cast-and-
    // rewritten IN THE SAME COMMIT, so every committed snapshot reads
    // whole under its own schema — never an unreadable in-between state.
    // The trigger is a driver-side schema compare; the per-file footer
    // check only runs on the rare widening merge.
    val carried =
      if (untouched.isEmpty ||
        cur.forall(s => !needsPromotionCheck(s.schema, merged.schema))) untouched
      else {
        // equality-delete files store ONLY key columns; rewriteNarrow
        // rewrites data files, not delete files. A promotion that hits a
        // delete KEY column would leave delete files at the old physical
        // type under a schema that can no longer read them — a committed
        // but unreadable table. Refuse loudly; folding first retires the
        // delete set and makes the widening merge clean.
        val targetTypes = merged.schema.fields.map(f => f.name -> f.dataType).toMap
        val rewriteCols = cur.toSeq.flatMap(_.schema.fields.collect {
          case f if targetTypes.get(f.name).exists(tt =>
            f.dataType != tt && !readableAs(f.dataType, tt)) => f.name
        })
        val delKeyCols = cur.toSeq.flatMap(_.deletes).flatMap(_.eqCols).distinct
        val clash = rewriteCols.intersect(delKeyCols)
        require(clash.isEmpty,
          s"widening merge would rewrite delete key column(s) ${clash.mkString(", ")} " +
            s"past their stored physical type in $tableDir — run foldDeletes first")
        rewriteNarrow(spark, tableDir, untouched, merged.schema, pcol,
          cur.toSeq.flatMap(_.deletes), cur.toSeq.flatMap(_.posDeletes))
      }
    SnapshotLog.commit(spark, tableDir,
      if (truncLsn.isDefined) "truncate-merge" else "merge",
      carried ++ newFiles, merged.schema, parent = cur,
      // carried (untouched-day) files still need the live delete set;
      // the rewritten files outrank every carried delete (higher seq)
      // and were written deletes-applied, so carrying is exact. The
      // same holds for positional deletes: entries naming untouched
      // files stay load-bearing, entries naming rewritten-away files
      // miss the manifest join and are inert until a fold retires them.
      deletes = cur.toSeq.flatMap(_.deletes),
      posDeletes = cur.toSeq.flatMap(_.posDeletes))
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
    * [[merge]] handles it as metadata) and widening past what parquet
    * scans upcast (MOR never rewrites carried files, so a long→double
    * delta would strand unreadable narrow files — use [[merge]], whose
    * in-commit promotion rewrite covers it). */
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
    val deltaLatest = Cdc.latestVersions(deltas, keyCols).persist()
    try SnapshotLog.withTableLock(tableDir) {
      val cur = SnapshotLog.currentSnapshot(spark, tableDir)
      val upserts = withPartitionColumn(
        deltaLatest.filter(col(Cdc.OpColumn) =!= "DELETE"))
      val schema = cur match {
        case None => upserts.schema
        case Some(s) =>
          val storedTypes = s.schema.fields.map(f => f.name -> f.dataType).toMap
          // per shared column: widen to the delta's type when stored files
          // can be read under it; KEEP the stored type when the delta is
          // merely narrower (its new files read fine under the stored
          // schema — int files under a long column); refuse only when
          // neither direction is a supported parquet upcast
          val widened = s.schema.fields.map { f =>
            upserts.schema.fields.find(_.name == f.name) match {
              case Some(uf) if uf.dataType == f.dataType => f
              case Some(uf) if readableAs(f.dataType, uf.dataType) =>
                f.copy(dataType = uf.dataType)
              case Some(uf) if readableAs(uf.dataType, f.dataType) => f
              case Some(uf) => throw new IllegalArgumentException(
                s"MOR cannot reconcile ${f.name}: ${f.dataType} vs ${uf.dataType} " +
                  "needs a physical rewrite — use merge()")
              case None => f
            }
          }
          org.apache.spark.sql.types.StructType(widened ++
            upserts.schema.fields.filterNot(f => storedTypes.contains(f.name)))
      }
      val newFiles = SnapshotLog.writeData(spark, tableDir, upserts, Some(pcol))
      // every key the batch touched (upserts AND deletes) outranks its
      // older versions; the batch's own rows sit at this commit's seq and
      // are untouched. First commit: nothing older exists to delete.
      val delFiles =
        if (cur.isEmpty) Nil
        else SnapshotLog.writeDeletes(spark, tableDir,
          deltaLatest.select(keyCols.map(col): _*), keyCols)
      SnapshotLog.commit(spark, tableDir, "mor-merge",
        cur.toSeq.flatMap(_.files) ++ newFiles, schema, parent = cur,
        deletes = cur.toSeq.flatMap(_.deletes) ++ delFiles,
        posDeletes = cur.toSeq.flatMap(_.posDeletes))
    } finally deltaLatest.unpersist(blocking = true)
  }

  /** A parquet file column written as `ft` is readable under a scan
    * schema declaring `tt`: Spark 4's widening parquet reads cover
    * int→long, int→double and float→double; long→double is not covered
    * and needs a physical rewrite. */
  private def readableAs(ft: org.apache.spark.sql.types.DataType,
                         tt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (ft, tt) match {
      case (a, b) if a == b                     => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType)              => true
      case _                                    => false
    }
  }

  private def needsPromotionCheck(stored: org.apache.spark.sql.types.StructType,
                                  target: org.apache.spark.sql.types.StructType): Boolean = {
    val targetTypes = target.fields.map(f => f.name -> f.dataType).toMap
    stored.fields.exists(f => targetTypes.get(f.name).exists(tt =>
      f.dataType != tt && !readableAs(f.dataType, tt)))
  }

  /** Cast-and-rewrite carried files whose PHYSICAL column types cannot be
    * read under `target` (see [[needsPromotionCheck]]); files already
    * readable (including pre-evolution files missing the column entirely)
    * keep their manifest entries untouched. Footer schema checks are
    * driver-side metadata reads, O(carried files), only on widening
    * merges; the rewrite reads exactly the narrow files, grouped by
    * physical schema so each group scans under its own types. */
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

  private def rewriteNarrow(spark: SparkSession, tableDir: String,
                            carried: Seq[graft.lake.SnapshotLog.DataFile],
                            target: org.apache.spark.sql.types.StructType,
                            pcol: String,
                            liveDeletes: Seq[graft.lake.SnapshotLog.DeleteFile],
                            livePosDeletes: Seq[graft.lake.SnapshotLog.PosDeleteFile] = Nil)
  : Seq[graft.lake.SnapshotLog.DataFile] = {
    import graft.lake.SnapshotLog
    import org.apache.spark.sql.types.StructType
    val targetTypes = target.fields.map(f => f.name -> f.dataType).toMap
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
    val (narrow, fine) = carried.partition(f => schemaOf(f).fields.exists(ff =>
      targetTypes.get(ff.name).exists(tt => !readableAs(ff.dataType, tt))))
    if (narrow.isEmpty) return carried
    val rewritten = narrow.groupBy(schemaOf).toSeq.flatMap { case (fsch, files) =>
      // read THESE files under their own physical types (target's field
      // set, the file's type where the file has the field), then cast up.
      // Live equality AND positional deletes apply DURING the rewrite:
      // the rewritten files get this commit's seq (outranking every live
      // eq delete) and fresh paths (missing every positional delete) —
      // rewriting a doomed row without dropping it here would resurrect
      // it (the carried delete no longer applies to the new file)
      val readSchema = StructType(target.fields.map(tf =>
        fsch.find(_.name == tf.name).map(ff => tf.copy(dataType = ff.dataType))
          .getOrElse(tf)))
      val snapLike = SnapshotLog.Snapshot(0L, None, 0L, "rewrite",
        readSchema.json, files, liveDeletes, livePosDeletes)
      val casted = SnapshotLog.read(spark, tableDir, snapLike)
        .select(target.fields.toSeq.map(tf =>
          col(tf.name).cast(tf.dataType).as(tf.name)): _*)
      SnapshotLog.writeData(spark, tableDir, casted, Some(pcol))
    }
    fine ++ rewritten
  }

  /** Bounded merge cadence — the COW-amplification lever for streams whose
    * deltas spread across many days (see [[merge]] scaladoc): micro-batches
    * are STAGED (cheap [[appendCommit]]s, no stored-table read) and
    * the staged backlog merges once every `every` batches, so the stored
    * table is rewritten O(batches / every) times instead of O(batches).
    * Correctness is unchanged: staged batches replay in one merge, and
    * [[Cdc.latestVersions]] collapses them exactly as per-batch merges
    * would (LakeMergeSpec: cadence ≡ per-batch ≡ recompute). Call
    * [[flush]] after the stream drains to merge the tail. */
  final class MergeCadence(spark: SparkSession, tableDir: String,
                           keyCols: Seq[String], every: Int, stagingDir: String) {
    require(every >= 1, s"merge cadence must be >= 1, got $every")
    private var staged = 0
    def onBatch(batch: DataFrame, batchId: Long): Unit = {
      appendCommit(spark, stagingDir, batch)
      staged += 1
      if (staged >= every) flush()
    }
    def flush(): Unit = if (staged > 0) {
      val p = new org.apache.hadoop.fs.Path(stagingDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      merge(spark, tableDir,
        read(spark, stagingDir).drop(SchemaBuilder.partitionColumn), keyCols)
      fs.delete(p, true)
      staged = 0
    }
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
