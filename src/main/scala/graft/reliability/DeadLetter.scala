package graft.reliability

import graft.lake.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dead-letter queue: failed micro-batches land in an append-only table
  * with the original payload JSON plus error columns.
  *
  * Mirrors the reference's FailedEvent model and error typing
  * (ref internal/cdc/deadletter/deadletter.go:13-68: transient/permanent/
  * validation/schema/unknown + retry_count + created_at/expires_at), minus
  * the Postgres storage — the DLQ is itself a lake table, so its contents
  * are queryable with the same engine (`groupBy(error_type).count()` is
  * the reference's GetStats, deadletter/postgres.go:300-352).
  *
  * Storage is the [[SnapshotLog]] commit protocol (round 9): appends and
  * rewrites resolve the current manifest and commit the next one under
  * the per-table lock, so a replay/cleanup rewrite COMPOSES with a
  * concurrent batch-processor append instead of silently dropping it
  * (the old rename-aside swap had a listing→swap window), and a crash at
  * any point leaves the previous committed DLQ intact — the transactional
  * guarantee the reference gets from Postgres (deadletter/postgres.go's
  * per-row UPDATE/DELETE), recovered here from manifest atomicity.
  */
object DeadLetter {

  object ErrorType {
    val Transient = "transient"
    val Permanent = "permanent"
    val Validation = "validation"
    val Schema = "schema"
    val Unknown = "unknown"
  }

  /** Classify a failure (ref deadletter.go error typing; the reference
    * classifies by error source — here by exception family). */
  def classify(e: Throwable): String = e match {
    case _: NonRetryableException                  => ErrorType.Permanent
    case _: IllegalArgumentException               => ErrorType.Validation
    case _: org.apache.spark.sql.AnalysisException => ErrorType.Schema
    case _: java.io.IOException                    => ErrorType.Transient
    case Retry.Exhausted(_, last)                  => classify(last)
    case _                                         => ErrorType.Unknown
  }

  /** Append a failed batch to the DLQ dir. Every original column is
    * preserved as one JSON payload column (ref Event⇄FailedEvent JSON
    * round-trip, deadletter.go:100-130) so the DLQ schema is stable no
    * matter which table the batch belonged to. The write runs INSIDE the
    * table lock: [[cleanup]]'s expire sweeps unreferenced files, so a
    * mid-flight uncommitted write outside the lock could be swept as
    * debris before its commit (the DLQ is failure-sized — holding the
    * lock across the write is cheap). */
  def append(batch: DataFrame, dlqDir: String, sourceId: String,
             tableName: String, error: Throwable, retryCount: Int): Unit = {
    val spark = batch.sparkSession
    val failed = batch
      .select(to_json(struct(col("*"))).as("event_data"))
      .withColumn("source_id", lit(sourceId))
      // cast: a null name must land as a typed string null, not NullType
      // (parquet can't encode a void column)
      .withColumn("table_name", lit(tableName).cast("string"))
      .withColumn("error_message", lit(String.valueOf(error.getMessage)))
      .withColumn("error_type", lit(classify(error)))
      .withColumn("retry_count", lit(retryCount))
      .withColumn("created_at", current_timestamp())
      .withColumn("retried_at", lit(null).cast("timestamp"))
    SnapshotLog.withTableLock(dlqDir) {
      val newFiles = SnapshotLog.writeData(spark, dlqDir, failed, None)
      SnapshotLog.appendFiles(spark, dlqDir, newFiles, schema,
        expectedParent = adopt(spark, dlqDir)): Unit
    }
  }

  /** The stable DLQ schema ([[append]] writes exactly these columns;
    * `retried_at` null = pending, set by [[replay]]'s MarkRetried). */
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_data", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("table_name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("error_message", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("error_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("retry_count", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("created_at", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("retried_at", org.apache.spark.sql.types.TimestampType)))

  /** Resolve the DLQ's current snapshot; a plain-parquet dir written by
    * an earlier layout is ADOPTED as snapshot 1 by listing (no rewrite),
    * under [[schema]] so a pre-`retried_at` file reads the column back as
    * null — pending. Must run inside the table lock. */
  private def adopt(spark: SparkSession, dlqDir: String): Option[SnapshotLog.Snapshot] =
    SnapshotLog.currentSnapshot(spark, dlqDir)
      .orElse(SnapshotLog.importFlat(spark, dlqDir, schema))

  /** A DLQ only exists once something failed; an absent dir reads as the
    * empty DLQ (so stats/read agree with an oracle that derives zero
    * failures), not as a scan error. A plain-parquet dir from an earlier
    * layout reads directly under [[schema]] (pre-`retried_at` files
    * surface the column as null — pending); reads never commit, so
    * adoption waits for the first write entry point. */
  def read(spark: SparkSession, dlqDir: String): DataFrame =
    SnapshotLog.readCurrent(spark, dlqDir).getOrElse {
      val p = new org.apache.hadoop.fs.Path(dlqDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) spark.read.schema(schema).parquet(dlqDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Replay pending dead-letters: Read → repair → reprocess → MarkRetried
    * (ref internal/cdc/deadletter/postgres.go:199-238 — the operator
    * loop that fixes the poison and routes it back through the pipeline).
    *
    * `event_data` decodes back to the ORIGINAL batch columns via
    * `batchSchema`, `repair` fixes what made it fail (a table name, a
    * type), and `process` is the real ingest entry (typically
    * `IngestPipeline.processBatch(cfg)(_, batchId)`). Rows that fail
    * AGAIN simply dead-letter again through `process`'s own DLQ path —
    * replay is safe to re-run. Marking rewrites the replayed FILES: the
    * DLQ is failure-sized, not data-sized, so a rewrite is the lake
    * equivalent of the reference's per-row UPDATE. What gets marked is
    * decided by FILE IDENTITY, not a timestamp cutoff — exactly the
    * files of the snapshot this replay decoded are rewritten as retried;
    * re-failures `process` dead-letters live in files committed AFTER
    * that snapshot, so they stay pending even if their created_at lands
    * on the same clock tick. Concurrent REWRITES (a second replay, a
    * cleanup) do not compose with the mark — that race is detected under
    * the lock and fails loudly with the snapshot basis intact; `process`
    * must therefore be at-least-once (it is: the real entry point merges
    * or re-dead-letters). Returns # replayed. */
  def replay(spark: SparkSession, dlqDir: String,
             batchSchema: org.apache.spark.sql.types.StructType,
             repair: DataFrame => DataFrame,
             process: DataFrame => Unit): Long = {
    val snapOpt = SnapshotLog.withTableLock(dlqDir)(adopt(spark, dlqDir))
    if (snapOpt.isEmpty) return 0L
    val snap = snapOpt.get
    val pending = SnapshotLog.read(spark, dlqDir, snap)
      .filter(col("retried_at").isNull)
    val n = pending.count()
    if (n == 0) return 0L
    process(repair(
      pending.select(from_json(col("event_data"), batchSchema).as("_e"))
        .select(col("_e.*"))))
    // MarkRetried: rewrite snap's files with pending rows marked; carry
    // every file committed since (process's re-failures) untouched, with
    // the live deletes: a row deleted since snap stays deleted. The
    // commit runs under the table lock, so it composes with concurrent
    // appends instead of dropping rows a directory listing never saw.
    // Only APPENDS compose: a concurrent rewrite (another replay, a
    // cleanup) replaces snap's files, and marking against a replaced
    // basis would either duplicate every replayed row (both rewrites
    // commit a copy) or crash mid-write on expired paths. Detect the
    // lost basis and fail loudly: the reprocess already ran, pending
    // rows are still pending in the winning snapshot — re-running
    // replay is safe (process is at-least-once by contract).
    SnapshotLog.withTableLock(dlqDir) {
      val cur = SnapshotLog.currentSnapshot(spark, dlqDir)
      val curPaths = cur.toSeq.flatMap(_.files.map(_.path)).toSet
      val snapPaths = snap.files.map(_.path).toSet
      val missing = snapPaths.filterNot(curPaths)
      if (missing.nonEmpty)
        throw new SnapshotLog.ConcurrentCommitException(
          s"replay of $dlqDir lost its snapshot basis: ${missing.size} of " +
            s"${snap.files.size} files were replaced by a concurrent " +
            "replay/cleanup; rows were reprocessed but not marked — " +
            "re-run replay against the current snapshot")
      // cur holds every replayed file (the basis check above)
      def replayed(f: SnapshotLog.DataFile) = snapPaths(f.path)
      val marked = SnapshotLog.readPruned(spark, dlqDir, cur.get, replayed)
        .withColumn("retried_at",
          when(col("retried_at").isNull, current_timestamp())
            .otherwise(col("retried_at")))
      val newFiles = SnapshotLog.writeData(spark, dlqDir, marked, None)
      SnapshotLog.commit(spark, dlqDir, "replay-mark", schema, cur,
        add = newFiles, remove = replayed): Unit
    }
    n
  }

  /** Failure counts by (source, table, error type). The reference's
    * GetStats (deadletter/postgres.go:274-352) computes the by-source and
    * by-error-type MARGINALS; this triple grouping is a refinement from
    * which both marginals are derivable by summing out the other keys. */
  def stats(spark: SparkSession, dlqDir: String): DataFrame =
    read(spark, dlqDir)
      .groupBy(col("source_id"), col("table_name"), col("error_type"))
      .agg(count(lit(1)).as("n_failed"))
      .orderBy(col("source_id"), col("table_name"), col("error_type"))

  /** Drop dead-letters whose TTL has lapsed (ref expires_at at insert +
    * Cleanup, deadletter/deadletter.go:40-68, postgres.go:240-272 —
    * expires_at = created_at + TTL, delete where expired). `now` is a
    * parameter so retention is deterministic and testable. The whole
    * count-filter-commit runs under the table lock (a concurrent append
    * either commits before the resolution — and is filtered — or after
    * this commit: never dropped), and space reclamation IS cleanup's
    * contract, so the rewrite also expires DLQ history and deletes the
    * unreferenced bytes. Returns the number of rows dropped. */
  def cleanup(spark: SparkSession, dlqDir: String, ttlSeconds: Long,
              now: java.sql.Timestamp): Long =
    SnapshotLog.withTableLock(dlqDir) {
      adopt(spark, dlqDir) match {
        case None => 0L
        case Some(cur) =>
          val dlq = SnapshotLog.read(spark, dlqDir, cur)
          // expires_at = created_at + TTL; expired ⇔ created_at ≤ now - TTL
          val expired = col("created_at") <=
            lit(new java.sql.Timestamp(now.getTime - ttlSeconds * 1000L))
          val n = dlq.filter(expired).count()
          if (n == 0) 0L
          else {
            val newFiles =
              SnapshotLog.writeData(spark, dlqDir, dlq.filter(!expired), None)
            SnapshotLog.commit(spark, dlqDir, "cleanup", schema, Some(cur),
              add = newFiles, remove = _ => true)
            SnapshotLog.expire(spark, dlqDir, keepLast = 1)
            n
          }
      }
    }
}
