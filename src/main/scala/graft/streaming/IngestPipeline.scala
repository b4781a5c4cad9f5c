package graft.streaming

import graft.ingest.CdcWriter
import graft.observe.Metrics
import graft.reliability.{DeadLetter, Retry, RetryPolicy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming half of the engine: CDC envelope stream → per-table
  * router → one SnapshotLog append commit per table, with batch-level
  * retry and DLQ.
  *
  * Replaces, via Structured Streaming built-ins, the machinery the
  * reference hand-rolls (SURVEY §2.2):
  *  - event loop + checkpoint ticker (ref internal/cdc/pipeline/
  *    pipeline.go:119-277) → the streaming query + checkpointLocation;
  *    offsets commit after each successful batch, so restart resumes
  *    exactly where the last batch committed (the reference re-delivers
  *    up to 10 s of events — at-least-once). The sink is
  *    [[CdcWriter.appendCommit]]: a table's slice becomes visible only
  *    at its manifest rename, so a failed or retried write never leaves
  *    partial rows behind.
  *  - ticker-driven batch processor (ref buffer/batch.go:165-342) →
  *    Trigger.ProcessingTime / AvailableNow micro-batches.
  *  - backpressure watermarks (ref pipeline/backpressure.go:26-165,
  *    pause ≥8000 / resume ≤5000) → source rate limits
  *    (maxFilesPerTrigger / maxOffsetsPerTrigger) + AQE.
  *  - per-batch retry then DLQ (ref buffer/batch.go:215-285) →
  *    [[Retry.execute]] around each table commit, [[DeadLetter.append]] on
  *    exhaustion; the batch is never lost and never blocks the stream.
  *
  * Every routed table is a SnapshotLog table, so [[graft.lake.GraftCatalog]],
  * the REST catalog and the HTTP API serve it as soon as its first
  * commit lands.
  */
final case class IngestConfig(
    outDir: String,
    dlqDir: String,
    checkpointDir: String,
    sourceId: String = "stream",
    tableCol: String = "_cdc_table",
    retry: RetryPolicy = RetryPolicy(),
    triggerMs: Long = 5000L, /* ref flush interval: 5 s, config.go:727 */
    metrics: Metrics.Registry = Metrics.global)

object IngestPipeline {

  /** Lake table names must be plain SQL identifiers — a WAL source can
    * carry arbitrary relation names, and anything else would become a
    * malformed object-store path. Violations are a VALIDATION failure
    * (dead-lettered, never retried — retrying can't fix a name). The
    * shared guard is [[graft.model.Identifiers]]. */

  /** Process one micro-batch: route per table, append-commit each with
    * retry, dead-letter a table's slice if retries exhaust. Public so
    * batch jobs and tests can drive it without a stream. */
  def processBatch(cfg: IngestConfig)(batch: DataFrame, batchId: Long): Unit =
    // foreachBatch hands us a frame bound to the streaming session clone,
    // where AQE is force-disabled — re-enable it for these plain batch
    // actions (post-shuffle coalescing, runtime join planning); a batch
    // caller's session is untouched (see BatchExec)
    graft.ingest.BatchExec.withAqe(batch) { processBatch0(cfg, batch) }

  private def processBatch0(cfg: IngestConfig, batch: DataFrame): Unit = {
    // the fanout runs T per-table filtered writes plus the fused
    // table-list/lag aggregate off this one frame — persist so an
    // EXPENSIVE upstream (WAL decode) is computed once, not T + 1
    // times. A cheap lineage (the file source's few-file parquet scan)
    // re-scans for less than the cache write costs — skip (guide §5).
    val doPersist = !graft.ingest.BatchExec.cheapToRecompute(batch)
    if (doPersist) batch.persist()
    try {
      val hasTs = batch.columns.contains(graft.ingest.Cdc.TsColumn)
      // ONE grouped aggregate replaces the table-list distinct + one
      // count/max(ts) job per table slice + the whole-batch max(ts) job
      // (T + 2 jobs per micro-batch → 1): the routing fanout is O(tables)
      // on the driver either way, but every extra action here is a full
      // pass over the (cached) batch — and at a real trigger cadence the
      // per-batch job count is the pipeline's fixed overhead.
      // It groups by (table, day), so the same job also yields each
      // table's day count, which lets a one-day slice write without a
      // shuffle (SnapshotLog.writeData); rows, newest timestamp and day
      // count per table fold from the groups on the driver.
      // A nullable table column yields a null group key; sort via Option
      // so it can't NPE the ordering, and route it like any other
      // malformed identifier below.
      val ts = if (hasTs) col(graft.ingest.Cdc.TsColumn) else lit(null).cast("timestamp")
      val day = if (hasTs) CdcWriter.dayOf else lit(null).cast("string")
      val tableAggs = batch.groupBy(col(cfg.tableCol), day)
        .agg(count(lit(1)).as("n"), max(ts).as("max_ts"))
        .collect()
        .groupBy(r => if (r.isNullAt(0)) null else r.getString(0))
        .map { case (t, days) =>
          val maxTs = days.flatMap(r => Option(r.getTimestamp(3)))
            .maxByOption(_.getTime)
          t -> (days.map(_.getLong(2)).sum, maxTs, days.length)
        }
        .toSeq.sortBy(p => Option(p._1))
      // per-table slices commit to DISJOINT tables and the batch is cached:
      // submit them CONCURRENTLY so one table's write tail back-fills
      // with the next table's tasks (guide §2.6 — the same overlap
      // e2eMultitable's merge fanout uses; the reference writer loops
      // sequentially). DLQ appends serialize on the DLQ table lock, the
      // metrics registry is atomic, and per-table failure isolation is
      // unchanged — each slice's try/catch is its own.
      import scala.collection.parallel.CollectionConverters._
      tableAggs.par.foreach { case (t, (nRows, maxTsOpt, nDays)) =>
        val slice =
          if (t == null) batch.filter(col(cfg.tableCol).isNull)
          else batch.filter(col(cfg.tableCol) === t)
        try {
          // validate BEFORE the retry loop: IllegalArgumentException maps to
          // the `validation` DLQ class (ref deadletter.go error typing); a
          // null name is as unroutable as a malformed one
          require(t != null && graft.model.Identifiers.isValid(t),
            s"invalid table name: '$t'")
          val snap = Retry.execute(cfg.retry) { () =>
            CdcWriter.appendCommit(slice.sparkSession, s"${cfg.outDir}/$t", slice,
              days = Some(nDays))
          }
          cfg.metrics.inc("iceberg", "commits_total")
          // per-table series (exposition-label names — the
          // `{source,table}` dimensions the reference's metrics service
          // queries, services/metrics.go:179-210) plus the bytes
          // counter its writer tracks; counts come from the fused
          // aggregate above, bytes from the manifest entries this
          // commit added (no filesystem walk).
          cfg.metrics.inc("iceberg", "bytes_written_total",
            snap.files.filter(_.seq == snap.id).map(_.sizeBytes).sum)
          cfg.metrics.inc("cdc", s"""events_total{table="$t"}""", nRows)
          maxTsOpt.foreach(ts =>
            cfg.metrics.setGauge("cdc", s"""lag_seconds{table="$t"}""",
              (System.currentTimeMillis() - ts.getTime) / 1000.0))
        } catch {
          case e: Throwable =>
            DeadLetter.append(slice, cfg.dlqDir, cfg.sourceId, t, e,
              retryCount = cfg.retry.maxAttempts)
            cfg.metrics.inc("cdc", "dlq_total")
        }
      }
      // replication lag: wall clock minus newest commit timestamp in the
      // batch (ref T12 lag gauge, internal/cdc/pipeline/pipeline.go:247-250)
      // — the max over the per-table group maxes, no extra pass
      val batchMaxTs = tableAggs.flatMap(_._2._2).sortBy(_.getTime).lastOption
      batchMaxTs.foreach(ts =>
        cfg.metrics.setGauge("cdc", "lag_seconds",
          (System.currentTimeMillis() - ts.getTime) / 1000.0))
    } finally if (doPersist) batch.unpersist()
  }

  /** Rate-limited file-based envelope source: `maxFilesPerTrigger` caps
    * how much each micro-batch admits — Spark's native backpressure
    * control, standing in for the reference's pause/resume watermarks
    * (ref internal/cdc/pipeline/backpressure.go:26-165, pause >=8000 /
    * resume <=5000; here the bound is enforced at admission, so depth
    * can never exceed the limit and no pause protocol is needed). */
  def fileEnvelopeSource(spark: org.apache.spark.sql.SparkSession, dir: String,
                         schema: org.apache.spark.sql.types.StructType,
                         maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Start the streaming query over an envelope stream (any streaming
    * DataFrame with `_cdc_*` columns and `cfg.tableCol`).
    *
    * `beforeBatch` is a fault-injection seam: it runs at the very top of
    * each micro-batch, BEFORE any write. A crash thrown there fails the
    * query with that batch's offsets uncommitted, so a restart from the
    * same checkpoint re-runs the batch whole — the harness the
    * crash-resume proofs use (the reference's kill-and-resume claim,
    * ref internal/cdc/pipeline/pipeline.go:279-306). */
  def start(envelopeStream: DataFrame, cfg: IngestConfig,
            availableNow: Boolean = false,
            beforeBatch: Long => Unit = _ => ()): StreamingQuery = {
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.ProcessingTime(cfg.triggerMs)
    envelopeStream.writeStream
      .queryName(s"graft-ingest-${cfg.sourceId}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        beforeBatch(batchId)
        processBatch(cfg)(batch, batchId)
      }
      .start()
  }
}
