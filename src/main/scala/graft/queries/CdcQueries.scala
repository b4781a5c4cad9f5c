package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.ingest.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC surface bound to the synthetic `events` table.
  *
  * The driver's testdata has no real WAL stream, so a deterministic CDC
  * envelope is synthesized from `events`: event_type maps onto an operation
  * (signup→INSERT, error→DELETE, everything else→UPDATE), `ts` is the
  * commit timestamp and a zero-padded event_id stands in for the LSN
  * (monotone, sortable — same contract as a real LSN). The envelope is
  * SQL-expressible so every operator here has a DuckDB oracle.
  */
object CdcQueries extends QueryModule {

  /** Shared envelope CTE for the oracles (also reused by PipelineOps). */
  private[queries] val envelopeSql =
    """SELECT user_id, event_id, value,
      | CASE event_type WHEN 'signup' THEN 'INSERT'
      |                 WHEN 'error' THEN 'DELETE'
      |                 ELSE 'UPDATE' END AS _cdc_operation,
      | CAST(ts AS TIMESTAMP) AS _cdc_timestamp,
      | lpad(CAST(event_id AS VARCHAR), 16, '0') AS _cdc_lsn
      |FROM events""".stripMargin

  /** The Spark-side envelope, column-for-column equal to [[envelopeSql]]. */
  def envelope(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("value"),
      when(col("event_type") === "signup", "INSERT")
        .when(col("event_type") === "error", "DELETE")
        .otherwise("UPDATE").as(Cdc.OpColumn),
      col("ts").as(Cdc.TsColumn),
      lpad(col("event_id").cast("string"), 16, "0").as(Cdc.LsnColumn))

  private def cdcEnvelope(s: SparkSession, d: String): DataFrame =
    envelope(s, d).orderBy(col("event_id"))

  private val cdcEnvelopeSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT * FROM envelope ORDER BY event_id""".stripMargin

  private def cdcLatest(s: SparkSession, d: String): DataFrame =
    Cdc.latestVersions(envelope(s, d), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("value"), col(Cdc.OpColumn))
      .orderBy(col("user_id"))

  private val cdcLatestSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT user_id, event_id, value, _cdc_operation FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn FROM envelope) t
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  private def cdcCurrentState(s: SparkSession, d: String): DataFrame =
    Cdc.currentState(envelope(s, d), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))

  /** Shared with PipelineOps: cdc_stream_merge proves the same
    * incremental ≡ recompute equivalence through the streaming sink. */
  private[queries] def currentStateSql: String = cdcCurrentStateSql

  private val cdcCurrentStateSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT user_id, event_id, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn FROM envelope) t
       |WHERE rn = 1 AND _cdc_operation <> 'DELETE' ORDER BY user_id""".stripMargin

  private def cdcOpCounts(s: SparkSession, d: String): DataFrame =
    Cdc.operationCounts(envelope(s, d))

  private val cdcOpCountsSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT _cdc_operation, count(*) AS n FROM envelope
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def cdcHistory(s: SparkSession, d: String): DataFrame =
    Cdc.history(envelope(s, d), Seq("user_id"), col("user_id") % 50 === 3)
      .select(col("user_id"), col("event_id"), col(Cdc.OpColumn),
        col(Cdc.TsColumn), col("value"))

  private val cdcHistorySql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT user_id, event_id, _cdc_operation, _cdc_timestamp, value
       |FROM envelope WHERE user_id % 50 = 3
       |ORDER BY user_id, _cdc_timestamp, _cdc_lsn""".stripMargin

  private def cdcMultiVersion(s: SparkSession, d: String): DataFrame =
    Cdc.multiVersionKeys(envelope(s, d), Seq("user_id"))
      .orderBy(col("user_id"))

  private val cdcMultiVersionSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT user_id, count(*) AS n_versions FROM envelope
       |GROUP BY 1 HAVING count(*) > 1 ORDER BY user_id""".stripMargin

  private def cdcFreshness(s: SparkSession, d: String): DataFrame =
    Cdc.freshness(envelope(s, d))

  private val cdcFreshnessSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT max(_cdc_timestamp) AS latest_ts, count(*) AS n_events FROM envelope""".stripMargin

  // ---- incremental MERGE: apply the deltas after an LSN watermark onto
  // the snapshot at that watermark — the reference writer's upsert
  // semantics (ref internal/iceberg/writer/writer.go:95-194) as a
  // composable batch operator. The anti-join + union is the MERGE shape
  // that scales: base is never shuffled beyond the key join, deltas are
  // the small side. The oracle is the full-recompute current state —
  // asserting incremental apply ≡ recompute is the point.
  private val ApplyLsn = "0000000000005000"

  private def cdcApplyChanges(s: SparkSession, d: String): DataFrame = {
    val env = envelope(s, d)
    val base = graft.ingest.TimeTravel.asOfLsn(env, Seq("user_id"), lit(ApplyLsn))
    val deltas = Cdc.latestVersions(
      env.filter(col(Cdc.LsnColumn) > ApplyLsn), Seq("user_id"))
    base.join(deltas.select(col("user_id")), Seq("user_id"), "left_anti")
      .select(col("user_id"), col("event_id"), col("value"))
      .unionByName(deltas.filter(col(Cdc.OpColumn) =!= "DELETE")
        .select(col("user_id"), col("event_id"), col("value")))
      .orderBy(col("user_id"))
  }

  // ---- lake-level MERGE: the physical counterpart of cdc_apply_changes.
  // The AS-OF snapshot is APPENDED to a day-partitioned lake table, the
  // post-watermark deltas are merged INTO THE STORED FILES
  // ([[graft.ingest.CdcWriter.merge]]: affected-partition probe,
  // anti-join + union, one commit — only key-affected day partitions
  // are rewritten), and the result is the read-back of the
  // final files. The oracle is the FULL recompute over raw events, so a
  // wrong partition probe, a lost survivor row, or a double-applied
  // upsert in the physical merge fails the hash.
  private def cdcLakeMerge(s: SparkSession, d: String): DataFrame = {
    // a fresh dir: the seed is an append, so a second run in the same
    // session (a bench re-measure, a second full-surface pass) must not
    // append it on top of the previous run's table
    val dir = Lifecycle.freshScratchDir(s, "graft_lakemerge", d)
    val env = envelope(s, d)
    val base = graft.ingest.TimeTravel.asOfLsn(env, Seq("user_id"), lit(ApplyLsn))
    graft.ingest.CdcWriter.appendCommit(s, dir, base)
    graft.ingest.CdcWriter.merge(
      s, dir, env.filter(col(Cdc.LsnColumn) > ApplyLsn), Seq("user_id"))
    graft.ingest.CdcWriter.read(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  // ---- TRUNCATE semantics: a TRUNCATE marker in the stream resets the
  // table — current state must contain only events strictly after the
  // newest marker (ref internal/cdc/source/postgres/reader.go:237-242:
  // the T action carries no row image, just its WAL position). A marker
  // is injected at a fixed LSN so the reset boundary is deterministic
  // and the oracle replays the identical watermark-filter-materialize.
  private val TruncateLsn = "0000000000003000"
  private val TruncateTs = "2024-01-01 00:00:00"

  private def cdcTruncateState(s: SparkSession, d: String): DataFrame = {
    val env = envelope(s, d)
    val marker = s.range(1).select(
      lit(null).cast("long").as("user_id"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("value"),
      lit("TRUNCATE").as(Cdc.OpColumn),
      lit(TruncateTs).cast("timestamp").as(Cdc.TsColumn),
      lit(TruncateLsn).as(Cdc.LsnColumn))
    Cdc.currentStateWithTruncate(env.unionByName(marker), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  private val cdcTruncateStateSql =
    s"""WITH envelope AS ($envelopeSql),
       |env2 AS (
       |  SELECT * FROM envelope
       |  UNION ALL SELECT NULL, NULL, NULL, 'TRUNCATE',
       |    TIMESTAMP '$TruncateTs', '$TruncateLsn'),
       |tw AS (SELECT max(CASE WHEN _cdc_operation = 'TRUNCATE'
       |                       THEN _cdc_lsn END) AS tl FROM env2)
       |SELECT user_id, event_id, value FROM (
       |  SELECT e.*, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn
       |  FROM env2 e, tw
       |  WHERE e._cdc_operation <> 'TRUNCATE'
       |    AND (tw.tl IS NULL OR e._cdc_lsn > tw.tl)) t
       |WHERE rn = 1 AND _cdc_operation <> 'DELETE' ORDER BY user_id""".stripMargin

  // ---- DSv2 WAL source (S1): synthesize a Debezium-JSONL log from
  // `events` (the wire format the reference's reader consumes, ref
  // internal/cdc/source/postgres/reader.go:172-242), read it back through
  // graft.sources.CdcLogSource — LSN offsets, serial WAL reader — then
  // decode + aggregate. The oracle replays from the raw events, so the
  // whole encode → source scan → decode loop is proven lossless.

  /** Payload schema of the synthesized WAL log. */
  val SourcePayloadSchema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_id", "long").add("value", "double")

  /** Debezium-envelope JSON lines from `events`. */
  /** `table`: the per-line `source.table` value — constant for the
    * single-table proofs, a user-derived routing expression for the
    * multi-table fanout (ref writer/writer.go:114-123). */
  def debeziumLines(s: SparkSession, d: String,
                    table: org.apache.spark.sql.Column = lit("events")): DataFrame = {
    val payload = struct(col("user_id"), col("event_id"), col("value"))
    val nullPayload = lit(null).cast(SourcePayloadSchema)
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "error", "d").otherwise("u")
    Tables.events(s, d).select(to_json(struct(
      when(op === "d", payload).otherwise(nullPayload).as("before"),
      when(op =!= "d", payload).otherwise(nullPayload).as("after"),
      op.as("op"),
      unix_millis(col("ts")).as("ts_ms"),
      struct(lit("public").as("schema"), table.as("table"),
        col("event_id").as("lsn"), col("event_id").as("txId")).as("source"))).as("value"))
  }

  def writeDebeziumLog(s: SparkSession, d: String, outDir: String): Unit =
    debeziumLines(s, d).coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).text(outDir)

  /** [[debeziumLines]] plus ONE TRUNCATE line (`"op":"t"`, no row image —
    * ref internal/cdc/source/postgres/reader.go:237-242) at LSN
    * `max(event_id) * 3 / 4`, the same marker position the parquet-source
    * truncate fixture uses, so the oracle replays one reset boundary. */
  def debeziumLinesWithTruncate(s: SparkSession, d: String): DataFrame = {
    val maxId = Tables.events(s, d).agg(max(col("event_id"))).collect()(0).getLong(0)
    val markerLsn = maxId * 3 / 4
    val nullPayload = lit(null).cast(SourcePayloadSchema)
    val marker = s.range(1).select(to_json(struct(
      nullPayload.as("before"), nullPayload.as("after"),
      lit("t").as("op"),
      lit(0L).as("ts_ms"),
      struct(lit("public").as("schema"), lit("events").as("table"),
        lit(markerLsn).as("lsn"), lit(markerLsn).as("txId")).as("source"))).as("value"))
    debeziumLines(s, d).unionByName(marker)
  }

  /** Evolved payload schema: [[SourcePayloadSchema]] plus the `score`
    * column that appears mid-stream (see [[debeziumLinesEvolving]]). */
  val EvolvedPayloadSchema: org.apache.spark.sql.types.StructType =
    SourcePayloadSchema.add("score", "long")

  /** Debezium lines whose payload GAINS an integer `score` column for
    * events with id above `threshold` — the ALTER TABLE ADD COLUMN shape
    * a live CDC stream delivers mid-flight. Below the threshold the field
    * is null and `to_json` omits it (ignoreNullFields default), so early
    * lines carry the original 3-column payload byte-for-byte: a decoder
    * inferring per batch sees the column APPEAR, not a always-null
    * column that was always there. */
  def debeziumLinesEvolving(s: SparkSession, d: String, threshold: Long): DataFrame = {
    val score = when(col("event_id") > threshold, col("user_id") % 97)
      .otherwise(lit(null)).cast("long").as("score")
    val payload = struct(col("user_id"), col("event_id"), col("value"), score)
    val nullPayload = lit(null).cast(EvolvedPayloadSchema)
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "error", "d").otherwise("u")
    Tables.events(s, d).select(to_json(struct(
      when(op === "d", payload).otherwise(nullPayload).as("before"),
      when(op =!= "d", payload).otherwise(nullPayload).as("after"),
      op.as("op"),
      unix_millis(col("ts")).as("ts_ms"),
      struct(lit("public").as("schema"), lit("events").as("table"),
        col("event_id").as("lsn"), col("event_id").as("txId")).as("source"))).as("value"))
  }

  /** [[EvolvedPayloadSchema]] with `score` already widened to double. */
  val PromotedPayloadSchema: org.apache.spark.sql.types.StructType =
    SourcePayloadSchema.add("score", "double")

  /** Debezium lines whose `score` column WIDENS mid-stream: integral
    * (JSON numbers without a fraction → inferred long) up to `threshold`,
    * fractional (+0.5 → double) above it — the numeric drift a live CDC
    * stream delivers when a source column's type widens. Two typed frames
    * render the regimes so early lines carry integer literals
    * byte-for-byte and a per-batch-inferring decoder sees the type
    * CHANGE, not a column that was always double. */
  def debeziumLinesPromoting(s: SparkSession, d: String, threshold: Long): DataFrame = {
    def lines(filter: org.apache.spark.sql.Column,
              score: org.apache.spark.sql.Column,
              schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val payload =
        struct(col("user_id"), col("event_id"), col("value"), score.as("score"))
      val nullPayload = lit(null).cast(schema)
      val op = when(col("event_type") === "signup", "c")
        .when(col("event_type") === "error", "d").otherwise("u")
      Tables.events(s, d).filter(filter).select(to_json(struct(
        when(op === "d", payload).otherwise(nullPayload).as("before"),
        when(op =!= "d", payload).otherwise(nullPayload).as("after"),
        op.as("op"),
        unix_millis(col("ts")).as("ts_ms"),
        struct(lit("public").as("schema"), lit("events").as("table"),
          col("event_id").as("lsn"), col("event_id").as("txId")).as("source"))).as("value"))
    }
    lines(col("event_id") <= threshold,
      (col("user_id") % 97).cast("long"), EvolvedPayloadSchema)
      .unionByName(lines(col("event_id") > threshold,
        (col("user_id") % 97).cast("double") + lit(0.5), PromotedPayloadSchema))
  }

  private def cdcSourceScan(s: SparkSession, d: String): DataFrame = {
    val dir = Lifecycle.scratchDir(s, "graft_cdclog", d)
    writeDebeziumLog(s, d, dir)
    val raw = s.read.format("graft.sources.CdcLogSource").option("path", dir).load()
    val decoded = graft.ingest.EnvelopeDecoder.flattened(
      graft.ingest.EnvelopeDecoder.decode(raw, "value", SourcePayloadSchema))
    decoded.groupBy(col(Cdc.OpColumn))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.LsnColumn)).as("lsn_min"), max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col(Cdc.OpColumn))
  }

  private val cdcSourceScanSql =
    s"""WITH envelope AS ($envelopeSql)
       |SELECT _cdc_operation, count(*) AS n, count(DISTINCT user_id) AS n_users,
       |  min(_cdc_lsn) AS lsn_min, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery("cdc_envelope", cdcEnvelope, Some(cdcEnvelopeSql)),
    GraftQuery("cdc_source_scan", cdcSourceScan, Some(cdcSourceScanSql)),
    GraftQuery("cdc_apply_changes", cdcApplyChanges, Some(cdcCurrentStateSql)),
    GraftQuery("cdc_lake_merge", cdcLakeMerge, Some(cdcCurrentStateSql)),
    GraftQuery("cdc_latest_version", cdcLatest, Some(cdcLatestSql)),
    GraftQuery("cdc_current_state", cdcCurrentState, Some(cdcCurrentStateSql)),
    GraftQuery("cdc_op_counts", cdcOpCounts, Some(cdcOpCountsSql)),
    GraftQuery("cdc_history", cdcHistory, Some(cdcHistorySql)),
    GraftQuery("cdc_multi_version_keys", cdcMultiVersion, Some(cdcMultiVersionSql)),
    GraftQuery("cdc_freshness", cdcFreshness, Some(cdcFreshnessSql)),
    GraftQuery("cdc_truncate_state", cdcTruncateState, Some(cdcTruncateStateSql)),
  )
}
