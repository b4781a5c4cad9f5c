package graft.streaming

import graft.SparkTestBase
import graft.ingest.{Cdc, CdcWriter}
import graft.lake.SnapshotLog
import graft.reliability.{DeadLetter, RetryPolicy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end streaming ingest: memory stream → router → day-partitioned
  * SnapshotLog tables; checkpoint resume; DLQ on persistent sink failure. */
class IngestPipelineSpec extends SparkTestBase {


  private def ev(id: Long, table: String, day: Int): EnvelopeRow =
    EnvelopeRow(id, id, id * 1.0, "INSERT",
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"),
      f"$id%016d", table)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Distinct day values the table's current manifest records. */
  private def manifestDays(dir: String): Seq[String] =
    SnapshotLog.currentSnapshot(spark, dir).get.files.map(_.partition).distinct.sorted

  private def cfg(out: String) = IngestConfig(
    outDir = out, dlqDir = tmp("graft-dlq"), checkpointDir = tmp("graft-ckpt"),
    retry = RetryPolicy(maxAttempts = 2, sleep = _ => ()))

  test("streaming ingest routes per table and day-partitions the files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EnvelopeRow]
    stream.addData(ev(1, "users", 1), ev(2, "users", 2), ev(3, "orders", 1))
    val c = cfg(tmp("graft-out"))
    val q = IngestPipeline.start(stream.toDF(), c, availableNow = true)
    q.awaitTermination()

    val users = CdcWriter.read(spark, s"${c.outDir}/users")
    assert(users.count() === 2)
    // the manifest records one day value per file (the pruning layout)
    assert(manifestDays(s"${c.outDir}/users") === Seq("2024-01-01", "2024-01-02"))
    assert(CdcWriter.read(spark, s"${c.outDir}/orders").count() === 1)
  }

  test("ingested tables are catalog tables: listed, queryable, one commit per table per batch") {
    import spark.implicits._
    val wh = tmp("graft-ingest-cat")
    val registry = new graft.observe.Metrics.Registry
    val c = cfg(s"$wh/lake").copy(metrics = registry)
    def batch(evs: EnvelopeRow*): DataFrame = evs
      .map(e => (e.user_id, e.event_id, e.value, e._cdc_operation,
        e._cdc_timestamp, e._cdc_lsn, e._cdc_table))
      .toDF("user_id", "event_id", "value", "_cdc_operation",
        "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
    IngestPipeline.processBatch(c)(
      batch(ev(1, "users", 1), ev(2, "users", 2), ev(3, "orders", 1)), 0L)
    IngestPipeline.processBatch(c)(
      batch(ev(4, "users", 3), ev(5, "orders", 2), ev(6, "orders", 3)), 1L)
    val cat = "ingestcat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.lake.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val listed = spark.sql(s"SHOW TABLES IN $cat.lake")
      .select("tableName").as[String].collect().sorted
    assert(listed.toSeq === Seq("orders", "users"))
    def count(t: String): Long =
      spark.sql(s"SELECT count(*) FROM $cat.lake.$t").as[Long].head()
    assert(count("users") === 3L && count("orders") === 3L)
    // every counted commit is a real snapshot, and nothing else is
    val snapshots = Seq("users", "orders")
      .map(t => SnapshotLog.snapshots(spark, s"${c.outDir}/$t").size).sum
    assert(snapshots === 4)
    assert(registry.counter("iceberg", "commits_total") === snapshots.toLong)
  }

  test("the (table, day) routing aggregate folds to per-table counts, lag and days") {
    import spark.implicits._
    val registry = new graft.observe.Metrics.Registry
    val c = cfg(tmp("graft-out")).copy(metrics = registry)
    def at(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    // table -> (event id, timestamp): 3, 2 and 3 days, newest rows at
    // different hours, plus an invalid and a null table name
    val rows: Seq[(Long, java.sql.Timestamp, Option[String])] = Seq(
      (1L, at(1, 3), Some("alpha")), (2L, at(2, 5), Some("alpha")),
      (3L, at(3, 7), Some("alpha")), (4L, at(3, 1), Some("alpha")),
      (5L, at(1, 2), Some("beta")), (6L, at(2, 9), Some("beta")),
      (7L, at(2, 4), Some("beta")),
      (8L, at(4, 6), Some("gamma")), (9L, at(5, 8), Some("gamma")),
      (10L, at(6, 11), Some("gamma")), (11L, at(6, 10), Some("gamma")),
      (12L, at(1, 1), Some("not a name")), (13L, at(2, 2), None))
    val batch = rows.map { case (id, ts, t) =>
      (id, id, id * 1.0, "INSERT", ts, f"$id%016d", t)
    }.toDF("user_id", "event_id", "value", "_cdc_operation",
      "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
    val valid = Seq("alpha", "beta", "gamma")
    val before = registry.counter("iceberg", "commits_total")
    val t0 = System.currentTimeMillis()
    IngestPipeline.processBatch(c)(batch, 0L)
    val t1 = System.currentTimeMillis()
    assert(registry.counter("iceberg", "commits_total") === before + valid.size)
    val gauges = registry.gaugesSnapshot()
    for (t <- valid) {
      val mine = rows.filter(_._3.contains(t))
      assert(registry.counter("cdc", s"""events_total{table="$t"}""") === mine.size.toLong, t)
      val newest = mine.map(_._2.getTime).max
      val lag = gauges(graft.observe.Metrics.counterName("cdc", s"""lag_seconds{table="$t"}"""))
      assert(lag >= (t0 - newest) / 1000.0 && lag <= (t1 - newest) / 1000.0, t)
      // one file per day, each holding exactly the rows of its day
      val dir = s"${c.outDir}/$t"
      val snap = SnapshotLog.currentSnapshot(spark, dir).get
      val days = mine.map(r => r._2.toString.take(10)).distinct.sorted
      assert(snap.files.map(_.partition).sorted === days, t)
      for (f <- snap.files) {
        val fileDays = spark.read.parquet(s"$dir/${f.path}")
          .select("_cdc_date").distinct().as[String].collect().toSeq
        assert(fileDays === Seq(f.partition), s"$t ${f.path}")
      }
      assert(CdcWriter.read(spark, dir).count() === mine.size.toLong, t)
    }
    val dlq = DeadLetter.read(spark, c.dlqDir).collect()
    assert(dlq.map(r => Option(r.getAs[String]("table_name"))).toSet ===
      Set(Some("not a name"), None))
    assert(dlq.forall(_.getAs[String]("error_type") == "validation"))
  }

  test("restart from checkpoint ingests only new data (exactly-once files)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EnvelopeRow]
    val c = cfg(tmp("graft-out"))
    stream.addData(ev(1, "users", 1))
    IngestPipeline.start(stream.toDF(), c, availableNow = true).awaitTermination()
    // second run, same checkpoint: only the new event lands
    stream.addData(ev(2, "users", 1))
    IngestPipeline.start(stream.toDF(), c, availableNow = true).awaitTermination()
    val ids = CdcWriter.read(spark, s"${c.outDir}/users")
      .select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("exhausted sink retries dead-letter the table slice, stream survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EnvelopeRow]
    stream.addData(ev(1, "users", 1), ev(2, "broken", 1))
    val c = cfg(tmp("graft-out"))
    // make writes for table `broken` fail: its target path is a FILE
    Files.createFile(java.nio.file.Paths.get(s"${c.outDir}/broken"))
    val q = IngestPipeline.start(stream.toDF(), c, availableNow = true)
    q.awaitTermination()
    // good table landed
    assert(CdcWriter.read(spark, s"${c.outDir}/users").count() === 1)
    // broken slice is in the DLQ with payload + classification
    val dlq = DeadLetter.read(spark, c.dlqDir).collect()
    assert(dlq.length === 1)
    val row = dlq.head
    assert(row.getAs[String]("table_name") === "broken")
    assert(row.getAs[Int]("retry_count") === 2)
    assert(row.getAs[String]("event_data").contains("\"event_id\":2"))
    val stats = DeadLetter.stats(spark, c.dlqDir).collect()
    assert(stats.head.getAs[Long]("n_failed") === 1)
  }

  test("invalid table names are dead-lettered as validation, not retried") {
    import spark.implicits._
    val c = cfg(tmp("graft-out"))
    var sleeps = 0
    val counting = c.copy(retry = RetryPolicy(maxAttempts = 3, sleep = _ => sleeps += 1))
    val batch = Seq(ev(1, "users", 1), ev(2, "not a name", 1))
      .map(e => (e.user_id, e.event_id, e.value, e._cdc_operation,
        e._cdc_timestamp, e._cdc_lsn, e._cdc_table))
      .toDF("user_id", "event_id", "value", "_cdc_operation",
        "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
    IngestPipeline.processBatch(counting)(batch, 0L)
    // healthy table landed; poison slice classified as validation
    assert(CdcWriter.read(spark, s"${c.outDir}/users").count() === 1)
    val dlq = DeadLetter.read(spark, c.dlqDir).collect()
    assert(dlq.length === 1)
    assert(dlq.head.getAs[String]("table_name") === "not a name")
    assert(dlq.head.getAs[String]("error_type") === "validation")
    // validation short-circuits BEFORE the retry loop — no backoff ran
    assert(sleeps === 0)
    // stats is the GetStats shape: per source / table / error type
    val st = DeadLetter.stats(spark, c.dlqDir).collect().head
    assert(st.getAs[String]("source_id") === "stream")
    assert(st.getAs[Long]("n_failed") === 1L)
  }

  test("null table names take the validation path, not 'unknown'") {
    import spark.implicits._
    val c = cfg(tmp("graft-out"))
    var sleeps = 0
    val counting = c.copy(retry = RetryPolicy(maxAttempts = 3, sleep = _ => sleeps += 1))
    // a nullable table column with an actual null — the router must not
    // NPE and must classify the slice as validation (unroutable name)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val batch = Seq((1L, 1L, ts, Some("users")), (2L, 2L, ts, None: Option[String]))
      .toDF("user_id", "event_id", "_cdc_timestamp", "_cdc_table")
    IngestPipeline.processBatch(counting)(batch, 0L)
    assert(CdcWriter.read(spark, s"${c.outDir}/users").count() === 1)
    val dlq = DeadLetter.read(spark, c.dlqDir).collect()
    assert(dlq.length === 1)
    assert(dlq.head.getAs[String]("table_name") === null)
    assert(dlq.head.getAs[String]("error_type") === "validation")
    assert(dlq.head.getAs[String]("event_data").contains("\"event_id\":2"))
    assert(sleeps === 0)
  }

  test("an absent DLQ dir reads as the empty DLQ, not a scan error") {
    val missing = tmp("graft-dlq-absent") + "/never-created"
    assert(DeadLetter.read(spark, missing).count() === 0)
    assert(DeadLetter.stats(spark, missing).count() === 0)
    assert(DeadLetter.read(spark, missing).schema === DeadLetter.schema)
  }

  test("full reference pipeline: WAL source -> decode -> router -> lake table") {
    // S1→S8 through the REAL source: Debezium JSONL log, DSv2 LSN-offset
    // stream, declarative decode, per-table routing, day-partitioned
    // commits — the reference's whole ingest path in one wiring.
    import graft.ingest.EnvelopeDecoder
    import graft.queries.CdcQueries
    val logDir = tmp("graft-wal-e2e")
    CdcQueries.writeDebeziumLog(spark, sf0001, logDir)
    val n = graft.Tables.events(spark, sf0001).count()

    val raw = spark.readStream.format("graft.sources.CdcLogSource")
      .option("path", logDir)
      .option("maxEventsPerBatch", 400)
      .load()
    val envelope = EnvelopeDecoder.flattened(
      EnvelopeDecoder.decode(raw, "value", CdcQueries.SourcePayloadSchema))
    val c = cfg(tmp("graft-out"))
    IngestPipeline.start(envelope, c, availableNow = true).awaitTermination()

    val written = CdcWriter.read(spark, s"${c.outDir}/events")
    assert(written.count() === n)
    // exactly-once at the row level: every WAL LSN landed exactly once
    assert(written.select(countDistinct(col("_cdc_lsn"))).collect()(0).getLong(0) === n)
    // the lake layout is the pruning-friendly day partitioning
    assert(manifestDays(s"${c.outDir}/events").size > 1)
    // typed payload survived the wire format
    assert(written.schema.fieldNames.contains("user_id"))
    assert(written.filter(col("user_id").isNull).count() === 0)
  }
}
