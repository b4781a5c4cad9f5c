package graft.streaming

import graft.SparkTestBase
import graft.reliability.RetryPolicy
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Ingest throughput vs the reference's published envelope.
  *
  * The reference's only quantitative performance number is its ingest
  * ceiling: ~200 events/s per worker (BASELINE.md; ref load-test docs).
  * This spec pushes 10k envelope events through the FULL pipeline —
  * stream → per-table router → retry wrapper → day-partitioned parquet
  * lake — and measures end-to-end wall time including stream start-up
  * and commit. The assertion bar is 2x the reference ceiling so a
  * hypervisor CPU-steal window can't flake the suite; the measured rate
  * (typically 20-50x on this host) is printed for the record.
  */
class ThroughputSpec extends SparkTestBase {


  test("end-to-end ingest sustains >= 2x the reference's per-worker ceiling") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = 10000
    val events = (1 to n).map { i =>
      EnvelopeRow(i % 500, i, i * 1.0,
        if (i % 7 == 0) "UPDATE" else "INSERT",
        java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 28}%02d 00:00:00"),
        f"$i%016d", if (i % 3 == 0) "orders" else "users")
    }
    val stream = MemoryStream[EnvelopeRow]
    stream.addData(events)
    val cfg = IngestConfig(
      outDir = Files.createTempDirectory("graft-tp-out").toString,
      dlqDir = Files.createTempDirectory("graft-tp-dlq").toString,
      checkpointDir = Files.createTempDirectory("graft-tp-ckpt").toString,
      retry = RetryPolicy(maxAttempts = 2, sleep = _ => ()))
    val t0 = System.nanoTime()
    IngestPipeline.start(stream.toDF(), cfg, availableNow = true).awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val rate = n / sec
    info(f"ingested $n events in $sec%.2f s = $rate%.0f events/s " +
      f"(reference ceiling ~200/s/worker)")
    // all events landed exactly once
    val landed = graft.ingest.CdcWriter.read(spark, s"${cfg.outDir}/users").count() +
      graft.ingest.CdcWriter.read(spark, s"${cfg.outDir}/orders").count()
    assert(landed === n)
    assert(rate >= 400.0, f"ingest rate $rate%.0f events/s below 2x reference ceiling")
  }
}
