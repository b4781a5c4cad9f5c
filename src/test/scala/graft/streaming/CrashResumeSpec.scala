package graft.streaming

import graft.SparkTestBase
import graft.reliability.RetryPolicy
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Multi-batch crash-resume: a crash injected at the top of micro-batch 2
  * fails the query with batches 0-1 committed; a restart from the same
  * checkpoint re-runs batch 2 whole and drains the rest. The registered
  * `cdc_stream_resume` query hash-checks the FINAL state against the
  * DuckDB oracle; this spec asserts the MID-crash state the hash can't
  * see — that run 1 really committed a strict subset, and that the resume
  * added exactly the complement (no replayed duplicates, no skipped
  * files). Ref claim: internal/cdc/pipeline/pipeline.go:279-306.
  */
class CrashResumeSpec extends SparkTestBase {

  test("crash at batch 2 commits batches 0-1; restart drains exactly-once") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-crash-resume").toString
    val n = 40
    val src = (1 to n).map { i =>
      (i.toLong, i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        f"$i%016d", "t0")
    }.toDF("user_id", "event_id", "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
    src.repartition(4).write.parquet(s"$base/src")
    val schema = spark.read.parquet(s"$base/src").schema
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "crash_resume",
      retry = RetryPolicy(maxAttempts = 2, sleep = _ => ()))
    def stream = IngestPipeline.fileEnvelopeSource(
      spark, s"$base/src", schema, maxFilesPerTrigger = 1)

    val q1 = IngestPipeline.start(stream, cfg, availableNow = true,
      beforeBatch = id => if (id >= 2)
        throw new IllegalStateException("injected crash"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(e.getMessage.contains("injected crash"))

    // mid state: batches 0 and 1 (one file each) committed, nothing else
    val mid = graft.ingest.CdcWriter.read(spark, s"$base/lake/t0")
      .select("event_id").as[Long].collect()
    assert(mid.length > 0 && mid.length < n,
      s"run 1 should commit a strict subset, got ${mid.length} of $n")
    assert(mid.distinct.length === mid.length)

    // resume: same checkpoint, no crash — drains the complement exactly
    IngestPipeline.start(stream, cfg, availableNow = true).awaitTermination()
    val fin = graft.ingest.CdcWriter.read(spark, s"$base/lake/t0")
      .select("event_id").as[Long].collect().sorted
    assert(fin.toSeq === (1 to n).map(_.toLong))
  }

  test("mid-stream schema evolution survives a crash-restart with a FRESH decoder") {
    // the evolution state (registered schema + version) lives on the
    // driver; a crash loses it. The product claim worth pinning: a
    // restart with a brand-new seed-only EvolvingDecoder re-learns the
    // drift from the replayed data itself — no schema-registry
    // persistence needed — and the lake still reads back whole (the
    // reference's ensureTable re-derives from the stored table the same
    // way, writer/writer.go:197-253).
    import spark.implicits._
    val base = Files.createTempDirectory("graft-evolve-crash").toString
    // 4 one-file batches; `score` exists only from batch 2 on — the
    // drift lands in the post-crash half
    val lines = (1 to 40).map { i =>
      val score = if (i > 20) s""","score":${i % 7}""" else ""
      val batch = (i - 1) / 10
      (f"""{"after":{"id":$i,"v":$i.5$score},"op":"c","ts_ms":${i * 1000},"source":{"schema":"p","table":"t0","lsn":$i,"txId":$i}}""", batch)
    }.toDF("value", "batch")
    (0 until 4).foreach(b => lines.filter($"batch" === b).select("value")
      .coalesce(1).write.mode("append").text(s"$base/src"))
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "evolve_crash",
      retry = RetryPolicy(maxAttempts = 2, sleep = _ => ()))
    val payloadSeed = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "double")
    def run(decoder: graft.ingest.EvolvingDecoder,
            crashAt: Option[Long]): Unit = {
      val raw = spark.readStream.schema(
        new org.apache.spark.sql.types.StructType().add("value", "string"))
        .option("maxFilesPerTrigger", 1).text(s"$base/src")
      val q = raw.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          crashAt.foreach(c => if (id >= c)
            throw new IllegalStateException("injected crash"))
          IngestPipeline.processBatch(cfg)(
            graft.ingest.EnvelopeDecoder.flattened(decoder.decode(b, "value")), id)
        }
        .start()
      q.awaitTermination()
    }
    // run 1 crashes before the drift is ever seen
    val d1 = new graft.ingest.EvolvingDecoder(payloadSeed)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(d1, crashAt = Some(2))
    }
    assert(e.getMessage.contains("injected crash"))
    assert(d1.payloadSchema.fieldNames.toSeq === Seq("id", "v")) // no drift yet
    // run 2: FRESH decoder (driver state lost in the crash) — it must
    // re-learn the drift from the replayed stream
    val d2 = new graft.ingest.EvolvingDecoder(payloadSeed)
    run(d2, crashAt = None)
    assert(d2.version === 2)
    assert(d2.payloadSchema.fieldNames.toSeq === Seq("id", "v", "score"))
    // evolved read-back: all 40 rows, score present iff id > 20, exact
    val out = graft.ingest.CdcWriter.read(spark, s"$base/lake/t0")
      .select($"id", $"score").as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(out.length === 40)
    out.foreach { case (id, score) =>
      if (id > 20) assert(score.contains(id % 7), s"id $id")
      else assert(score.isEmpty, s"id $id")
    }
  }
}
