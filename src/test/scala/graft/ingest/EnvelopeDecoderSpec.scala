package graft.ingest

import graft.SparkTestBase
import graft.model.{SchemaBuilder, SourceColumn}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class EnvelopeDecoderSpec extends SparkTestBase {

  private val payload = graft.model.SchemaBuilder
    .buildFromColumns(Seq(SourceColumn("id", "bigint"), SourceColumn("name", "text")))
    // payload struct is the user columns only, not the system columns
    .fields.filterNot(_.name.startsWith("_cdc")).foldLeft(new org.apache.spark.sql.types.StructType())(_ add _)

  private def env(op: String, before: String, after: String, lsn: Long, ts: Long) =
    s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$ts,
       |"source":{"schema":"public","table":"users","lsn":$lsn,"txId":7}}""".stripMargin.replace("\n", "")

  test("decodes Debezium ops, types the payload, zero-pads the LSN (S2/S3/T5)") {
    import spark.implicits._
    val raw = Seq(
      env("c", "null", """{"id":1,"name":"alice"}""", 100, 1704067200000L),
      env("r", "null", """{"id":2,"name":"bob"}""", 101, 1704067201000L),
      env("u", """{"id":1,"name":"alice"}""", """{"id":1,"name":"alicia"}""", 102, 1704067202000L),
      env("d", """{"id":2,"name":"bob"}""", "null", 103, 1704067203000L),
      env("t", "null", "null", 104, 1704067204000L),
    ).toDF("json")

    val decoded = EnvelopeDecoder.decode(raw, "json", payload)
    val ops = decoded.select(Cdc.OpColumn).as[String].collect().toSeq
    assert(ops === Seq("INSERT", "INSERT", "UPDATE", "DELETE", "TRUNCATE"))
    assert(decoded.select(Cdc.LsnColumn).as[String].head() === "0000000000000100")
    assert(decoded.schema("after").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("id").dataType
      === org.apache.spark.sql.types.LongType)

    val flat = EnvelopeDecoder.flattened(decoded)
    // DELETE rows flatten the BEFORE image
    val del = flat.filter(col(Cdc.OpColumn) === "DELETE").select("name").as[String].head()
    assert(del === "bob")
    // UPDATE rows flatten the AFTER image
    val upd = flat.filter(col(Cdc.OpColumn) === "UPDATE").select("name").as[String].head()
    assert(upd === "alicia")
    // TRUNCATE carries no row image (ref reader.go:237-238)
    assert(flat.filter(col(Cdc.OpColumn) === "TRUNCATE").select("id").head().isNullAt(0))
  }

  test("rate-limited file source bounds each micro-batch (T8)") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-rate-src").toString
    // 4 separate files -> with maxFilesPerTrigger=1, AvailableNow must
    // split the backlog into multiple admission-bounded batches
    (1 to 4).foreach { i =>
      Seq((i.toLong, "INSERT",
        java.sql.Timestamp.valueOf(f"2024-01-0$i 00:00:00"), f"$i%016d", "users"))
        .toDF("event_id", "_cdc_operation", "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema
    val stream = graft.streaming.IngestPipeline.fileEnvelopeSource(spark, srcDir, schema, 1)
    val cfg = graft.streaming.IngestConfig(
      outDir = Files.createTempDirectory("graft-rate-out").toString,
      dlqDir = Files.createTempDirectory("graft-rate-dlq").toString,
      checkpointDir = Files.createTempDirectory("graft-rate-ckpt").toString)
    val q = graft.streaming.IngestPipeline.start(stream, cfg, availableNow = true)
    q.awaitTermination()
    assert(CdcWriter.read(spark, s"${cfg.outDir}/users").count() === 4)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 4, s"expected 4 rate-limited batches, saw ${batches.length}")
  }
}
