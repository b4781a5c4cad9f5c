package graft.sources

import graft.SparkTestBase
import graft.queries.CdcQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The DSv2 CDC source contract (S1 skeleton): LSN offsets, admission
  * bounds, exactly-once resume from the checkpointed LSN over an
  * append-only log — the replication-slot semantics of ref
  * internal/cdc/source/postgres/reader.go, minus the live socket. */
class CdcLogSourceSpec extends SparkTestBase {

  private val Fmt = "graft.sources.CdcLogSource"

  test("splitRange partitions one admission interval exactly: full coverage, no overlap, LSN-atomic") {
    val dir = Files.createTempDirectory("graft-wal-split").toString
    CdcQueries.writeDebeziumLog(spark, sf0001, dir)
    val idx = CdcLog.lsnIndex(dir)
    val n = idx.length
    assert(n > 0)
    // a duplicate-free check is vacuous if splitRange can't see dups —
    // exercise both a mid-log interval and the full log, several widths
    for (maxParts <- Seq(1, 3, 8, 64);
         (lo, hi) <- Seq((-1L, Long.MaxValue),
           (idx(n / 4), idx(3 * n / 4)), (idx(0), idx(0)))) {
      val parts = CdcLog.splitRange(dir, lo, hi, minRows = 16, maxParts)
      // contiguous: each range starts where the previous ended
      assert(parts.head.startLsn === lo)
      assert(parts.last.endLsn === hi)
      parts.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0).endLsn === w(1).startLsn)
      }
      // exact coverage: per-range pending counts sum to the interval's
      val from = CdcLog.upperBound(idx, lo)
      val upTo = if (hi == Long.MaxValue) n else CdcLog.upperBound(idx, hi)
      val per = parts.map(p =>
        (if (p.endLsn == Long.MaxValue) n else CdcLog.upperBound(idx, p.endLsn)) -
          CdcLog.upperBound(idx, p.startLsn))
      assert(per.sum === upTo - from, s"coverage broke at $lo..$hi×$maxParts")
      // LSN-atomic: no cut boundary splits a duplicate LSN (all cuts are
      // realized LSN values, ranges are (lo, hi] — an LSN's events all
      // satisfy exactly one range)
      parts.dropRight(1).foreach(p =>
        assert(idx.contains(p.endLsn), s"cut ${p.endLsn} is not a log LSN"))
    }
    // the floor keeps small intervals single-task
    assert(CdcLog.splitRange(dir, -1L, Long.MaxValue, minRows = n + 1,
      maxParts = 64).length === 1)
  }

  test("batch read surfaces every event exactly once with sortable LSNs") {
    val dir = Files.createTempDirectory("graft-wal-batch").toString
    CdcQueries.writeDebeziumLog(spark, sf0001, dir)
    val n = graft.Tables.events(spark, sf0001).count()
    val read = spark.read.format(Fmt).option("path", dir).load()
    assert(read.count() === n)
    assert(read.select(countDistinct(col("lsn"))).collect()(0).getLong(0) === n)
    // zero-padded LSN strings sort identically to their numeric order
    val lsns = read.select(col("lsn")).orderBy(col("lsn")).collect().map(_.getString(0))
    assert(lsns.sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
  }

  test("malformed log lines are skipped, well-formed ones still surface") {
    val dir = Files.createTempDirectory("graft-wal-bad")
    Files.writeString(dir.resolve("log.json"),
      """{"op":"c","ts_ms":1,"source":{"schema":"s","table":"t","lsn":7,"txId":7}}
        |not json at all
        |{"op":"u","ts_ms":2,"source":{"schema":"s","table":"t"}}
        |{"op":"u","ts_ms":2,"source":{"schema":"s","table":"t","lsn":9,"txId":9}}
        |""".stripMargin)
    val rows = spark.read.format(Fmt).option("path", dir.toString).load().collect()
    // the garbage line and the lsn-less line are dropped, the rest keep order
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("0000000000000007", "0000000000000009"))
  }

  /** A fixed-width Debezium line, so two lines of different LSNs have
    * the same length. */
  private def walLine(lsn: Long): String =
    f"""{"op":"c","after":{"id":$lsn%6d},"source":{"table":"t","lsn":$lsn%6d}}"""

  private def writeLog(f: java.nio.file.Path, lsns: Seq[Long]): Unit =
    Files.writeString(f, lsns.map(walLine).mkString("", "\n", "\n")): Unit

  test("a range inside one file of a multi-file log reads exactly that file's rows") {
    val dir = Files.createTempDirectory("graft-wal-range")
    writeLog(dir.resolve("a.json"), 1L to 10L)
    writeLog(dir.resolve("b.json"), 11L to 20L)
    writeLog(dir.resolve("c.json"), 21L to 30L)
    val path = dir.toString
    assert(CdcLog.lsnIndex(path).toSeq === (1L to 30L))
    // rewrite a and c in place with lines INSIDE b's range, keeping their
    // size and mtime: the index still holds their old bounds, so a reader
    // that opened them would return these extra rows
    for (f <- Seq(dir.resolve("a.json"), dir.resolve("c.json"))) {
      val mtime = Files.getLastModifiedTime(f)
      writeLog(f, Seq.fill(10)(15L))
      Files.setLastModifiedTime(f, mtime)
    }
    assert(CdcLog.scanRange(path, 12L, 17L).map(_._2).toSeq ===
      (13L to 17L).map(walLine))
    assert(CdcLog.scanRange(path, 10L, 20L).map(_._2).toSeq ===
      (11L to 20L).map(walLine))
    // files need not be LSN-disjoint: one whose bounds straddle the range
    // is opened and filtered
    writeLog(dir.resolve("d.json"), Seq(2L, 14L, 40L))
    assert(CdcLog.scanRange(path, 12L, 17L).map(_._1).toSeq.sorted ===
      Seq(13L, 14L, 14L, 15L, 16L, 17L))
  }

  test("the LSN index after an append equals a from-scratch rebuild") {
    val dir = Files.createTempDirectory("graft-wal-append")
    writeLog(dir.resolve("a.json"), 1L to 10L)
    writeLog(dir.resolve("b.json"), 11L to 20L)
    val path = dir.toString
    assert(CdcLog.lsnIndex(path).toSeq === (1L to 20L))
    // grow one file, add an overlapping one, drop none
    Files.writeString(dir.resolve("b.json"), (21L to 25L).map(walLine).mkString("", "\n", "\n"),
      java.nio.file.StandardOpenOption.APPEND)
    writeLog(dir.resolve("c.json"), Seq(5L, 26L, 27L))
    val incremental = CdcLog.lsnIndex(path).toSeq
    // a path string never indexed before starts from nothing
    val fresh = CdcLog.lsnIndex(s"$path/.").toSeq
    val direct = Files.list(dir).iterator().asScala.toSeq
      .flatMap(f => Files.readAllLines(f).asScala.map(CdcLog.lineLsn)).sorted
    assert(incremental === fresh)
    assert(incremental === direct)
    assert(incremental === ((1L to 27L) :+ 5L).sorted)
    // and a removed file leaves the index
    Files.delete(dir.resolve("c.json"))
    assert(CdcLog.lsnIndex(path).toSeq === (1L to 25L))
  }

  test("admission-bounded micro-batches, exactly-once resume across restart") {
    val logDir = Files.createTempDirectory("graft-wal-log")
    val out = Files.createTempDirectory("graft-wal-out").toString
    val ckpt = Files.createTempDirectory("graft-wal-ckpt").toString
    val batchSizes = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

    def writeSlice(name: String, lo: Long, hi: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-wal-slice").toString
      val payload = struct(col("user_id"), col("event_id"), col("value"))
      val nullPayload = lit(null).cast(CdcQueries.SourcePayloadSchema)
      val op = when(col("event_type") === "signup", "c")
        .when(col("event_type") === "error", "d").otherwise("u")
      graft.Tables.events(spark, sf0001)
        .where(col("event_id") >= lo && col("event_id") < hi)
        .select(to_json(struct(
          when(op === "d", payload).otherwise(nullPayload).as("before"),
          when(op =!= "d", payload).otherwise(nullPayload).as("after"),
          op.as("op"), unix_millis(col("ts")).as("ts_ms"),
          struct(lit("public").as("schema"), lit("events").as("table"),
            col("event_id").as("lsn"), col("event_id").as("txId")).as("source"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(tmp)
      val part = Files.list(java.nio.file.Paths.get(tmp)).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val f = part.next()
        if (f.getFileName.toString.startsWith("part-")) {
          Files.copy(f, logDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
          moved = true
        }
      }
      assert(moved, "no part file written")
    }

    def drain(): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("path", logDir.toString)
        .option("maxEventsPerBatch", 150)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          batchSizes.put(id, b.count())
          // idempotent per-batch target: a replayed batch overwrites itself
          b.write.mode("overwrite").parquet(s"$out/batch=$id")
        }
        .start()
      q.awaitTermination()
    }

    // phase 1: first 400 events; ceil(400/150) = 3 admission-bounded batches
    writeSlice("wal-000.json", 0, 400)
    drain()
    val phase1 = spark.read.parquet(s"$out/batch=*")
    val phase1N = phase1.count()
    val phase1Max = phase1.agg(max(col("lsn"))).collect()(0).getString(0)
    assert(phase1N === graft.Tables.events(spark, sf0001)
      .where(col("event_id") < 400).count())
    assert(batchSizes.size() >= 2, s"admission bound ignored: $batchSizes")
    assert(batchSizes.values().iterator().asScala.forall(_ <= 150),
      s"batch exceeded admission bound: $batchSizes")

    // phase 2: the log grows (append-only, like a WAL); the restarted
    // stream must resume from the checkpointed LSN — old events are NOT
    // re-emitted, new ones all are, each exactly once
    writeSlice("wal-001.json", 400, 800)
    val sizesBefore = batchSizes.size()
    drain()
    val all = spark.read.parquet(s"$out/batch=*")
    val expected = graft.Tables.events(spark, sf0001)
      .where(col("event_id") < 800).count()
    assert(all.count() === expected, "resume lost or duplicated events")
    assert(all.select(countDistinct(col("lsn"))).collect()(0).getLong(0) === expected)
    assert(batchSizes.size() > sizesBefore, "phase 2 planned no batches")
    // every phase-2 batch starts strictly after the phase-1 high watermark
    val phase2Min = all.where(col("lsn") > phase1Max).agg(min(col("lsn")))
      .collect()(0).getString(0)
    assert(phase2Min > phase1Max)

    // phase 3: idle source — a restart with no new data plans no batches
    val sizesAfter = batchSizes.size()
    drain()
    assert(batchSizes.size() === sizesAfter, "idle restart should be a no-op")
    assert(spark.read.parquet(s"$out/batch=*").count() === expected)

    // the checkpoint's offset log speaks LSN, not file positions
    val offsetDir = java.nio.file.Paths.get(ckpt, "offsets")
    val lastOffset = Files.list(offsetDir).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString).last
    assert(Files.readString(lastOffset).contains("\"lsn\""))
  }
}
