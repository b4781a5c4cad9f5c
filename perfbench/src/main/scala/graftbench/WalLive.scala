package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.Cdc
import graft.sources.CdcLog
import graft.streaming.{IngestConfig, IngestPipeline}

/** `wal_live`: an open-loop publisher appends log segments at a fixed
  * offered rate over several source tables while `IngestPipeline.start`
  * (processing-time trigger) routes and appends each batch, and one
  * closed-loop client runs point and range lookups on the live tables over
  * `/query/sql`. Each event is timed from when it was due. */
object WalLive {

  private def opName(op: Char): String = op match {
    case 'c' => "INSERT"
    case 'u' => "UPDATE"
    case 'd' => "DELETE"
    case _   => "TRUNCATE"
  }

  /** Live tables are read as the layout the sink wrote: through the catalog
    * once the directory is a snapshot table, as a parquet directory before. */
  private def tableRef(c: Ctx, out: Path, t: String): String =
    if (graft.lake.SnapshotLog.isSnapshotTable(c.spark, out.resolve(t).toString))
      s"graft.${out.getFileName}.$t"
    else s"parquet.`${out.resolve(t)}`"

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rate = c.num("offered_eps")
    val segMs = c.int("segment_ms")
    val warmS = c.num("warmup_s")
    val measS = if (c.quick) c.num("seconds") else c.seconds.toDouble
    val tables = (0 until c.int("tables")).map(i => s"orders_$i")
    // pre-warm events (published before the schedule starts, so the first,
    // slow batches compile the plans) then the paced schedule
    val pre = c.int("prewarm_segments") * c.int("prewarm_events")
    val total = pre + (rate * (warmS + measS)).toLong
    val wh = c.work.resolve("wh")
    val out = wh.resolve("stream")
    val lsn0 = 1L
    def params = GenParams(tables, c.num("insert_share"), c.num("update_share"),
      c.int("recent_window"), c.int("users"),
      msPerEvent = math.max(1L, math.round(1000.0 / rate)),
      t0Ms = 1767268800000L) // 2026-01-01T12:00:00Z

    // set-up, repeated: generate the stream, bring the service up
    var handle: graft.Serve.Handle = null
    var events: Vector[Ev] = null
    val setups = (1 to c.int("setup_reps")).map { _ =>
      if (handle != null) handle.close()
      val t0 = Spans.clock()
      val g = new Gen(c.seed, params, lsn0)
      events = Vector.fill(total.toInt)(g.next())
      handle = c.serve(wh)
      (Spans.clock() - t0) / 1000.0
    }
    c.set("setup_s", Stats.median(setups))
    val api = new Api(handle.api.baseUri)
    val log = c.work.resolve("live-log")
    Files.createDirectories(log)

    // commit visibility: each progress report names the last LSN committed
    val commits = new ConcurrentLinkedQueue[(Long, Double)]()
    val committed = new AtomicLong(-1L)
    c.progress.onProgress = p =>
      if (p.rows > 0 && p.endLsn >= lsn0) {
        commits.add((p.endLsn - lsn0, p.seenMs))
        committed.accumulateAndGet(p.endLsn - lsn0, math.max)
      }
    val cfg = IngestConfig(out.toString, c.work.resolve("dlq").toString,
      c.work.resolve("live-ckpt").toString, sourceId = "perfbench",
      triggerMs = c.int("trigger_ms").toLong)
    val query = IngestPipeline.start(Ingest.stream(c, log, c.int("max_batch_events")), cfg,
      beforeBatch = _ => spark.sparkContext.clearCallSite())

    // pre-warm: one segment at a time, each waited for, then a few reads
    (0 until c.int("prewarm_segments")).foreach { i =>
      val from = i * c.int("prewarm_events")
      val to = from + c.int("prewarm_events")
      Gen.publish(log, f"pre-$i%04d.jsonl", events.slice(from, to))
      val deadline = Spans.clock() + 60000.0
      while (committed.get < to - 1 && Spans.clock() < deadline) Thread.sleep(10)
    }
    (0 until c.int("read_warmup")).foreach { i =>
      val e = events((i * 97) % pre)
      try api.sql(s"SELECT count(*) FROM ${tableRef(c, out, e.table)} " +
        s"WHERE ${Cdc.LsnColumn} = '${CdcLog.lsnString(e.lsn)}'")
      catch { case ex: Exception => c.log(s"warm-up read error: $ex") }
    }
    c.log("pre-warm done, batch seconds: " + c.progress.forQuery(query.id.toString)
      .map(p => f"${p.dur("triggerExecution") / 1000.0}%.2f").mkString(" "))

    val t0 = Spans.clock() + 100.0
    val tW = t0 + warmS * 1000.0
    val tEnd = tW + measS * 1000.0
    def due(j: Long): Double = t0 + (j - pre) * 1000.0 / rate
    val published = new AtomicLong(-1L)
    val lateness = new ConcurrentLinkedQueue[Double]()
    val backlog = new ConcurrentLinkedQueue[(Double, Double)]()
    val cpu0 = new java.util.concurrent.atomic.AtomicReference[(Double, Double)]()
    val cpu1 = new java.util.concurrent.atomic.AtomicReference[(Double, Double)]()

    val publisher = new Thread(() => {
      val perSeg = rate * segMs / 1000.0
      var i = 0L
      var from = pre.toLong
      while (from < total) {
        val to = math.min(total, pre + math.floor((i + 1) * perSeg).toLong)
        val at = t0 + (i + 1) * segMs
        val wait = at - Spans.clock()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        if (to > from) {
          Gen.publish(log, f"seg-$i%08d.jsonl", events.slice(from.toInt, to.toInt))
          published.set(to - 1)
          lateness.add(Spans.clock() - at)
        }
        val now = Spans.clock()
        if (now >= tW && cpu0.get == null) cpu0.set((Host.cpuSeconds(), Host.gcSeconds()))
        if (now >= tW && now < tEnd)
          backlog.add((now / 1000.0, (published.get - committed.get).toDouble))
        from = to
        i += 1
      }
      cpu1.set((Host.cpuSeconds(), Host.gcSeconds()))
    }, "perfbench-publisher")
    publisher.setDaemon(true)

    // one closed-loop reader over the committed part of the live tables
    val reads = mutable.ArrayBuffer.empty[Double]
    val qtrace = if (c.trace) Some(new QueryTrace(c)) else None
    val reader = new Thread(() => {
      val rnd = new java.util.Random(c.seed * 17 + 3)
      val span = c.int("range_events")
      var i = 0L
      while (Spans.clock() < tEnd) {
        val ci = committed.get
        if (ci < span) Thread.sleep(20)
        else {
          val back = math.min(ci, (rate * 2).toLong)
          val j = ci - (rnd.nextDouble() * back).toLong
          val e = events(j.toInt)
          val tref = tableRef(c, out, e.table)
          // two point lookups per range count: the median then falls inside
          // one kind's latencies instead of on the boundary between two
          val (sql, want) =
            if (i % 3 != 2)
              (s"SELECT event_id, ${Cdc.OpColumn} FROM $tref " +
                s"WHERE ${Cdc.LsnColumn} = '${CdcLog.lsnString(e.lsn)}'",
                Answer.ofCells(Seq(Seq[Any](e.key, opName(e.op)))))
            else {
              val a = math.max(0L, j - span)
              val n = (a to j).count(k => events(k.toInt).table == e.table)
              (s"SELECT count(*) FROM $tref WHERE ${Cdc.LsnColumn} BETWEEN " +
                s"'${CdcLog.lsnString(events(a.toInt).lsn)}' AND '${CdcLog.lsnString(e.lsn)}'",
                Answer.ofCells(Seq(Seq[Any](n.toLong))))
            }
          val s = Spans.clock()
          val (ok, pages) = try {
            val (rows, p) = api.sql(sql)
            (Answer.ofJson(rows) == want, p)
          } catch { case ex: Exception => c.log(s"live read error: $ex"); (false, 0) }
          val secs = (Spans.clock() - s) / 1000.0
          if (s >= tW) {
            reads.synchronized { reads += secs }
            c.synchronized(c.op(ok, s"live read `$sql`"))
            qtrace.foreach(_.record(sql, s, s + secs * 1000.0, pages))
          }
          i += 1
        }
      }
    }, "perfbench-reader")
    reader.setDaemon(true)

    try {
      publisher.start()
      reader.start()
      publisher.join()
      reader.join()
      // let the pipeline catch up with everything published, then stop it
      val deadline = Spans.clock() + 60000.0
      while (committed.get < total - 1 && Spans.clock() < deadline) Thread.sleep(20)
    } finally {
      query.stop()
      c.progress.awaitTerminated(query.id.toString)
      handle.close()
    }
    val prog = c.progress.forQuery(query.id.toString)
    prog.foreach(_ => c.synchronized(c.op(ok = true)))

    // freshness of every measured event: due time → commit seen
    val cs = commits.asScala.toSeq.sortBy(_._1)
    val first = pre + math.ceil((tW - t0) * rate / 1000.0).toLong
    val fresh = mutable.ArrayBuffer.empty[Double]
    var k = 0
    var lastSeen = tW
    (first until total).foreach { j =>
      while (k < cs.size && cs(k)._1 < j) k += 1
      if (k < cs.size) {
        fresh += (cs(k)._2 - due(j)) / 1000.0
        lastSeen = math.max(lastSeen, cs(k)._2)
      }
    }
    val measured = total - first
    c.log(f"offered ${rate}%.0f ev/s, ${measured} measured events, ${fresh.size} committed, " +
      s"${prog.size} batches, ${reads.size} reads")
    c.gate("every measured event committed", fresh.size == measured,
      s"${fresh.size} of $measured")
    c.set("latency_p50_s", Stats.median(fresh))
    c.set("latency_p90_s", Stats.q(fresh, 0.9))
    c.set("rate_per_s", fresh.size / math.max(1e-3, (lastSeen - tW) / 1000.0))
    c.set("read_p50_s", Stats.median(reads))
    c.set("read_p90_s", Stats.q(reads, 0.9))

    // correctness: every published event is in its routed table exactly once
    import spark.implicits._
    val expected = events.map(e => (e.table, CdcLog.lsnString(e.lsn))).toDF("t", "lsn")
    val actual = tables.map { t =>
      graft.ingest.CdcWriter.read(spark, out.resolve(t).toString)
        .select(lit(t).as("t"), col(Cdc.LsnColumn).as("lsn"))
    }.reduce(_ union _)
    val extra = actual.exceptAll(expected).count()
    val missing = expected.exceptAll(actual).count()
    c.gate("wal_live exactly once per routed table", extra == 0 && missing == 0,
      s"extra=$extra missing=$missing")
    val dlq = c.work.resolve("dlq")
    val dlqRows =
      if (Files.exists(dlq) && Files.walk(dlq).iterator().asScala.exists(_.toString.endsWith(".parquet")))
        spark.read.parquet(dlq.toString).count()
      else 0L
    c.gate("no dead-lettered batch", dlqRows == 0, s"$dlqRows rows")
    val files = Files.walk(out).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    val bytes = files.map(Files.size).sum
    c.set("bytes_per_row", bytes.toDouble / math.max(1L, total))

    val (cpuA, gcA) = Option(cpu0.get).getOrElse((0.0, 0.0))
    val (cpuB, gcB) = Option(cpu1.get).getOrElse((cpuA, gcA))
    c.set("host.gc_s", gcB - gcA)
    c.set("host.cpu_busy_share", (cpuB - cpuA) /
      (measS * Runtime.getRuntime.availableProcessors()))
    if (c.trace) {
      val all = Ingest.jobsIn(c, t0, Double.MaxValue)
      Ingest.logFnHistogram(c, all)
      Ingest.streaming(c, prog)
      c.set("sources.admit_ms", Stats.median(prog.map(_.dur("latestOffset"))))
      val perBatch = prog.map(p => Ingest.jobsIn(c, p.startMs, p.startMs + p.dur("triggerExecution"))
        .filter(_.tag.isEmpty))
      c.set("sources.read_task_s", Stats.median(perBatch.map(_.map(_.logScanTaskS).sum)))
      c.set("sources.read_us_per_event",
        perBatch.map(_.map(_.logScanTaskS).sum).sum / math.max(1L, total) * 1e6)
      c.set("ingest.process_batch_s", Stats.median(prog.map(_.dur("addBatch") / 1000.0)))
      c.set("lake.write_s", Stats.median(perBatch.map(js =>
        js.filter(_.fn == "CdcWriter.write").map(j => j.endMs - j.startMs).sum / 1000.0)))
      c.set("lake.files_added_per_batch", files.size.toDouble / math.max(1, prog.size))
      c.set("lake.bytes_added_per_event", bytes.toDouble / math.max(1L, total))
      c.set("lake.snapshot_files", files.size.toDouble)
      c.set("ingest.dlq_rows", dlqRows.toDouble)
      val bl = backlog.asScala.toSeq
      c.set("streaming.backlog_events", Stats.median(bl.map(_._2)))
      c.set("streaming.backlog_growth_eps", Stats.slope(bl))
      c.set("streaming.gen_late_ms", Stats.median(lateness.asScala))
      prog.foreach { p =>
        Spans.add("streaming.trigger", p.startMs, p.startMs + p.dur("triggerExecution"),
          group = s"live/${p.batchId}")
      }
      qtrace.foreach(_.emit())
    }
  }
}
