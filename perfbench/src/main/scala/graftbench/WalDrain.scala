package graftbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.{Cdc, CdcWriter, EnvelopeDecoder}
import graft.lake.SnapshotLog
import graft.queries.CdcQueries

/** Shared ingest-side helpers. */
object Ingest {

  /** The decoded, flattened envelope stream over a Debezium log. */
  def stream(c: Ctx, log: Path, maxEvents: Int): DataFrame = {
    val raw = c.spark.readStream.format("graft.sources.CdcLogSource")
      .option("path", log.toString)
      .option("maxEventsPerBatch", maxEvents.toString)
      .load()
    EnvelopeDecoder.flattened(
      EnvelopeDecoder.decode(raw, "value", CdcQueries.SourcePayloadSchema))
  }

  /** The same envelope read as a plain batch of text lines, for
    * recomputing expected answers without the streaming source. */
  def batch(c: Ctx, log: Path): DataFrame =
    EnvelopeDecoder.flattened(EnvelopeDecoder.decode(
      c.spark.read.text(log.toString), "value", CdcQueries.SourcePayloadSchema))

  /** Jobs that started inside `[s, e]`. */
  def jobsIn(c: Ctx, s: Double, e: Double): Seq[JobRec] =
    c.jobs.toSeq.flatMap(_.jobs).filter(j => j.startMs >= s && j.startMs <= e)

  /** Streaming-layer metrics from the progress reports of measured batches. */
  def streaming(c: Ctx, prog: Seq[Progress]): Unit = {
    c.set("streaming.trigger_s", Stats.median(prog.map(_.dur("triggerExecution") / 1000.0)))
    c.set("streaming.overhead_ms", Stats.median(prog.map(p =>
      p.dur("triggerExecution") - p.dur("addBatch"))))
    c.set("streaming.commit_log_ms", Stats.median(prog.map(p =>
      p.dur("walCommit") + p.dur("commitOffsets"))))
    c.set("streaming.batches", prog.size.toDouble)
    c.set("streaming.rows_per_batch", Stats.median(prog.map(_.rows.toDouble)))
  }

  def logFnHistogram(c: Ctx, js: Seq[JobRec]): Unit =
    c.log("jobs by function: " + js.groupBy(_.fn).toSeq.sortBy(-_._2.size)
      .map { case (f, g) => s"$f=${g.size}" }.mkString(" "))
}

/** `wal_drain`: a closed-loop capacity drain of a pre-generated Debezium log
  * through `CdcLogSource` → `EnvelopeDecoder` → `CdcWriter.merge` into one
  * SnapshotLog table with `Trigger.AvailableNow`, then point and range
  * reads of the result over `/query/sql`. */
object WalDrain {

  private case class Batch(id: Long, startMs: Double, endMs: Double, touched: Int)

  private def genParams(c: Ctx, events: Long): GenParams = {
    val days = c.int("days")
    GenParams(tables = Seq("orders"), insertShare = c.num("insert_share"),
      updateShare = c.num("update_share"), recentWindow = c.int("recent_window"),
      users = c.int("users"), msPerEvent = days * 86400000L / events,
      t0Ms = 1767225600000L, // 2026-01-01T00:00:00Z
      truncateAt = Some((events * c.num("truncate_at")).toLong))
  }

  private def drain(c: Ctx, log: Path, table: Path, ckpt: Path, name: String,
                    batchEvents: Int, out: java.util.List[Batch]): (Double, String) = {
    val spark = c.spark
    val t0 = Spans.clock()
    val q = Ingest.stream(c, log, batchEvents).writeStream
      .queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        // the stream thread inherits the call site of `start`; clear it so
        // each job records the engine function that submitted it
        spark.sparkContext.clearCallSite()
        val s = Spans.clock()
        val touched = CdcWriter.merge(spark, table.toString, b, Seq("event_id"))
        out.add(Batch(id, s, Spans.clock(), touched.size))
        ()
      }
      .start()
    q.awaitTermination()
    val wall = (Spans.clock() - t0) / 1000.0
    c.progress.awaitTerminated(q.id.toString)
    (wall, q.id.toString)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val batchEvents = c.int("batch_events")
    // the first `warmup_batches` batches of the drain are unmeasured: they
    // compile the plans and warm the JIT on the same table
    val warmN = c.int("warmup_batches").toLong * batchEvents
    val measuredN = c.int("events_per_second") * (if (c.quick) 1 else c.seconds).toLong
    val events = warmN + measuredN
    val wh = c.work.resolve("wh")
    val table = wh.resolve("drain").resolve("orders")

    // set-up, repeated: publish the log, build the source's LSN index over
    // it, bring the service up. The last repetition's log and service stay.
    var handle: graft.Serve.Handle = null
    var gen: Gen = null
    var log: Path = null
    val setups = (1 to c.int("setup_reps")).map { r =>
      if (handle != null) handle.close()
      val t0 = Spans.clock()
      gen = new Gen(c.seed, genParams(c, events))
      log = c.work.resolve(s"log-$r")
      Gen.writeLog(log, gen, events, c.int("segments"))
      graft.sources.CdcLog.lsnIndex(log.toString)
      handle = c.serve(wh)
      (Spans.clock() - t0) / 1000.0
    }
    c.set("setup_s", Stats.median(setups))
    val api = new Api(handle.api.baseUri)
    try {
      // the measured phase starts when the last warm-up batch is seen committed
      val warmBatches = c.int("warmup_batches").toLong
      val mark = new java.util.concurrent.atomic.AtomicReference[(Double, Double, Double)]()
      c.progress.onProgress = p =>
        if (p.batchId == warmBatches - 1) mark.set((p.seenMs, Host.cpuSeconds(), Host.gcSeconds()))
      val batches = new java.util.ArrayList[Batch]()
      val (_, qid) = drain(c, log, table, c.work.resolve("ckpt"),
        "perfbench-drain", batchEvents, batches)
      val cpu1 = Host.cpuSeconds(); val gc1 = Host.gcSeconds()
      val all = c.progress.forQuery(qid)
      all.foreach(_ => c.op(ok = true))
      val (t0, cpu0, gc0) = mark.get
      val prog = all.filter(_.batchId >= warmBatches)
      val wall = (prog.map(_.seenMs).max - t0) / 1000.0
      import scala.jdk.CollectionConverters._
      val bs = batches.asScala.toSeq.filter(_.id >= warmBatches)
      // every event of the backlog is due when the measured phase starts and
      // visible when its batch is seen committed
      val visible = prog.flatMap(p => Iterator.fill(p.rows.toInt)((p.seenMs - t0) / 1000.0))
      c.set("rate_per_s", visible.size / wall)
      c.set("latency_p50_s", Stats.median(visible))
      c.set("latency_p90_s", Stats.q(visible, 0.9))
      val snap = SnapshotLog.currentSnapshot(spark, table.toString).get
      c.set("bytes_per_row", snap.files.map(_.sizeBytes).sum.toDouble /
        math.max(1L, snap.totalRows))
      c.log(f"drained ${visible.size} measured events in $wall%.2f s, ${prog.size} batches, " +
        s"${snap.totalRows} live rows, ${snap.files.size} files, " +
        s"${snap.files.map(_.partition).distinct.size} days; batch seconds: " +
        all.map(p => f"${p.dur("triggerExecution") / 1000.0}%.2f").mkString(" "))

      // correctness: the stored table equals the whole log's current state
      val cols = Seq("event_id", "user_id", "value", Cdc.LsnColumn).map(col)
      val expected = Cdc.currentStateWithTruncate(Ingest.batch(c, log), Seq("event_id"))
        .select(cols: _*)
      val actual = CdcWriter.read(spark, table.toString).select(cols: _*)
      val extra = actual.exceptAll(expected).count()
      val missing = expected.exceptAll(actual).count()
      c.gate("wal_drain table == Cdc.currentStateWithTruncate(log)",
        extra == 0 && missing == 0 && snap.totalRows == gen.live.size,
        s"extra=$extra missing=$missing rows=${snap.totalRows} model=${gen.live.size}")

      // reads of the drained table over the API, checked against the model
      val qtrace = if (c.trace) Some(new QueryTrace(c)) else None
      val reads = Reads.drained(c, api, gen, "graft.drain.orders", qtrace)
      c.set("read_p50_s", Stats.median(reads))
      c.set("read_p90_s", Stats.q(reads, 0.9))

      if (c.trace) {
        layers(c, prog, bs, measuredN, table, t0)
        qtrace.foreach(_.emit())
      }
      c.set("host.gc_s", gc1 - gc0)
      c.set("host.cpu_busy_share", (cpu1 - cpu0) /
        (wall * Runtime.getRuntime.availableProcessors()))
    } finally handle.close()
  }

  /** Per-layer numbers of the drain, from progress reports, job records and
    * the table's commit history. */
  private def layers(c: Ctx, prog: Seq[Progress], bs: Seq[Batch], events: Long,
                     table: Path, since: Double): Unit = {
    val byId = bs.map(b => b.id -> b).toMap
    val per = prog.flatMap(p => byId.get(p.batchId).map(b => (p, b)))
    val allJobs = Ingest.jobsIn(c, since, Double.MaxValue)
    Ingest.logFnHistogram(c, allJobs)
    case class B(jobs: Seq[JobRec], p: Progress, b: Batch)
    val rows = per.map { case (p, b) => B(Ingest.jobsIn(c, b.startMs, b.endMs), p, b) }
    def sumFn(js: Seq[JobRec], f: String => Boolean) =
      js.filter(j => f(j.fn)).map(j => j.endMs - j.startMs).sum / 1000.0
    val coverage = rows.map { r =>
      val phases = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets").map(r.p.dur).sum
      // merge span = its jobs + the merge's driver remainder
      (phases + (r.b.endMs - r.b.startMs)) / math.max(1.0, r.p.dur("triggerExecution"))
    }
    c.log(f"batch coverage min=${coverage.min}%.3f median=${Stats.median(coverage)}%.3f " +
      f"max=${coverage.max}%.3f")
    // write the spans of each batch: trigger → merge → jobs
    rows.foreach { r =>
      val trig = Spans.add("streaming.trigger", r.p.startMs,
        r.p.startMs + r.p.dur("triggerExecution"), group = s"drain/${r.p.batchId}")
      val merge = Spans.add("ingest.merge", r.b.startMs, r.b.endMs, trig,
        s"drain/${r.p.batchId}")
      r.jobs.foreach(j => Spans.add(s"job:${j.fn}", j.startMs, j.endMs, merge,
        s"drain/${r.p.batchId}"))
    }
    val isWrite = (f: String) => f.startsWith("SnapshotLog.")
    c.set("trace.batch_coverage", Stats.median(coverage))
    c.set("sources.admit_ms", Stats.median(prog.map(_.dur("latestOffset"))))
    c.set("sources.read_task_s", Stats.median(rows.map(_.jobs.map(_.logScanTaskS).sum)))
    c.set("sources.read_us_per_event",
      rows.map(_.jobs.map(_.logScanTaskS).sum).sum / events * 1e6)
    Ingest.streaming(c, prog)
    c.set("ingest.merge_s", Stats.median(bs.map(b => (b.endMs - b.startMs) / 1000.0)))
    c.set("ingest.process_batch_s", Stats.median(prog.map(_.dur("addBatch") / 1000.0)))
    c.set("ingest.merge_jobs", Stats.median(rows.map(_.jobs.size.toDouble)))
    c.set("ingest.merge_tasks", Stats.median(rows.map(_.jobs.map(_.tasks).sum.toDouble)))
    c.set("ingest.truncate_probe_s", Stats.median(rows.map(r => sumFn(r.jobs, _ == "CdcWriter.merge"))))
    c.set("ingest.day_probe_s", Stats.median(rows.map(r => sumFn(r.jobs, _ == "CdcWriter.merge0"))))
    c.set("lake.write_s", Stats.median(rows.map(r => sumFn(r.jobs, isWrite))))
    c.set("lake.commit_ms", Stats.median(rows.map { r =>
      r.b.endMs - (r.jobs.map(_.endMs) :+ r.b.startMs).max
    }))
    c.set("ingest.touched_days", Stats.median(bs.map(_.touched.toDouble)))
    // commit history: files and rows each merge wrote
    val snaps = SnapshotLog.snapshots(c.spark, table.toString).sortBy(_.id)
    // one commit per batch: the measured batches made the last commits
    val diffs = snaps.zip(None +: snaps.map(Some(_))).takeRight(bs.size).map { case (s, prev) =>
      val before = prev.toSeq.flatMap(_.files.map(_.path)).toSet
      val added = s.files.filterNot(f => before(f.path))
      (added.size, added.map(_.rows).sum, added.map(_.sizeBytes).sum,
        s.files.map(_.partition).distinct.size)
    }
    c.set("ingest.touched_share", Stats.median(bs.zip(diffs).map { case (b, d) =>
      b.touched.toDouble / math.max(1, d._4) }))
    c.set("ingest.rows_rewritten_per_event", diffs.map(_._2).sum.toDouble / events)
    c.set("lake.files_added_per_batch", Stats.median(diffs.map(_._1.toDouble)))
    c.set("lake.bytes_added_per_event", diffs.map(_._3).sum.toDouble / events)
    c.set("lake.snapshot_files", snaps.last.files.size.toDouble)
    c.set("lake.resolve_ms", Stats.median((1 to 20).map { _ =>
      val t = Spans.clock()
      SnapshotLog.currentSnapshot(c.spark, table.toString)
      Spans.clock() - t
    }))
  }
}
