package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Times are epoch milliseconds (fractional), so spans
  * from the benchmark's timers, Spark jobs and streaming progress share
  * one clock. `group` ties spans of one batch or query together. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, group: String) {
  def ms: Double = endMs - startMs
}

/** In-memory span store. Spans are kept until the run ends, then written
  * as JSON lines with their self time (duration minus the part of the
  * interval its children cover). */
object Spans {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond resolution. */
  def clock(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  def add(name: String, startMs: Double, endMs: Double,
          parent: Long = 0L, group: String = ""): Long = {
    val id = ids.incrementAndGet()
    if (enabled) all.add(Span(id, name, startMs, endMs, parent, group))
    id
  }

  def snapshot: Seq[Span] = all.asScala.toSeq

  /** Milliseconds of `[s, e]` covered by the union of `ivs`. */
  def covered(s: Double, e: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def write(path: java.nio.file.Path): Unit = {
    val spans = snapshot
    val kids = spans.groupBy(_.parent)
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      val self = s.ms - covered(s.startMs, s.endMs,
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      sb.append(f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"group":"${s.group}",""" +
        f""""self_ms":$self%.3f}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** A finished Spark job, attributed to the graft function that started it
  * (the innermost `graft.` frame of Spark's recorded call site, by name —
  * line numbers are dropped). */
final case class JobRec(id: Int, fn: String, startMs: Double, endMs: Double,
                        tasks: Int, taskS: Double, bytesRead: Long,
                        recordsRead: Long, logScanTaskS: Double, tag: String)

/** Records every Spark job with its stages' task metrics. Registered only
  * in traced runs. */
final class JobListener extends SparkListener {
  private case class Open(fn: String, startMs: Double, stages: Seq[Int], tag: String)
  private case class StageAgg(tasks: Int, taskS: Double, bytes: Long,
                              records: Long, logScan: Boolean)
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, JobListener.attribute(s.details))
    case _ =>
  }
  val done = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage's details are the job's call site (long form)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
      .filter(_.nonEmpty)
      .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.long"))))
      .getOrElse("")
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.TagKey)))
    // AQE submits query stages from a pool thread whose stack holds no
    // engine frame; such a job belongs to the SQL execution it runs for
    val direct = JobListener.attribute(site)
    val fn = if (direct != "other") direct else Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong))).getOrElse(direct)
    open.put(e.jobId, Open(fn, e.time.toDouble,
      e.stageInfos.map(_.stageId), tag.getOrElse("")))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    // the CDC log source is the only micro-batch scan in the benchmark
    val logScan = si.rddInfos.exists(_.scope.exists(_.name.startsWith("MicroBatchScan")))
    if (m != null)
      stages.put(si.stageId, StageAgg(si.numTasks, m.executorRunTime / 1000.0,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, logScan))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o != null) {
      val ss = o.stages.flatMap(s => Option(stages.get(s)))
      done.add(JobRec(e.jobId, o.fn, o.startMs, e.time.toDouble,
        ss.map(_.tasks).sum, ss.map(_.taskS).sum, ss.map(_.bytes).sum,
        ss.map(_.records).sum, ss.filter(_.logScan).map(_.taskS).sum, o.tag))
    }
  }

  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.startMs)
}

object JobListener {
  /** Local property naming the benchmark operation that submitted a job. */
  val TagKey = "perfbench.tag"
  private val Frame = """^\s*(?:at\s+)?graft\.([\w.$]+)\.([\w$]+)\(.*$""".r

  /** `graft.ingest.CdcWriter$.$anonfun$merge$1(CdcWriter.scala:175)` →
    * `CdcWriter.merge`. */
  def attribute(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim).collectFirst {
      case Frame(cls, method) =>
        val simple = cls.split('.').last.stripSuffix("$").split('$').head
        val m =
          if (method.startsWith("$anonfun$")) method.stripPrefix("$anonfun$").split('$').head
          else method.split('$').head
        s"$simple.$m"
    }.getOrElse("other")
}

/** Streaming progress of every micro-batch, kept for all runs: batch wall
  * time and commit visibility come from Spark's own progress reports. */
final case class Progress(queryId: String, batchId: Long, startMs: Double,
                          seenMs: Double, rows: Long, endLsn: Long,
                          durations: Map[String, Long]) {
  def dur(phase: String): Double = durations.getOrElse(phase, 0L).toDouble
}

final class ProgressListener extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[Progress]()
  val terminated = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  /** Called on the listener bus for every progress event. */
  @volatile var onProgress: Progress => Unit = _ => ()
  private val LsnRe = """"lsn"\s*:\s*(-?\d+)""".r

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => LsnRe.findFirstMatchIn(o).map(_.group(1).toLong)).getOrElse(-1L)
    val pr = Progress(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, Spans.clock(),
      p.numInputRows, end,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    all.add(pr)
    onProgress(pr)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.put(e.id.toString, true)

  def forQuery(id: String): Seq[Progress] =
    all.asScala.toSeq.filter(p => p.queryId == id && p.rows > 0).sortBy(_.batchId)

  /** Block until the bus has delivered the query's terminal event, so every
    * progress report of the query has been seen. */
  def awaitTerminated(id: String, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.containsKey(id) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}
