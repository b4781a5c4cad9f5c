package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.ControlPlane
import graft.ingest.{EnvelopeDecoder, EvolvingDecoder}
import graft.sources.PgWire

/** The REAL pipeline actuation the reference leaves as a TODO stub
  * (ref internal/api/services/pipeline.go:177-181 — Start only flips a
  * status column; "this will integrate with the CDC pipeline
  * orchestrator"): a [[ControlPlane.Runner]] that tails the source's
  * WAL over the pure-JVM wire client and lands every drained batch in
  * the lake through the SAME batch processor the streaming pipeline
  * uses (decode → per-table route → merge, retry → DLQ).
  *
  * Lifecycle per pipeline:
  *  - `start` performs the fallible steps ON THE CALLER's thread —
  *    connect, SCRAM if configured, slot creation, stream entry — so a
  *    bad source fails the start call (the control plane records status
  *    `error`), never a daemon that dies silently behind a "running"
  *    status. Only then does the drain loop move to a daemon thread.
  *  - the loop drains a batch, decodes it through a per-pipeline
  *    [[EvolvingDecoder]] (mid-stream schema drift lands from its first
  *    batch), filters to the pipeline's ENABLED table mappings, routes
  *    it through [[IngestPipeline.processBatch]], and only AFTER the
  *    lake commit confirms the slot — the wire client's at-least-once
  *    contract composed with the idempotent merge.
  *  - `stop` flags the loop, waits for it to finish its in-flight
  *    batch, and closes the socket.
  *
  * One WAL is one ordered stream (the reference reads it serially too);
  * the DISTRIBUTED work — decode, routing, per-table merges — happens
  * in Spark from processBatch down, so at 100 TB/day the thread here
  * only shepherds batch boundaries and slot confirmations. */
final class PgPipelineRunner(spark: SparkSession, lakeRoot: String,
                             passwordOf: ControlPlane.Source => Option[String] =
                               s => if (s.password.isEmpty) None
                                    else Some(s.password),
                             quietMs: Int = 300,
                             maxWaitMs: Long = 2000L)
  extends ControlPlane.Runner {

  private final case class Live(stopFlag: AtomicBoolean, thread: Thread,
                                wire: PgWire,
                                registry: graft.observe.Metrics.Registry,
                                pipelineName: String)
  private val live = new ConcurrentHashMap[String, Live]()

  /** Live (pipelineName, scoped registry) pairs — the provider a
    * [[graft.api.MetricsHub.Sampler]] scrapes so the per-pipeline
    * metrics routes see each pipeline's own counters (the reference's
    * per-process metrics labelled by `source`). */
  def liveRegistries(): Seq[(String, graft.observe.Metrics.Registry)] = {
    import scala.jdk.CollectionConverters._
    live.values.asScala.toSeq.map(l => (l.pipelineName, l.registry))
  }

  /** Last loop error per pipeline id, reported by [[health]]. */
  private val lastError = new ConcurrentHashMap[String, String]()

  /** Slot identity derives from the IMMUTABLE pipeline id (unless the
    * source pins a slot name): a rename must not abandon the slot that
    * retains the pipeline's un-consumed WAL (a silent data gap plus a
    * server-side WAL-retention leak), and two pipelines must never
    * collide on one slot through name sanitization. */
  private def slotNameFor(p: ControlPlane.Pipeline,
                          src: ControlPlane.Source): String =
    if (src.slotName.nonEmpty) src.slotName
    else "graft_" + p.id.toLowerCase.replaceAll("[^a-z0-9_]", "")

  override def start(p: ControlPlane.Pipeline,
                     src: ControlPlane.Source): Unit = {
    // a DEAD drain loop (crashed, error recorded) is not "live" — a
    // restart replaces it instead of refusing forever
    val prev = live.get(p.id)
    if (prev != null && !prev.thread.isAlive) live.remove(p.id, prev)
    require(!live.containsKey(p.id), s"pipeline ${p.id} is already live")
    // errors belong to a RUN, not the pipeline: health() must report
    // only the current run's failure, or a cleanly restarted pipeline
    // would read as status `error` forever
    lastError.remove(p.id)
    val publication =
      if (src.publicationName.nonEmpty) src.publicationName
      else sys.error("source has no publication_name configured")
    // fallible pre-flight on the caller: a refused connection or slot
    // fails the START, with the control plane recording status error
    val wire = new PgWire(src.host, src.port, src.username, src.databaseName,
      passwordOf(src))
    try {
      wire.connectReplication()
      val slot = slotNameFor(p, src)
      wire.ensureSlot(slot)
      wire.startReplication(slot, publication)
    } catch { case NonFatal(e) => wire.close(); throw e }

    val stopFlag = new AtomicBoolean(false)
    // scoped registry: this pipeline's counters only (the reference's
    // per-source metric labels), scraped via [[liveRegistries]]
    val registry = new graft.observe.Metrics.Registry
    val cfg = IngestConfig(
      outDir = s"$lakeRoot/${p.id}/tables",
      dlqDir = s"$lakeRoot/${p.id}/dlq",
      checkpointDir = s"$lakeRoot/${p.id}/checkpoint",
      sourceId = p.name,
      metrics = registry)
    val decoder = new EvolvingDecoder(new org.apache.spark.sql.types.StructType())
    // (schema, table) pairs — matching on table name alone would admit a
    // same-named table from an UNMAPPED schema into the mapped table's
    // lake dir. An empty mapping schema matches any source schema.
    val enabled = p.tables.filter(_.enabled)
      .map(m => (m.sourceSchema, m.sourceTable)).distinct
    val thread = new Thread(() => {
      var batchId = 0L
      try {
        while (!stopFlag.get()) {
          val (envs, endLsn) = wire.drain(quietMs, maxWaitMs = maxWaitMs)
          if (envs.nonEmpty) {
            import spark.implicits._
            val raw = spark.createDataset(envs).toDF("json")
            val env = EnvelopeDecoder.flattened(decoder.decode(raw, "json"))
            // mappings gate what lands. NO mappings configured =
            // "everything the publication carries" (the publication is
            // the reference's outer filter); mappings configured but all
            // DISABLED = nothing — never "everything"
            val routed =
              if (p.tables.isEmpty) env
              else if (enabled.isEmpty) env.filter(org.apache.spark.sql.functions.lit(false))
              else env.filter(enabled.map { case (sc, t) =>
                val tMatch = col("_cdc_table") === t
                if (sc.isEmpty) tMatch else tMatch && col("_cdc_schema") === sc
              }.reduce(_ || _))
            IngestPipeline.processBatch(cfg)(routed, batchId)
            // the streaming-listener counters a wire-fed loop never
            // gets from a progress bus (ref pipeline.go event-loop
            // stats): drained envelope count + batch count
            registry.inc("cdc", "events_total", envs.size.toLong)
            registry.inc("buffer", "batches_total")
            registry.inc("buffer", "events_processed_total", envs.size.toLong)
            batchId += 1
          }
          // confirm only AFTER the lake holds the batch: at-least-once.
          // The sink appends, so a crash between processBatch's commit
          // and this confirm re-appends the batch on restart
          if (endLsn > 0L) wire.confirm(endLsn)
        }
      } catch {
        case NonFatal(e) if !stopFlag.get() =>
          lastError.put(p.id, String.valueOf(e.getMessage))
        case _: Throwable => () // socket close during stop()
      } finally wire.close()
    })
    thread.setDaemon(true)
    thread.setName(s"graft-pg-runner-${p.id}")
    live.put(p.id, Live(stopFlag, thread, wire, registry, p.name))
    thread.start()
  }

  override def stop(p: ControlPlane.Pipeline): Unit = {
    val l = live.remove(p.id)
    if (l != null) {
      l.stopFlag.set(true)
      l.thread.join(30000L)
      if (l.thread.isAlive) l.wire.close() // unblock a stuck read
    }
    lastError.remove(p.id) // a stopped pipeline carries no run error
  }

  /** A drain loop that DIED (error recorded, or thread gone without a
    * stop) surfaces here — the control plane's status refresh turns it
    * into status `error` instead of a stale "running". */
  override def health(p: ControlPlane.Pipeline): Option[String] = {
    val recorded = Option(lastError.get(p.id))
    val l = live.get(p.id)
    if (recorded.isDefined) recorded
    else if (l != null && !l.thread.isAlive)
      Some("drain loop exited unexpectedly")
    else None
  }
}
