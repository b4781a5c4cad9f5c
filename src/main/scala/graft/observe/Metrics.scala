package graft.observe

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

/** Observability parity: the reference's Prometheus metric surface
  * (ref internal/metrics/metrics.go:14-230 — namespace `philotes`,
  * subsystems cdc/buffer/iceberg/api; counters events_total,
  * errors_total, retries_total, dlq_total, commits_total,
  * files_written_total, bytes_written_total, batches_total,
  * events_processed_total; gauges lag_seconds, pipeline_state, depth),
  * fed from Spark's own instrumentation instead of hand-rolled counters:
  * a StreamingQueryListener turns progress events into the same metric
  * names, and sinks/retry paths increment their counters directly.
  *
  * The registry is plain data: the `pipeline_metrics` query reads its
  * [[Registry.snapshot]] as rows, and `/metrics` renders its typed views
  * for Prometheus scraping.
  * [[Registry]] is instantiable so a pipeline can carry its OWN registry
  * (the registered `pipeline_metrics` query does — a process-global one
  * would mix in whatever else the session is running); [[Metrics.global]]
  * is the default process-wide instance.
  */
object Metrics {

  def counterName(subsystem: String, name: String): String =
    s"philotes_${subsystem}_$name"

  /** One metric registry: counters + last-write-wins gauges. */
  final class Registry {
    private val counters = new ConcurrentHashMap[String, AtomicLong]()
    private val gauges = new ConcurrentHashMap[String, DoubleAdder]()

    def inc(subsystem: String, name: String, delta: Long = 1L): Unit =
      counters.computeIfAbsent(counterName(subsystem, name), _ => new AtomicLong())
        .addAndGet(delta)

    def setGauge(subsystem: String, name: String, value: Double): Unit = {
      val adder = gauges.computeIfAbsent(counterName(subsystem, name), _ => new DoubleAdder())
      adder.reset()
      adder.add(value)
    }

    def counter(subsystem: String, name: String): Long = {
      val v = counters.get(counterName(subsystem, name))
      if (v == null) 0L else v.get()
    }

    def snapshot(): Map[String, Double] =
      counters.asScala.map { case (k, v) => k -> v.get().toDouble }.toMap ++
        gauges.asScala.map { case (k, v) => k -> v.sum() }

    /** Typed views for Prometheus exposition (`# TYPE` lines need the
      * metric kind, which the merged [[snapshot]] erases). */
    def countersSnapshot(): Map[String, Long] =
      counters.asScala.map { case (k, v) => k -> v.get() }.toMap
    def gaugesSnapshot(): Map[String, Double] =
      gauges.asScala.map { case (k, v) => k -> v.sum() }.toMap

    def reset(): Unit = { counters.clear(); gauges.clear() }
  }

  /** The process-wide default registry. */
  val global: Registry = new Registry

  def inc(subsystem: String, name: String, delta: Long = 1L): Unit =
    global.inc(subsystem, name, delta)
  def setGauge(subsystem: String, name: String, value: Double): Unit =
    global.setGauge(subsystem, name, value)
  def snapshot(): Map[String, Double] = global.snapshot()
  def reset(): Unit = global.reset()

  /** Streaming listener: micro-batch progress → philotes_cdc_* metrics
    * (ref pipeline event-loop stats, internal/cdc/pipeline/pipeline.go:
    * 227-277, and batch processor counters, buffer/batch.go).
    *
    * `onlyQueryName`: a session's listener bus carries EVERY streaming
    * query's events — a scoped registry must see only its own pipeline
    * (the reference's metrics are per-process; a Spark session hosts many
    * pipelines, so the filter is the equivalent boundary). */
  final class Listener(registry: Registry = global,
                       onlyQueryName: Option[String] = None)
    extends StreamingQueryListener {
    // terminate events carry no name — remember the ids whose start we
    // claimed, so a scoped listener still records ITS pipeline's failure
    // (a scoped registry that reports a dead pipeline as running would
    // defeat its purpose)
    private val myIds = ConcurrentHashMap.newKeySet[java.util.UUID]()
    private def mine(name: String): Boolean =
      onlyQueryName.forall(_ == name)

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      if (mine(e.name)) {
        myIds.add(e.id)
        registry.setGauge("cdc", "pipeline_state", 1.0) // 1 = running (ref state gauge)
      }

    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (mine(e.progress.name)) {
        registry.inc("cdc", "events_total", e.progress.numInputRows)
        registry.inc("buffer", "batches_total")
        registry.inc("buffer", "events_processed_total", e.progress.numInputRows)
        registry.setGauge("buffer", "depth", e.progress.numInputRows.toDouble)
      }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      // remove unconditionally: an unscoped listener that short-circuits
      // on the name filter would never drop ids and leak one UUID per
      // streaming query for the life of the session
      val wasMine = myIds.remove(e.id)
      if (onlyQueryName.isEmpty || wasMine) {
        registry.setGauge("cdc", "pipeline_state",
          if (e.exception.isDefined) 5.0 /* failed */ else 4.0 /* stopped */)
        if (e.exception.isDefined) registry.inc("cdc", "errors_total")
      }
    }
  }
}
