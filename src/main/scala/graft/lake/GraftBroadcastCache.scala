package graft.lake

import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{ExecutionContext, Future}
import scala.util.{Failure, Success}

import org.apache.spark.broadcast.Broadcast

/** Cross-query reuse of broadcast HANDLES for the delete-frame cache
  * ([[SnapshotLog]]): a hot MOR table's cached delete frame used to
  * re-broadcast on every query (each plan's BroadcastExchange collects
  * the LocalRelation and torrents it again — one small job + one
  * broadcast per query). This cache keys the finished
  * `Broadcast[HashedRelation]` by (delete-frame content key,
  * CANONICALIZED broadcast mode), so every query joining the same
  * delete era on the same key positions shares one broadcast.
  *
  * The canonicalized mode normalizes attribute ids to positions —
  * callers that alias the frame's columns differently still share,
  * while a different
  * key extraction builds its own entry. Content addressing comes from
  * the frame key itself (delete paths + sizes + key schema), so a new
  * delete era can never serve a stale relation.
  *
  * Lifecycle: entries are LRU-capped; eviction and delete-frame-row
  * eviction ([[SnapshotLog]]'s LRU calls [[dropFrame]]) unpersist the
  * broadcast (non-blocking). A failed computation removes itself so
  * the next query retries instead of replaying the failure forever. */
object GraftBroadcastCache {

  private val MaxEntries = 64

  /** One cached broadcast: the scala-side completion PLUS the runtime
    * statistics of the exchange that computed it. The stats are part of
    * the contract, not decoration: AQE reads `runtimeStatistics` off
    * the exchange to decide empty-relation propagation and join
    * planning — a reused broadcast reporting zero rows would get its
    * JOIN OPTIMIZED AWAY (deleted rows resurfacing), so every reuse
    * serves the original computation's numbers. */
  final case class Entry(completion: Future[Broadcast[Any]],
                         stats: () => org.apache.spark.sql.catalyst.plans.logical.Statistics)

  // (frameKey, canonicalized mode) → entry, LRU access order
  private val cache =
    new java.util.LinkedHashMap[(String, Any), Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Any), Entry]): Boolean = {
        val evict = size() > MaxEntries
        if (evict) unpersistQuiet(e.getValue.completion)
        evict
      }
    }

  // rows-head identity → frame key: the physical rule recognizes a
  // cached frame's LocalTableScan by the identity of its FIRST row
  // (the catalyst rows are shared by reference across rebuilds, so
  // identity survives; content hashing would re-scan the rows per plan)
  private val rowIdentity = new java.util.IdentityHashMap[AnyRef, String]()
  private val keyToRow = new java.util.HashMap[String, AnyRef]()

  /** Frame builds that actually broadcast (cache misses) — spec
    * observability, mirroring [[SnapshotLog.deleteFrameBuilds]]. */
  private[graft] val computes = new AtomicLong(0L)
  private[graft] val hits = new AtomicLong(0L)

  private def unpersistQuiet(f: Future[Broadcast[Any]]): Unit =
    f.value match {
      case Some(Success(b)) =>
        try b.unpersist(false) catch { case _: Exception => () }
      case _ => () // in-flight or failed: nothing to release here
    }

  /** Associate a cached frame's row array (by first-row identity) with
    * its content key. Bounded by the delete-frame cache's own LRU:
    * [[dropFrame]] removes the association with the rows. */
  private[graft] def registerFrame(rowsHead: AnyRef, frameKey: String): Unit =
    rowIdentity.synchronized {
      keyToRow.get(frameKey) match {
        case prev if prev != null && (prev ne rowsHead) =>
          rowIdentity.remove(prev); ()
        case _ => ()
      }
      rowIdentity.put(rowsHead, frameKey)
      keyToRow.put(frameKey, rowsHead)
    }

  /** The frame key of a LocalTableScan's first row, when it belongs to
    * a registered delete frame. */
  def frameKeyOf(rowsHead: AnyRef): Option[String] =
    rowIdentity.synchronized(Option(rowIdentity.get(rowsHead)))

  /** Drop every broadcast of one frame (its rows left the delete-frame
    * cache, or its delete era was superseded). */
  private[graft] def dropFrame(frameKey: String): Unit = {
    cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == frameKey) {
          unpersistQuiet(e.getValue.completion); it.remove()
        }
      }
    }
    rowIdentity.synchronized {
      val row = keyToRow.remove(frameKey)
      if (row != null) rowIdentity.remove(row)
      ()
    }
  }

  /** Test hook: forget everything (does not unpersist — callers in
    * specs stop their own context). */
  private[graft] def reset(): Unit = {
    cache.synchronized(cache.clear())
    rowIdentity.synchronized { rowIdentity.clear(); keyToRow.clear() }
    computes.set(0L); hits.set(0L)
  }

  /** One broadcast per (frame, canonical mode): a hit adapts the cached
    * completion and serves the ORIGINAL computation's runtime stats; a
    * miss runs `compute` (which launches the REAL broadcast job) and
    * caches its completion + stats. Failures self-remove. */
  def getOrCompute(frameKey: String, modeKey: Any)
                  (compute: => (java.util.concurrent.Future[Broadcast[Any]],
                                Future[Broadcast[Any]],
                                () => org.apache.spark.sql.catalyst.plans.logical.Statistics))
  : (java.util.concurrent.Future[Broadcast[Any]], Future[Broadcast[Any]],
     () => org.apache.spark.sql.catalyst.plans.logical.Statistics) = {
    val k = (frameKey, modeKey)
    cache.synchronized(Option(cache.get(k))) match {
      case Some(entry) =>
        hits.incrementAndGet()
        (toJava(entry.completion), entry.completion, entry.stats)
      case None =>
        computes.incrementAndGet()
        val (jf, sf, stats) = compute
        val entry = Entry(sf, stats)
        cache.synchronized {
          // a concurrent miss may have landed first — last write wins,
          // both broadcasts are valid, the loser ages out by LRU
          cache.put(k, entry)
        }
        sf.onComplete {
          case Failure(_) => cache.synchronized {
            if (cache.get(k) == entry) { cache.remove(k); () }
          }
          case Success(_) => ()
        }(ExecutionContext.global)
        (jf, sf, stats)
    }
  }

  private def toJava(sf: Future[Broadcast[Any]])
  : java.util.concurrent.Future[Broadcast[Any]] = {
    val cf = new CompletableFuture[Broadcast[Any]]()
    sf.value match {
      case Some(Success(b)) => cf.complete(b)
      case Some(Failure(e)) => cf.completeExceptionally(e)
      case None => sf.onComplete {
        case Success(b) => cf.complete(b)
        case Failure(e) => cf.completeExceptionally(e)
      }(ExecutionContext.global)
    }
    cf
  }
}
