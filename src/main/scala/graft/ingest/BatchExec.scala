package graft.ingest

import org.apache.spark.sql.DataFrame

/** Re-enables Adaptive Query Execution for BATCH work running inside a
  * streaming `foreachBatch` body.
  *
  * Structured Streaming clones the session per query and force-disables
  * `spark.sql.adaptive.enabled` on the clone (AQE cannot re-optimize a
  * stateful streaming plan mid-run), and `foreachBatch` hands the user
  * function a DataFrame bound to that clone — so every action the merge/
  * route/commit operators run inside a batch body silently loses AQE:
  * no post-shuffle coalescing (every tiny probe pays the full
  * `spark.sql.shuffle.partitions` fan-out), no runtime join re-planning,
  * no skew splitting. Measured on the sf0.1 bench: the per-micro-batch
  * merge jobs run 32-task reduce stages over kilobytes.
  *
  * Those actions are plain batch queries — the same operators already
  * run under AQE when driven from a batch context (dlq_stats, sql_merge)
  * — so flipping the conf back on around the body is semantics-free and
  * restores the scale-adaptive partitioning the optimization guide (§2)
  * asks for: partition counts derived from runtime sizes, not a constant
  * tuned for either local mode or the cluster.
  *
  * The previous value is restored on exit so the streaming engine's own
  * per-batch planning (which happens between body invocations) always
  * sees the conf exactly as it configured it.
  *
  * Cached intermediates need a second switch. `Dataset.persist()` makes
  * the `CacheManager` plan the cached query on the spot, and while
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is false
  * (the default) it plans it with AQE's final-stage shuffle
  * optimizations off, so a cached shuffled plan keeps every one of
  * `spark.sql.shuffle.partitions` output partitions — whatever its
  * size. Every consumer of the cache then runs one task per partition:
  * a 640-row merge delta under a 32-partition deployment cost five
  * 32-task stages per micro-batch. [[persistAdaptive]] flips that switch
  * for the one `persist()` call only. The conf is read once, when the
  * `InMemoryRelation` is built, so nothing outside that call needs it;
  * a flip around the whole [[withAqe]] body would also reach every other
  * persist that runs inside it, concurrent sinks' micro-batch caches
  * included. */
object BatchExec {
  private val Key = "spark.sql.adaptive.enabled"
  private val CachedPartitioningKey =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Reentrancy state per session: depth + the conf value the OUTERMOST
    * entrant saw. Session conf is session-global (not thread-local), and
    * nested/concurrent uses are real — processBatch's per-table
    * `par.foreach` calls merge(), which is itself wrapped. Without the
    * guard, restore-last is only accidentally safe (every caller sets the
    * SAME value); a body wanting a different conf value, or an inner
    * restore racing an outer body, would leave the streaming engine's
    * conf flipped. The outermost exit alone restores. */
  private final class Entry(val prev: Option[String]) {
    var depth = 0
  }
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, Entry]

  /** Is `df` cheap to recompute? True when every leaf of its optimized
    * plan is a file scan, an in-memory (already-persisted) relation, or
    * local data — re-running such lineage costs one more scan of an
    * admission-bounded micro-batch. False as soon as any leaf is
    * something opaque/expensive (the DSv2 WAL log scan, an RDD seam),
    * where each extra action replays the full decode. The merge writers
    * use this to persist micro-batches ONLY when recompute is the
    * expensive side: an unconditional persist pays cache-write
    * amplification per batch even when the lineage is a two-file parquet
    * scan (guide §5 — cache only when recompute outweighs the memory
    * traffic). Conservative by construction: unknown leaf kinds count as
    * expensive, so the worst case is an unnecessary persist, never a
    * repeated expensive decode. */
  def cheapToRecompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Range}
    val plan = df.queryExecution.optimizedPlan
    val leavesCheap = plan.collectLeaves().forall {
      case l: LogicalRelation  => l.relation.isInstanceOf[HadoopFsRelation]
      case _: InMemoryRelation => true
      case _: LocalRelation    => true
      case _: OneRowRelation   => true
      case _: Range            => true
      case _                   => false
    }
    // cheap leaves are not enough: the evolve/promote bodies persist the
    // RAW log lines and decode with from_json ON TOP of that cache —
    // re-running such lineage re-parses the whole micro-batch's JSON per
    // action (measured ~0.2 s per pass at bench SF). Any JSON parse in
    // the plan makes recompute the expensive side.
    def expensiveExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.exists {
        case _: org.apache.spark.sql.catalyst.expressions.JsonToStructs => true
        case _ => false
      }
    leavesCheap && !plan.exists(_.expressions.exists(expensiveExpr))
  }

  /** Run `body` with AQE enabled on `df`'s session (the streaming clone
    * inside foreachBatch; the caller's own session in batch contexts,
    * where this is a no-op). Reentrant: nested and sibling-concurrent
    * uses on the same session share one saved previous value, and only
    * the last exit restores it. */
  def withAqe[T](df: DataFrame)(body: => T): T = {
    val session = df.sparkSession
    val conf = session.conf
    val entry = entries.synchronized {
      val e = entries.computeIfAbsent(session, _ => new Entry(conf.getOption(Key)))
      if (e.depth == 0) conf.set(Key, "true")
      e.depth += 1
      e
    }
    try body
    finally entries.synchronized {
      entry.depth -= 1
      if (entry.depth == 0) {
        entries.remove(session)
        restore(conf, Key, entry.prev)
      }
    }
  }

  /** Persist `df` with its output partitioning sized by AQE: the cached
    * plan's final shuffle coalesces to what its bytes need (one
    * partition for a few hundred rows, at least `defaultParallelism`
    * for a large input under the default `parallelismFirst`) instead of
    * keeping `spark.sql.shuffle.partitions` partitions. Use it for
    * cached plans that hold a shuffle `Exchange`; a plan without one
    * caches the same either way. The set, persist and restore run under
    * the same lock as [[withAqe]]'s entry bookkeeping, so concurrent
    * merges on one session never see each other's flip or restore the
    * wrong value. A later re-cache of the entry (after a refresh of a
    * table it reads) plans under the session's own value again. */
  def persistAdaptive(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    entries.synchronized {
      val prev = conf.getOption(CachedPartitioningKey)
      conf.set(CachedPartitioningKey, "true")
      try df.persist()
      finally restore(conf, CachedPartitioningKey, prev)
    }
  }

  private def restore(conf: org.apache.spark.sql.RuntimeConfig, key: String,
                      prev: Option[String]): Unit = prev match {
    case Some(v) => conf.set(key, v)
    case None    => conf.unset(key)
  }
}
