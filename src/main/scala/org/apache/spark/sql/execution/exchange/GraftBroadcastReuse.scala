package org.apache.spark.sql.execution.exchange

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.plans.physical.BroadcastMode
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, LocalTableScanExec, SparkPlan}

/** In-package shim (like [[org.apache.spark.sql.GraftScanSupport]]):
  * cross-query broadcast reuse for the engine's cached delete frames.
  *
  * A [[BroadcastExchangeExec]] whose build side is one of
  * [[graft.lake.SnapshotLog]]'s content-cached delete frames re-runs
  * the collect + HashedRelation build + torrent broadcast on EVERY
  * query, even though the rows and the canonical key extraction are
  * identical across queries. [[GraftReusedBroadcastExchangeExec]]
  * resolves its `relationFuture`/`completionFuture` through
  * [[graft.lake.GraftBroadcastCache]] keyed by (frame content key,
  * canonicalized mode), so a hot MOR table pays ONE broadcast per
  * delete era per join-key shape — not one per query.
  *
  * The first resolution launches the REAL broadcast through an inner
  * plain exchange over the same child (metrics land on that inner
  * node); every later query adapts the finished handle. Correctness
  * does not depend on the cache: a dropped or evicted entry simply
  * re-broadcasts. */
final class GraftReusedBroadcastExchangeExec(mode0: BroadcastMode,
                                             child0: SparkPlan,
                                             val frameKey: String)
  extends BroadcastExchangeExec(mode0, child0) {

  /** makeCopy fallback (TreeNode reconstructs via a constructor whose
    * arity matches the case product, 2): a copy loses the frame key
    * and gets a FRESH never-shared one — no reuse, never a collision. */
  def this(mode0: BroadcastMode, child0: SparkPlan) =
    this(mode0, child0, GraftReusedBroadcastExchangeExec.freshKey())

  // the inherited case equality would make this node EQUAL to a plain
  // BroadcastExchangeExec with the same (mode, child) — TreeNode's
  // mapChildren then treats a swap as "unchanged" and silently keeps
  // the old child. Equality here is class-strict (canonicalized plans,
  // which exchange/stage reuse compare, stay the inherited plain form).
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[GraftReusedBroadcastExchangeExec]
  override def equals(other: Any): Boolean = other match {
    case o: GraftReusedBroadcastExchangeExec =>
      (o eq this) || (o.frameKey == frameKey && super.equals(o))
    case _ => false
  }
  override def hashCode(): Int = super.hashCode() ^ frameKey.hashCode

  @transient private lazy val resolved
  : (java.util.concurrent.Future[Broadcast[Any]],
     scala.concurrent.Future[Broadcast[Any]],
     () => org.apache.spark.sql.catalyst.plans.logical.Statistics) =
    graft.lake.GraftBroadcastCache.getOrCompute(frameKey, mode0.canonicalized) {
      val inner = BroadcastExchangeExec(mode0, child0)
      // touching relationFuture LAUNCHES the job; completionFuture is
      // the same computation's scala-side completion; the inner node's
      // metrics hold the REAL row/byte counts every reuse must report
      (inner.relationFuture, inner.completionFuture,
        () => inner.runtimeStatistics)
    }

  @transient override lazy val relationFuture
  : java.util.concurrent.Future[Broadcast[Any]] = resolved._1

  @transient override lazy val completionFuture
  : scala.concurrent.Future[Broadcast[Any]] = resolved._2

  /** AQE reads these AFTER materialization for empty-relation
    * propagation and join re-planning — they must be the computing
    * exchange's truth, never this node's untouched metrics (zero rows
    * would get the delete-application join optimized away). */
  override def runtimeStatistics
  : org.apache.spark.sql.catalyst.plans.logical.Statistics = resolved._3()

  override def nodeName: String = "GraftReusedBroadcastExchange"

  override protected def withNewChildInternal(newChild: SparkPlan): BroadcastExchangeExec =
    new GraftReusedBroadcastExchangeExec(mode0, newChild, frameKey)
}

object GraftReusedBroadcastExchangeExec {
  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def freshKey(): String =
    s"__graft_unshared_${counter.incrementAndGet()}"
}

/** Spot a broadcast over a LocalTableScan whose rows belong to a
  * registered delete frame and swap in the reusing exchange — a pure
  * optimization either way.
  *
  * Applied as a pre-columnar-transition rule, which covers every plan:
  * `QueryExecution.preparations` runs the columnar rules after
  * `EnsureRequirements` on AQE-less plans (stateful streaming disables
  * AQE, so the hottest recurring read at ingest scale — a MOR table
  * consulted every micro-batch trigger — would otherwise re-collect and
  * re-torrent its delete frames per trigger), and AQE runs them on
  * every new query stage (`postStageCreationRules`), so the broadcast
  * stage itself is swapped before it materializes. */
object GraftBroadcastReuseRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = swap

  private object swap extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case b: BroadcastExchangeExec
        if !b.isInstanceOf[GraftReusedBroadcastExchangeExec] =>
        b.child match {
          case scan: LocalTableScanExec if scan.rows.nonEmpty =>
            graft.lake.GraftBroadcastCache.frameKeyOf(scan.rows.head) match {
              case Some(key) => new GraftReusedBroadcastExchangeExec(b.mode, scan, key)
              case None => b
            }
          case _ => b
        }
    }
  }
}
