package graft.observe

import org.scalatest.funsuite.AnyFunSuite
import Scaling._

/** Pure decision-logic tables for the scaling evaluator and idle
  * detector (ref internal/scaling/evaluator.go:84-216, types.go:58-101,
  * 216-228, idle/detector.go:29-46). No Spark session needed — the whole
  * point of the decision/actuation split is that this layer is a pure
  * function of (metrics, state, clock). */
class ScalingSpec extends AnyFunSuite {

  private val m = Map("lag" -> 10.0, "depth" -> 100.0)

  test("operators match the reference truth table") {
    val cases = Seq(
      (Op.Gt, 2.0, 1.0, true), (Op.Gt, 1.0, 1.0, false),
      (Op.Lt, 0.5, 1.0, true), (Op.Lt, 1.0, 1.0, false),
      (Op.Gte, 1.0, 1.0, true), (Op.Gte, 0.9, 1.0, false),
      (Op.Lte, 1.0, 1.0, true), (Op.Lte, 1.1, 1.0, false),
      (Op.Eq, 1.0, 1.0, true), (Op.Eq, 1.1, 1.0, false))
    cases.foreach { case (op, v, t, want) =>
      assert(op.evaluate(v, t) === want, s"$v ${op.name} $t")
    }
    assert(Op.parse("gte") === Op.Gte)
    assertThrows[IllegalArgumentException](Op.parse("=="))
  }

  test("clamp respects min/max; scale-to-zero policies may clamp to 0") {
    val p = Policy("p", 2, 8, 0L, scaleToZero = false, Nil, Nil)
    assert(p.clampReplicas(1) === 2)
    assert(p.clampReplicas(5) === 5)
    assert(p.clampReplicas(99) === 8)
    assert(p.clampReplicas(0) === 2)
    assert(p.copy(scaleToZero = true).clampReplicas(0) === 0)
  }

  test("first triggered scale-up rule wins and stamps the cooldown clock") {
    val p = Policy("p", 1, 10, 60000L, scaleToZero = false,
      Seq(Rule("a", "lag", Op.Gt, 100.0, 5), // not triggered
        Rule("b", "depth", Op.Gte, 100.0, 2),
        Rule("c", "depth", Op.Gt, 0.0, 7)), // would win if b didn't
      Nil)
    val d = evaluatePolicy(p, State(3), m, nowMs = 1000L)
    assert(d.action === Action.ScaleUp)
    assert(d.desiredReplicas === 5)
    assert(d.shouldExecute)
    assert(d.triggeredBy === Some("rule:b"))
    assert(d.next.lastScaleTimeMs === Some(1000L))
    // and the cooldown now vetoes the next tick
    val d2 = evaluatePolicy(p, d.next, m, nowMs = 2000L)
    assert(d2.action === Action.None && !d2.shouldExecute)
    assert(d2.reason.contains("cooldown"))
    // ...until it lapses
    val d3 = evaluatePolicy(p, d.next, m, nowMs = 62000L)
    assert(d3.action === Action.ScaleUp)
  }

  test("for-duration conditions pend on first trigger and fire once elapsed") {
    val p = Policy("p", 1, 10, 0L, scaleToZero = false,
      Seq(Rule("slow", "depth", Op.Gt, 0.0, 1, durationMs = 5000L)), Nil)
    val t0 = evaluatePolicy(p, State(1), m, nowMs = 1000L)
    assert(t0.action === Action.None) // pending, not yet held long enough
    assert(t0.next.pendingSinceMs === Map("slow" -> 1000L))
    val t1 = evaluatePolicy(p, t0.next, m, nowMs = 3000L)
    assert(t1.action === Action.None) // still pending
    val t2 = evaluatePolicy(p, t1.next, m, nowMs = 6000L)
    assert(t2.action === Action.ScaleUp) // 5s elapsed since first trigger
    // a non-triggering tick clears the pending clock
    val calm = Map("depth" -> -1.0)
    val t3 = evaluatePolicy(p, t0.next, calm, nowMs = 3000L)
    assert(t3.next.pendingSinceMs.isEmpty)
  }

  test("scale-down cannot pass zero unless the policy allows scale-to-zero") {
    val down = Seq(Rule("d", "lag", Op.Lt, 100.0, -1))
    val p = Policy("p", 1, 10, 0L, scaleToZero = false, Nil, down)
    // at the floor: the clamped target equals current — nothing executes
    val d = evaluatePolicy(p, State(1), m, nowMs = 1000L)
    assert(d.action === Action.None && !d.shouldExecute)
    // above the floor it steps down
    val d2 = evaluatePolicy(p, State(3), m, nowMs = 1000L)
    assert(d2.action === Action.ScaleDown && d2.desiredReplicas === 2)
    // scale-to-zero policy goes all the way to 0
    val z = evaluatePolicy(p.copy(scaleToZero = true), State(1), m, 1000L)
    assert(z.action === Action.ScaleDown && z.desiredReplicas === 0)
  }

  test("a missing metric never triggers (the reference skips errored rules)") {
    val p = Policy("p", 1, 10, 0L, scaleToZero = false,
      Seq(Rule("x", "absent_metric", Op.Gt, 0.0, 1)), Nil)
    val d = evaluatePolicy(p, State(1), m, nowMs = 1000L)
    assert(d.action === Action.None)
  }

  test("idle detection and the keep-alive anti-flap window") {
    val idleMs = DefaultIdleThresholdMs
    val keepMs = DefaultKeepAliveWindowMs
    assert(!isIdle(lastActivityMs = 0L, nowMs = idleMs - 1))
    assert(isIdle(lastActivityMs = 0L, nowMs = idleMs))
    // idle long enough, no recent wake → scale to zero
    assert(shouldScaleToZero(0L, None, isScaledToZero = false, nowMs = idleMs))
    // a recent wake holds it up for the keep-alive window
    assert(!shouldScaleToZero(0L, Some(idleMs - 1), isScaledToZero = false,
      nowMs = idleMs + keepMs - 2))
    assert(shouldScaleToZero(0L, Some(idleMs - 1), isScaledToZero = false,
      nowMs = idleMs + keepMs))
    // already at zero → nothing to do
    assert(!shouldScaleToZero(0L, None, isScaledToZero = true, nowMs = idleMs))
  }

  // ---- C3: query-engine scaling (ref internal/scaling/query/
  // policy.go:67-231) — every branch of the reference evaluator.

  private val qp = QueryPolicy("q") // config.go defaults: 5/10/30s, 1..10
  private val busy = QueryMetrics(queued = 7, running = 3, blocked = 0,
    p95LatencyMs = Some(500.0))

  test("query scaling: trigger priority is queued, then running, then p95") {
    val d1 = evaluateQueryPolicy(qp, QueryState(2), Some(busy), 0L)
    assert(d1.action === "scale_up" && d1.desiredReplicas === 3 &&
      d1.reason === "queued_queries >= 5" && d1.triggerValue === 7.0)
    val d2 = evaluateQueryPolicy(qp, QueryState(2),
      Some(QueryMetrics(4, 12, 0, Some(500.0))), 0L)
    assert(d2.reason === "running_queries >= 10" && d2.triggerValue === 12.0)
    val d3 = evaluateQueryPolicy(qp, QueryState(2),
      Some(QueryMetrics(4, 9, 0, Some(31000.0))), 0L)
    assert(d3.reason === "p95_latency >= 30000ms" && d3.triggerValue === 31000.0)
    // p95 trigger needs both a latency series and a positive threshold
    assert(evaluateQueryPolicy(qp, QueryState(2),
      Some(QueryMetrics(4, 9, 0, None)), 0L).action === "none")
    assert(evaluateQueryPolicy(qp.copy(latencyThresholdSec = 0), QueryState(2),
      Some(QueryMetrics(4, 9, 0, Some(31000.0))), 0L).action === "none")
  }

  test("query scaling: maxReplicas skips scale-up and falls to the down checks") {
    // at the ceiling with pressure: up skipped, down vetoed (not below halves)
    val d = evaluateQueryPolicy(qp, QueryState(10), Some(busy), 0L)
    assert(d.action === "none" && d.reason === "within thresholds")
    // at the ceiling and idle-ish: steps DOWN (the Go early-return order)
    val d2 = evaluateQueryPolicy(qp, QueryState(10),
      Some(QueryMetrics(1, 2, 0, None)), 0L)
    assert(d2.action === "scale_down" && d2.desiredReplicas === 9)
  }

  test("query scaling: half-threshold floor division gates scale-down") {
    // threshold 5 -> down only when queued < 2 (not < 2.5)
    assert(evaluateQueryPolicy(qp, QueryState(3),
      Some(QueryMetrics(2, 0, 0, None)), 0L).action === "none")
    val d = evaluateQueryPolicy(qp, QueryState(3),
      Some(QueryMetrics(1, 4, 0, None)), 0L)
    assert(d.action === "scale_down" && d.desiredReplicas === 2 &&
      d.triggerValue === 4.0)
    // both classes must be below: running at half blocks the step
    assert(evaluateQueryPolicy(qp, QueryState(3),
      Some(QueryMetrics(1, 5, 0, None)), 0L).action === "none")
  }

  test("query scaling: scale-to-zero needs all-idle and fires at minReplicas") {
    val z = qp.copy(scaleToZero = true)
    val d = evaluateQueryPolicy(z, QueryState(1),
      Some(QueryMetrics(0, 0, 0, None)), 0L)
    assert(d.action === "scale_to_zero" && d.desiredReplicas === 0 &&
      d.reason === "no active queries")
    // a blocked query holds the cluster up
    assert(evaluateQueryPolicy(z, QueryState(1),
      Some(QueryMetrics(0, 0, 1, None)), 0L).action === "none")
    // without scaleToZero, minReplicas is the floor
    assert(evaluateQueryPolicy(qp, QueryState(1),
      Some(QueryMetrics(0, 0, 0, None)), 0L).action === "none")
  }

  test("query scaling: vetoes — disabled, cooldown, missing metrics") {
    assert(evaluateQueryPolicy(qp.copy(enabled = false), QueryState(3),
      Some(busy), 0L).reason === "policy disabled")
    val cooling = evaluateQueryPolicy(qp, QueryState(3, Some(1000L)),
      Some(busy), 2000L)
    assert(cooling.reason === "in cooldown")
    // cooldown expired: acts again, and an action re-stamps the clock
    val acted = evaluateQueryPolicy(qp, QueryState(3, Some(1000L)),
      Some(busy), 1000L + qp.cooldownMs)
    assert(acted.action === "scale_up" &&
      acted.next.lastScaleTimeMs === Some(1000L + qp.cooldownMs))
    assert(evaluateQueryPolicy(qp, QueryState(3), None, 0L)
      .reason === "no metrics available")
  }
}
