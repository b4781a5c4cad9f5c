package graft.observe

/** Auto-scaling DECISION engine (C2/C5): the reference's rule evaluator
  * and idle detector as pure functions over injected metric values and an
  * injected clock.
  *
  * The reference splits scaling into (a) decision logic — threshold
  * rules, cooldowns, for-duration conditions, replica clamping, idle
  * detection with a keep-alive window (ref internal/scaling/
  * evaluator.go:84-216, types.go:58-101,216-228,320-332, idle/
  * detector.go:29-46,205-218) — and (b) actuation against K8s/KEDA and
  * cloud node pools. Actuation is out of scope in this engine (SURVEY
  * §2.3: Spark clusters scale via dynamic allocation); the decision
  * layer is product logic and lives here, deterministic and replayable:
  * metric values come in as a Map (the reference queries Prometheus; our
  * metrics are data — [[Metrics.Registry.snapshot]] IS that map), time
  * comes in as a parameter.
  */
object Scaling {

  /** Comparison operator (ref types.go:58-101). */
  sealed abstract class Op(val name: String) {
    def evaluate(value: Double, threshold: Double): Boolean = this match {
      case Op.Gt  => value > threshold
      case Op.Lt  => value < threshold
      case Op.Gte => value >= threshold
      case Op.Lte => value <= threshold
      case Op.Eq  => value == threshold
    }
  }
  object Op {
    case object Gt extends Op("gt")
    case object Lt extends Op("lt")
    case object Gte extends Op("gte")
    case object Lte extends Op("lte")
    case object Eq extends Op("eq")
    val all: Seq[Op] = Seq(Gt, Lt, Gte, Lte, Eq)
    def parse(s: String): Op = all.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(s"invalid operator: $s"))
  }

  /** One scaling rule (ref types.go:229-263): triggered when
    * `metric <op> threshold` has held for `durationMs`. `scaleBy` is
    * signed — positive in scale-up rule lists, negative in scale-down. */
  final case class Rule(id: String, metric: String, op: Op,
                        threshold: Double, scaleBy: Int, durationMs: Long = 0L)

  /** Scaling policy (ref types.go:180-228). */
  final case class Policy(id: String, minReplicas: Int, maxReplicas: Int,
                          cooldownMs: Long, scaleToZero: Boolean,
                          scaleUpRules: Seq[Rule], scaleDownRules: Seq[Rule]) {
    /** ref ClampReplicas, types.go:216-228 — scale-to-zero policies may
      * clamp to 0, others to minReplicas. */
    def clampReplicas(replicas: Int): Int = {
      val lo = if (scaleToZero) 0 else minReplicas
      math.max(lo, math.min(maxReplicas, replicas))
    }
  }

  /** Mutable evaluation state the reference keeps per policy
    * (ref types.go:300-332): current width, last scale time (cooldown),
    * and when each rule's condition FIRST became true (for-duration). */
  final case class State(currentReplicas: Int,
                         lastScaleTimeMs: Option[Long] = None,
                         pendingSinceMs: Map[String, Long] = Map.empty) {
    def isInCooldown(cooldownMs: Long, nowMs: Long): Boolean =
      lastScaleTimeMs.exists(t => nowMs - t < cooldownMs)
  }

  sealed trait Action
  object Action {
    case object None extends Action
    case object ScaleUp extends Action
    case object ScaleDown extends Action
  }

  /** The evaluator's output plus the state to carry to the next tick. */
  final case class Decision(action: Action, desiredReplicas: Int,
                            shouldExecute: Boolean, reason: String,
                            triggeredBy: Option[String], next: State)

  /** Evaluate one policy against current metric values — the reference's
    * EvaluatePolicy loop (evaluator.go:84-178) verbatim: cooldown first;
    * scale-up rules in order, FIRST rule that is triggered AND past its
    * for-duration wins; then scale-down the same way (guarded so only
    * scale-to-zero policies may go to 0); pending conditions start
    * their clock on first trigger and clear on first non-trigger.
    *
    * Two reference-faithful subtleties, kept deliberately (evaluator.go
    * behaves identically via its early returns):
    *  - pending clocks are only maintained for rules the tick actually
    *    REACHES — a win, or the cooldown veto, leaves later rules'
    *    pending entries untouched, so a rule whose condition lapsed
    *    while it was shadowed can fire from its old clock once reached
    *    again;
    *  - a triggered scale-up rule that cannot move (already clamped at
    *    maxReplicas) does not short-circuit the scale-down list — at the
    *    ceiling with both pressures active, the policy can step down and
    *    back up across ticks. Operators bound that with the cooldown. */
  def evaluatePolicy(policy: Policy, state: State,
                     metrics: Map[String, Double], nowMs: Long): Decision = {
    if (state.isInCooldown(policy.cooldownMs, nowMs)) {
      val remaining = policy.cooldownMs - (nowMs - state.lastScaleTimeMs.get)
      return Decision(Action.None, state.currentReplicas, shouldExecute = false,
        s"in cooldown (${remaining}ms remaining)", None, state)
    }
    var pending = state.pendingSinceMs

    def tryRules(rules: Seq[Rule], up: Boolean): Option[Decision] = {
      var out: Option[Decision] = None
      for (rule <- rules if out.isEmpty) {
        val value = metrics.getOrElse(rule.metric, Double.NaN)
        if (!value.isNaN && rule.op.evaluate(value, rule.threshold)) {
          val since = pending.getOrElse(rule.id, nowMs)
          pending += rule.id -> since
          if (nowMs - since >= rule.durationMs) {
            val target = policy.clampReplicas(state.currentReplicas + rule.scaleBy)
            val moves =
              if (up) target > state.currentReplicas
              else target < state.currentReplicas &&
                (target > 0 || policy.scaleToZero)
            if (moves) out = Some(Decision(
              if (up) Action.ScaleUp else Action.ScaleDown,
              target, shouldExecute = true,
              s"rule triggered: ${rule.metric} ${rule.op.name} " +
                s"${rule.threshold} (actual: $value)",
              Some(s"rule:${rule.id}"),
              State(target, Some(nowMs), pending)))
          }
        } else pending -= rule.id
      }
      out
    }

    tryRules(policy.scaleUpRules, up = true)
      .orElse(tryRules(policy.scaleDownRules, up = false))
      .getOrElse(Decision(Action.None, state.currentReplicas,
        shouldExecute = false, "no scaling rules triggered", None,
        state.copy(pendingSinceMs = pending)))
  }

  // ---- C3: query-ENGINE scaling (ref internal/scaling/query/
  // policy.go:67-231; defaults config.go:921-926). Same decision/
  // actuation split as C2: the reference polls Trino /v1/cluster for
  // queue depths (collector.go:55-160 — our counterpart is the
  // SparkListener-fed [[Metrics.Registry]] plus dynamic allocation for
  // the actual executor scaling) and evaluates fixed thresholds; the
  // threshold logic is product behavior and lives here as a pure
  // function.

  /** ref Policy (policy.go:17-29) with the config defaults
    * (config.go:921-926): queued ≥ 5, running ≥ 10, p95 ≥ 30 s,
    * cooldown 300 s, replicas 1..10. */
  final case class QueryPolicy(id: String, enabled: Boolean = true,
                               minReplicas: Int = 1, maxReplicas: Int = 10,
                               cooldownMs: Long = 300000L,
                               scaleToZero: Boolean = false,
                               queuedThreshold: Int = 5,
                               runningThreshold: Int = 10,
                               latencyThresholdSec: Int = 30)

  /** ref Metrics (collector.go): queue depths from /v1/cluster; p95 is
    * optional — the collector may have no latency series yet. */
  final case class QueryMetrics(queued: Int, running: Int, blocked: Int,
                                p95LatencyMs: Option[Double] = None)

  final case class QueryState(currentReplicas: Int,
                              lastScaleTimeMs: Option[Long] = None)

  final case class QueryDecision(action: String, desiredReplicas: Int,
                                 reason: String, triggerValue: Double,
                                 next: QueryState)

  /** ref Evaluate (policy.go:67-131) + evaluateScaleUp (134-186) +
    * evaluateScaleDown (188-231), kept faithful:
    *  - order: disabled → cooldown → missing metrics → scale-up triggers
    *    (queued, running, p95 — first hit wins, each steps by ONE) →
    *    scale-down;
    *  - scale-up is skipped entirely at maxReplicas (falls through to
    *    the scale-down checks, not to an error);
    *  - scale-down requires BOTH queue classes below HALF their
    *    thresholds, with the reference's intentional floor division
    *    (threshold 5 → down only when queued < 2);
    *  - scale-to-zero additionally needs queued = running = blocked = 0
    *    and fires even at minReplicas; a plain scale-down never goes
    *    below minReplicas. */
  def evaluateQueryPolicy(policy: QueryPolicy, state: QueryState,
                          metrics: Option[QueryMetrics],
                          nowMs: Long): QueryDecision = {
    val cur = state.currentReplicas
    def none(reason: String) = QueryDecision("none", cur, reason, 0.0, state)
    if (!policy.enabled) return none("policy disabled")
    if (state.lastScaleTimeMs.exists(t => nowMs - t < policy.cooldownMs))
      return none("in cooldown")
    val m = metrics.getOrElse(return none("no metrics available"))
    def move(action: String, desired: Int, reason: String, value: Double) =
      QueryDecision(action, desired, reason, value,
        QueryState(desired, Some(nowMs)))
    if (cur < policy.maxReplicas) {
      if (m.queued >= policy.queuedThreshold)
        return move("scale_up", math.min(cur + 1, policy.maxReplicas),
          s"queued_queries >= ${policy.queuedThreshold}", m.queued.toDouble)
      if (m.running >= policy.runningThreshold)
        return move("scale_up", math.min(cur + 1, policy.maxReplicas),
          s"running_queries >= ${policy.runningThreshold}", m.running.toDouble)
      for (p95 <- m.p95LatencyMs if policy.latencyThresholdSec > 0)
        if (p95 >= policy.latencyThresholdSec * 1000.0)
          return move("scale_up", math.min(cur + 1, policy.maxReplicas),
            s"p95_latency >= ${policy.latencyThresholdSec * 1000}ms", p95)
    }
    if (cur <= policy.minReplicas && !policy.scaleToZero)
      return none("within thresholds")
    val queuedBelow = m.queued < policy.queuedThreshold / 2
    val runningBelow = m.running < policy.runningThreshold / 2
    if (!queuedBelow || !runningBelow) return none("within thresholds")
    if (policy.scaleToZero && m.queued == 0 && m.running == 0 && m.blocked == 0)
      return move("scale_to_zero", 0, "no active queries", 0.0)
    if (cur > policy.minReplicas)
      return move("scale_down", math.max(cur - 1, policy.minReplicas),
        "low query load", m.running.toDouble)
    none("within thresholds")
  }

  // ---- idle detection / scale-to-zero (C5; ref idle/detector.go:29-46,
  // 205-218, wake path 248-283). Defaults match the reference's Config.

  val DefaultIdleThresholdMs: Long = 30L * 60 * 1000
  val DefaultKeepAliveWindowMs: Long = 5L * 60 * 1000

  /** ref IsIdle: idle once no activity for `idleThresholdMs`. */
  def isIdle(lastActivityMs: Long, nowMs: Long,
             idleThresholdMs: Long = DefaultIdleThresholdMs): Boolean =
    nowMs - lastActivityMs >= idleThresholdMs

  /** Scale-to-zero gate: idle past the threshold AND outside the
    * keep-alive window after the last wake (the anti-flap grace the
    * detector config documents), and not already at zero. */
  def shouldScaleToZero(lastActivityMs: Long, lastWakeMs: Option[Long],
                        isScaledToZero: Boolean, nowMs: Long,
                        idleThresholdMs: Long = DefaultIdleThresholdMs,
                        keepAliveWindowMs: Long = DefaultKeepAliveWindowMs): Boolean =
    !isScaledToZero &&
      isIdle(lastActivityMs, nowMs, idleThresholdMs) &&
      lastWakeMs.forall(w => nowMs - w >= keepAliveWindowMs)
}
