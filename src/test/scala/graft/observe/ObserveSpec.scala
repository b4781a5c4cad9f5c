package graft.observe

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ObserveSpec extends SparkTestBase {

  test("alert operators match the reference table; unknown op rejected") {
    import spark.implicits._
    val metrics = Seq(("a", 10.0), ("b", 50.0), ("c", 90.0)).toDF("s", "v")
    def states(op: String, t: Double) =
      Alerts.evaluate(metrics, "s", "v", Alerts.Rule("r", op, t))
        .orderBy("series").select("state").as[String].collect().toSeq
    assert(states("gt", 50.0) === Seq("resolved", "resolved", "firing"))
    assert(states("gte", 50.0) === Seq("resolved", "firing", "firing"))
    assert(states("lt", 50.0) === Seq("firing", "resolved", "resolved"))
    assert(states("lte", 50.0) === Seq("firing", "firing", "resolved"))
    assert(states("eq", 50.0) === Seq("resolved", "firing", "resolved"))
    intercept[IllegalArgumentException] {
      Alerts.compare(col("v"), "between", 1.0)
    }
  }

  test("alert cycle: pending → fired after duration, resolved only on absence") {
    import Alerts.{cycle, Eval, MachineState}
    def ev(fire: Boolean) = Seq(Eval("s", 1.0, fire, durationMs = 2000))
    // first trigger only records pending — no fire even though dur would
    // allow it on a long gap (ref manager.go:212-222 early return)
    val (s1, e1) = cycle(MachineState.empty, ev(true), nowMs = 0)
    assert(e1.isEmpty && s1.pendingSinceMs === Map("s" -> 0L) && s1.firing.isEmpty)
    // still pending inside the duration
    val (s2, e2) = cycle(s1, ev(true), nowMs = 1000)
    assert(e2.isEmpty && !s2.firing("s"))
    // fires once the duration elapses; pending cleared on the NEW instance
    val (s3, e3) = cycle(s2, ev(true), nowMs = 2000)
    assert(e3 === Seq(Alerts.Event("s", "fired")) && s3.firing("s") &&
      s3.pendingSinceMs.isEmpty)
    // recovery below threshold clears pending but does NOT resolve the
    // firing instance (ref: handleNotFiring touches only pendingAlerts)
    val (s4, e4) = cycle(s3, ev(false), nowMs = 3000)
    assert(e4.isEmpty && s4.firing("s"))
    // absence is the only resolution path (ref checkForResolutions)
    val (s5, e5) = cycle(s4, Seq.empty, nowMs = 4000)
    assert(e5 === Seq(Alerts.Event("s", "resolved")) && s5.firing.isEmpty)
  }

  test("alert cycle: absence keeps the pending clock; a reappearing series fires from it") {
    import Alerts.{cycle, Eval, MachineState}
    def ev(fire: Boolean) = Seq(Eval("s", 1.0, fire, durationMs = 2000))
    val (s1, _) = cycle(MachineState.empty, ev(true), nowMs = 0)
    // the series disappears for two cycles — pending survives (ref:
    // only handleNotFiring, present-and-recovered, deletes the clock)
    val (s2, _) = cycle(s1, Seq.empty, nowMs = 1000)
    val (s3, _) = cycle(s2, Seq.empty, nowMs = 2000)
    assert(s3.pendingSinceMs === Map("s" -> 0L))
    // reappearing still-true: duration already elapsed on the old clock
    val (s4, e4) = cycle(s3, ev(true), nowMs = 3000)
    assert(e4 === Seq(Alerts.Event("s", "fired")) && s4.firing("s"))
    // an existing firing instance re-entering pending keeps its clock
    // across the re-fire path (ref fireAlert returns before the
    // pending-delete on the existing-instance branch)
    val (s5, _) = cycle(s4, ev(true), nowMs = 4000) // pending restarts at 4000
    val (s6, e6) = cycle(s5, ev(true), nowMs = 6000) // duration met, already firing
    assert(e6.isEmpty && s6.firing("s") && s6.pendingSinceMs === Map("s" -> 4000L))
  }

  test("notifier: routes fan out, repeat interval gates re-fires, " +
    "resolution clears then re-stamps tracking") {
    import Alerts.{notifyCycle, Eval, MachineState, NotifierState, Route,
      Notification}
    val routes = Seq(
      Route("r", "fast", enabled = true, repeatIntervalMs = 0L),
      Route("r", "slow", enabled = true, repeatIntervalMs = 3000L),
      Route("r", "off", enabled = false, repeatIntervalMs = 0L))
    def ev(fire: Boolean) = Seq(Eval("s", 1.0, fire, durationMs = 2000))
    def step(m: Alerts.MachineState, n: NotifierState, fire: Boolean,
             now: Long) = notifyCycle(m, n, if (fire) ev(true) else Seq.empty,
      _ => "r", routes, now)
    // t0 pending, t1 pending, t2 fired → both enabled channels, never off
    val (m0, n0, x0) = step(MachineState.empty, NotifierState.empty, fire = true, 0)
    val (m1, n1, x1) = step(m0, n0, fire = true, 1000)
    val (m2, n2, x2) = step(m1, n1, fire = true, 2000)
    assert(x0.isEmpty && x1.isEmpty)
    assert(x2.toSet === Set(Notification("s", "r", "fast", "fired", 2000),
      Notification("s", "r", "slow", "fired", 2000)))
    // t3 re-pends (pending was cleared on the new instance), t4 pending,
    // t5 re-fire: fast notifies (repeat 0), slow does too (3s elapsed)
    val (m3, n3, x3) = step(m2, n2, fire = true, 3000)
    val (m4, n4, x4) = step(m3, n3, fire = true, 4000)
    val (m5, n5, x5) = step(m4, n4, fire = true, 5000)
    assert(x3.isEmpty && x4.isEmpty)
    assert(x5.toSet === Set(Notification("s", "r", "fast", "fired", 5000),
      Notification("s", "r", "slow", "fired", 5000)))
    // t6: pending kept on the existing instance → immediate re-fire, but
    // slow is inside its repeat interval — suppressed
    val (m6, n6, x6) = step(m5, n5, fire = true, 6000)
    assert(x6 === Seq(Notification("s", "r", "fast", "fired", 6000)))
    // t7 absent → resolved: both channels ALWAYS notify; tracking is
    // cleared then re-stamped by the resolved send (ref resolveAlert →
    // ClearLastNotified → Notify, and updateLastNotified on every send)
    val (m7, n7, x7) = step(m6, n6, fire = false, 7000)
    assert(x7.toSet === Set(Notification("s", "r", "fast", "resolved", 7000),
      Notification("s", "r", "slow", "resolved", 7000)))
    assert(n7.lastNotifiedMs === Map(("s", "fast") -> 7000L, ("s", "slow") -> 7000L))
    // a NEW fire right after resolution (the surviving pending clock —
    // absence never clears it — makes t8 fire immediately): slow is
    // still inside the repeat interval stamped by the resolved send —
    // deliberately suppressed; fast delivers
    val (m8, n8, x8) = step(m7, n7, fire = true, 8000)
    assert(x8 === Seq(Notification("s", "r", "fast", "fired", 8000)))
    // the new instance cleared pending, so t9 only re-arms the clock
    val (_, _, x9) = step(m8, n8, fire = true, 9000)
    assert(x9.isEmpty)
  }

  test("notifier: a rule with no routes delivers nothing") {
    import Alerts.{notifyCycle, Eval, MachineState, NotifierState}
    def ev = Seq(Eval("s", 1.0, shouldFire = true, durationMs = 0))
    val (m1, n1, _) = notifyCycle(MachineState.empty, NotifierState.empty,
      ev, _ => "r", Nil, 0)
    val (_, _, notes) = notifyCycle(m1, n1, ev, _ => "r", Nil, 1000)
    assert(notes.isEmpty)
  }

  test("metrics registry: counters accumulate, gauges overwrite") {
    Metrics.reset()
    Metrics.inc("cdc", "events_total", 5)
    Metrics.inc("cdc", "events_total", 3)
    Metrics.inc("cdc", "dlq_total")
    Metrics.setGauge("cdc", "lag_seconds", 2.5)
    Metrics.setGauge("cdc", "lag_seconds", 1.0)
    val snap = Metrics.snapshot()
    assert(snap("philotes_cdc_events_total") === 8.0)
    assert(snap("philotes_cdc_dlq_total") === 1.0)
    assert(snap("philotes_cdc_lag_seconds") === 1.0)
    Metrics.reset()
  }
}
