package graft.api

import java.nio.file.Files

import graft.SparkTestBase
import graft.observe.Scaling

/** The scaling evaluation loop (ref internal/scaling/manager.go's
  * ticker): both policy families evaluated per tick through the
  * store, enabled-only, with state and history landing there. */
class ScalingManagerSpec extends SparkTestBase {

  test("a tick evaluates every ENABLED policy of both families through the store") {
    val dir = Files.createTempDirectory("graft-scalmgr").toString
    @volatile var now = 100000L
    val cp = new ControlPlane(dir, connTest = _ => Right(1L), clock = () => now)
    val p1 = cp.createScalingPolicy("workers", "cdc-worker", 1, 4,
      cooldownSeconds = 0L,
      scaleUpRules = Seq(("lag", "gt", 10.0, 0L, 1)))
    val pOff = cp.createScalingPolicy("off", "cdc-worker", 1, 4,
      enabled = false,
      scaleUpRules = Seq(("lag", "gt", 10.0, 0L, 1)))
    val q1 = cp.createQueryScalingPolicy("trino-pool", "trino",
      minReplicas = 1, maxReplicas = 3, cooldownSeconds = 0L)
    val mgr = new ScalingManager(cp,
      metricSource = () => Map("lag" -> 42.0),
      queryMetricsSource = () => Some(Scaling.QueryMetrics(7, 0, 0)))
    try {
      val (g, q) = mgr.tick()
      // generic: only the ENABLED policy evaluated, rule fired 1 -> 2
      assert(g.map(_._1) === Seq(p1.id))
      assert(g.head._2.shouldExecute && g.head._2.desiredReplicas === 2)
      // query family: queued 7 >= default threshold 5 steps 1 -> 2
      assert(q.map(_._1) === Seq(q1.id))
      assert(q.head._2.action === "scale_up" &&
        q.head._2.desiredReplicas === 2)
      // state and history landed in the store; the disabled policy
      // was never touched
      assert(cp.getScalingPolicyState(p1.id).currentReplicas === 2)
      assert(cp.getScalingPolicyState(pOff.id).currentReplicas === 1)
      assert(cp.getQueryScalingState(q1.id).currentReplicas === 2)
      assert(cp.listScalingHistory().size === 1)
      assert(cp.listQueryScalingHistory().size === 1)
      // ticks keep walking the width up (cooldown 0 here)
      now += 1000L
      mgr.tick()
      assert(cp.getScalingPolicyState(p1.id).currentReplicas === 3)
      assert(cp.getQueryScalingState(q1.id).currentReplicas === 3)
    } finally mgr.close()
  }

  test("the daemon SLEEPS before its first tick; a failing source costs only its family") {
    val dir = Files.createTempDirectory("graft-scalmgr2").toString
    @volatile var now = 100000L
    val cp = new ControlPlane(dir, connTest = _ => Right(1L), clock = () => now)
    val p1 = cp.createScalingPolicy("workers", "cdc-worker", 1, 4,
      cooldownSeconds = 0L,
      scaleUpRules = Seq(("lag", "gt", 10.0, 0L, 1)))
    val q1 = cp.createQueryScalingPolicy("trino-pool", "trino",
      minReplicas = 1, maxReplicas = 3, cooldownSeconds = 0L)
    // sleep-first (the reference's time.Ticker fires only AFTER the
    // first interval): an immediate tick on service start would read a
    // not-yet-populated registry and WIPE persisted pending clocks
    val slow = new ScalingManager(cp,
      metricSource = () => Map("lag" -> 42.0),
      intervalMs = 3600000L)
    try {
      slow.start()
      Thread.sleep(300L)
      assert(cp.getScalingPolicyState(p1.id).currentReplicas === 1,
        "the daemon must not tick before its first interval")
    } finally slow.close()
    // a THROWING query-metrics source costs the query family's cycle,
    // never the generic family's
    val mgr = new ScalingManager(cp,
      metricSource = () => Map("lag" -> 42.0),
      queryMetricsSource = () => throw new IllegalStateException("down"))
    try {
      val (g, q) = mgr.tick()
      assert(g.size === 1 && g.head._2.shouldExecute)
      // the source failure degrades to "no metrics" for the family,
      // which the model reports as a non-executing decision
      assert(q.size === 1 && q.head._2.action === "none" &&
        q.head._2.reason.contains("no metrics"))
      assert(cp.getScalingPolicyState(p1.id).currentReplicas === 2)
      assert(cp.getQueryScalingState(q1.id).currentReplicas === 1)
      // a short-interval daemon really ticks
      now += 1000L
    } finally mgr.close()
    val fast = new ScalingManager(cp,
      metricSource = () => Map("lag" -> 42.0), intervalMs = 50L)
    try {
      fast.start()
      val deadline = System.currentTimeMillis() + 5000L
      while (cp.getScalingPolicyState(p1.id).currentReplicas < 4 &&
        System.currentTimeMillis() < deadline) {
        now += 1000L; Thread.sleep(50L)
      }
      assert(cp.getScalingPolicyState(p1.id).currentReplicas === 4)
    } finally fast.close()
  }

  test("sparkQueryMetrics is job-granular: one running job is never double-counted as queued") {
    val sc = spark.sparkContext
    // a DEDICATED thread, not the global EC: pool threads created by
    // an earlier suite inherit its job group (getActiveJobIds lists
    // DEFAULT-group jobs only) and the shared pool can be busy — both
    // make the background job invisible or late under the full suite
    @volatile var submitted = false
    @volatile var jobErr: Throwable = null
    // the job's tasks hold until the poll loop has seen the job running
    // (or given up): the job stays visible for as long as the status
    // store lags, instead of ending after a fixed sleep
    val release = new java.util.concurrent.CountDownLatch(1)
    ScalingManagerSpec.release = release
    val runner = new Thread(() => {
      try {
        sc.clearJobGroup()
        submitted = true
        sc.parallelize(1 to 4, 4).mapPartitions { it =>
          ScalingManagerSpec.release.await(30L, java.util.concurrent.TimeUnit.SECONDS)
          it
        }.count()
        ()
      } catch { case e: Throwable => jobErr = e }
    }, "graft-metrics-spec-job")
    runner.setDaemon(true)
    runner.start()
    try {
      val deadline = System.currentTimeMillis() + 20000L
      var seenRunning = false
      val observed = Seq.newBuilder[(Int, Int, Int)]
      while (!seenRunning && System.currentTimeMillis() < deadline) {
        val m = ScalingManager.sparkQueryMetrics(spark)
        val active = sc.statusTracker.getActiveJobIds().length
        observed += ((m.queued, m.running, active))
        // queued + running partition the active-job set: the sleeping
        // job shows up in exactly ONE bucket
        assert(m.queued + m.running <= active + 1)
        if (m.running >= 1) { seenRunning = true; assert(m.queued === 0) }
        Thread.sleep(50L)
      }
      release.countDown()
      runner.join(30000L)
      assert(jobErr == null, s"background job failed: $jobErr")
      val obs = observed.result()
      // the no-double-count INVARIANT asserted on every poll above;
      // the positive sighting needs the status store to catch up with
      // the held job within the 20 s window — cancel if it never does,
      // like the repo's other environment-gated specs.
      if (!seenRunning) cancel(
        s"status store never showed the job as running (full-suite " +
          s"store lag); submitted=$submitted, last observations " +
          s"(queued,running,activeJobs): ${obs.takeRight(5).mkString(", ")}")
    } finally { release.countDown(); runner.join(30000L) }
  }

  test("TickerDaemon restarts after close — never a silently dead loop") {
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val d = new TickerDaemon("graft-test-ticker", 20L,
      () => { ticks.incrementAndGet(); () })
    def awaitTicksAbove(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 5000L
      while (ticks.get() <= n && System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
      assert(ticks.get() > n, s"loop never ticked past $n")
    }
    d.start()
    awaitTicksAbove(0)
    d.close()
    val afterClose = ticks.get()
    // the stop flag resets on start: the restarted loop LIVES
    d.start()
    awaitTicksAbove(afterClose)
    d.close()
  }
}

object ScalingManagerSpec {
  /** Held by the background job's tasks in "sparkQueryMetrics is
    * job-granular …": tasks run in this JVM (local mode) and read the
    * latch through this object, not through a serialized closure. */
  @volatile var release = new java.util.concurrent.CountDownLatch(0)
}
