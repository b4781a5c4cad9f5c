package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The golden control dir behind [[ControlPlaneFixtureSpec]].
  *
  * `write` populates every persisted kind through the public API under
  * a fixed clock and a fixed credential key; `render` prints every
  * list/get view through the same JSON functions `ApiServer` serves,
  * plus the secrets those views redact. The committed fixture was
  * written by the last code whose on-disk format it pins; regenerate it
  * only from such a checkout:
  *
  * {{{
  * sbt "Test/runMain graft.api.ControlPlaneFixture <out-dir>"
  * }}}
  *
  * which writes `<out-dir>/meta/` (the 19 control files),
  * `<out-dir>/tokens.json` (the session and API-key plaintexts the
  * store keeps only hashes of) and `<out-dir>/rendered.txt`. */
object ControlPlaneFixture {

  val Key: Array[Byte] = Array.tabulate[Byte](32)(_.toByte)
  val StartMs = 1760000000000L
  /** The clock the fixture is rendered and reloaded at: after every
    * write, and inside the OIDC-state and session TTLs. */
  val RenderMs: Long = StartMs + 300000L

  def open(dir: String, nowMs: () => Long): ControlPlane =
    new ControlPlane(dir, connTest = _ => Right(1L), clock = nowMs,
      credentialKey = Some(Key))

  /** Populate `dir` with at least one row of every kind; returns the
    * session tokens and API-key plaintexts in minting order. */
  def write(dir: String): (Seq[String], Seq[String]) = {
    var now = StartMs
    def tick(ms: Long = 1000L): Unit = now += ms
    val cp = open(dir, () => now)

    val s1 = cp.createSource("pg-main", "postgres", "db.example", 5432,
      "appdb", "rep", "pw-fixture-secret", "require", "graft_slot", "graft_pub")
    tick()
    val s2 = cp.createSource("pg-nopass", "", "db2.example", 0, "app2", "rep2")
    tick()

    val p1 = cp.createPipeline("orders", s1.id,
      Seq(("public", "orders", true), ("public", "items", false)))
    tick()
    cp.createPipeline("empty", s2.id, Nil)
    tick()
    val p3 = cp.createPipeline("archive", s1.id, Seq(("sales", "x", true)))
    tick(); cp.startPipeline(p3.id)
    tick(); cp.stopPipeline(p3.id)
    // recorded running: reloads as stopped
    tick(); cp.startPipeline(p1.id)
    tick()

    val c1 = cp.createChannel("ops-slack", "slack",
      config = Map("url" -> "https://hooks.example/x", "channel" -> "#ops"))
    tick()
    val c2 = cp.createChannel("pager", "pagerduty", enabled = false)
    tick()

    val r1 = cp.createAlertRule("lag-high", "ingest_lag_seconds", "gt", 30.5,
      60L, "lag above budget", "critical", enabled = true,
      Seq((c1.id, true, 300L), (c2.id, false, 0L)))
    tick()
    cp.createAlertRule("errors", "error_rate", "gte", 1.0, enabled = false)
    tick()

    val a1 = cp.recordAlertFired(r1.id, "lag-high|orders", Some(42.0), now)
    tick()
    cp.recordAlertNotification("lag-high|orders", c1.id, "firing", now)
    tick()
    cp.acknowledgeAlert(a1.id, "oncall")
    tick()
    cp.recordAlertFired(r1.id, "lag-high|items", None, now)
    tick()
    cp.recordAlertResolved("lag-high|items", now)
    tick()
    cp.recordAlertSuppressed("lag-high|orders", c2.id, "firing",
      "channel disabled", now)
    tick()

    cp.createSilence(Map("alertname" -> "lag-high", "pipeline" -> "orders"),
      now, now + 3600000L, "oncall", "maintenance")
    tick()

    val o1 = cp.createOidcProvider("corp", "Corp SSO", "generic",
      "https://idp.example/", "client-1", "client-secret-fixture",
      roleMapping = Map("admins" -> "admin", "ops" -> "operator"))
    tick()
    cp.createOidcProvider("google", "", "google", "https://accounts.google.com",
      "cid-2", "", Seq("openid", "email"), "grp", Map.empty, "operator",
      enabled = false, autoCreateUsers = false)
    tick()

    val tokens = Seq.newBuilder[String]
    tokens += cp.registerFirstAdmin("admin@example.com", "fixture-password",
      "Admin")._2
    tick()
    tokens += cp.loginUser("admin@example.com", "fixture-password")._2
    tick()
    tokens += cp.oidcLogin(o1.id, ControlPlane.OidcUserInfo("sub-1",
      "sso@example.com", emailVerified = true, "SSO User", "", "",
      Seq("ops", "other")))._2
    tick()
    val (viewer, viewerTok, _) = cp.oidcLogin(o1.id,
      ControlPlane.OidcUserInfo("sub-2", "viewer@example.com",
        emailVerified = true, "", "Vi", "Ewer", Nil))
    tokens += viewerTok
    tick()
    cp.setUserActive(viewer.id, active = false)
    tick()

    val (_, key1) = cp.createApiKey("ci", Some(now + 30L * 86400000L))
    tick()
    val (k2, key2) = cp.createApiKey("old")
    tick()
    cp.revokeApiKey(k2.id)
    tick()

    val sp1 = cp.createScalingPolicy("workers", "cdc-worker", 1, 5, 60L,
      scaleToZero = true, enabled = true,
      scaleUpRules = Seq(("lag", "gt", 100.0, 0L, 2), ("lag", "gt", 10.0, 600L, 1)),
      scaleDownRules = Seq(("lag", "lt", 1.0, 300L, 1)))
    tick()
    val sp2 = cp.createScalingPolicy("trino-pool", "trino", 2, 8, 0L,
      scaleUpRules = Seq(("queue", "gte", 5.0, 900L, 1)))
    tick()
    val sp3 = cp.createScalingPolicy("nodes-pool", "nodes", 0, 3, 30L,
      scaleToZero = true)
    tick()
    cp.evaluateScalingPolicy(sp1.id, Map("lag" -> 500.0))
    tick()
    // a rule still inside its for-duration: pending_since persists
    cp.evaluateScalingPolicy(sp2.id, Map("queue" -> 7.0))
    tick()
    cp.recordScalingActivity(sp1.id)
    cp.recordScalingActivity(sp3.id)
    tick(61000L) // past sp1's cooldown
    cp.idleScaleToZeroTick(idleThresholdMs = 0L, keepAliveWindowMs = 0L)
    tick()
    cp.wakeScalingPolicy(sp3.id, "api_request")
    tick()
    cp.setScalingPolicyEnabled(sp3.id, enabled = false)
    tick()

    val q1 = cp.createQueryScalingPolicy("trino-q", "trino", 1, 4, 0L)
    tick()
    cp.createQueryScalingPolicy("rw-q", "risingwave", scaleToZero = true,
      enabled = false)
    tick()
    cp.evaluateQueryScalingPolicy(q1.id,
      Some(graft.observe.Scaling.QueryMetrics(20, 3, 0, Some(1500.0))))
    tick()

    cp.createOidcState(o1.id, "http://localhost:3000/cb")
    tick()
    cp.createOidcState(o1.id, "http://localhost:3000/other")
    require(now < RenderMs, s"fixture writes ran past RenderMs ($now)")
    (tokens.result(), Seq(key1, key2))
  }

  private def str(s: String): JValue = JString(s)
  private def optL(v: Option[Long]): JValue = v.fold[JValue](JNull)(JInt(_))
  private def attempt(f: => JValue): JValue =
    try f catch { case e: ControlPlane.NotFound => JString(s"404 ${e.getMessage}") }

  /** Every list/get view of `cp`, one `label<TAB>json` line each. */
  def render(cp: ControlPlane, sessionTokens: Seq[String],
             apiKeys: Seq[String]): String = {
    val out = Seq.newBuilder[(String, JValue)]
    def arr[A](xs: Seq[A])(f: A => JValue): JValue = JArray(xs.toList.map(f))

    val sources = cp.listSources()
    out += "sources" -> arr(sources)(cp.sourceJson)
    sources.foreach { s =>
      out += s"source ${s.id}" -> cp.sourceJson(cp.getSource(s.id))
      out += s"source ${s.id} password" -> str(cp.getSource(s.id).password)
    }
    val pipelines = cp.listPipelines()
    out += "pipelines" -> arr(pipelines)(cp.pipelineJson)
    pipelines.foreach(p =>
      out += s"pipeline ${p.id}" -> cp.pipelineJson(cp.getPipeline(p.id)))

    val rules = cp.listAlertRules()
    out += "alert rules" -> arr(rules)(cp.alertRuleJson)
    rules.foreach(r =>
      out += s"alert rule ${r.id}" -> cp.alertRuleJson(cp.getAlertRule(r.id)))
    val (evRules, evRoutes) = cp.evaluatorRules()
    out += "evaluator rules" -> arr(evRules)(r => str(r.toString))
    out += "evaluator routes" -> arr(evRoutes)(r => str(r.toString))
    val channels = cp.listChannels()
    out += "channels" -> arr(channels)(cp.channelJson)
    channels.foreach(c =>
      out += s"channel ${c.id}" -> cp.channelJson(cp.getChannel(c.id)))
    val alerts = cp.listAlertInstances()
    out += "alerts" -> arr(alerts)(cp.alertInstanceJson)
    out += "alerts firing" ->
      arr(cp.listAlertInstances(Some("firing")))(cp.alertInstanceJson)
    alerts.foreach { a =>
      out += s"alert ${a.id}" -> cp.alertInstanceJson(cp.getAlertInstance(a.id))
      out += s"alert ${a.id} history" ->
        arr(cp.listAlertHistory(a.id))(cp.alertHistoryJson)
    }
    out += "alert summary" -> JObject(cp.alertSummary().toList.sortBy(_._1)
      .map { case (k, v) => k -> (JInt(v): JValue) })
    val silences = cp.listSilences()
    out += "silences" -> arr(silences)(cp.silenceJson)
    silences.foreach(s =>
      out += s"silence ${s.id}" -> cp.silenceJson(cp.getSilence(s.id)))
    out += "silenced" -> JBool(cp.silenced(
      Map("alertname" -> "lag-high", "pipeline" -> "orders", "x" -> "y"),
      RenderMs))

    val providers = cp.listOidcProviders()
    out += "oidc providers" -> arr(providers)(cp.oidcProviderJson)
    out += "oidc provider summaries" ->
      arr(providers)(cp.oidcProviderSummaryJson)
    providers.foreach { p =>
      out += s"oidc provider ${p.id}" ->
        cp.oidcProviderJson(cp.getOidcProvider(p.id))
      out += s"oidc provider ${p.name} by name" ->
        cp.oidcProviderJson(cp.getOidcProviderByName(p.name))
      out += s"oidc provider ${p.id} client secret" ->
        str(cp.getOidcProvider(p.id).clientSecret)
    }
    out += "oidc states" -> arr(cp.listOidcStates)(s => JObject(
      "id" -> str(s.id), "state" -> str(s.state), "nonce" -> str(s.nonce),
      "code_verifier" -> str(s.codeVerifier),
      "provider_id" -> str(s.providerId),
      "redirect_uri" -> str(s.redirectUri),
      "created_at_ms" -> JInt(s.createdAtMs),
      "expires_at_ms" -> JInt(s.expiresAtMs)))

    val users = cp.listUsers()
    out += "users" -> arr(users)(cp.userJson)
    users.foreach(u => out += s"user ${u.id} secrets" -> JObject(
      "password_hash" -> str(u.passwordHash),
      "password_salt" -> str(u.passwordSalt),
      "kdf_iterations" -> JInt(u.kdfIterations)))
    sessionTokens.zipWithIndex.foreach { case (t, i) =>
      out += s"session $i" -> cp.validateSession(t).fold[JValue](JNull) {
        case (s, u) => JObject("id" -> str(s.id), "user_id" -> str(s.userId),
          "token_hash" -> str(s.tokenHash),
          "expires_at_ms" -> JInt(s.expiresAtMs),
          "created_at_ms" -> JInt(s.createdAtMs), "user" -> cp.userJson(u))
      }
    }
    val keys = cp.listApiKeys()
    out += "api keys" -> arr(keys)(cp.apiKeyJson)
    keys.foreach { k =>
      out += s"api key ${k.id}" -> cp.apiKeyJson(cp.getApiKey(k.id))
      out += s"api key ${k.id} hash" -> str(cp.getApiKey(k.id).hash)
    }
    apiKeys.zipWithIndex.foreach { case (k, i) =>
      out += s"api key $i validates" ->
        cp.validateApiKey(k).fold[JValue](JNull)(v => str(v.id))
    }

    val policies = cp.listScalingPolicies()
    out += "scaling policies" -> arr(policies)(cp.scalingPolicyJson)
    out += "scaling policies enabled" ->
      arr(cp.listScalingPolicies(enabledOnly = true))(cp.scalingPolicyJson)
    policies.foreach { p =>
      out += s"scaling policy ${p.id}" ->
        cp.scalingPolicyJson(cp.getScalingPolicy(p.id))
      val st = cp.getScalingPolicyState(p.id)
      out += s"scaling policy ${p.id} state" -> JObject(
        "current_replicas" -> JInt(st.currentReplicas),
        "last_scale_at_ms" -> optL(st.lastScaleAtMs),
        "pending_since" -> JObject(st.pendingSince.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JInt(v): JValue) }))
      out += s"scaling policy ${p.id} history" ->
        arr(cp.listScalingHistory(Some(p.id)))(cp.scalingEventJson)
      out += s"scaling policy ${p.id} idle" ->
        attempt(cp.idleStateJson(cp.getIdleState(p.id)))
      out += s"scaling policy ${p.id} savings" ->
        arr(cp.scalingCostSavings(p.id))(d => str(d.toString))
    }
    out += "scaling history" ->
      arr(cp.listScalingHistory())(cp.scalingEventJson)
    out += "scaled to zero" -> arr(cp.listScaledToZero())(cp.idleStateJson)
    out += "savings summary" ->
      arr(cp.scalingSavingsSummary())(s => str(s.toString))

    val qps = cp.listQueryScalingPolicies()
    out += "query scaling policies" -> arr(qps)(cp.queryScalingPolicyJson)
    qps.foreach { p =>
      out += s"query scaling policy ${p.id}" ->
        cp.queryScalingPolicyJson(cp.getQueryScalingPolicy(p.id))
      val st = cp.getQueryScalingState(p.id)
      out += s"query scaling policy ${p.id} state" -> JObject(
        "current_replicas" -> JInt(st.currentReplicas),
        "last_scale_at_ms" -> optL(st.lastScaleAtMs))
      out += s"query scaling policy ${p.id} history" ->
        arr(cp.listQueryScalingHistory(Some(p.id)))(cp.scalingEventJson)
    }
    out += "query scaling history" ->
      arr(cp.listQueryScalingHistory())(cp.scalingEventJson)

    out.result().map { case (label, v) =>
      s"$label\t${JsonMethods.compact(JsonMethods.render(v))}\n"
    }.mkString
  }

  def tokensJson(sessions: Seq[String], apiKeys: Seq[String]): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "sessions" -> JArray(sessions.toList.map(JString(_))),
      "api_keys" -> JArray(apiKeys.toList.map(JString(_))))))

  def readTokens(json: String): (Seq[String], Seq[String]) = {
    val v = JsonMethods.parse(json)
    def strs(f: String) = (v \ f) match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _          => Nil
    }
    (strs("sessions"), strs("api_keys"))
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption.getOrElse(
      "src/test/resources/control_fixture_v1"))
    val meta = out.resolve("meta")
    Files.createDirectories(meta)
    val (sessions, keys) = write(meta.toString)
    Files.write(out.resolve("tokens.json"),
      tokensJson(sessions, keys).getBytes(UTF_8))
    val rendered = render(open(meta.toString, () => RenderMs), sessions, keys)
    Files.write(out.resolve("rendered.txt"), rendered.getBytes(UTF_8))
    println(s"wrote ${Files.list(meta).count()} control files under $meta")
  }
}
