package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.json4s._

/** The control-plane entity layer: Source / Pipeline / TableMapping CRUD
  * with the reference's exact service semantics (ref
  * internal/api/services/pipeline.go:38-216, source.go:34-120,
  * models/pipeline.go:11-66, models/source.go:23-50):
  *
  *   - names are unique per entity kind (conflict = 409);
  *   - a pipeline references an EXISTING source (404 otherwise) and a
  *     source with pipelines attached refuses deletion (409);
  *   - update/delete are refused while the pipeline is running or
  *     starting (409);
  *   - start/stop walk the status machine stopped → starting → running
  *     → stopping → stopped, stamping started_at/stopped_at; a start on
  *     a running pipeline (or stop on a stopped one) conflicts;
  *   - duplicate table mappings (same schema.table) conflict.
  *
  * Persistence replaces the reference's Postgres control tables with
  * one JSON file per entity kind under `metaDir` (19 files;
  * control-plane metadata is KB-sized, and the data plane never flows
  * through here). Every kind is one [[Collection]] — or, for the
  * per-policy scaling and idle state maps, one [[Store]]: a file name,
  * a codec, and the in-memory value, loaded once at construction and
  * replaced by an fsynced temp-then-atomic-rename write, so a crash
  * never leaves a torn file. A kind's stored row is its API view plus
  * its secret fields, which are sealed at rest by [[CredentialCrypto]]
  * where they are credentials. All writes, and the cross-kind rules (a
  * source with pipelines cannot be deleted; deleting a scaling policy
  * drops its state and idle row), run under one ControlPlane-wide lock.
  *
  * Decoding is strict ([[Row]]): a missing or mistyped field, or a file
  * of the wrong JSON shape, refuses the load with an
  * `IllegalStateException` naming the file, the entity and the field.
  * The tolerated legacy forms are exactly these:
  *   - `default_role` (OIDC providers) may be absent and reads as
  *     `viewer`; `is_active` (users) may be absent and reads as true;
  *   - the users' `oidc_provider_id`, `oidc_subject` and `oidc_groups`
  *     may be absent (no OIDC link), and so may `routes`, `tables`,
  *     `scopes`, `role_mapping`, `matchers` and `pending_since` (empty);
  *   - the nullable `*_at_ms` fields (and `current_value`, `value`,
  *     `wake_reason`) read `null` as None;
  *   - a numeric `threshold` may be an integer, a double or a decimal;
  *   - a pipeline stored running, starting or stopping reloads as
  *     stopped (that process is gone);
  *   - an OIDC login state that has expired, or whose sealed nonce or
  *     verifier no longer decrypts, is dropped.
  *
  * Where the reference's Start/Stop are explicit TODO stubs that only
  * flip the status column (pipeline.go:177-181, 208-212), this layer
  * takes a [[ControlPlane.Runner]]: the default mirrors the reference
  * (decision layer only), and a real runner can launch/stop an actual
  * [[graft.streaming.IngestPipeline]] — a runner failure lands the
  * pipeline in status `error` with the message recorded, never a
  * silent "running" lie. */
object ControlPlane {

  final case class NotFound(resource: String, id: String)
    extends RuntimeException(s"$resource $id not found")
  final case class Conflict(message: String) extends RuntimeException(message)
  final case class Invalid(message: String) extends RuntimeException(message)
  final case class Unauthorized(message: String)
    extends RuntimeException(message)
  final case class Forbidden(message: String)
    extends RuntimeException(message)
  final case class TooManyRequests(message: String)
    extends RuntimeException(message)

  /** The deployment's credential key (`GRAFT_ENCRYPTION_KEY`, base64
    * 32 bytes) — None means credentials persist in plaintext, the
    * reference's behavior when its optional EncryptionKey is unset. */
  def envCredentialKey(): Option[Array[Byte]] =
    sys.env.get("GRAFT_ENCRYPTION_KEY").map(CredentialCrypto.keyFromBase64)

  /** Escape marker for keyless plaintext that collides with a stored
    * format marker. Deliberately implausible as a real password
    * prefix — any in-band marker can in principle collide with a
    * pre-marker plaintext store, so the marker is chosen to make that
    * astronomically unlikely rather than merely uncommon. */
  private[api] val PlainMarker = "!graft-stored-plain:v1!"

  /** Retention cap for each scaling-history family: every append
    * rewrites the whole file, and the evaluation loop makes growth
    * autonomous — a flip-flopping policy is bounded, not unbounded. */
  private[api] val ScalingHistoryCap = 1000

  /** `password` is stored with the source (the reference keeps it in
    * its control DB the same way, models/source.go CreateSourceRequest)
    * and REDACTED from every HTTP response — only the wire probes and
    * the runner read it. */
  final case class Source(id: String, name: String, typ: String,
                          host: String, port: Int, databaseName: String,
                          username: String, password: String,
                          sslMode: String,
                          slotName: String, publicationName: String,
                          createdAtMs: Long, updatedAtMs: Long)
    extends Named

  final case class TableMapping(id: String, sourceSchema: String,
                                sourceTable: String, enabled: Boolean)

  final case class Pipeline(id: String, name: String, sourceId: String,
                            status: String, errorMessage: String,
                            tables: Seq[TableMapping],
                            createdAtMs: Long, updatedAtMs: Long,
                            startedAtMs: Option[Long],
                            stoppedAtMs: Option[Long])
    extends Named

  /** One rule→channel delivery route (ref internal/alerting/types.go:
    * 266-276 AlertRoute — channel id, repeat interval, enabled; the
    * group-wait/group-interval fields are notifier batching knobs the
    * evaluator here does not model). */
  final case class AlertRoute(id: String, channel: String, enabled: Boolean,
                              repeatIntervalSeconds: Long)

  /** One managed alert rule (ref internal/alerting/types.go:153-167
    * AlertRule; persisted and served over HTTP like the reference's
    * alert_repository.go rules table). `metricName` names the series
    * source the deployment evaluates the rule against; `op` is the
    * reference's operator vocabulary (gt/gte/lt/lte/eq —
    * [[graft.observe.Alerts.compare]]). */
  final case class AlertRule(id: String, name: String, description: String,
                             metricName: String, op: String, threshold: Double,
                             durationSeconds: Long, severity: String,
                             enabled: Boolean, routes: Seq[AlertRoute],
                             createdAtMs: Long, updatedAtMs: Long)
    extends Named

  /** One notification channel (ref internal/alerting/types.go:256-264
    * NotificationChannel): a named delivery target alert routes
    * reference by id — the FK the reference's schema enforces. */
  final case class Channel(id: String, name: String, typ: String,
                           enabled: Boolean, config: Map[String, String],
                           createdAtMs: Long, updatedAtMs: Long)
    extends Named

  /** One OIDC identity provider (ref internal/api/models/oidc.go:38-54
    * OIDCProvider): a configured issuer whose RS256-signed tokens the
    * API accepts, with audience = client_id. `clientSecret` persists
    * with the provider (encrypted at rest like source passwords —
    * the reference stores ClientSecretEncrypted) and NEVER renders;
    * token validation needs only issuer + client id, the secret exists
    * for the reference's interactive code-exchange flow. */
  final case class OidcProvider(id: String, name: String,
                                displayName: String, providerType: String,
                                issuerUrl: String, clientId: String,
                                clientSecret: String, scopes: Seq[String],
                                groupsClaim: String,
                                roleMapping: Map[String, String],
                                defaultRole: String, enabled: Boolean,
                                autoCreateUsers: Boolean,
                                createdAtMs: Long, updatedAtMs: Long)
    extends Named

  /** One in-flight interactive login (ref internal/api/models/oidc.go:
    * 56-66 OIDCState): the `state` round-trips through the IdP and
    * keys the row; nonce and PKCE verifier NEVER render over the API
    * (the reference's `json:"-"`) — they exist to be compared/sent at
    * callback time, then the row burns (one-time use). */
  final case class OidcState(id: String, state: String, nonce: String,
                             codeVerifier: String, providerId: String,
                             redirectUri: String,
                             createdAtMs: Long, expiresAtMs: Long)
    extends Entity

  /** ID-token identity as the callback path consumes it (ref
    * models/oidc.go:322-331 OIDCUserInfo). */
  final case class OidcUserInfo(subject: String, email: String,
                                emailVerified: Boolean, name: String,
                                givenName: String, familyName: String,
                                groups: Seq[String])

  /** One scaling rule (ref internal/api/models/scaling.go:14-20
    * ScalingRuleRequest / internal/scaling/types.go:229-263): fire
    * when `metric <op> threshold` has held for `duration_seconds`;
    * `scaleBy` is the API's positive step — the evaluator receives it
    * signed by which list the rule sits in. */
  final case class ScalingRule(id: String, metric: String, op: String,
                               threshold: Double, durationSeconds: Long,
                               scaleBy: Int)

  /** One scaling policy (ref models/scaling.go:30-44
    * CreateScalingPolicyRequest, scaling/types.go:180-228): bounds +
    * cooldown + ordered rule lists over a scaling target. Schedules
    * and cost caps are K8s-actuation knobs the SURVEY scopes out with
    * the rest of the actuation layer. */
  final case class ScalingPolicy(id: String, name: String,
                                 targetType: String,
                                 minReplicas: Int, maxReplicas: Int,
                                 cooldownSeconds: Long,
                                 scaleToZero: Boolean, enabled: Boolean,
                                 scaleUpRules: Seq[ScalingRule],
                                 scaleDownRules: Seq[ScalingRule],
                                 createdAtMs: Long, updatedAtMs: Long)
    extends ScalingBounds {
    def ruleIds: Set[String] = (scaleUpRules ++ scaleDownRules).map(_.id).toSet
  }

  /** What the two scaling families share: replica bounds, and the rule
    * ids pending clocks may key on. */
  sealed trait ScalingBounds extends Named {
    def minReplicas: Int
    def maxReplicas: Int
    def scaleToZero: Boolean
    def ruleIds: Set[String]
  }

  /** Per-policy evaluation state (ref scaling/types.go:300-332):
    * current width, cooldown clock, and each rule's for-duration
    * pending clock — persisted so cooldowns survive a restart. */
  final case class ScalingPolicyState(currentReplicas: Int,
                                      lastScaleAtMs: Option[Long],
                                      pendingSince: Map[String, Long])

  /** One executed scaling decision (the reference's scaling history
    * rows served over /scaling/history). */
  final case class ScalingEvent(id: String, policyId: String,
                                action: String, fromReplicas: Int,
                                toReplicas: Int, reason: String,
                                triggeredBy: String, atMs: Long)
    extends Entity

  /** Idle/wake state for one scaling policy (ref scaling/types.go:
    * 389-401 IdleState) — maintained by activity recording, wake, the
    * idle tick, and executed zero-width decisions, the way the
    * reference's idle detector maintains its rows. */
  final case class IdleState(policyId: String, lastActivityAtMs: Long,
                             idleSinceMs: Option[Long],
                             scaledToZeroAtMs: Option[Long],
                             lastWakeAtMs: Option[Long],
                             wakeReason: Option[String],
                             isScaledToZero: Boolean,
                             createdAtMs: Long, updatedAtMs: Long)

  /** One wake outcome (ref scaling/wake/trigger.go:86-96 Result). */
  final case class WakeResult(policyId: String, previousReplicas: Int,
                              targetReplicas: Int, reason: String,
                              status: String, message: String)

  /** One day of savings (ref scaling/types.go:416-443 CostSavings) —
    * DERIVED from the persisted scaling history's zero-width intervals
    * plus the live idle stretch, not accrued rows. */
  final case class DailySavings(date: String, idleSeconds: Long,
                                zeroSeconds: Long, savingsCents: Long)

  /** Per-policy all-time savings (ref wake.go GetSavingsSummary). */
  final case class PolicySavings(policyId: String, idleSeconds: Long,
                                 zeroSeconds: Long, savingsCents: Long)

  /** ref scaling/types.go:359-374: the wake-reason vocabulary. */
  private[api] val WakeReasons = Set("manual", "scheduled", "webhook",
    "api_request", "database_activity")
  private[api] val DefaultSavingsDays = 30
  /** Savings are priced per replica-hour of avoided zero-width run
    * time; the deployment's real rate arrives as a query parameter —
    * this default only keeps the math visible without one. */
  private[api] val DefaultHourlyCostCents = 100

  /** One query-ENGINE scaling policy (ref internal/api/models/
    * queryscaling.go:21-40 QueryScalingPolicy): the fixed-threshold
    * model [[graft.observe.Scaling.QueryPolicy]] evaluates — queue
    * depth, running count, p95 latency, each stepping by ONE replica.
    * Business-hours schedule fields stay with the actuation layer the
    * SURVEY scopes out. */
  final case class QueryScalingPolicy(id: String, name: String,
                                      queryEngine: String,
                                      enabled: Boolean,
                                      minReplicas: Int, maxReplicas: Int,
                                      cooldownSeconds: Long,
                                      scaleToZero: Boolean,
                                      queuedThreshold: Int,
                                      runningThreshold: Int,
                                      latencyThresholdSeconds: Int,
                                      createdAtMs: Long, updatedAtMs: Long)
    extends ScalingBounds {
    def ruleIds: Set[String] = Set.empty
  }

  /** One alert instance (ref types.go:169-187 AlertInstance): the
    * LIVE state of a (rule, fingerprint) pair — firing or resolved,
    * optionally acknowledged. The evaluator's machine decides the
    * transitions; the store records them. */
  final case class AlertInstance(id: String, ruleId: String,
                                 fingerprint: String, status: String,
                                 currentValue: Option[Double],
                                 firedAtMs: Long,
                                 resolvedAtMs: Option[Long],
                                 acknowledgedAtMs: Option[Long],
                                 acknowledgedBy: String,
                                 createdAtMs: Long, updatedAtMs: Long)
    extends Entity

  /** One audit-trail row (ref types.go:214-223 AlertHistory):
    * fired / resolved / acknowledged / notification_sent. */
  final case class AlertHistoryEntry(id: String, alertId: String,
                                     ruleId: String, eventType: String,
                                     message: String,
                                     value: Option[Double],
                                     createdAtMs: Long)
    extends Entity

  /** One temporary suppression (ref types.go:227-253 AlertSilence):
    * matchers are exact label equalities; a notification whose labels
    * carry every matcher pair is suppressed while the window is open. */
  final case class AlertSilence(id: String, matchers: Map[String, String],
                                startsAtMs: Long, endsAtMs: Long,
                                createdBy: String, comment: String,
                                createdAtMs: Long, updatedAtMs: Long)
    extends Entity {
    def activeAt(nowMs: Long): Boolean =
      nowMs > startsAtMs && nowMs < endsAtMs
    def matches(labels: Map[String, String]): Boolean =
      matchers.forall { case (k, v) => labels.get(k).contains(v) }
  }

  /** One managed API key (ref internal/api/services/api_key.go:
    * 54-262): the plaintext `<prefix>live_<random>` is returned ONCE
    * at creation; the store keeps only its SHA-256 and a display
    * prefix. Revocation is soft (the row survives for audit), deletion
    * hard; validation is hash lookup + not-revoked + not-expired. */
  final case class ApiKey(id: String, name: String, prefix: String,
                          hash: String, expiresAtMs: Option[Long],
                          revokedAtMs: Option[Long],
                          createdAtMs: Long, updatedAtMs: Long)
    extends Named

  private[api] def hashApiKey(plaintext: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(plaintext.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** One user account (ref models/auth.go:68-80 User + services/
    * auth.go). The password is kept as PBKDF2-HMAC-SHA256 over a
    * per-user random salt — the reference uses bcrypt; PBKDF2 is the
    * JVM-native slow KDF this repo already speaks (RFC 5802 Hi). */
  final case class User(id: String, email: String, name: String,
                        role: String, isActive: Boolean,
                        lastLoginAtMs: Option[Long],
                        passwordHash: String, passwordSalt: String,
                        kdfIterations: Int,
                        createdAtMs: Long, updatedAtMs: Long,
                        // ref models/auth.go:75-77 — the OIDC link.
                        // An OIDC-provisioned user has an EMPTY
                        // password hash, which no password can ever
                        // verify against (the digest compare runs on
                        // the stored value, and PBKDF2 output is never
                        // empty) — SSO accounts have no password login.
                        oidcProviderId: Option[String] = None,
                        oidcSubject: Option[String] = None,
                        oidcGroups: Seq[String] = Nil)
    extends Named

  /** One minted login session: the bearer plaintext exists only in
    * the login response; the store keeps its SHA-256 and the expiry
    * (the API-key treatment — the reference mints stateless HS256
    * JWTs; hashed server-side rows add revocability-by-restart-purge
    * and keep no signing secret on disk). */
  final case class Session(id: String, userId: String, tokenHash: String,
                           expiresAtMs: Long, createdAtMs: Long)
    extends Entity

  /** ref config.go: PHILOTES_AUTH_JWT_EXPIRATION default 24h. */
  private[api] val DefaultSessionTtlMs: Long = 24L * 3600 * 1000
  /** ref config.go:903: PHILOTES_OIDC_STATE_EXPIRATION default 10m. */
  private[api] val OidcStateTtlMs: Long = 10L * 60 * 1000
  /** Authorize is an UNAUTHENTICATED route — in-flight states must be
    * bounded or a spray grows the store for a whole TTL. Oldest-first
    * eviction: a flooded deployment fails the oldest pending login,
    * never the newest legitimate one. */
  private[api] val MaxOidcStates = 1000
  /** ref models/auth.go:20-27 — the role vocabulary. */
  private[api] val UserRoles = Set("admin", "operator", "viewer")
  /** OWASP-order PBKDF2-HMAC-SHA256 work factor. */
  private[api] val KdfIterations = 100000
  /** Consecutive failures before an email locks out, and for how
    * long. The tradeoff is explicit: a spray can lock a KNOWN email
    * out of password login for the window (the static token, API keys
    * and OIDC are unaffected) — unbounded online brute force on the
    * gate-exempt login route is the worse failure. */
  private[api] val MaxLoginFailures = 5
  private[api] val LoginLockoutMs: Long = 60000L
  /** Failure-tracking cap (unique-email sprays must not grow heap)
    * and per-user live-session cap (login-per-request clients must
    * not grow sessions.json for a whole TTL). */
  private[api] val MaxTrackedLoginFailures = 10000
  private[api] val MaxSessionsPerUser = 10
  /** Activity pings persist at most this often per policy (the
    * transition writes — idle/zero/wake — always persist); a restart
    * can lose at most this much activity FRESHNESS, harmless against
    * a 30-minute idle threshold. */
  private[api] val ActivityPersistIntervalMs: Long = 30000L

  private[api] def pbkdf2(password: String, salt: Array[Byte],
                          iterations: Int): String = {
    val spec = new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, iterations, 256)
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded.map(b => f"$b%02x").mkString
  }

  /** Pipeline actuation hook. [[Noop]] is the reference's posture
    * (status-only); a real runner performs the lifecycle. `start` throws
    * to signal failure — the store records status `error`. */
  trait Runner {
    def start(p: Pipeline, src: Source): Unit
    def stop(p: Pipeline): Unit
    /** Post-start health: Some(error) when a pipeline this runner
      * started has since DIED (drain loop exited, socket broke) — the
      * store's status refresh turns it into status `error` instead of
      * letting a stale "running" stand. None = healthy or unknown. */
    def health(p: Pipeline): Option[String] = None
  }
  object Noop extends Runner {
    override def start(p: Pipeline, src: Source): Unit = ()
    override def stop(p: Pipeline): Unit = ()
  }

  /** Probe a source's connectivity: Right(latencyMs) or Left(error).
    * The default opens a REAL wire connection ([[graft.sources.PgWire]])
    * — the reference's TestConnection does the same through pgx
    * (source.go:122-180). */
  private def wireOf(src: Source): graft.sources.PgWire =
    new graft.sources.PgWire(src.host, src.port, src.username,
      src.databaseName,
      password = if (src.password.isEmpty) None else Some(src.password))

  def wireConnTest(src: Source): Either[String, Long] = {
    val t0 = System.nanoTime()
    try {
      val wire = wireOf(src)
      try { wire.connect(); wire.command("SELECT 1") }
      finally wire.close()
      Right((System.nanoTime() - t0) / 1000000L)
    } catch {
      case e: Exception => Left(String.valueOf(e.getMessage))
    }
  }

  /** List replicable tables of a source's database over the wire (the
    * reference's DiscoverTables, source.go:227-268): (schema, table)
    * pairs outside the system schemas. */
  def wireDiscoverTables(src: Source,
                         schema: Option[String]): Either[String, Seq[(String, String)]] =
    try {
      val wire = wireOf(src)
      try {
        wire.connect()
        val filter = schema.map(s => s" AND schemaname = '${s.replace("'", "''")}'")
          .getOrElse("")
        val rows = wire.command(
          "SELECT schemaname, tablename FROM pg_tables WHERE schemaname " +
            s"NOT IN ('pg_catalog', 'information_schema')$filter " +
            "ORDER BY schemaname, tablename")
        Right(rows.map(r => (r(0), r(1))))
      } finally wire.close()
    } catch {
      case e: Exception => Left(String.valueOf(e.getMessage))
    }
}

final class ControlPlane(val metaDir: String,
                         runner: ControlPlane.Runner = ControlPlane.Noop,
                         connTest: ControlPlane.Source => Either[String, Long] =
                           ControlPlane.wireConnTest,
                         clock: () => Long = () => System.currentTimeMillis(),
                         credentialKey: Option[Array[Byte]] =
                           ControlPlane.envCredentialKey()) {

  import ControlPlane._
  import Json._

  private val dir: Path = Paths.get(metaDir)
  Files.createDirectories(dir)

  private val lock = new Object
  private val secureRandom = new java.security.SecureRandom()
  private val sessionTtlMs: Long = ControlPlane.DefaultSessionTtlMs

  private def newId(): String = java.util.UUID.randomUUID().toString

  // ---- secrets at rest ----------------------------------------------

  /** The stored form of a secret: encrypted when a key is configured
    * ([[CredentialCrypto]], the reference's internal/crypto
    * construction). Keyless values that COLLIDE with a format marker
    * escape behind [[ControlPlane.PlainMarker]] — otherwise a real
    * password beginning with the literal `enc:v1:` would be
    * misclassified as ciphertext on reload and brick the store. Legacy
    * plaintext stores are self-identifying and re-encrypt on the next
    * persist. */
  private def seal(v: String): String = credentialKey match {
    case Some(k) if v.nonEmpty => CredentialCrypto.encrypt(k, v)
    case _ if CredentialCrypto.isEncrypted(v) || v.startsWith(PlainMarker) =>
      PlainMarker + v
    case _ => v
  }

  /** Resolve a stored secret: decrypt with the configured key; an
    * encrypted value with NO key refuses loudly (serving the ciphertext
    * as a password would fail opaque and late). */
  private def unseal(stored: String): String =
    if (stored.startsWith(PlainMarker)) stored.substring(PlainMarker.length)
    else if (!CredentialCrypto.isEncrypted(stored)) stored
    else credentialKey match {
      case Some(k) => CredentialCrypto.decrypt(k, stored)
      case None => throw new IllegalStateException(
        s"the source store at $metaDir holds encrypted credentials — " +
          "set GRAFT_ENCRYPTION_KEY")
    }

  private def extend(o: JObject, secrets: JField*): JObject =
    JObject(o.obj ++ secrets)

  // ---- API views; each kind's stored row is its view plus any secret

  /** The password NEVER renders. */
  private[api] def sourceJson(s: Source): JObject = obj(
    "id" := s.id, "name" := s.name, "type" := s.typ, "host" := s.host,
    "port" := s.port, "database_name" := s.databaseName,
    "username" := s.username, "ssl_mode" := s.sslMode,
    "slot_name" := s.slotName, "publication_name" := s.publicationName,
    "created_at_ms" := s.createdAtMs, "updated_at_ms" := s.updatedAtMs)

  private[api] def pipelineJson(p: Pipeline): JObject = obj(
    "id" := p.id, "name" := p.name, "source_id" := p.sourceId,
    "status" := p.status, "error_message" := p.errorMessage,
    "tables" := arr(p.tables)(m => obj("id" := m.id,
      "source_schema" := m.sourceSchema, "source_table" := m.sourceTable,
      "enabled" := m.enabled)),
    "created_at_ms" := p.createdAtMs, "updated_at_ms" := p.updatedAtMs,
    "started_at_ms" := p.startedAtMs, "stopped_at_ms" := p.stoppedAtMs)

  private[api] def alertRuleJson(r: AlertRule): JObject = obj(
    "id" := r.id, "name" := r.name, "description" := r.description,
    "metric_name" := r.metricName, "operator" := r.op,
    "threshold" := r.threshold, "duration_seconds" := r.durationSeconds,
    "severity" := r.severity, "enabled" := r.enabled,
    "routes" := arr(r.routes)(rt => obj("id" := rt.id,
      "channel_id" := rt.channel, "enabled" := rt.enabled,
      "repeat_interval_seconds" := rt.repeatIntervalSeconds)),
    "created_at_ms" := r.createdAtMs, "updated_at_ms" := r.updatedAtMs)

  private[api] def channelJson(c: Channel): JObject = obj(
    "id" := c.id, "name" := c.name, "type" := c.typ, "enabled" := c.enabled,
    "config" := c.config,
    "created_at_ms" := c.createdAtMs, "updated_at_ms" := c.updatedAtMs)

  /** The client secret NEVER renders (the reference's `json:"-"` on
    * ClientSecretEncrypted). */
  private[api] def oidcProviderJson(p: OidcProvider): JObject = obj(
    "id" := p.id, "name" := p.name, "display_name" := p.displayName,
    "provider_type" := p.providerType, "issuer_url" := p.issuerUrl,
    "client_id" := p.clientId, "scopes" := p.scopes,
    "groups_claim" := p.groupsClaim, "role_mapping" := p.roleMapping,
    "default_role" := p.defaultRole, "enabled" := p.enabled,
    "auto_create_users" := p.autoCreateUsers,
    "created_at_ms" := p.createdAtMs, "updated_at_ms" := p.updatedAtMs)

  /** The login page's PRE-AUTH listing (ref ListEnabledProviders →
    * OIDCProviderSummary): identity and display fields only. */
  private[api] def oidcProviderSummaryJson(p: OidcProvider): JObject = obj(
    "id" := p.id, "name" := p.name, "display_name" := p.displayName,
    "provider_type" := p.providerType)

  private def scalingRuleJson(r: ScalingRule): JValue = obj(
    "id" := r.id, "metric" := r.metric, "operator" := r.op,
    "threshold" := r.threshold, "duration_seconds" := r.durationSeconds,
    "scale_by" := r.scaleBy)

  private[api] def scalingPolicyJson(p: ScalingPolicy): JObject = obj(
    "id" := p.id, "name" := p.name, "target_type" := p.targetType,
    "min_replicas" := p.minReplicas, "max_replicas" := p.maxReplicas,
    "cooldown_seconds" := p.cooldownSeconds,
    "scale_to_zero" := p.scaleToZero, "enabled" := p.enabled,
    "scale_up_rules" := arr(p.scaleUpRules)(scalingRuleJson),
    "scale_down_rules" := arr(p.scaleDownRules)(scalingRuleJson),
    "created_at_ms" := p.createdAtMs, "updated_at_ms" := p.updatedAtMs)

  private[api] def queryScalingPolicyJson(p: QueryScalingPolicy): JObject = obj(
    "id" := p.id, "name" := p.name, "query_engine" := p.queryEngine,
    "enabled" := p.enabled, "min_replicas" := p.minReplicas,
    "max_replicas" := p.maxReplicas, "cooldown_seconds" := p.cooldownSeconds,
    "scale_to_zero" := p.scaleToZero,
    "queued_queries_threshold" := p.queuedThreshold,
    "running_queries_threshold" := p.runningThreshold,
    "latency_threshold_seconds" := p.latencyThresholdSeconds,
    "created_at_ms" := p.createdAtMs, "updated_at_ms" := p.updatedAtMs)

  private[api] def scalingEventJson(e: ScalingEvent): JObject = obj(
    "id" := e.id, "policy_id" := e.policyId, "action" := e.action,
    "from_replicas" := e.fromReplicas, "to_replicas" := e.toReplicas,
    "reason" := e.reason, "triggered_by" := e.triggeredBy, "at_ms" := e.atMs)

  /** The API view (ref models/wake.go IdleStateResponse — duration is
    * computed at read time off the injected clock). */
  private[api] def idleStateJson(s: IdleState): JObject = obj(
    "policy_id" := s.policyId, "last_activity_at_ms" := s.lastActivityAtMs,
    "idle_since_ms" := s.idleSinceMs,
    "idle_duration_secs" := math.max(0L, clock() - s.lastActivityAtMs) / 1000L,
    "is_scaled_to_zero" := s.isScaledToZero,
    "scaled_to_zero_at_ms" := s.scaledToZeroAtMs,
    "last_wake_at_ms" := s.lastWakeAtMs, "wake_reason" := s.wakeReason)

  private[api] def alertInstanceJson(a: AlertInstance): JObject = obj(
    "id" := a.id, "rule_id" := a.ruleId, "fingerprint" := a.fingerprint,
    "status" := a.status, "current_value" := a.currentValue,
    "fired_at_ms" := a.firedAtMs, "resolved_at_ms" := a.resolvedAtMs,
    "acknowledged_at_ms" := a.acknowledgedAtMs,
    "acknowledged_by" := a.acknowledgedBy,
    "created_at_ms" := a.createdAtMs, "updated_at_ms" := a.updatedAtMs)

  private[api] def alertHistoryJson(h: AlertHistoryEntry): JObject = obj(
    "id" := h.id, "alert_id" := h.alertId, "rule_id" := h.ruleId,
    "event_type" := h.eventType, "message" := h.message, "value" := h.value,
    "created_at_ms" := h.createdAtMs)

  private[api] def silenceJson(s: AlertSilence): JObject = obj(
    "id" := s.id, "matchers" := s.matchers,
    "starts_at_ms" := s.startsAtMs, "ends_at_ms" := s.endsAtMs,
    "created_by" := s.createdBy, "comment" := s.comment,
    "created_at_ms" := s.createdAtMs, "updated_at_ms" := s.updatedAtMs)

  /** The hash never renders; the plaintext exists only in the create
    * call's return value. */
  private[api] def apiKeyJson(k: ApiKey): JObject = obj(
    "id" := k.id, "name" := k.name, "key_prefix" := k.prefix,
    "expires_at_ms" := k.expiresAtMs, "revoked" := k.revokedAtMs.isDefined,
    "revoked_at_ms" := k.revokedAtMs,
    "created_at_ms" := k.createdAtMs, "updated_at_ms" := k.updatedAtMs)

  /** Hash, salt, and iteration count NEVER render. The OIDC link
    * renders only when present (ref models/auth.go:75-77 omitempty). */
  private[api] def userJson(u: User): JObject = JObject(List(
    "id" := u.id, "email" := u.email, "name" := u.name, "role" := u.role,
    "is_active" := u.isActive, "last_login_at_ms" := u.lastLoginAtMs,
    "created_at_ms" := u.createdAtMs, "updated_at_ms" := u.updatedAtMs) ++
    u.oidcProviderId.map("oidc_provider_id" := _) ++
    u.oidcSubject.map("oidc_subject" := _) ++
    (if (u.oidcGroups.isEmpty) Nil else List("oidc_groups" := u.oidcGroups)))

  // ---- the stores: one file per kind ---------------------------------

  private val sources = Collection[Source](dir, "sources.json", "source",
    "source")(s => extend(sourceJson(s), "password" := seal(s.password))) { r =>
    Source(r.str("id"), r.str("name"), r.str("type"), r.str("host"),
      r.int("port"), r.str("database_name"), r.str("username"),
      unseal(r.str("password")), r.str("ssl_mode"), r.str("slot_name"),
      r.str("publication_name"), r.long("created_at_ms"), r.long("updated_at_ms"))
  }

  private val pipelines = Collection[Pipeline](dir, "pipelines.json",
    "pipeline", "pipeline")(pipelineJson) { r =>
    // a pipeline recorded running/starting by a PREVIOUS process is
    // not running in THIS one — surface the truth, never a stale lie
    val status = r.str("status") match {
      case "running" | "starting" | "stopping" => "stopped"
      case s => s
    }
    Pipeline(r.str("id"), r.str("name"), r.str("source_id"), status,
      r.str("error_message"),
      r.rows("tables").map(t => TableMapping(t.str("id"),
        t.str("source_schema"), t.str("source_table"), t.bool("enabled"))),
      r.long("created_at_ms"), r.long("updated_at_ms"),
      r.optLong("started_at_ms"), r.optLong("stopped_at_ms"))
  }

  private val alertRules = Collection[AlertRule](dir, "alerts.json",
    "alert_rule", "alert rule")(alertRuleJson) { r =>
    AlertRule(r.str("id"), r.str("name"), r.str("description"),
      r.str("metric_name"), r.str("operator"), r.double("threshold"),
      r.long("duration_seconds"), r.str("severity"), r.bool("enabled"),
      r.rows("routes").map(rt => AlertRoute(rt.str("id"),
        rt.str("channel_id"), rt.bool("enabled"),
        rt.long("repeat_interval_seconds"))),
      r.long("created_at_ms"), r.long("updated_at_ms"))
  }

  private val apiKeys = Collection[ApiKey](dir, "api_keys.json", "api_key")(
    k => extend(apiKeyJson(k), "key_hash" := k.hash)) { r =>
    ApiKey(r.str("id"), r.str("name"), r.str("key_prefix"), r.str("key_hash"),
      r.optLong("expires_at_ms"), r.optLong("revoked_at_ms"),
      r.long("created_at_ms"), r.long("updated_at_ms"))
  }

  private val channels = Collection[Channel](dir, "channels.json", "channel",
    "channel")(channelJson) { r =>
    Channel(r.str("id"), r.str("name"), r.str("type"), r.bool("enabled"),
      r.strMap("config"), r.long("created_at_ms"), r.long("updated_at_ms"))
  }

  private val alertInstances = Collection[AlertInstance](dir,
    "alert_instances.json", "alert")(alertInstanceJson) { r =>
    AlertInstance(r.str("id"), r.str("rule_id"), r.str("fingerprint"),
      r.str("status"), r.optDouble("current_value"), r.long("fired_at_ms"),
      r.optLong("resolved_at_ms"), r.optLong("acknowledged_at_ms"),
      r.str("acknowledged_by"), r.long("created_at_ms"), r.long("updated_at_ms"))
  }

  private val alertHistory = Collection[AlertHistoryEntry](dir,
    "alert_history.json")(alertHistoryJson) { r =>
    AlertHistoryEntry(r.str("id"), r.str("alert_id"), r.str("rule_id"),
      r.str("event_type"), r.str("message"), r.optDouble("value"),
      r.long("created_at_ms"))
  }

  private val alertSilences = Collection[AlertSilence](dir,
    "alert_silences.json", "silence")(silenceJson) { r =>
    AlertSilence(r.str("id"), r.strMap("matchers"), r.long("starts_at_ms"),
      r.long("ends_at_ms"), r.str("created_by"), r.str("comment"),
      r.long("created_at_ms"), r.long("updated_at_ms"))
  }

  private val oidcProviders = Collection[OidcProvider](dir,
    "oidc_providers.json", "oidc_provider", "OIDC provider")(p =>
    extend(oidcProviderJson(p), "client_secret" := seal(p.clientSecret))) { r =>
    OidcProvider(r.str("id"), r.str("name"), r.str("display_name"),
      r.str("provider_type"), r.str("issuer_url"), r.str("client_id"),
      unseal(r.str("client_secret")), r.strs("scopes"), r.str("groups_claim"),
      r.strMap("role_mapping"), r.str("default_role"), r.bool("enabled"),
      r.bool("auto_create_users"), r.long("created_at_ms"),
      r.long("updated_at_ms"))
  }

  /** In-flight logins survive a restart (the reference stores OIDCState
    * rows in its control DB); the nonce and PKCE verifier are REDEEMING
    * secrets, sealed like source passwords, while the state is the
    * front-channel handle and stays plain. Expired or undecryptable
    * rows are dropped on load: a 10-minute login the user can retry
    * must not brick the whole control plane. */
  private val oidcStates = new Collection[OidcState](dir, "oidc_states.json",
    "", "", s => obj("id" := s.id, "state" := s.state,
      "nonce" := seal(s.nonce), "code_verifier" := seal(s.codeVerifier),
      "provider_id" := s.providerId, "redirect_uri" := s.redirectUri,
      "created_at_ms" := s.createdAtMs, "expires_at_ms" := s.expiresAtMs),
    rows => {
      val now = clock()
      rows.flatMap { r =>
        val s = OidcState(r.str("id"), r.str("state"), r.str("nonce"),
          r.str("code_verifier"), r.str("provider_id"), r.str("redirect_uri"),
          r.long("created_at_ms"), r.long("expires_at_ms"))
        if (s.expiresAtMs <= now) None
        else scala.util.Try(s.copy(nonce = unseal(s.nonce),
          codeVerifier = unseal(s.codeVerifier))).toOption
      }
    })

  private def scalingRule(r: Row): ScalingRule =
    ScalingRule(r.str("id"), r.str("metric"), r.str("operator"),
      r.double("threshold"), r.long("duration_seconds"), r.int("scale_by"))

  private val scaling = new ScalingFamily(Collection[ScalingPolicy](dir,
    "scaling_policies.json", "scaling_policy", "scaling policy")(
    scalingPolicyJson) { r =>
    ScalingPolicy(r.str("id"), r.str("name"), r.str("target_type"),
      r.int("min_replicas"), r.int("max_replicas"), r.long("cooldown_seconds"),
      r.bool("scale_to_zero"), r.bool("enabled"),
      r.rows("scale_up_rules").map(scalingRule),
      r.rows("scale_down_rules").map(scalingRule),
      r.long("created_at_ms"), r.long("updated_at_ms"))
  }, "scaling_state.json", "scaling_history.json")

  /** Keyed by policy id, stored as an array of rows. */
  private val idleStates = new Store[Map[String, IdleState]](dir,
    "idle_state.json", m => arr(m.values.toSeq)(s => obj(
      "policy_id" := s.policyId, "last_activity_at_ms" := s.lastActivityAtMs,
      "idle_since_ms" := s.idleSinceMs,
      "scaled_to_zero_at_ms" := s.scaledToZeroAtMs,
      "last_wake_at_ms" := s.lastWakeAtMs, "wake_reason" := s.wakeReason,
      "is_scaled_to_zero" := s.isScaledToZero,
      "created_at_ms" := s.createdAtMs, "updated_at_ms" := s.updatedAtMs)),
    v => Row.rows("idle_state.json", v).map { r =>
      r.str("policy_id") -> IdleState(r.str("policy_id"),
        r.long("last_activity_at_ms"), r.optLong("idle_since_ms"),
        r.optLong("scaled_to_zero_at_ms"), r.optLong("last_wake_at_ms"),
        r.optStr("wake_reason"), r.bool("is_scaled_to_zero"),
        r.long("created_at_ms"), r.long("updated_at_ms"))
    }.toMap, Map.empty)

  private val users = Collection[User](dir, "users.json", "user")(u =>
    extend(userJson(u), "password_hash" := u.passwordHash,
      "password_salt" := u.passwordSalt, "kdf_iterations" := u.kdfIterations)) { r =>
    User(r.str("id"), r.str("email"), r.str("name"), r.str("role"),
      r.bool("is_active"), r.optLong("last_login_at_ms"),
      r.str("password_hash"), r.str("password_salt"), r.int("kdf_iterations"),
      r.long("created_at_ms"), r.long("updated_at_ms"),
      r.optStr("oidc_provider_id"), r.optStr("oidc_subject"),
      r.strs("oidc_groups"))
  }

  private val sessions = Collection[Session](dir, "sessions.json")(s => obj(
    "id" := s.id, "user_id" := s.userId, "token_hash" := s.tokenHash,
    "expires_at_ms" := s.expiresAtMs, "created_at_ms" := s.createdAtMs)) { r =>
    Session(r.str("id"), r.str("user_id"), r.str("token_hash"),
      r.long("expires_at_ms"), r.long("created_at_ms"))
  }

  private val queryScaling = new ScalingFamily(
    Collection[QueryScalingPolicy](dir, "query_scaling_policies.json",
      "query_scaling_policy", "query scaling policy")(queryScalingPolicyJson) { r =>
      QueryScalingPolicy(r.str("id"), r.str("name"), r.str("query_engine"),
        r.bool("enabled"), r.int("min_replicas"), r.int("max_replicas"),
        r.long("cooldown_seconds"), r.bool("scale_to_zero"),
        r.int("queued_queries_threshold"), r.int("running_queries_threshold"),
        r.int("latency_threshold_seconds"), r.long("created_at_ms"),
        r.long("updated_at_ms"))
    }, "query_scaling_state.json", "query_scaling_history.json")

  /** One scaling family: its policies, per-policy evaluation state and
    * capped decision history, three files. The generic and the
    * query-engine families are two instances of this code. */
  private final class ScalingFamily[P <: ScalingBounds](
      val policies: Collection[P], stateFile: String, historyFile: String) {

    val states = new Store[Map[String, ScalingPolicyState]](dir, stateFile,
      m => JObject(m.toList.map { case (id, st) => id -> JObject(
        List("current_replicas" := st.currentReplicas,
          "last_scale_at_ms" := st.lastScaleAtMs) ++
          (if (st.pendingSince.isEmpty) Nil
           else List("pending_since" := st.pendingSince)))
      }),
      v => Row.keyed(stateFile, v).map { case (id, r) =>
        id -> ScalingPolicyState(r.int("current_replicas"),
          r.optLong("last_scale_at_ms"), r.longMap("pending_since"))
      }.toMap, Map.empty)

    val history = Collection[ScalingEvent](dir, historyFile)(scalingEventJson) { r =>
      ScalingEvent(r.str("id"), r.str("policy_id"), r.str("action"),
        r.int("from_replicas"), r.int("to_replicas"), r.str("reason"),
        r.str("triggered_by"), r.long("at_ms"))
    }

    /** The ONE missing-state fallback — the state endpoint and the
      * evaluator never disagree about a width. Something runs before
      * the first decision: the policy floor, but at least one replica
      * even for scale-to-zero policies (zero is a DECISION, never the
      * starting assumption). */
    def initial(p: P): ScalingPolicyState =
      ScalingPolicyState(math.max(p.minReplicas, 1), None, Map.empty)

    def stateOf(p: P): ScalingPolicyState =
      states.value.getOrElse(p.id, initial(p))

    def create(p: P): P = {
      policies.add(p)
      states.set(states.value + (p.id -> initial(p)))
      p
    }

    /** Replace the policy and reconcile its state with it: clamp the
      * width into the new bounds (a lowered ceiling must not leave the
      * policy permanently above its own declared maximum — no rule can
      * move it back inside) and drop pending clocks for rule ids that
      * no longer exist (the evaluator only clears clocks for rules it
      * reaches, so orphans would otherwise persist forever). */
    def update(next: P): P = {
      policies.replace(next)
      val st = stateOf(next)
      val lo = if (next.scaleToZero) 0 else next.minReplicas
      states.set(states.value + (next.id -> st.copy(
        currentReplicas =
          math.max(lo, math.min(next.maxReplicas, st.currentReplicas)),
        pendingSince = st.pendingSince.filter(kv => next.ruleIds(kv._1)))))
      next
    }

    def delete(id: String): Unit = {
      policies.remove(policies.get(id).id)
      states.set(states.value - id)
    }

    /** A state identical to the stored one skips the file rewrite — the
      * evaluation loop must not be a permanent background disk load. */
    def putState(id: String, st: ScalingPolicyState): Unit =
      if (!states.value.get(id).contains(st))
        states.set(states.value + (id -> st))

    /** Append + retention cap + persist — the ONE history write path.
      * The cap exists because the loop makes growth autonomous and
      * every append rewrites the whole file. */
    def append(e: ScalingEvent): Unit =
      history.set((history.value :+ e).takeRight(ScalingHistoryCap))

    /** History is deliberately retained past policy deletion (it is the
      * audit trail) — the per-policy view filters WITHOUT an existence
      * check, so a deleted policy's rows stay fetchable both here and
      * in the global listing; the two views never disagree. */
    def historyOf(policyId: Option[String]): Seq[ScalingEvent] =
      policyId.fold(history.value)(id => history.value.filter(_.policyId == id))
  }

  private def validName(name: String): Unit = {
    if (name.isEmpty || name.length > 255)
      throw Invalid("name must be 1..255 characters")
  }

  // ---- alert rules (ref internal/api/handlers/alerts.go:28-32 +
  // alert_repository.go — the reference persists rules and serves them
  // over /alerts/rules; evaluation reads the SAME store) --------------

  private val AlertOps = Set("gt", "gte", "lt", "lte", "eq")

  /** The manager's instance fingerprints are `name|series` — a '|' in
    * a rule name would make the fingerprint unsplittable, so the rule
    * would fire without ever recording instances or notifications. */
  private def validAlertRuleName(name: String): Unit =
    if (name.contains('|'))
      throw Invalid("alert rule name must not contain '|'")

  private def validAlertFields(op: String, durationSeconds: Long,
                               routes: Seq[(String, Boolean, Long)]): Unit = {
    if (!AlertOps.contains(op))
      throw Invalid(s"operator must be one of ${AlertOps.toSeq.sorted.mkString("/")}")
    if (durationSeconds < 0) throw Invalid("duration_seconds must be >= 0")
    if (routes.exists(_._1.isEmpty))
      throw Invalid("route requires a channel_id")
    if (routes.exists(_._3 < 0))
      throw Invalid("repeat_interval_seconds must be >= 0")
    // the reference's FK: routes reference REGISTERED channels
    routes.map(_._1).distinct.foreach(channels.get)
  }

  def createAlertRule(name: String, metricName: String, op: String,
                      threshold: Double, durationSeconds: Long = 0L,
                      description: String = "", severity: String = "warning",
                      enabled: Boolean = true,
                      routes: Seq[(String, Boolean, Long)] = Nil): AlertRule =
    lock.synchronized {
      validName(name)
      validAlertRuleName(name)
      validAlertFields(op, durationSeconds, routes)
      if (metricName.isEmpty) throw Invalid("metric_name is required")
      alertRules.requireFreeName(name)
      val now = clock()
      alertRules.add(AlertRule(newId(), name, description, metricName, op,
        threshold, durationSeconds, severity, enabled,
        routes.map(rt => AlertRoute(newId(), rt._1, rt._2, rt._3)), now, now))
    }

  def listAlertRules(): Seq[AlertRule] = lock.synchronized(alertRules.value)

  def getAlertRule(id: String): AlertRule = lock.synchronized(alertRules.get(id))

  /** Full update, the reference's PUT semantics: every field replaces.
    * Routes keep their ids when (channel, interval) survive unchanged —
    * a stable id is what notifier state and history key on. */
  def updateAlertRule(id: String, name: String, metricName: String,
                      op: String, threshold: Double, durationSeconds: Long,
                      description: String, severity: String, enabled: Boolean,
                      routes: Seq[(String, Boolean, Long)]): AlertRule =
    lock.synchronized {
      validName(name)
      validAlertRuleName(name)
      validAlertFields(op, durationSeconds, routes)
      if (metricName.isEmpty) throw Invalid("metric_name is required")
      val r = alertRules.get(id)
      alertRules.requireFreeName(name, except = id)
      // each surviving route id is consumed at most once — a PUT
      // carrying two routes with the same (channel, interval) gets one
      // re-keyed id and one fresh one, never the same id twice
      val remaining = scala.collection.mutable.ArrayBuffer.from(r.routes)
      val nextRoutes = routes.map { rt =>
        remaining.indexWhere(x => x.channel == rt._1 &&
          x.repeatIntervalSeconds == rt._3) match {
          case -1 => AlertRoute(newId(), rt._1, rt._2, rt._3)
          case i  => remaining.remove(i).copy(enabled = rt._2)
        }
      }
      alertRules.replace(r.copy(name = name, description = description,
        metricName = metricName, op = op, threshold = threshold,
        durationSeconds = durationSeconds, severity = severity,
        enabled = enabled, routes = nextRoutes, updatedAtMs = clock()))
    }

  def deleteAlertRule(id: String): Unit = lock.synchronized {
    alertRules.remove(alertRules.get(id).id)
  }

  /** The evaluator wiring: the store's ENABLED rules in
    * [[graft.observe.Alerts]] vocabulary — instant-compare rules plus
    * their delivery routes — the way the reference's manager loads its
    * rule set from the repository each cycle. */
  def evaluatorRules(): (Seq[graft.observe.Alerts.Rule],
                         Seq[graft.observe.Alerts.Route]) = lock.synchronized {
    val enabled = alertRules.value.filter(_.enabled)
    (enabled.map(r => graft.observe.Alerts.Rule(r.name, r.op, r.threshold)),
      enabled.flatMap(r => r.routes.map(rt => graft.observe.Alerts.Route(
        r.name, rt.channel, rt.enabled, rt.repeatIntervalSeconds * 1000L))))
  }

  // ---- notification channels (ref internal/api/handlers/alerts.go:
  // 48-52 /notifications/channels; types.go NotificationChannel) ------

  private val ChannelTypes = Set("email", "slack", "webhook", "pagerduty")

  private def validChannelType(typ: String): Unit =
    if (!ChannelTypes.contains(typ))
      throw Invalid(s"channel type must be one of " +
        ChannelTypes.toSeq.sorted.mkString("/"))

  def createChannel(name: String, typ: String, enabled: Boolean = true,
                    config: Map[String, String] = Map.empty): Channel =
    lock.synchronized {
      validName(name)
      validChannelType(typ)
      channels.requireFreeName(name)
      val now = clock()
      channels.add(Channel(newId(), name, typ, enabled, config, now, now))
    }

  def listChannels(): Seq[Channel] = lock.synchronized(channels.value)

  def getChannel(id: String): Channel = lock.synchronized(channels.get(id))

  def updateChannel(id: String, name: String, typ: String,
                    enabled: Boolean, config: Map[String, String]): Channel =
    lock.synchronized {
      validName(name)
      validChannelType(typ)
      val c = channels.get(id)
      channels.requireFreeName(name, except = id)
      channels.replace(c.copy(name = name, typ = typ, enabled = enabled,
        config = config, updatedAtMs = clock()))
    }

  /** The reference's FK: a channel a rule still routes to cannot go. */
  def deleteChannel(id: String): Unit = lock.synchronized {
    val c = channels.get(id)
    if (alertRules.value.exists(_.routes.exists(_.channel == c.id)))
      throw Conflict("cannot delete a channel referenced by alert routes")
    channels.remove(c.id)
  }

  // ---- OIDC providers (ref internal/api/handlers/oidc.go:160-360 —
  // the /settings/oidc/providers CRUD + the pre-login enabled listing;
  // services/oidc.go:290-409 provider admin; the interactive
  // authorize/callback dance is login-UI plumbing out of engine scope,
  // its product — issuer-signed JWTs — is what [[OidcValidator]]
  // accepts on the API) ----------------------------------------------

  private val OidcProviderTypes =
    Set("google", "azure", "okta", "auth0", "generic")

  private def validOidcFields(providerType: String, issuerUrl: String,
                              clientId: String): Unit = {
    if (!OidcProviderTypes.contains(providerType))
      throw Invalid(s"provider_type must be one of " +
        OidcProviderTypes.toSeq.sorted.mkString("/"))
    val scheme =
      try Option(new java.net.URI(issuerUrl).getScheme)
      catch { case _: java.net.URISyntaxException => None }
    if (!scheme.exists(s => s == "http" || s == "https"))
      throw Invalid("issuer_url must be an http(s) URL")
    if (clientId.isEmpty) throw Invalid("client_id is required")
  }

  /** ref models/oidc.go:127-146 — every mapped role and the default
    * must come from the role vocabulary. */
  private def validRoleMapping(roleMapping: Map[String, String],
                               defaultRole: String): Unit = {
    if (!UserRoles.contains(defaultRole))
      throw Invalid(s"default_role must be one of " +
        UserRoles.toSeq.sorted.mkString("/"))
    roleMapping.foreach { case (group, role) =>
      if (group.isEmpty) throw Invalid("role_mapping group must be non-empty")
      if (!UserRoles.contains(role))
        throw Invalid(s"role_mapping['$group'] must be one of " +
          UserRoles.toSeq.sorted.mkString("/"))
    }
  }

  def createOidcProvider(name: String, displayName: String,
                         providerType: String, issuerUrl: String,
                         clientId: String, clientSecret: String = "",
                         scopes: Seq[String] = Nil, groupsClaim: String = "",
                         roleMapping: Map[String, String] = Map.empty,
                         defaultRole: String = "",
                         enabled: Boolean = true,
                         autoCreateUsers: Boolean = true): OidcProvider =
    lock.synchronized {
      validName(name)
      validOidcFields(providerType, issuerUrl, clientId)
      // ref ApplyDefaults: absent default_role = viewer
      val dRole = if (defaultRole.isEmpty) "viewer" else defaultRole
      validRoleMapping(roleMapping, dRole)
      oidcProviders.requireFreeName(name)
      val now = clock()
      // the registry's defaults (ref internal/oidc/providers/
      // registry.go ApplyDefaults): the standard OIDC scopes when none
      // declared, the conventional groups claim
      oidcProviders.add(OidcProvider(newId(), name,
        if (displayName.isEmpty) name else displayName, providerType,
        issuerUrl.stripSuffix("/"), clientId, clientSecret,
        if (scopes.isEmpty) Seq("openid", "profile", "email") else scopes,
        if (groupsClaim.isEmpty) "groups" else groupsClaim,
        roleMapping, dRole,
        enabled, autoCreateUsers, now, now))
    }

  def listOidcProviders(): Seq[OidcProvider] =
    lock.synchronized(oidcProviders.value)

  def getOidcProvider(id: String): OidcProvider =
    lock.synchronized(oidcProviders.get(id))

  /** Full update (the reference's PUT); an ABSENT client_secret keeps
    * the stored one — secrets round-trip write-only. */
  def updateOidcProvider(id: String, name: String, displayName: String,
                         providerType: String, issuerUrl: String,
                         clientId: String, clientSecret: Option[String],
                         scopes: Seq[String], groupsClaim: String,
                         roleMapping: Option[Map[String, String]] = None,
                         defaultRole: String = "",
                         enabled: Option[Boolean] = None,
                         autoCreateUsers: Option[Boolean] = None): OidcProvider =
    lock.synchronized {
      validName(name)
      validOidcFields(providerType, issuerUrl, clientId)
      // boolean keep-if-absent resolves against the STORED row under
      // THIS lock — never against a row read in an earlier request
      val p = oidcProviders.get(id)
      oidcProviders.requireFreeName(name, except = id)
      val dRole = if (defaultRole.isEmpty) p.defaultRole else defaultRole
      val mapping = roleMapping.getOrElse(p.roleMapping)
      validRoleMapping(mapping, dRole)
      val next = p.copy(name = name,
        displayName = if (displayName.isEmpty) name else displayName,
        providerType = providerType,
        issuerUrl = issuerUrl.stripSuffix("/"), clientId = clientId,
        clientSecret = clientSecret.getOrElse(p.clientSecret),
        scopes =
          if (scopes.isEmpty) Seq("openid", "profile", "email") else scopes,
        groupsClaim = if (groupsClaim.isEmpty) "groups" else groupsClaim,
        roleMapping = mapping, defaultRole = dRole,
        enabled = enabled.getOrElse(p.enabled),
        autoCreateUsers = autoCreateUsers.getOrElse(p.autoCreateUsers),
        updatedAtMs = clock())
      // disabling an issuer is a security action: in-flight logins
      // minted while it was enabled must not complete (the callback
      // also re-checks enabled — defense in both layers)
      if (p.enabled && !next.enabled) dropOidcStates(id)
      oidcProviders.replace(next)
    }

  def deleteOidcProvider(id: String): Unit = lock.synchronized {
    val p = oidcProviders.get(id)
    // in-flight logins against a deleted issuer must not complete
    dropOidcStates(p.id)
    oidcProviders.remove(p.id)
  }

  private def dropOidcStates(providerId: String): Unit =
    if (oidcStates.value.exists(_.providerId == providerId))
      oidcStates.set(oidcStates.value.filterNot(_.providerId == providerId))

  /** ref repositories/oidc.go GetProviderByName — the authorize
    * route addresses providers by NAME (the login page's handle),
    * not id. */
  def getOidcProviderByName(name: String): OidcProvider =
    lock.synchronized(oidcProviders.value.find(_.name == name)
      .getOrElse(throw NotFound("oidc_provider", name)))

  // ---- OIDC login states (ref services/oidc.go:86-160
  // StartAuthorization / repositories storing OIDCState rows) --------

  /** URL-safe random token; base64url of `n` secure-random bytes. */
  private def randomToken(n: Int): String = {
    val raw = new Array[Byte](n)
    secureRandom.nextBytes(raw)
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(raw)
  }

  /** Mint and persist one in-flight login: state + nonce (ref
    * GenerateState/GenerateNonce — 32-byte tokens) and the PKCE
    * verifier (GenerateCodeVerifier — 43-128 URL-safe chars; 48 bytes
    * → 64). Expired rows leave with every mint, and the store is
    * capped oldest-first ([[ControlPlane.MaxOidcStates]]) because the
    * route minting these is unauthenticated. */
  def createOidcState(providerId: String, redirectUri: String): OidcState =
    lock.synchronized {
      val now = clock()
      val s = OidcState(newId(), randomToken(32), randomToken(32),
        randomToken(48), providerId, redirectUri,
        now, now + ControlPlane.OidcStateTtlMs)
      oidcStates.set((oidcStates.value.filter(_.expiresAtMs > now) :+ s)
        .sortBy(_.createdAtMs).takeRight(ControlPlane.MaxOidcStates))
      s
    }

  /** One-time redemption: the row leaves the store whether or not it
    * is still live (ref HandleCallback deletes the state FIRST —
    * a failing exchange must not leave a replayable state behind);
    * an expired or unknown state is None. */
  def consumeOidcState(state: String): Option[OidcState] =
    lock.synchronized {
      val found = oidcStates.value.find(_.state == state)
      found.foreach(s => oidcStates.remove(s.id))
      found.filter(_.expiresAtMs > clock())
    }

  /** Snapshot of the in-flight login states (test hook). */
  private[api] def listOidcStates: Vector[OidcState] =
    lock.synchronized(oidcStates.value)

  // ---- scaling policies (ref internal/api/handlers/scaling.go:27-42
  // — the /scaling/policies CRUD + enable/disable/evaluate/state and
  // the /scaling/history rows; services evaluate through the SAME
  // decision machinery the engine exposes in
  // [[graft.observe.Scaling]]; K8s actuation, schedules, and cost
  // caps stay out of engine scope per the SURVEY) ---------------------

  private val ScalingTargetTypes =
    Set("cdc-worker", "trino", "risingwave", "nodes")

  private def validScalingFields(targetType: String, minReplicas: Int,
                                 maxReplicas: Int, cooldownSeconds: Long,
                                 up: Seq[(String, String, Double, Long, Int)],
                                 down: Seq[(String, String, Double, Long, Int)])
  : Unit = {
    if (!ScalingTargetTypes.contains(targetType))
      throw Invalid(s"target_type must be one of " +
        ScalingTargetTypes.toSeq.sorted.mkString("/"))
    validReplicaBounds(minReplicas, maxReplicas, cooldownSeconds)
    (up ++ down).foreach { case (metric, op, _, dur, scaleBy) =>
      if (metric.isEmpty) throw Invalid("scaling rule requires a metric")
      if (!AlertOps.contains(op))
        throw Invalid(s"scaling rule operator must be one of " +
          AlertOps.toSeq.sorted.mkString("/"))
      if (dur < 0) throw Invalid("duration_seconds must be >= 0")
      // the API takes POSITIVE steps in both lists (ref validator:
      // ScaleBy <= 0 is a field error); the evaluator receives the
      // sign from which list the rule sits in
      if (scaleBy <= 0) throw Invalid("scale_by must be > 0")
    }
  }

  private def validReplicaBounds(minReplicas: Int, maxReplicas: Int,
                                 cooldownSeconds: Long): Unit = {
    if (minReplicas < 0) throw Invalid("min_replicas must be >= 0")
    if (maxReplicas < 1) throw Invalid("max_replicas must be >= 1")
    if (minReplicas > maxReplicas)
      throw Invalid("min_replicas cannot be greater than max_replicas")
    if (cooldownSeconds < 0) throw Invalid("cooldown_seconds must be >= 0")
  }

  /** Rule tuples: (metric, operator, threshold, durationSeconds,
    * scaleBy) — the API shape. */
  def createScalingPolicy(name: String, targetType: String,
                          minReplicas: Int, maxReplicas: Int,
                          cooldownSeconds: Long = 300L,
                          scaleToZero: Boolean = false,
                          enabled: Boolean = true,
                          scaleUpRules: Seq[(String, String, Double, Long, Int)] = Nil,
                          scaleDownRules: Seq[(String, String, Double, Long, Int)] = Nil)
  : ScalingPolicy = lock.synchronized {
    validName(name)
    validScalingFields(targetType, minReplicas, maxReplicas,
      cooldownSeconds, scaleUpRules, scaleDownRules)
    scaling.policies.requireFreeName(name)
    val now = clock()
    def mk(rs: Seq[(String, String, Double, Long, Int)]): Seq[ScalingRule] =
      rs.map(r => ScalingRule(newId(), r._1, r._2, r._3, r._4, r._5))
    scaling.create(ScalingPolicy(newId(), name, targetType, minReplicas,
      maxReplicas, cooldownSeconds, scaleToZero, enabled,
      mk(scaleUpRules), mk(scaleDownRules), now, now))
  }

  def listScalingPolicies(enabledOnly: Boolean = false): Seq[ScalingPolicy] =
    lock.synchronized(scaling.policies.value.filter(p => !enabledOnly || p.enabled))

  def getScalingPolicy(id: String): ScalingPolicy =
    lock.synchronized(scaling.policies.get(id))

  /** Full update; rule ids survive for unchanged (metric, op,
    * threshold, duration, scaleBy) tuples, each consumed at most once
    * — pending for-duration clocks key on rule ids. */
  def updateScalingPolicy(id: String, name: String, targetType: String,
                          minReplicas: Int, maxReplicas: Int,
                          cooldownSeconds: Long,
                          scaleToZero: Option[Boolean],
                          enabled: Option[Boolean],
                          scaleUpRules: Seq[(String, String, Double, Long, Int)],
                          scaleDownRules: Seq[(String, String, Double, Long, Int)])
  : ScalingPolicy = lock.synchronized {
    validName(name)
    validScalingFields(targetType, minReplicas, maxReplicas,
      cooldownSeconds, scaleUpRules, scaleDownRules)
    // boolean keep-if-absent resolves against the STORED row under
    // THIS lock — never against a row read in an earlier request
    val p = scaling.policies.get(id)
    scaling.policies.requireFreeName(name, except = id)
    def rekey(existing: Seq[ScalingRule],
              rs: Seq[(String, String, Double, Long, Int)]): Seq[ScalingRule] = {
      val remaining = scala.collection.mutable.ArrayBuffer.from(existing)
      rs.map { r =>
        remaining.indexWhere(x => x.metric == r._1 && x.op == r._2 &&
          x.threshold == r._3 && x.durationSeconds == r._4 &&
          x.scaleBy == r._5) match {
          case -1 => ScalingRule(newId(), r._1, r._2, r._3, r._4, r._5)
          case i  => remaining.remove(i)
        }
      }
    }
    scaling.update(p.copy(name = name, targetType = targetType,
      minReplicas = minReplicas, maxReplicas = maxReplicas,
      cooldownSeconds = cooldownSeconds,
      scaleToZero = scaleToZero.getOrElse(p.scaleToZero),
      enabled = enabled.getOrElse(p.enabled),
      scaleUpRules = rekey(p.scaleUpRules, scaleUpRules),
      scaleDownRules = rekey(p.scaleDownRules, scaleDownRules),
      updatedAtMs = clock()))
  }

  def deleteScalingPolicy(id: String): Unit = lock.synchronized {
    scaling.delete(id)
    // the idle row goes with the policy (ref detector.RemovePolicy) —
    // create/delete churn must not accrete orphans in idle_state.json
    if (idleStates.value.contains(id)) idleStates.set(idleStates.value - id)
  }

  def setScalingPolicyEnabled(id: String, enabled: Boolean): ScalingPolicy =
    lock.synchronized {
      val p = scaling.policies.get(id)
      scaling.policies.replace(p.copy(enabled = enabled, updatedAtMs = clock()))
    }

  def getScalingPolicyState(id: String): ScalingPolicyState =
    lock.synchronized(scaling.stateOf(scaling.policies.get(id)))

  /** One evaluation tick (the reference's POST .../evaluate → the
    * evaluator.go loop): run [[graft.observe.Scaling.evaluatePolicy]]
    * over the CALLER-supplied metric values, carry the next state
    * (cooldown + pending clocks persisted), and record executed
    * decisions as history rows. The decision layer ends here —
    * actuation belongs to the deployment (`spark.dynamicAllocation`
    * on the engine side, K8s on the reference's). */
  def evaluateScalingPolicy(id: String, metrics: Map[String, Double],
                            persist: Boolean = true)
  : graft.observe.Scaling.Decision = lock.synchronized {
    import graft.observe.Scaling
    val p = scaling.policies.get(id)
    if (!p.enabled) throw Conflict("scaling policy is disabled")
    def toRule(r: ScalingRule, up: Boolean): Scaling.Rule =
      Scaling.Rule(r.id, r.metric, Scaling.Op.parse(r.op), r.threshold,
        if (up) r.scaleBy else -r.scaleBy, r.durationSeconds * 1000L)
    val pol = Scaling.Policy(p.id, p.minReplicas, p.maxReplicas,
      p.cooldownSeconds * 1000L, p.scaleToZero,
      p.scaleUpRules.map(toRule(_, up = true)),
      p.scaleDownRules.map(toRule(_, up = false)))
    val st = scaling.stateOf(p)
    val now = clock()
    val d = Scaling.evaluatePolicy(pol,
      Scaling.State(st.currentReplicas, st.lastScaleAtMs, st.pendingSince),
      metrics, now)
    // a DRY-RUN (persist=false) previews the decision without touching
    // width, cooldown, pending clocks, or history — with the loop as a
    // second writer, a what-if probe must never veto real decisions
    if (!persist) return d
    scaling.putState(p.id, ScalingPolicyState(d.next.currentReplicas,
      d.next.lastScaleTimeMs, d.next.pendingSinceMs))
    if (d.shouldExecute) {
      val action = d.action match {
        case Scaling.Action.ScaleUp   => "scale-up"
        case Scaling.Action.ScaleDown => "scale-down"
        case Scaling.Action.None      => "none"
      }
      scaling.append(ScalingEvent(newId(), p.id, action,
        st.currentReplicas, d.desiredReplicas, d.reason,
        d.triggeredBy.getOrElse(""), now))
      // executed zero-width transitions keep the idle/wake state
      // truthful: landing at zero marks scaled-to-zero, leaving zero
      // clears it (ref detector MarkScaledToZero / MarkWoken)
      if (d.desiredReplicas == 0 && st.currentReplicas > 0)
        idleUpsert(p.id)(s => s.copy(isScaledToZero = true,
          scaledToZeroAtMs = Some(now),
          idleSinceMs = s.idleSinceMs.orElse(Some(s.lastActivityAtMs))))
      else if (st.currentReplicas == 0 && d.desiredReplicas > 0)
        idleUpsert(p.id)(s => s.copy(isScaledToZero = false,
          scaledToZeroAtMs = None, idleSinceMs = None,
          lastActivityAtMs = now))
    }
    d
  }

  def listScalingHistory(policyId: Option[String] = None): Seq[ScalingEvent] =
    lock.synchronized(scaling.historyOf(policyId))

  // ---- idle / wake / savings (ref internal/api/handlers/wake.go:
  // 27-38, scaling/wake/trigger.go, scaling/idle/detector.go — the
  // decision layer over the same persisted stores; actuation stays
  // with the deployment) ---------------------------------------------

  /** Upsert under the lock; a no-change update skips the file write
    * (the loop must not be a background disk load). */
  private def idleUpsert(policyId: String)(f: IdleState => IdleState)
  : IdleState = {
    val now = clock()
    val base = idleStates.value.getOrElse(policyId,
      IdleState(policyId, now, None, None, None, None,
        isScaledToZero = false, now, now))
    val next0 = f(base)
    if (idleStates.value.get(policyId).contains(next0)) next0
    else {
      val next = next0.copy(updatedAtMs = now)
      idleStates.set(idleStates.value + (policyId -> next))
      next
    }
  }

  /** ref idle/detector.go:154-188 RecordActivity: reset the idle
    * clock for a policy (creating its idle state on first sight).
    * This is the per-request activity hook, so a plain refresh of a
    * recently-persisted, already-non-idle row updates MEMORY only —
    * a full idle_state.json rewrite per query arrival would turn a
    * timestamp bump into a disk-bound global bottleneck. Transitions
    * (first sight, idle-since reset) always persist; freshness loss
    * on restart is bounded by [[ControlPlane.ActivityPersistIntervalMs]],
    * harmless against a 30-minute idle threshold. */
  def recordScalingActivity(policyId: String): IdleState =
    lock.synchronized {
      scaling.policies.get(policyId) // 404 on unknown policy
      val now = clock()
      idleStates.value.get(policyId) match {
        case Some(prev) if prev.idleSinceMs.isEmpty && !prev.isScaledToZero &&
          now - prev.lastActivityAtMs < ControlPlane.ActivityPersistIntervalMs =>
          val next = prev.copy(lastActivityAtMs = now, updatedAtMs = now)
          idleStates.value += policyId -> next // memory-only refresh
          next
        case _ =>
          idleUpsert(policyId)(s =>
            s.copy(lastActivityAtMs = now, idleSinceMs = None))
      }
    }

  /** ref wake.go GetIdleState — 404 until the policy has any
    * activity/wake history (the reference 404s a missing idle_state
    * row the same way). */
  def getIdleState(policyId: String): IdleState = lock.synchronized {
    scaling.policies.get(policyId)
    idleStates.value.getOrElse(policyId, throw NotFound("idle_state", policyId))
  }

  /** ref wake.go ListScaledToZero, in policy-listing order. */
  def listScaledToZero(): Seq[IdleState] = lock.synchronized(
    scaling.policies.value.flatMap(p => idleStates.value.get(p.id))
      .filter(_.isScaledToZero))

  /** ref wake/trigger.go:120-241 Wake: an already-running policy is a
    * completed no-op; a scaled-to-zero one comes back at
    * max(min_replicas, 1) — wake IS a scale event, so the cooldown
    * clock starts (the next evaluation tick respects it), the
    * for-duration pending clocks reset with the width, and a history
    * row records the wake. An unknown reason is 400, not silently
    * "manual" — the strict-field convention every other route keeps. */
  def wakeScalingPolicy(id: String, reason: String): WakeResult =
    lock.synchronized {
      val p = scaling.policies.get(id)
      validWakeReason(reason)
      val st = scaling.stateOf(p)
      if (st.currentReplicas > 0)
        return WakeResult(id, st.currentReplicas, st.currentReplicas,
          reason, "completed", "policy is already running")
      val target = math.max(p.minReplicas, 1)
      val now = clock()
      scaling.states.set(scaling.states.value +
        (id -> ScalingPolicyState(target, Some(now), Map.empty)))
      idleUpsert(id)(s => s.copy(lastActivityAtMs = now,
        idleSinceMs = None, scaledToZeroAtMs = None,
        lastWakeAtMs = Some(now), wakeReason = Some(reason),
        isScaledToZero = false))
      scaling.append(ScalingEvent(newId(), id, "scale-up", 0, target,
        s"wake: $reason", reason, now))
      WakeResult(id, 0, target, reason, "completed", "policy woken")
    }

  private def validWakeReason(reason: String): Unit =
    if (!WakeReasons.contains(reason))
      throw Invalid("wake reason must be one of " +
        WakeReasons.toSeq.sorted.mkString("/"))

  /** ref wake.go WakeAll: the listed policies, or — with ids ABSENT —
    * every policy currently at zero width. An EXPLICIT empty list is a
    * no-op, never a mass wake (a client that filtered its candidates
    * down to none must not wake the fleet). Per-policy failures land
    * in the result, never fail the batch — but an invalid reason is
    * 400 up front, not order-dependent on the target set. */
  def wakeScalingPolicies(ids: Option[Seq[String]], reason: String)
  : Seq[WakeResult] = lock.synchronized {
    validWakeReason(reason)
    val targets = ids.getOrElse(scaling.policies.value.collect {
      case p if scaling.states.value.get(p.id).exists(_.currentReplicas == 0) =>
        p.id
    })
    targets.map { id =>
      try wakeScalingPolicy(id, reason)
      catch {
        case NotFound(_, _) =>
          WakeResult(id, 0, 0, reason, "failed", "policy not found")
      }
    }
  }

  /** ref idle/detector.go's check loop distilled to the decision
    * layer: every ENABLED scale-to-zero policy whose idle threshold
    * has passed (outside the post-wake keep-alive window) is zeroed,
    * marked, and recorded. A policy with NO recorded activity is never
    * zeroed — absence of signal is not idleness. Returns the policy
    * ids scaled to zero this tick. */
  def idleScaleToZeroTick(
      idleThresholdMs: Long = graft.observe.Scaling.DefaultIdleThresholdMs,
      keepAliveWindowMs: Long = graft.observe.Scaling.DefaultKeepAliveWindowMs)
  : Seq[String] = lock.synchronized {
    val now = clock()
    val states = scaling.states
    val zeroed = scaling.policies.value.collect {
      case p if p.enabled && p.scaleToZero &&
        states.value.get(p.id).exists(_.currentReplicas > 0) &&
        // the evaluator and this tick share the loop: a policy the
        // evaluator JUST scaled (possibly up, under live metric
        // pressure) is in cooldown — zeroing it here would bypass the
        // cooldown the evaluator started
        !states.value.get(p.id).exists(_.lastScaleAtMs.exists(t =>
          now - t < p.cooldownSeconds * 1000L)) &&
        idleStates.value.get(p.id).exists(s =>
          graft.observe.Scaling.shouldScaleToZero(s.lastActivityAtMs,
            s.lastWakeAtMs, s.isScaledToZero, now,
            idleThresholdMs, keepAliveWindowMs)) =>
        val st = states.value(p.id)
        states.value += p.id -> ScalingPolicyState(0, Some(now), Map.empty)
        idleUpsert(p.id)(s => s.copy(isScaledToZero = true,
          scaledToZeroAtMs = Some(now),
          idleSinceMs = s.idleSinceMs.orElse(Some(s.lastActivityAtMs))))
        scaling.append(ScalingEvent(newId(), p.id, "scale-to-zero",
          st.currentReplicas, 0, "idle threshold exceeded", "idle", now))
        p.id
    }
    if (zeroed.nonEmpty) states.persist()
    zeroed
  }

  /** Zero-width intervals (start, end, avoided width) derived from the
    * policy's history rows: an executed decision landing at zero opens
    * an interval carrying the width it zeroed FROM, the next event at
    * nonzero width closes it, a still-open one closes at `now`.
    * History is capped, so very old intervals age out with their rows
    * — derived savings say so rather than guessing. */
  private def zeroIntervals(policyId: String, nowMs: Long)
  : Seq[(Long, Long, Int)] = {
    val evs = scaling.historyOf(Some(policyId)).sortBy(_.atMs)
    val out = Seq.newBuilder[(Long, Long, Int)]
    var open: Option[(Long, Int)] = None
    evs.foreach { e =>
      if (e.toReplicas == 0) {
        if (open.isEmpty) open = Some((e.atMs, math.max(e.fromReplicas, 1)))
      } else open.foreach { case (a, w) =>
        out += ((a, e.atMs, w)); open = None
      }
    }
    open.foreach { case (a, w) => out += ((a, nowMs, w)) }
    out.result()
  }

  /** Idle-but-running stretches: `idle_since` is set only when a
    * zeroing actually happened (the threshold demonstrably passed) —
    * time since the last activity on a BUSY policy is not idleness and
    * never reaches the savings view. */
  private def idleIntervals(policyId: String, nowMs: Long)
  : Seq[(Long, Long)] =
    idleStates.value.get(policyId).toSeq.flatMap { s =>
      s.idleSinceMs match {
        case Some(start) =>
          val end = s.scaledToZeroAtMs.getOrElse(nowMs)
          if (end <= start) Nil else Seq((start, end))
        case None => Nil
      }
    }

  /** Daily rows since `windowStart` — the ONE derivation both the
    * per-policy savings view and the summary price from, so the two
    * endpoints can never disagree on the same data. Savings =
    * avoided replica-milliseconds x rate, truncated per day. */
  private def dailySavingsRows(id: String, windowStart: Long, nowMs: Long,
                               hourlyCostCents: Int): Seq[DailySavings] = {
    // day -> (plain ms, replica-weighted ms)
    def splitDays(a0: Long, b0: Long, weight: Long,
                  m: scala.collection.mutable.Map[Long, (Long, Long)]): Unit = {
      var cur = math.max(a0, windowStart)
      val b = math.min(b0, nowMs)
      while (cur < b) {
        val day = Math.floorDiv(cur, 86400000L)
        val end = math.min(b, (day + 1) * 86400000L)
        val (p, w) = m.getOrElse(day, (0L, 0L))
        m.update(day, (p + (end - cur), w + (end - cur) * weight))
        cur = end
      }
    }
    val zeroByDay = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    zeroIntervals(id, nowMs).foreach { case (a, b, w) =>
      splitDays(a, b, w.toLong, zeroByDay) }
    val idleByDay = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    idleIntervals(id, nowMs).foreach { case (a, b) =>
      splitDays(a, b, 0L, idleByDay) }
    (zeroByDay.keySet ++ idleByDay.keySet).toSeq.sorted.map { day =>
      val (zMs, zWeighted) = zeroByDay.getOrElse(day, (0L, 0L))
      val (iMs, _) = idleByDay.getOrElse(day, (0L, 0L))
      DailySavings(java.time.LocalDate.ofEpochDay(day).toString,
        iMs / 1000L, zMs / 1000L,
        zWeighted * hourlyCostCents / 3600000L)
    }
  }

  /** ref wake.go GetCostSavings: daily breakdown over the last `days`
    * days, priced at `hourlyCostCents` per avoided REPLICA-hour (the
    * width each zeroing took away rides the interval). */
  def scalingCostSavings(id: String, days: Int = ControlPlane.DefaultSavingsDays,
                         hourlyCostCents: Int = ControlPlane.DefaultHourlyCostCents)
  : Seq[DailySavings] = lock.synchronized {
    scaling.policies.get(id)
    if (days <= 0) throw Invalid("days must be > 0")
    if (hourlyCostCents < 0) throw Invalid("hourly_cost_cents must be >= 0")
    val now = clock()
    dailySavingsRows(id, now - days.toLong * 86400000L, now, hourlyCostCents)
  }

  /** ref wake.go GetSavingsSummary: all-time totals per policy with
    * any idle/zero signal, in policy-listing order — the sum of the
    * SAME daily rows the per-policy view serves. */
  def scalingSavingsSummary(
      hourlyCostCents: Int = ControlPlane.DefaultHourlyCostCents)
  : Seq[PolicySavings] = lock.synchronized {
    if (hourlyCostCents < 0) throw Invalid("hourly_cost_cents must be >= 0")
    val now = clock()
    scaling.policies.value.collect {
      case p if idleStates.value.contains(p.id) ||
        scaling.history.value.exists(_.policyId == p.id) =>
        val rows = dailySavingsRows(p.id, 0L, now, hourlyCostCents)
        PolicySavings(p.id, rows.map(_.idleSeconds).sum,
          rows.map(_.zeroSeconds).sum, rows.map(_.savingsCents).sum)
    }
  }

  // ---- query-engine scaling policies (ref internal/api/handlers/
  // queryscaling.go:35-220 — the /queryscaling/policies CRUD, current
  // metrics, and history; evaluation runs the fixed-threshold model in
  // [[graft.observe.Scaling.evaluateQueryPolicy]]; the reference's
  // background evaluator loop drives the same service methods) -------

  private val QueryEngines = Set("trino", "risingwave")

  private def validQueryScalingFields(queryEngine: String, minReplicas: Int,
                                      maxReplicas: Int, cooldownSeconds: Long,
                                      queued: Int, running: Int,
                                      latency: Int): Unit = {
    if (!QueryEngines.contains(queryEngine))
      throw Invalid(s"query_engine must be one of " +
        QueryEngines.toSeq.sorted.mkString("/"))
    validReplicaBounds(minReplicas, maxReplicas, cooldownSeconds)
    if (queued < 1) throw Invalid("queued_queries_threshold must be >= 1")
    if (running < 1) throw Invalid("running_queries_threshold must be >= 1")
    if (latency < 0) throw Invalid("latency_threshold_seconds must be >= 0")
  }

  /** Defaults are the reference's config defaults (config.go:921-926):
    * queued ≥ 5, running ≥ 10, p95 ≥ 30 s, cooldown 300 s, 1..10. */
  def createQueryScalingPolicy(name: String, queryEngine: String,
                               minReplicas: Int = 1, maxReplicas: Int = 10,
                               cooldownSeconds: Long = 300L,
                               scaleToZero: Boolean = false,
                               enabled: Boolean = true,
                               queuedThreshold: Int = 5,
                               runningThreshold: Int = 10,
                               latencyThresholdSeconds: Int = 30)
  : QueryScalingPolicy = lock.synchronized {
    validName(name)
    validQueryScalingFields(queryEngine, minReplicas, maxReplicas,
      cooldownSeconds, queuedThreshold, runningThreshold,
      latencyThresholdSeconds)
    queryScaling.policies.requireFreeName(name)
    val now = clock()
    queryScaling.create(QueryScalingPolicy(newId(), name, queryEngine, enabled,
      minReplicas, maxReplicas, cooldownSeconds, scaleToZero,
      queuedThreshold, runningThreshold, latencyThresholdSeconds, now, now))
  }

  def listQueryScalingPolicies(): Seq[QueryScalingPolicy] =
    lock.synchronized(queryScaling.policies.value)

  def getQueryScalingPolicy(id: String): QueryScalingPolicy =
    lock.synchronized(queryScaling.policies.get(id))

  /** Partial update resolved against the STORED row under this one
    * lock acquisition — keep-if-absent defaults must never come from
    * a row read in an earlier request, or two concurrent PUTs silently
    * revert each other's fields. */
  def updateQueryScalingPolicy(id: String,
                               name: Option[String] = None,
                               queryEngine: Option[String] = None,
                               minReplicas: Option[Int] = None,
                               maxReplicas: Option[Int] = None,
                               cooldownSeconds: Option[Long] = None,
                               scaleToZero: Option[Boolean] = None,
                               enabled: Option[Boolean] = None,
                               queuedThreshold: Option[Int] = None,
                               runningThreshold: Option[Int] = None,
                               latencyThresholdSeconds: Option[Int] = None)
  : QueryScalingPolicy = lock.synchronized {
    val p = queryScaling.policies.get(id)
    val rName = name.getOrElse(p.name)
    validName(rName)
    val next = p.copy(name = rName,
      queryEngine = queryEngine.getOrElse(p.queryEngine),
      minReplicas = minReplicas.getOrElse(p.minReplicas),
      maxReplicas = maxReplicas.getOrElse(p.maxReplicas),
      cooldownSeconds = cooldownSeconds.getOrElse(p.cooldownSeconds),
      scaleToZero = scaleToZero.getOrElse(p.scaleToZero),
      enabled = enabled.getOrElse(p.enabled),
      queuedThreshold = queuedThreshold.getOrElse(p.queuedThreshold),
      runningThreshold = runningThreshold.getOrElse(p.runningThreshold),
      latencyThresholdSeconds =
        latencyThresholdSeconds.getOrElse(p.latencyThresholdSeconds),
      updatedAtMs = clock())
    validQueryScalingFields(next.queryEngine, next.minReplicas,
      next.maxReplicas, next.cooldownSeconds, next.queuedThreshold,
      next.runningThreshold, next.latencyThresholdSeconds)
    queryScaling.policies.requireFreeName(rName, except = id)
    queryScaling.update(next)
  }

  def deleteQueryScalingPolicy(id: String): Unit =
    lock.synchronized(queryScaling.delete(id))

  def getQueryScalingState(id: String): ScalingPolicyState =
    lock.synchronized(queryScaling.stateOf(queryScaling.policies.get(id)))

  /** One evaluation tick against the supplied queue metrics — what the
    * reference's background evaluator does per poll; exposed the same
    * dry-run-able way as the generic policies. */
  def evaluateQueryScalingPolicy(id: String,
                                 metrics: Option[graft.observe.Scaling.QueryMetrics],
                                 persist: Boolean = true)
  : graft.observe.Scaling.QueryDecision = lock.synchronized {
    import graft.observe.Scaling
    val p = queryScaling.policies.get(id)
    // the SERVICE contract matches the generic surface: evaluating a
    // disabled policy is the caller's error (409), not a quiet no-op
    // tick that rewrites the state file
    if (!p.enabled) throw Conflict("query scaling policy is disabled")
    val pol = Scaling.QueryPolicy(p.id, p.enabled, p.minReplicas,
      p.maxReplicas, p.cooldownSeconds * 1000L, p.scaleToZero,
      p.queuedThreshold, p.runningThreshold, p.latencyThresholdSeconds)
    val st = queryScaling.stateOf(p)
    val now = clock()
    val d = Scaling.evaluateQueryPolicy(pol,
      Scaling.QueryState(st.currentReplicas, st.lastScaleAtMs), metrics, now)
    if (!persist) return d
    queryScaling.putState(id, ScalingPolicyState(
      d.next.currentReplicas, d.next.lastScaleTimeMs, Map.empty))
    if (d.action != "none")
      // ONE action vocabulary across both scaling histories: the
      // model's underscore names render hyphenated like the generic
      // surface's rows, so a consumer filtering "scale-up" sees both
      queryScaling.append(ScalingEvent(newId(), id,
        d.action.replace('_', '-'),
        st.currentReplicas, d.desiredReplicas, d.reason,
        s"value:${d.triggerValue}", now))
    d
  }

  def listQueryScalingHistory(policyId: Option[String] = None)
  : Seq[ScalingEvent] = lock.synchronized(queryScaling.historyOf(policyId))

  // ---- alert instances / history / silences (ref handlers/alerts.go:
  // 35-44; types.go AlertInstance/AlertHistory/AlertSilence) ----------

  private def appendHistory(alertId: String, ruleId: String, event: String,
                            message: String, value: Option[Double],
                            atMs: Long): Unit =
    alertHistory.add(AlertHistoryEntry(newId(), alertId, ruleId, event,
      message, value, atMs))

  /** A fire transition from the evaluator's machine: creates the
    * instance or re-fires an existing one (the reference's fireAlert
    * creates-or-updates; a resolved instance re-firing becomes a fresh
    * firing row under the same fingerprint — status history stays in
    * the audit trail). */
  def recordAlertFired(ruleId: String, fingerprint: String,
                       value: Option[Double], atMs: Long): AlertInstance =
    lock.synchronized {
      alertRules.get(ruleId) // 404 for an unknown rule
      val next = alertInstances.value.find(a =>
        a.fingerprint == fingerprint && a.status == "firing") match {
        case Some(a) =>
          alertInstances.replace(a.copy(currentValue = value, updatedAtMs = atMs))
        case None =>
          alertInstances.add(AlertInstance(newId(), ruleId, fingerprint,
            "firing", value, atMs, None, None, "", atMs, atMs))
      }
      appendHistory(next.id, ruleId, "fired", s"alert fired", value, atMs)
      next
    }

  /** A resolution (series absence) — the machine's only resolve path. */
  def recordAlertResolved(fingerprint: String, atMs: Long): Option[AlertInstance] =
    lock.synchronized {
      alertInstances.value.find(a =>
        a.fingerprint == fingerprint && a.status == "firing").map { a =>
        val u = alertInstances.replace(a.copy(status = "resolved",
          resolvedAtMs = Some(atMs), updatedAtMs = atMs))
        appendHistory(u.id, u.ruleId, "resolved", "alert resolved", None, atMs)
        u
      }
    }

  /** A delivered notification, recorded on the instance's audit trail
    * (the reference's recordNotificationEvent). */
  def recordAlertNotification(fingerprint: String, channelId: String,
                              event: String, atMs: Long): Unit =
    lock.synchronized {
      latestInstance(fingerprint).foreach { a =>
        appendHistory(a.id, a.ruleId, "notification_sent",
          s"$event notification to channel $channelId", None, atMs)
      }
    }

  /** A SUPPRESSED notification (active silence, disabled channel) —
    * audited so the durable trail records that a route matched and why
    * nothing was sent; without this, suppression exists only in the
    * manager's transient cycle outcomes. */
  def recordAlertSuppressed(fingerprint: String, channelId: String,
                            event: String, reason: String, atMs: Long): Unit =
    lock.synchronized {
      latestInstance(fingerprint).foreach { a =>
        appendHistory(a.id, a.ruleId, "notification_suppressed",
          s"$event notification to channel $channelId suppressed: $reason",
          None, atMs)
      }
    }

  private def latestInstance(fingerprint: String): Option[AlertInstance] =
    alertInstances.value.filter(_.fingerprint == fingerprint)
      .sortBy(-_.updatedAtMs).headOption

  def acknowledgeAlert(id: String, by: String): AlertInstance =
    lock.synchronized {
      val a = alertInstances.get(id)
      if (a.status != "firing")
        throw Conflict("only a firing alert can be acknowledged")
      val now = clock()
      val u = alertInstances.replace(a.copy(acknowledgedAtMs = Some(now),
        acknowledgedBy = by, updatedAtMs = now))
      appendHistory(u.id, u.ruleId, "acknowledged",
        s"acknowledged by $by", None, now)
      u
    }

  def listAlertInstances(status: Option[String] = None): Seq[AlertInstance] =
    lock.synchronized(alertInstances.value.filter(a =>
      status.forall(_ == a.status)))

  def getAlertInstance(id: String): AlertInstance =
    lock.synchronized(alertInstances.get(id))

  /** Counts by status (the reference's GET /alerts/summary). */
  def alertSummary(): Map[String, Long] = lock.synchronized(
    alertInstances.value.groupBy(_.status).map { case (k, v) => k -> v.size.toLong })

  def listAlertHistory(alertId: String): Seq[AlertHistoryEntry] =
    lock.synchronized {
      alertInstances.get(alertId)
      alertHistory.value.filter(_.alertId == alertId)
    }

  def createSilence(matchers: Map[String, String], startsAtMs: Long,
                    endsAtMs: Long, createdBy: String,
                    comment: String = ""): AlertSilence = lock.synchronized {
    if (matchers.isEmpty) throw Invalid("silence requires matchers")
    if (endsAtMs <= startsAtMs)
      throw Invalid("silence must end after it starts")
    val now = clock()
    alertSilences.add(AlertSilence(newId(), matchers, startsAtMs, endsAtMs,
      createdBy, comment, now, now))
  }

  def listSilences(): Seq[AlertSilence] = lock.synchronized(alertSilences.value)

  def getSilence(id: String): AlertSilence =
    lock.synchronized(alertSilences.get(id))

  def deleteSilence(id: String): Unit = lock.synchronized {
    alertSilences.remove(alertSilences.get(id).id)
  }

  /** Is a notification with these labels suppressed right now? */
  def silenced(labels: Map[String, String], nowMs: Long): Boolean =
    lock.synchronized(
      alertSilences.value.exists(s => s.activeAt(nowMs) && s.matches(labels)))

  // ---- API keys (ref internal/api/services/api_key.go) --------------

  /** Mint a key: `graft_live_<256 random bits, base64url>` (the
    * reference's `<prefix>live_<random>` form, generateAPIKey). Returns
    * the stored row AND the plaintext — the ONLY time it exists. */
  def createApiKey(name: String,
                   expiresAtMs: Option[Long] = None): (ApiKey, String) =
    lock.synchronized {
      validName(name)
      if (expiresAtMs.exists(_ <= clock()))
        throw Invalid("expires_at_ms must be in the future")
      val raw = new Array[Byte](32)
      secureRandom.nextBytes(raw)
      val plaintext = "graft_live_" +
        java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(raw)
      val now = clock()
      (apiKeys.add(ApiKey(newId(), name, plaintext.take(10),
        hashApiKey(plaintext), expiresAtMs, None, now, now)), plaintext)
    }

  def listApiKeys(): Seq[ApiKey] = lock.synchronized(apiKeys.value)

  def getApiKey(id: String): ApiKey = lock.synchronized(apiKeys.get(id))

  /** Soft revoke: the key stops authenticating, the row stays for
    * audit (the reference's Revoke vs Delete split). Idempotent. */
  def revokeApiKey(id: String): ApiKey = lock.synchronized {
    val k = apiKeys.get(id)
    apiKeys.replace(
      if (k.revokedAtMs.isDefined) k
      else k.copy(revokedAtMs = Some(clock()), updatedAtMs = clock()))
  }

  def deleteApiKey(id: String): Unit = lock.synchronized {
    apiKeys.remove(apiKeys.get(id).id)
  }

  /** Authenticate a presented plaintext: digest it, then compare the
    * digest against every live key's stored hash with a constant-time
    * comparison (hashing first means timing can leak nothing about
    * the plaintext; the store is O(keys) small). Revoked or expired
    * keys never validate. */
  def validateApiKey(plaintext: String): Option[ApiKey] = lock.synchronized {
    val digest = hashApiKey(plaintext).getBytes(UTF_8)
    val now = clock()
    apiKeys.value.find(k =>
      java.security.MessageDigest.isEqual(digest, k.hash.getBytes(UTF_8)) &&
        k.revokedAtMs.isEmpty && k.expiresAtMs.forall(_ > now))
  }

  // ---- users + login sessions (ref internal/api/handlers/auth.go:
  // 31-158, services/auth.go — password login minting expiring
  // session tokens, /auth/me, the one-time admin registration) -------

  private def validUserFields(email: String, password: String): Unit = {
    // ref binding:"required,email" / "required,min=8"
    val at = email.indexOf('@')
    if (email.isEmpty || at <= 0 || at >= email.length - 1 ||
      email.exists(_.isWhitespace))
      throw Invalid("email must be a valid address")
    if (password.length < 8)
      throw Invalid("password must be at least 8 characters")
  }

  private def mkUser(email: String, password: String, name: String,
                     role: String): User = {
    val salt = new Array[Byte](16)
    secureRandom.nextBytes(salt)
    val now = clock()
    User(newId(), email, name, role, isActive = true, None,
      ControlPlane.pbkdf2(password, salt, ControlPlane.KdfIterations),
      salt.map(b => f"$b%02x").mkString, ControlPlane.KdfIterations,
      now, now)
  }

  /** ref services/auth.go:291-340 RegisterFirstAdmin — the one-time
    * onboarding bootstrap: 409 once ANY admin exists. Returns the user
    * and a freshly minted session (token plaintext exists only here). */
  def registerFirstAdmin(email: String, password: String, name: String = "")
  : (User, String, Session) = lock.synchronized {
    validUserFields(email, password)
    if (users.value.exists(_.role == "admin"))
      throw Conflict("admin user already exists; use login instead")
    if (users.value.exists(_.email == email))
      throw Conflict("user with this email already exists")
    val u = users.add(mkUser(email, password, name, "admin"))
    val (tok, session) = mintSession(u)
    (u, tok, session)
  }

  // consecutive login failures per email -> (count, last failure ms).
  // In-memory by design: a restart clears it, persistence would let an
  // attacker's spray permanently poison the store. BOUNDED: stale
  // entries (outside the lockout window) prune on every record, and a
  // hard cap evicts oldest-failure-first — a unique-email spray must
  // not grow the heap without bound
  private var loginFailures: Map[String, (Int, Long)] = Map.empty

  // the deliberate KDF burn makes every login cost ~100k PBKDF2
  // iterations — bounded concurrency, or an unauthenticated spray
  // saturates every core. Over-limit attempts 429 instead of queueing
  // (queueing would just move the DoS to the HTTP thread pool)
  private val kdfPermits = new java.util.concurrent.Semaphore(4)

  /** ref services/auth.go:51-109 Login. Unknown email and wrong
    * password are the SAME 401 (no user-existence oracle); an inactive
    * account is 403 BEFORE the password check, the reference's order —
    * a post-verification 403 would be a password-correctness oracle
    * for disabled accounts. The KDF runs OUTSIDE the store lock (a
    * login-spam attacker must not serialize every authenticated
    * request behind 100k PBKDF2 iterations), and for unknown emails
    * the same work burns against a dummy salt so timing reveals
    * nothing. After [[ControlPlane.MaxLoginFailures]] consecutive
    * failures an email is locked out for
    * [[ControlPlane.LoginLockoutMs]] — engaged on FAILURE, reset only
    * by a successful login. */
  def loginUser(email: String, password: String): (User, String, Session) = {
    if (email.isEmpty) throw Invalid("email is required")
    if (password.isEmpty) throw Invalid("password is required")
    val snapshot = lock.synchronized {
      loginFailures.get(email).foreach { case (n, lastMs) =>
        if (n >= ControlPlane.MaxLoginFailures &&
          clock() - lastMs < ControlPlane.LoginLockoutMs)
          throw TooManyRequests(
            "too many failed login attempts; try again later")
      }
      users.value.find(_.email == email)
    }
    // the expensive KDF runs lock-free, under a bounded permit
    if (!kdfPermits.tryAcquire())
      throw TooManyRequests("too many login attempts in flight")
    val verified =
      try snapshot match {
        case None =>
          ControlPlane.pbkdf2(password, new Array[Byte](16),
            ControlPlane.KdfIterations) // burn the same work
          false
        case Some(u) =>
          if (!u.isActive) throw Forbidden("user account is inactive")
          if (u.passwordHash.isEmpty) {
            // SSO-provisioned account: no password exists. Burn the
            // same KDF work as any wrong password (no timing oracle
            // distinguishing "SSO-only" from "wrong password") and
            // fail with the same 401.
            ControlPlane.pbkdf2(password, new Array[Byte](16),
              ControlPlane.KdfIterations)
            false
          } else java.security.MessageDigest.isEqual(
            ControlPlane.pbkdf2(password, hexBytes(u.passwordSalt),
              u.kdfIterations).getBytes(UTF_8),
            u.passwordHash.getBytes(UTF_8))
      } finally kdfPermits.release()
    lock.synchronized {
      val now = clock()
      if (!verified) {
        val n = loginFailures.get(email) match {
          case Some((c, lastMs))
            if now - lastMs < ControlPlane.LoginLockoutMs => c + 1
          case _ => 1
        }
        // prune stale entries, then cap by evicting oldest failures
        loginFailures = loginFailures.filter { case (_, (_, lastMs)) =>
          now - lastMs < ControlPlane.LoginLockoutMs
        } + (email -> ((n, now)))
        if (loginFailures.size > ControlPlane.MaxTrackedLoginFailures)
          loginFailures = loginFailures.toSeq.sortBy(-_._2._2)
            .take(ControlPlane.MaxTrackedLoginFailures).toMap
        throw Unauthorized("invalid email or password")
      }
      loginFailures -= email
      // re-read the row: it may have changed while the KDF ran; a
      // concurrent deactivation must win over a stale snapshot
      val u = snapshot.flatMap(s => users.find(s.id))
        .getOrElse(throw Unauthorized("invalid email or password"))
      if (!u.isActive) throw Forbidden("user account is inactive")
      val updated =
        users.replace(u.copy(lastLoginAtMs = Some(now), updatedAtMs = now))
      val (tok, session) = mintSession(updated)
      (updated, tok, session)
    }
  }

  /** ref services/auth.go ListUsers — the admin listing (also what
    * specs read to assert provisioning outcomes). */
  def listUsers(): Seq[User] = lock.synchronized(users.value)

  /** ref services/auth.go:188-215 UpdateUser's is_active arm — the
    * deactivation hook: a deactivated user can neither log in (403)
    * nor use existing sessions ([[validateSession]] checks isActive). */
  def setUserActive(id: String, active: Boolean): User = lock.synchronized {
    val u = users.get(id)
    users.replace(u.copy(isActive = active, updatedAtMs = clock()))
  }

  private def mintSession(u: User): (String, Session) = {
    val raw = new Array[Byte](32)
    secureRandom.nextBytes(raw)
    val plaintext = "graft_sess_" +
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(raw)
    val now = clock()
    val s = Session(newId(), u.id, ControlPlane.hashApiKey(plaintext),
      now + sessionTtlMs, now)
    // expired rows leave with every mint, and each user keeps only
    // the newest [[ControlPlane.MaxSessionsPerUser]] — a
    // login-per-request client must not accrete a row per call for a
    // whole TTL (unbounded file rewrites + linear validate scans)
    val (mine, others) = sessions.value.filter(_.expiresAtMs > now)
      .partition(_.userId == u.id)
    sessions.set(others ++
      mine.sortBy(-_.createdAtMs)
        .take(ControlPlane.MaxSessionsPerUser - 1) :+ s)
    (plaintext, s)
  }

  /** Authenticate a presented session token: digest-then-compare like
    * the API keys; expired sessions and inactive users never validate. */
  def validateSession(plaintext: String): Option[(Session, User)] =
    lock.synchronized {
      val digest = ControlPlane.hashApiKey(plaintext).getBytes(UTF_8)
      val now = clock()
      for {
        s <- sessions.value.find(s =>
          java.security.MessageDigest.isEqual(digest,
            s.tokenHash.getBytes(UTF_8)) && s.expiresAtMs > now)
        u <- users.find(s.userId).filter(_.isActive)
      } yield (s, u)
    }

  /** ref services/oidc.go:501-510 mapGroupsToRole: first IdP group
    * with a mapping wins, otherwise the provider's default role.
    * Mapping entries are consulted in the USER'S group order — the
    * reference iterates the presented groups, not the map. */
  private[api] def mapGroupsToRole(p: OidcProvider,
                                   groups: Seq[String]): String =
    groups.collectFirst {
      case g if p.roleMapping.contains(g) => p.roleMapping(g)
    }.getOrElse(p.defaultRole)

  /** The callback's provisioning + session mint (ref services/oidc.go:
    * 244-284 and 423-499 provisionUser): find by (provider, subject);
    * else link by email; else auto-create when the provider allows it.
    * Every path refreshes groups/role/last-login and mints a session
    * (the reference mints a stateless HS256 JWT; sessions are this
    * repo's documented deviation — hashed revocable rows). A user
    * deactivated since their last SSO login stays locked out.
    *
    * Two deliberate tightenings over the reference's provisionUser
    * (both takeover/invariant holes its bare email match opens):
    *  - email LINKING requires the IdP to assert `email_verified` —
    *    otherwise an attacker who can set an arbitrary email at a lax
    *    IdP logs in AS any existing account;
    *  - an email already bound to a DIFFERENT OIDC identity refuses
    *    outright instead of silently re-linking (reference) or
    *    minting a second user with the same email (which the rest of
    *    this store treats as a uniqueness violation). */
  def oidcLogin(providerId: String, info: OidcUserInfo)
  : (User, String, Session) = lock.synchronized {
    if (info.subject.isEmpty) throw Invalid("ID token has no subject")
    val p = oidcProviders.get(providerId)
    val now = clock()
    val role = mapGroupsToRole(p, info.groups)
    val bySubject = users.value.find(u =>
      u.oidcProviderId.contains(p.id) && u.oidcSubject.contains(info.subject))
    val existing = bySubject.orElse {
      if (info.email.isEmpty) None
      else users.value.find(_.email == info.email) match {
        case None => None
        case Some(candidate) =>
          if (!info.emailVerified)
            throw Forbidden(
              "email not verified by the identity provider; cannot link")
          if (candidate.oidcSubject.nonEmpty)
            throw Forbidden(
              "email already bound to a different SSO identity")
          Some(candidate)
      }
    }
    val u = existing match {
      case Some(prior) =>
        if (!prior.isActive) throw Forbidden("user account is inactive")
        prior.copy(role = role, oidcProviderId = Some(p.id),
          oidcSubject = Some(info.subject), oidcGroups = info.groups,
          lastLoginAtMs = Some(now), updatedAtMs = now)
      case None =>
        if (!p.autoCreateUsers)
          throw Forbidden("user not found and auto-create is disabled")
        // an IdP that omits the email claim must not mint an account
        // keyed on "": multiple such subjects would collide on the
        // empty email and break the password-login uniqueness lookup
        if (info.email.isEmpty)
          throw Forbidden(
            "identity provider supplied no email; cannot auto-create")
        val name =
          if (info.name.nonEmpty) info.name
          else if (info.givenName.nonEmpty || info.familyName.nonEmpty)
            s"${info.givenName} ${info.familyName}".trim
          else info.email
        // no password: empty hash/salt never verify (see User scaladoc)
        User(newId(), info.email, name, role, isActive = true, Some(now),
          passwordHash = "", passwordSalt = "", kdfIterations = 0,
          now, now, Some(p.id), Some(info.subject), info.groups)
    }
    if (existing.isDefined) users.replace(u) else users.add(u)
    val (tok, session) = mintSession(u)
    (u, tok, session)
  }

  private def hexBytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // ---- sources ------------------------------------------------------

  def createSource(name: String, typ: String, host: String, port: Int,
                   databaseName: String, username: String,
                   password: String = "", sslMode: String = "prefer",
                   slotName: String = "",
                   publicationName: String = ""): Source = lock.synchronized {
    validName(name)
    if (host.isEmpty || databaseName.isEmpty || username.isEmpty)
      throw Invalid("host, database_name and username are required")
    sources.requireFreeName(name)
    val now = clock()
    sources.add(Source(newId(), name, if (typ.isEmpty) "postgres" else typ,
      host, if (port == 0) 5432 else port, databaseName, username, password,
      sslMode, slotName, publicationName, now, now))
  }

  def listSources(): Seq[Source] = lock.synchronized(sources.value)

  def getSource(id: String): Source = lock.synchronized(sources.get(id))

  def deleteSource(id: String): Unit = lock.synchronized {
    val s = sources.get(id)
    if (pipelines.value.exists(_.sourceId == id))
      throw Conflict("cannot delete source with associated pipelines")
    sources.remove(s.id)
  }

  /** Real connectivity probe (pluggable for tests). */
  def testConnection(id: String): Either[String, Long] =
    connTest(getSource(id))

  // ---- pipelines ----------------------------------------------------

  def createPipeline(name: String, sourceId: String,
                     tables: Seq[(String, String, Boolean)]): Pipeline =
    lock.synchronized {
      validName(name)
      sources.get(sourceId) // 404 when absent — same order as the reference
      pipelines.requireFreeName(name)
      val keys = tables.map(t => (t._1, t._2))
      if (keys.distinct.size != keys.size)
        throw Conflict("duplicate table mapping in request")
      if (tables.exists(_._2.isEmpty))
        throw Invalid("table mapping requires a table name")
      val now = clock()
      pipelines.add(Pipeline(newId(), name, sourceId, "stopped", "",
        tables.map(t => TableMapping(newId(), t._1, t._2, t._3)),
        now, now, None, None))
    }

  def listPipelines(): Seq[Pipeline] = lock.synchronized(pipelines.value)

  def getPipeline(id: String): Pipeline = lock.synchronized(pipelines.get(id))

  private def requireStopped(p: Pipeline, action: String): Unit =
    if (p.status == "running" || p.status == "starting")
      throw Conflict(s"cannot $action a running pipeline")

  def updatePipeline(id: String, name: String): Pipeline = lock.synchronized {
    validName(name)
    val p = getPipeline(id)
    requireStopped(p, "update")
    pipelines.requireFreeName(name, except = id)
    pipelines.replace(p.copy(name = name, updatedAtMs = clock()))
  }

  def deletePipeline(id: String): Unit = lock.synchronized {
    val p = getPipeline(id)
    requireStopped(p, "delete")
    pipelines.remove(p.id)
  }

  def addTableMapping(id: String, schema: String, table: String,
                      enabled: Boolean): Pipeline = lock.synchronized {
    val p = getPipeline(id)
    if (table.isEmpty) throw Invalid("table mapping requires a table name")
    if (p.tables.exists(m => m.sourceSchema == schema && m.sourceTable == table))
      throw Conflict("table mapping already exists")
    pipelines.replace(p.copy(
      tables = p.tables :+ TableMapping(newId(), schema, table, enabled),
      updatedAtMs = clock()))
  }

  def removeTableMapping(id: String, mappingId: String): Pipeline =
    lock.synchronized {
      val p = getPipeline(id)
      if (!p.tables.exists(_.id == mappingId))
        throw NotFound("table_mapping", mappingId)
      pipelines.replace(p.copy(tables = p.tables.filterNot(_.id == mappingId),
        updatedAtMs = clock()))
    }

  /** stopped → starting → running (or → error when the runner refuses).
    * The runner executes OUTSIDE the store lock — it performs real
    * network I/O (connect, slot setup) and must not freeze every other
    * control-plane route while it does; the "starting" status persisted
    * under the lock is what serializes concurrent starts. Status never
    * says running unless start() returned. */
  def startPipeline(id: String): Pipeline = {
    val (p, src) = lock.synchronized {
      val p = getPipeline(id)
      if (p.status == "running" || p.status == "starting")
        throw Conflict("pipeline is already running")
      val src = getSource(p.sourceId)
      pipelines.replace(p.copy(status = "starting", updatedAtMs = clock()))
      (p, src)
    }
    try {
      runner.start(p, src)
      lock.synchronized(pipelines.replace(getPipeline(id).copy(
        status = "running", errorMessage = "", startedAtMs = Some(clock()),
        updatedAtMs = clock())))
    } catch {
      case e: Exception =>
        lock.synchronized(pipelines.replace(getPipeline(id).copy(
          status = "error", errorMessage = String.valueOf(e.getMessage),
          updatedAtMs = clock())))
        throw Conflict(s"pipeline failed to start: ${e.getMessage}")
    }
  }

  /** running/error → stopping → stopped. The runner's stop (which may
    * wait out an in-flight batch) runs OUTSIDE the lock; "stopping"
    * serializes concurrent stops, and a stop during "starting" is
    * refused rather than interleaving with the start in flight. */
  def stopPipeline(id: String): Pipeline = {
    val p = lock.synchronized {
      val p = getPipeline(id)
      if (p.status == "stopped" || p.status == "stopping")
        throw Conflict("pipeline is already stopped")
      if (p.status == "starting")
        throw Conflict("pipeline is starting — retry once it settles")
      pipelines.replace(p.copy(status = "stopping", updatedAtMs = clock()))
      p
    }
    try runner.stop(p) catch { case _: Exception => () } // best-effort
    lock.synchronized(pipelines.replace(getPipeline(id).copy(
      status = "stopped", stoppedAtMs = Some(clock()), updatedAtMs = clock())))
  }

  /** The status surface's read: consult the RUNNER for a pipeline the
    * store believes running — a drain loop that died after a clean
    * start becomes status `error` here instead of a stale "running". */
  def refreshStatus(id: String): Pipeline = {
    val p = getPipeline(id)
    if (p.status != "running") p
    else runner.health(p) match {
      case None => p
      case Some(errMsg) => lock.synchronized(
        pipelines.replace(getPipeline(id).copy(status = "error",
          errorMessage = errMsg, updatedAtMs = clock())))
    }
  }
}
