package graft.api

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}

import graft.model.Identifiers
import graft.queries.Paging

/** The HTTP API service layer over the engine (ref internal/api/
  * server.go:137-405 route registration, handlers/query.go:31-182 the
  * /query route group, services/query.go:45-335 the service semantics):
  * the reference serves catalog exploration and SQL over its Trino
  * layer; this serves the SAME surface over the Spark SQL catalog via
  * the JDK's built-in [[HttpServer]] — zero added dependencies, bound
  * to loopback, ephemeral port.
  *
  * Routes (the reference's /query group):
  *   - `GET /query/health` → `{"status":"healthy"}` (handlers/query.go:70)
  *   - `GET /query/catalogs` → registered catalogs (query.go:121-146)
  *   - `GET /query/catalogs/{c}/schemas` → SHOW NAMESPACES (query.go:148)
  *   - `GET /query/catalogs/{c}/schemas/{s}/tables` → SHOW TABLES (query.go:182)
  *   - `GET /query/catalogs/{c}/schemas/{s}/tables/{t}` → DESCRIBE (query.go:222)
  *   - `POST /query/sql` `{"sql": "...", "page_size": n}` → first page +
  *     `next_uri` cursor, the Trino `/v1/statement` paging model the
  *     reference's executeQuery consumes (query.go:335-426)
  *   - `GET /query/results/{id}` → next page; the cursor dies with its
  *     last page, an unknown id is 404 (Trino's expired nextUri)
  *
  * Every path identifier passes [[Identifiers.validate]] BEFORE any SQL
  * string is built (query.go:45-53's regex, same rule) → 400 on
  * violation; SQL analysis errors → 400; unknown routes → 404.
  *
  * Scale shape: pagination is [[Paging.QueryCursor]] — the executed
  * query's `toLocalIterator`, one partition in driver memory at a time,
  * so a 100 TB result streams through page by page exactly like the
  * reference's Trino cursor. Open cursors are capped; the cap returns
  * 429 instead of accumulating driver state without bound.
  *
  * `authToken`: when set, every route except `GET /query/health` (the
  * liveness probe, conventionally unauthenticated) requires
  * `Authorization: Bearer <token>` → 401 otherwise (the reference's
  * API sits behind its auth middleware, internal/api/server.go; token
  * compare is constant-time). With a control plane attached, a managed
  * API key (issued via `/api/v1/api-keys`, hashed at rest, revocable —
  * ref internal/api/services/api_key.go) authenticates equally, and an
  * `oidc` validator accepts issuer-signed JWTs. Configuring ANY of the
  * credential mechanisms (static token or OIDC) closes the API — an
  * OIDC-only deployment must never run unauthenticated.
  *
  * `GET /metrics` serves the Prometheus text exposition of `registry`
  * — the same `philotes_<subsystem>_<name>` series the reference
  * exports through promhttp (ref internal/api/server.go:258, names
  * internal/metrics/metrics.go:39-258). With `authToken` set the
  * scrape authenticates like every other route — metric names and
  * values are operational intelligence — unless `openMetrics` opts
  * the endpoint out (the promhttp-style unauthenticated scrape) or
  * `metricsToken` grants the scraper its own credential. */
final class ApiServer(spark: SparkSession,
                      defaultPageSize: Int = 100,
                      maxCursors: Int = 64,
                      cursorTtlMs: Long = 10 * 60 * 1000L,
                      registry: graft.observe.Metrics.Registry =
                        graft.observe.Metrics.global,
                      authToken: Option[String] = None,
                      controlPlane: Option[ControlPlane] = None,
                      bindPort: Int = 0,
                      openMetrics: Boolean = false,
                      metricsToken: Option[String] = None,
                      oidc: Option[OidcValidator] = None,
                      metricsStore: Option[MetricsHub.Store] = None,
                      // origins (scheme://host[:port]) allowed as OIDC
                      // login redirect targets, besides this server's
                      // own origin. The callback response carries a
                      // fresh session token next to the echoed
                      // redirect_uri, so an attacker-choosable target
                      // is a token-exfiltration vector — the reference
                      // accepts any http(s) URL; we require an
                      // allowlisted or same-origin one
                      oidcRedirectOrigins: Seq[String] = Nil)
  extends AutoCloseable {

  private val server =
    HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, bindPort), 0)
  private val pool = Executors.newFixedThreadPool(4)
  private val cursors = new ConcurrentHashMap[String, CursorState]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `cursor == null` marks a RESERVATION: the slot is held while the
    * statement analyzes/executes, before the real state replaces it.
    * Reserved ids are never published, so lookups can treat them as
    * absent. */
  private final class CursorState(val cursor: Paging.QueryCursor,
                                  val columns: Seq[String]) {
    @volatile var lastTouchedMs: Long = System.currentTimeMillis()
    /** Number of pages fully served (== the next page number). */
    var pagesServed: Long = 0L
    /** Last served (pageNo, rendered page) — the idempotent-retry cache:
      * a client re-fetching the SAME next_uri after a lost response gets
      * the identical page instead of silently skipping one. */
    var lastPage: (Long, JObject) = null
  }

  /** Final pages of exhausted cursors, LRU-bounded: the terminal
    * next_uri-less response stays re-fetchable (idempotent) without an
    * exhausted cursor pinning a live slot. */
  private val finished = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, JObject)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, JObject)]): Boolean =
        size() > maxCursors
    })

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  /** The bound ephemeral port. */
  def port: Int = server.getAddress.getPort
  def baseUri: String = s"http://127.0.0.1:$port"

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    cursors.clear()
    finished.clear()
  }

  // ---- routing -----------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      // exemption decisions run on the SAME normalized segments the
      // router matches on — a trailing slash or doubled separator must
      // not flip an exempt route to 401 while still reaching its
      // handler
      val segs = path.split('/').filter(_.nonEmpty).toSeq
      // the enabled-provider listing is the LOGIN page's discovery
      // surface — it must answer before any credential exists (the
      // reference registers its /auth/oidc group without requireAuth);
      // it leaks only names/types, by design
      val exempt = segs == Seq("query", "health") ||
        (segs == Seq("api", "v1", "auth", "oidc", "providers") &&
          ex.getRequestMethod == "GET") ||
        // the interactive login dance runs BEFORE any credential
        // exists (the reference's public /auth/oidc group): authorize
        // mints only an opaque state; the callback only ever succeeds
        // against an issuer-signed ID token
        (segs.length == 6 &&
          segs.take(4) == Seq("api", "v1", "auth", "oidc") &&
          segs(5) == "authorize" && ex.getRequestMethod == "POST") ||
        (segs == Seq("api", "v1", "auth", "oidc", "callback") &&
          (ex.getRequestMethod == "POST" || ex.getRequestMethod == "GET")) ||
        // login is how session credentials get minted — it must answer
        // unauthenticated (it only ever succeeds against a stored
        // password). REGISTER is deliberately NOT exempt: the
        // reference leaves first-admin registration public, but on a
        // token-closed deployment that is an unauthenticated
        // admin-mint — here bootstrap on a closed API uses an existing
        // credential
        (segs == Seq("api", "v1", "auth", "login") &&
          ex.getRequestMethod == "POST") ||
        (segs == Seq("metrics") &&
          (openMetrics || metricsToken.exists(t => HttpUtil.bearerOk(ex, t))))
      if (authRequired && !exempt && !authorized(ex)) {
        respond(ex, 401,
          JObject("error" -> JString("missing or invalid bearer token")))
        return
      }
      (ex.getRequestMethod, segs) match {
        case ("GET", Seq("query", "health")) =>
          respond(ex, 200, JObject("status" -> JString("healthy")))
        case ("GET", Seq("metrics")) => metricsText(ex)
        case ("GET", Seq("query", "status")) => status(ex)
        case ("GET", Seq("query", "catalogs")) => listCatalogs(ex)
        case ("GET", Seq("query", "catalogs", c, "schemas")) =>
          validated(ex, c -> "catalog") { listSchemas(ex, c) }
        case ("GET", Seq("query", "catalogs", c, "schemas", s, "tables")) =>
          validated(ex, c -> "catalog", s -> "schema") { listTables(ex, c, s) }
        case ("GET", Seq("query", "catalogs", c, "schemas", s, "tables", t)) =>
          validated(ex, c -> "catalog", s -> "schema", t -> "table") {
            tableInfo(ex, c, s, t)
          }
        // deployment info (ref internal/api/handlers/version.go
        // GetVersion, config.go GetConfig — the SAFE subset only: the
        // reference's own security note forbids secrets, credentials,
        // and internal endpoints here). These read nothing from the
        // control plane, so they serve on EVERY deployment shape —
        // including the pure /query server with no store attached
        case ("GET", Seq("api", "v1", "version")) =>
          respond(ex, 200, JObject(
            "version" -> JString(graft.Cli.Version),
            "api_version" -> JString("v1"),
            "engine" -> JString("spark"),
            "engine_version" -> JString(spark.sparkContext.version),
            "scala_version" -> JString(scala.util.Properties.versionNumberString)))
        case ("GET", Seq("api", "v1", "config")) =>
          // a non-numeric shuffle setting (some runtimes use "auto")
          // reports as its raw string rather than 500ing the endpoint
          val shuffle = spark.conf.get("spark.sql.shuffle.partitions", "200")
          respond(ex, 200, JObject(
            "environment" -> JString(
              sys.env.getOrElse("GRAFT_ENVIRONMENT", "development")),
            "query" -> JObject(
              "shuffle_partitions" -> shuffle.toLongOption
                .map(n => JInt(BigInt(n)): JValue)
                .getOrElse(JString(shuffle)),
              "default_page_size" -> JInt(defaultPageSize),
              "max_cursors" -> JInt(maxCursors)),
            "metrics" -> JObject(
              "enabled" -> JBool(true),
              "open" -> JBool(openMetrics))))
        case (method, "api" +: "v1" +: rest) if controlPlane.isDefined =>
          controlRoutes(ex, method, rest, controlPlane.get)
        case ("POST", Seq("query", "sql"))          => runSql(ex)
        case ("GET", Seq("query", "results", id))   => nextPage(ex, id, None)
        case ("GET", Seq("query", "results", id, n)) =>
          n.toLongOption match {
            case Some(pageNo) => nextPage(ex, id, Some(pageNo))
            case None => respond(ex, 404,
              JObject("error" -> JString(s"malformed page number $n")))
          }
        case ("DELETE", Seq("query", "results", id)) =>
          // explicit cursor close (the reference client's DELETE nextUri)
          val gone = cursors.remove(id)
          finished.remove(id)
          respond(ex, if (gone != null) 200 else 404,
            JObject("closed" -> JBool(gone != null)))
        case ("GET" | "POST" | "DELETE", _) =>
          respond(ex, 404, JObject("error" -> JString("not found")))
        case (m, _) =>
          respond(ex, 405, JObject("error" -> JString(s"method $m not allowed")))
      }
    } catch {
      case e: ControlPlane.NotFound =>
        respond(ex, 404, JObject("error" -> JString(e.getMessage)))
      case e: ControlPlane.Conflict =>
        respond(ex, 409, JObject("error" -> JString(e.getMessage)))
      case e: ControlPlane.Invalid =>
        respond(ex, 400, JObject("error" -> JString(e.getMessage)))
      case e: ControlPlane.Unauthorized =>
        respond(ex, 401, JObject("error" -> JString(e.getMessage)))
      case e: ControlPlane.Forbidden =>
        respond(ex, 403, JObject("error" -> JString(e.getMessage)))
      case e: ControlPlane.TooManyRequests =>
        respond(ex, 429, JObject("error" -> JString(e.getMessage)))
      case e: IllegalArgumentException => // Identifiers.validate
        respond(ex, 400, JObject("error" -> JString(e.getMessage)))
      case e: AnalysisException =>
        respond(ex, 400, JObject("error" -> JString(e.getMessage)))
      case NonFatal(e) =>
        respond(ex, 500, JObject("error" -> JString(String.valueOf(e.getMessage))))
    } finally ex.close()
  }

  // ---- control plane: /api/v1/sources + /api/v1/pipelines -----------
  // (ref internal/api/handlers/pipelines.go:25-253, sources.go — the
  // same route group, served from [[ControlPlane]]'s file-backed store)

  private def jsonBody(ex: HttpExchange): JValue =
    HttpUtil.readJsonBody(ex).getOrElse(
      throw ControlPlane.Invalid("request body is not JSON"))

  private def jstr(v: JValue, default: String = ""): String =
    v match { case JString(s) => s; case _ => default }
  private def jint(v: JValue, default: Int): Int =
    v match { case JInt(n) => n.toInt; case _ => default }
  private def jstrs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _          => Nil
  }
  /** Scaling rule tuples off the wire: (metric, operator, threshold,
    * duration_seconds, scale_by). Numbers parse STRICTLY — a rule
    * whose threshold or step silently coerced to 0 would evaluate a
    * policy the operator never wrote. */
  private def scalingRulesOf(v: JValue): Seq[(String, String, Double, Long, Int)] =
    v match {
      case JArray(rs) => rs.map(r => (jstr(r \ "metric"),
        jstr(r \ "operator"),
        jdoubleStrict(r \ "threshold", "threshold"),
        jlongStrict(r \ "duration_seconds", "duration_seconds", 0L),
        jwholeStrict(r \ "scale_by", "scale_by", 0)))
      case _ => Nil
    }

  private def wakeResultJson(r: ControlPlane.WakeResult): JObject = JObject(
    "policy_id" -> JString(r.policyId),
    "previous_replicas" -> JInt(r.previousReplicas),
    "target_replicas" -> JInt(r.targetReplicas),
    "reason" -> JString(r.reason),
    "status" -> JString(r.status),
    "message" -> JString(r.message))

  /** Integer query parameter with a default for ABSENT; a non-integer
    * or below-minimum value refuses (ref wake.go silently keeps the
    * default — strict here like every body field). */
  private def intQueryParam(ex: HttpExchange, name: String,
                            default: Int, min: Int = 1): Int =
    HttpUtil.queryParam(ex, name) match {
      case None => default
      case Some(raw) =>
        val n = try raw.toInt catch { case _: NumberFormatException =>
          throw ControlPlane.Invalid(s"$name must be an integer") }
        if (n < min) throw ControlPlane.Invalid(s"$name must be >= $min")
        n
    }

  /** String field with a default for ABSENT; a present non-string
    * refuses instead of silently taking the default. */
  private def jstrStrict(v: JValue, name: String, default: String): String =
    v match {
      case JString(s)       => s
      case JNothing | JNull => default
      case other => throw ControlPlane.Invalid(
        s"$name must be a string, got ${JsonMethods.compact(JsonMethods.render(other))}")
    }

  /** Required numeric field: integer or float accepts, anything else
    * (including absent) refuses — used for rule thresholds where no
    * default is meaningful. */
  private def jdoubleStrict(v: JValue, name: String): Double = v match {
    case JDouble(x)  => x
    case JInt(n)     => n.toDouble
    case JDecimal(x) => x.toDouble
    case other => throw ControlPlane.Invalid(
      s"$name must be a number, got ${JsonMethods.compact(JsonMethods.render(other))}")
  }

  /** Current query-engine pressure off the SparkContext status tracker
    * — the counterpart of the reference polling Trino /v1/cluster
    * (collector.go:55-160). Local mode has no admission queue, so
    * not-yet-running active stages stand in for queueing pressure. */
  private def queryEngineMetrics(): graft.observe.Scaling.QueryMetrics =
    ScalingManager.sparkQueryMetrics(spark)

  private def jstrOpt(v: JValue): Option[String] =
    v match { case JString(x) => Some(x); case _ => None }
  private def jintOpt(v: JValue, name: String): Option[Int] = v match {
    case JInt(n) =>
      if (n.isValidInt) Some(n.toInt)
      else throw ControlPlane.Invalid(s"$name is out of range")
    case JNothing | JNull => None
    case other => throw ControlPlane.Invalid(
      s"$name must be an integer, got ${JsonMethods.compact(JsonMethods.render(other))}")
  }
  private def jlongOpt(v: JValue, name: String): Option[Long] = v match {
    case JInt(n) =>
      if (n.isValidLong) Some(n.toLong)
      else throw ControlPlane.Invalid(s"$name is out of range")
    case JNothing | JNull => None
    case other => throw ControlPlane.Invalid(
      s"$name must be an integer, got ${JsonMethods.compact(JsonMethods.render(other))}")
  }
  private def jboolOpt(v: JValue, name: String): Option[Boolean] = v match {
    case JBool(b)         => Some(b)
    case JNothing | JNull => None
    case other => throw ControlPlane.Invalid(
      s"$name must be a boolean, got ${JsonMethods.compact(JsonMethods.render(other))}")
  }
  /** `{"group":"role",...}` — the OIDC role_mapping shape (ref
    * models/oidc.go role_mapping); absent is None, any non-object or
    * non-string value is refused. */
  private def jroleMapping(v: JValue): Option[Map[String, String]] =
    v match {
      case JObject(fs) => Some(fs.map {
        case (g, JString(r)) => g -> r
        case (g, other) => throw ControlPlane.Invalid(
          s"role_mapping['$g'] must be a string, got " +
            JsonMethods.compact(JsonMethods.render(other)))
      }.toMap)
      case JNothing | JNull => None
      case other => throw ControlPlane.Invalid(
        "role_mapping must be an object, got " +
          JsonMethods.compact(JsonMethods.render(other)))
    }
  /** Whole-number count with a default for ABSENT: integers AND
    * whole-valued floats accept (json encoders emit 7.0 for 7), a
    * fractional or non-numeric value refuses — a coerced-to-zero
    * dry-run count silently evaluating the wrong decision is the exact
    * failure the strict family exists to prevent. */
  private def jwholeStrict(v: JValue, name: String, default: Int): Int =
    v match {
      case JInt(n) =>
        if (n.isValidInt) n.toInt
        else throw ControlPlane.Invalid(s"$name is out of range")
      case JDouble(x) if x.isWhole && x.abs <= Int.MaxValue => x.toInt
      case JDecimal(x) if x.isWhole && x.isValidInt => x.toInt
      case JNothing | JNull => default
      case other => throw ControlPlane.Invalid(
        s"$name must be a whole number, got ${JsonMethods.compact(JsonMethods.render(other))}")
    }

  /** Long field with a default for ABSENT; out-of-Long-range values
    * refuse instead of silently wrapping (a 2^32 cooldown truncating
    * to 0 would remove the cooldown the client asked for). */
  private def jlongStrict(v: JValue, name: String, default: Long): Long =
    v match {
      case JInt(n) =>
        if (n.isValidLong) n.toLong
        else throw ControlPlane.Invalid(s"$name is out of range")
      case JNothing | JNull => default
      case other => throw ControlPlane.Invalid(
        s"$name must be an integer, got ${JsonMethods.compact(JsonMethods.render(other))}")
    }

  /** Boolean field with an explicit default for ABSENT; any present
    * non-boolean (e.g. the string "false") is refused rather than
    * coerced — silent coercion on a security-relevant flag is how a
    * disabled issuer gets re-enabled by accident. */
  private def jboolStrict(v: JValue, name: String, default: Boolean): Boolean =
    v match {
      case JBool(b)           => b
      case JNothing | JNull   => default
      case other => throw ControlPlane.Invalid(
        s"$name must be a boolean, got ${JsonMethods.compact(JsonMethods.render(other))}")
    }

  private def controlRoutes(ex: HttpExchange, method: String,
                            rest: Seq[String], cp: ControlPlane): Unit =
    (method, rest) match {
      case ("POST", Seq("sources")) =>
        val b = jsonBody(ex)
        val s = cp.createSource(jstr(b \ "name"), jstr(b \ "type"),
          jstr(b \ "host"), jint(b \ "port", 0), jstr(b \ "database_name"),
          jstr(b \ "username"), jstr(b \ "password"),
          jstr(b \ "ssl_mode", "prefer"),
          jstr(b \ "slot_name"), jstr(b \ "publication_name"))
        respond(ex, 201, cp.sourceJson(s))
      case ("GET", Seq("sources")) =>
        val all = cp.listSources()
        respond(ex, 200, JObject(
          "sources" -> JArray(all.toList.map(cp.sourceJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("sources", id)) =>
        respond(ex, 200, cp.sourceJson(cp.getSource(id)))
      case ("DELETE", Seq("sources", id)) =>
        cp.deleteSource(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case ("POST", Seq("sources", id, "test-connection")) =>
        cp.testConnection(id) match {
          case Right(ms) => respond(ex, 200, JObject(
            "success" -> JBool(true), "latency_ms" -> JInt(BigInt(ms))))
          case Left(errMsg) => respond(ex, 200, JObject(
            "success" -> JBool(false), "error" -> JString(errMsg)))
        }
      case ("GET", Seq("sources", id, "tables")) =>
        ControlPlane.wireDiscoverTables(cp.getSource(id),
            HttpUtil.queryParam(ex, "schema")) match {
          case Right(tables) => respond(ex, 200, JObject(
            "tables" -> JArray(tables.toList.map { case (sc, t) =>
              JObject("schema" -> JString(sc), "table" -> JString(t)) }),
            "total" -> JInt(tables.size)))
          case Left(errMsg) =>
            respond(ex, 502, JObject("error" -> JString(errMsg)))
        }
      case ("POST", Seq("pipelines")) =>
        val b = jsonBody(ex)
        val tables = b \ "tables" match {
          case JArray(ts) => ts.map(t => (jstr(t \ "schema"),
            jstr(t \ "table"), (t \ "enabled") != JBool(false)))
          case _ => Nil
        }
        val p = cp.createPipeline(jstr(b \ "name"), jstr(b \ "source_id"), tables)
        respond(ex, 201, cp.pipelineJson(p))
      case ("GET", Seq("pipelines")) =>
        val all = cp.listPipelines()
        respond(ex, 200, JObject(
          "pipelines" -> JArray(all.toList.map(cp.pipelineJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("pipelines", id)) =>
        respond(ex, 200, cp.pipelineJson(cp.getPipeline(id)))
      case ("PUT", Seq("pipelines", id)) =>
        val b = jsonBody(ex)
        respond(ex, 200, cp.pipelineJson(cp.updatePipeline(id, jstr(b \ "name"))))
      case ("DELETE", Seq("pipelines", id)) =>
        cp.deletePipeline(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case ("POST", Seq("pipelines", id, "start")) =>
        respond(ex, 200, cp.pipelineJson(cp.startPipeline(id)))
      case ("POST", Seq("pipelines", id, "stop")) =>
        respond(ex, 200, cp.pipelineJson(cp.stopPipeline(id)))
      // ---- per-pipeline metrics (ref internal/api/server.go:326-327,
      // handlers/metrics.go, services/metrics.go:38-377). Registered
      // only when a MetricsHub.Store is attached, exactly as the
      // reference registers them only `if metricsService != nil`.
      case ("GET", Seq("pipelines", id, "metrics"))
          if metricsStore.isDefined =>
        val ms = metricsStore.get
        val p = cp.getPipeline(id) // NotFound -> 404 via the handler
        val now = ms.nowMs
        val src = p.name // the reference labels series by pipeline name
        def sumI(metric: String): Long =
          ms.sumInstant(metric, src, now).map(_.toLong).getOrElse(0L)
        val uptime = p.startedAtMs
          .filter(_ => p.status == "running")
          .map(t => JString(MetricsHub.formatUptime(now - t)): JValue)
        respond(ex, 200, JObject("metrics" -> JObject(List(
          "pipeline_id" -> JString(p.id),
          "status" -> JString(p.status),
          "events_processed" -> JInt(sumI("philotes_cdc_events_total")),
          "events_per_second" -> JDouble(
            ms.ratePerSec("philotes_cdc_events_total", src, now).getOrElse(0.0)),
          "lag_seconds" -> JDouble(
            ms.maxInstant("philotes_cdc_lag_seconds", src, now).getOrElse(0.0)),
          // present-but-unpopulated in the reference service too (the
          // model declares it; GetPipelineMetrics never queries it)
          "lag_p95_seconds" -> JDouble(0.0),
          "buffer_depth" -> JInt(sumI("philotes_buffer_depth")),
          "error_count" -> JInt(sumI("philotes_cdc_errors_total")),
          "iceberg_commits" -> JInt(sumI("philotes_iceberg_commits_total")),
          "iceberg_bytes_written" ->
            JInt(sumI("philotes_iceberg_bytes_written_total"))) ++
          uptime.map("uptime" -> _).toList ++
          List("tables" -> JArray(p.tables.toList.map { m =>
            JObject(
              "schema" -> JString(m.sourceSchema),
              "table" -> JString(m.sourceTable),
              "events_processed" -> JInt(BigInt(
                ms.tableInstant("philotes_cdc_events_total", src,
                  m.sourceTable, now).map(_.toLong).getOrElse(0L))),
              "lag_seconds" -> JDouble(
                ms.tableInstant("philotes_cdc_lag_seconds", src,
                  m.sourceTable, now).getOrElse(0.0)))
          })))))
      case ("GET", Seq("pipelines", id, "metrics", "history"))
          if metricsStore.isDefined =>
        val ms = metricsStore.get
        val p = cp.getPipeline(id)
        val src = p.name
        val rangeStr = HttpUtil.queryParam(ex, "range")
          .getOrElse("1h") // ref handlers/metrics.go DefaultQuery("range","1h")
        val tr = MetricsHub.parseTimeRange(rangeStr, ms.nowMs)
          .fold(msg => throw ControlPlane.Invalid(msg), identity)
        val points = ms.grid(tr).flatMap { t =>
          val eps = ms.ratePerSec("philotes_cdc_events_total", src, t)
          val lag = ms.maxInstant("philotes_cdc_lag_seconds", src, t)
          val depth = ms.sumInstant("philotes_buffer_depth", src, t)
          val errs = ms.sumInstant("philotes_cdc_errors_total", src, t)
          // a grid instant where NO series has data yields no point
          // (Prometheus range responses cover only the sampled span);
          // a point present in one series zero-fills the others (the
          // reference's merge loop does exactly that)
          if (eps.isEmpty && lag.isEmpty && depth.isEmpty && errs.isEmpty) None
          else Some(JObject(
            "timestamp" -> JString(java.time.Instant.ofEpochMilli(t).toString),
            "events_per_second" -> JDouble(eps.getOrElse(0.0)),
            "lag_seconds" -> JDouble(lag.getOrElse(0.0)),
            "buffer_depth" -> JInt(BigInt(depth.map(_.toLong).getOrElse(0L))),
            "error_count" -> JInt(BigInt(errs.map(_.toLong).getOrElse(0L)))))
        }
        respond(ex, 200, JObject("history" -> JObject(
          "pipeline_id" -> JString(p.id),
          "time_range" -> JString(rangeStr),
          "data_points" -> JArray(points.toList))))
      case ("GET", Seq("pipelines", id, "status")) =>
        // refresh consults the RUNNER: a drain loop that died after a
        // successful start must surface as error here, never a stale
        // "running" read off the store alone
        val p = cp.refreshStatus(id)
        respond(ex, 200, JObject(
          "id" -> JString(p.id), "status" -> JString(p.status),
          "error_message" -> JString(p.errorMessage)))
      case ("POST", Seq("pipelines", id, "tables")) =>
        val b = jsonBody(ex)
        respond(ex, 201, cp.pipelineJson(cp.addTableMapping(id,
          jstr(b \ "schema"), jstr(b \ "table"),
          (b \ "enabled") != JBool(false))))
      case ("DELETE", Seq("pipelines", id, "tables", mid)) =>
        respond(ex, 200, cp.pipelineJson(cp.removeTableMapping(id, mid)))
      // ---- alert rules (ref handlers/alerts.go:28-32 — the
      // /alerts/rules CRUD group, rules persisted in the control store
      // and consumed by the evaluator through the same store)
      case ("POST", Seq("alerts", "rules")) =>
        val b = jsonBody(ex)
        respond(ex, 201, cp.alertRuleJson(cp.createAlertRule(
          jstr(b \ "name"), jstr(b \ "metric_name"), jstr(b \ "operator"),
          jdouble(b \ "threshold"), jint(b \ "duration_seconds", 0).toLong,
          jstr(b \ "description"), jstr(b \ "severity", "warning"),
          (b \ "enabled") != JBool(false), alertRoutesOf(b))))
      case ("GET", Seq("alerts", "rules")) =>
        val all = cp.listAlertRules()
        respond(ex, 200, JObject(
          "rules" -> JArray(all.toList.map(cp.alertRuleJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("alerts", "rules", id)) =>
        respond(ex, 200, cp.alertRuleJson(cp.getAlertRule(id)))
      case ("PUT", Seq("alerts", "rules", id)) =>
        val b = jsonBody(ex)
        respond(ex, 200, cp.alertRuleJson(cp.updateAlertRule(id,
          jstr(b \ "name"), jstr(b \ "metric_name"), jstr(b \ "operator"),
          jdouble(b \ "threshold"), jint(b \ "duration_seconds", 0).toLong,
          jstr(b \ "description"), jstr(b \ "severity", "warning"),
          (b \ "enabled") != JBool(false), alertRoutesOf(b))))
      case ("DELETE", Seq("alerts", "rules", id)) =>
        cp.deleteAlertRule(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      // ---- alert instances / history / silences (ref handlers/
      // alerts.go:35-44) — the machine's transitions served over HTTP.
      // Literal segments ("summary", "silences") route BEFORE the
      // {id} patterns below them.
      case ("GET", Seq("alerts", "summary")) =>
        val sum = cp.alertSummary()
        respond(ex, 200, JObject(
          "firing" -> JInt(BigInt(sum.getOrElse("firing", 0L))),
          "resolved" -> JInt(BigInt(sum.getOrElse("resolved", 0L))),
          "total" -> JInt(BigInt(sum.values.sum))))
      case ("POST", Seq("alerts", "silences")) =>
        val b = jsonBody(ex)
        val matchers = b \ "matchers" match {
          case JObject(fields) => fields.collect {
            case (k, JString(v)) => k -> v
          }.toMap
          case _ => Map.empty[String, String]
        }
        respond(ex, 201, cp.silenceJson(cp.createSilence(matchers,
          jlong(b \ "starts_at_ms"), jlong(b \ "ends_at_ms"),
          jstr(b \ "created_by"), jstr(b \ "comment"))))
      case ("GET", Seq("alerts", "silences")) =>
        val all = cp.listSilences()
        respond(ex, 200, JObject(
          "silences" -> JArray(all.toList.map(cp.silenceJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("alerts", "silences", id)) =>
        respond(ex, 200, cp.silenceJson(cp.getSilence(id)))
      case ("DELETE", Seq("alerts", "silences", id)) =>
        cp.deleteSilence(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case ("GET", Seq("alerts")) =>
        val all = cp.listAlertInstances(HttpUtil.queryParam(ex, "status"))
        respond(ex, 200, JObject(
          "alerts" -> JArray(all.toList.map(cp.alertInstanceJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("alerts", id)) =>
        respond(ex, 200, cp.alertInstanceJson(cp.getAlertInstance(id)))
      case ("POST", Seq("alerts", id, "acknowledge")) =>
        val b = jsonBody(ex)
        respond(ex, 200, cp.alertInstanceJson(
          cp.acknowledgeAlert(id, jstr(b \ "acknowledged_by"))))
      case ("GET", Seq("alerts", id, "history")) =>
        val hist = cp.listAlertHistory(id)
        respond(ex, 200, JObject(
          "history" -> JArray(hist.toList.map(cp.alertHistoryJson)),
          "total" -> JInt(hist.size)))
      // ---- notification channels (ref handlers/alerts.go:48-52)
      case ("POST", Seq("notifications", "channels")) =>
        val b = jsonBody(ex)
        respond(ex, 201, cp.channelJson(cp.createChannel(
          jstr(b \ "name"), jstr(b \ "type"),
          (b \ "enabled") != JBool(false), configOf(b))))
      case ("GET", Seq("notifications", "channels")) =>
        val all = cp.listChannels()
        respond(ex, 200, JObject(
          "channels" -> JArray(all.toList.map(cp.channelJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("notifications", "channels", id)) =>
        respond(ex, 200, cp.channelJson(cp.getChannel(id)))
      case ("PUT", Seq("notifications", "channels", id)) =>
        val b = jsonBody(ex)
        respond(ex, 200, cp.channelJson(cp.updateChannel(id,
          jstr(b \ "name"), jstr(b \ "type"),
          (b \ "enabled") != JBool(false), configOf(b))))
      case ("DELETE", Seq("notifications", "channels", id)) =>
        cp.deleteChannel(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      // ---- managed API keys (ref internal/api/services/api_key.go):
      // the plaintext appears ONLY in the create response; the list
      // serves prefixes and status, never hashes
      // ---- scaling policies (ref internal/api/handlers/scaling.go:
      // 27-42 — CRUD, enable/disable, evaluate, state, history; the
      // DECISION layer only, wired to graft.observe.Scaling — K8s
      // actuation, schedules, and cost caps stay out of engine scope)
      case ("POST", Seq("scaling", "policies")) =>
        val b = jsonBody(ex)
        respond(ex, 201, cp.scalingPolicyJson(cp.createScalingPolicy(
          jstr(b \ "name"), jstr(b \ "target_type"),
          jwholeStrict(b \ "min_replicas", "min_replicas", 0),
          jwholeStrict(b \ "max_replicas", "max_replicas", 0),
          jlongStrict(b \ "cooldown_seconds", "cooldown_seconds", 300L),
          jboolStrict(b \ "scale_to_zero", "scale_to_zero", default = false),
          jboolStrict(b \ "enabled", "enabled", default = true),
          scalingRulesOf(b \ "scale_up_rules"),
          scalingRulesOf(b \ "scale_down_rules"))))
      case ("GET", Seq("scaling", "policies")) =>
        val all = cp.listScalingPolicies(
          HttpUtil.queryParam(ex, "enabled").contains("true"))
        respond(ex, 200, JObject(
          "policies" -> JArray(all.toList.map(cp.scalingPolicyJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("scaling", "history")) =>
        val all = cp.listScalingHistory()
        respond(ex, 200, JObject(
          "history" -> JArray(all.toList.map(cp.scalingEventJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("scaling", "policies", id)) =>
        respond(ex, 200, cp.scalingPolicyJson(cp.getScalingPolicy(id)))
      case ("PUT", Seq("scaling", "policies", id)) =>
        // boolean keep-if-absent resolves inside the store's lock
        val b = jsonBody(ex)
        respond(ex, 200, cp.scalingPolicyJson(cp.updateScalingPolicy(id,
          jstr(b \ "name"), jstr(b \ "target_type"),
          jwholeStrict(b \ "min_replicas", "min_replicas", 0),
          jwholeStrict(b \ "max_replicas", "max_replicas", 0),
          jlongStrict(b \ "cooldown_seconds", "cooldown_seconds", 300L),
          jboolOpt(b \ "scale_to_zero", "scale_to_zero"),
          jboolOpt(b \ "enabled", "enabled"),
          scalingRulesOf(b \ "scale_up_rules"),
          scalingRulesOf(b \ "scale_down_rules"))))
      case ("DELETE", Seq("scaling", "policies", id)) =>
        cp.deleteScalingPolicy(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case ("POST", Seq("scaling", "policies", id, "enable")) =>
        respond(ex, 200,
          cp.scalingPolicyJson(cp.setScalingPolicyEnabled(id, enabled = true)))
      case ("POST", Seq("scaling", "policies", id, "disable")) =>
        respond(ex, 200,
          cp.scalingPolicyJson(cp.setScalingPolicyEnabled(id, enabled = false)))
      case ("POST", Seq("scaling", "policies", id, "evaluate")) =>
        // evaluate against THIS server's registry (the reference polls
        // its metrics backend); a body carrying {"metrics": {...}}
        // REPLACES the registry view — a dry-run must never fire on
        // live values the operator did not supply. A malformed body is
        // 400 like every other route: silently evaluating live state
        // (mutating cooldown + history) on a typo'd dry-run is not an
        // acceptable degradation
        val b = jsonBody(ex)
        val metrics = b \ "metrics" match {
          case JObject(fs) => fs.map {
            case (k, JDouble(v))  => k -> v
            case (k, JInt(n))     => k -> n.toDouble
            case (k, JDecimal(v)) => k -> v.toDouble
            case (k, other) => throw ControlPlane.Invalid(
              s"metrics.$k must be a number, got " +
                JsonMethods.compact(JsonMethods.render(other)))
          }.toMap
          // ONLY an absent/null metrics field falls back to the live
          // registry — a present non-object (a typo'd string) must 400,
          // or a dry-run-less request evaluates and persists cooldown +
          // history against live values the operator never supplied
          case JNothing | JNull => registry.snapshot()
          case other => throw ControlPlane.Invalid(
            "metrics must be an object, got " +
              JsonMethods.compact(JsonMethods.render(other)))
        }
        // "dry_run": true previews the decision WITHOUT persisting
        // width/cooldown/history — with the background loop as a
        // second writer, a what-if probe must never veto or poison
        // its real decisions
        val dryRun = jboolStrict(b \ "dry_run", "dry_run", default = false)
        val d = cp.evaluateScalingPolicy(id, metrics, persist = !dryRun)
        respond(ex, 200, JObject(
          "dry_run" -> JBool(dryRun),
          "action" -> JString(d.action match {
            case graft.observe.Scaling.Action.ScaleUp   => "scale-up"
            case graft.observe.Scaling.Action.ScaleDown => "scale-down"
            case graft.observe.Scaling.Action.None      => "none"
          }),
          "desired_replicas" -> JInt(d.desiredReplicas),
          "should_execute" -> JBool(d.shouldExecute),
          "reason" -> JString(d.reason),
          "triggered_by" -> d.triggeredBy.map(t => JString(t): JValue)
            .getOrElse(JNull)))
      case ("GET", Seq("scaling", "policies", id, "state")) =>
        val st = cp.getScalingPolicyState(id)
        respond(ex, 200, JObject(
          "policy_id" -> JString(id),
          "current_replicas" -> JInt(st.currentReplicas),
          "last_scale_at_ms" -> st.lastScaleAtMs
            .map(t => JInt(BigInt(t)): JValue).getOrElse(JNull),
          "pending_rules" -> JInt(st.pendingSince.size)))
      case ("GET", Seq("scaling", "policies", id, "history")) =>
        val all = cp.listScalingHistory(Some(id))
        respond(ex, 200, JObject(
          "history" -> JArray(all.toList.map(cp.scalingEventJson)),
          "total" -> JInt(all.size)))
      // ---- wake / idle / savings (ref internal/api/handlers/wake.go:
      // 27-38 — wake single/all, idle-state views, derived savings)
      case ("POST", Seq("scaling", "policies", id, "wake")) =>
        val b = jsonBody(ex)
        respond(ex, 200, wakeResultJson(cp.wakeScalingPolicy(id,
          jstrStrict(b \ "reason", "reason", "manual"))))
      case ("POST", Seq("scaling", "wake")) =>
        val b = jsonBody(ex)
        // strict ids: a wrong-typed entry must not silently shrink the
        // wake target set, and an EXPLICIT empty list is a no-op —
        // only an ABSENT field means "all scaled-to-zero policies"
        val ids: Option[Seq[String]] = b \ "policy_ids" match {
          case JArray(xs) => Some(xs.map {
            case JString(s) => s
            case _ => throw ControlPlane.Invalid(
              "policy_ids entries must be strings")
          })
          case JNothing | JNull => None
          case _ => throw ControlPlane.Invalid("policy_ids must be an array")
        }
        val results = cp.wakeScalingPolicies(ids,
          jstrStrict(b \ "reason", "reason", "manual"))
        // ref services/wake.go WakeAll counts: a completed result with
        // a prior width is "already running", zero-width ones "woken"
        val woken = results.count(r =>
          r.status == "completed" && r.previousReplicas == 0)
        val already = results.count(r =>
          r.status == "completed" && r.previousReplicas > 0)
        respond(ex, 200, JObject(
          "woken" -> JInt(woken),
          "already_running" -> JInt(already),
          "failed" -> JInt(results.count(_.status == "failed")),
          "policies" -> JArray(results.toList.map(wakeResultJson))))
      case ("GET", Seq("scaling", "policies", id, "idle")) =>
        respond(ex, 200, cp.idleStateJson(cp.getIdleState(id)))
      case ("GET", Seq("scaling", "scaled-to-zero")) =>
        val all = cp.listScaledToZero()
        respond(ex, 200, JObject(
          "policies" -> JArray(all.toList.map(cp.idleStateJson)),
          "total_count" -> JInt(all.size)))
      case ("GET", Seq("scaling", "policies", id, "savings")) =>
        val days = intQueryParam(ex, "days",
          ControlPlane.DefaultSavingsDays)
        val cost = intQueryParam(ex, "hourly_cost_cents",
          ControlPlane.DefaultHourlyCostCents, min = 0)
        val daily = cp.scalingCostSavings(id, days, cost)
        respond(ex, 200, JObject(
          "policy_id" -> JString(id),
          "period" -> JString(s"last_${days}_days"),
          // idle time is derived from the LIVE idle stretch only (it
          // is not evented like zero-width intervals are) — a gauge,
          // not an accumulator: past stretches leave the view after a
          // wake. The field makes that contract machine-visible.
          "idle_basis" -> JString("live_stretch"),
          "hourly_cost_cents" -> JInt(cost),
          "total_idle_seconds" -> JInt(BigInt(daily.map(_.idleSeconds).sum)),
          "total_zero_seconds" -> JInt(BigInt(daily.map(_.zeroSeconds).sum)),
          "savings_cents" -> JInt(BigInt(daily.map(_.savingsCents).sum)),
          "daily_breakdown" -> JArray(daily.toList.map(d => JObject(
            "date" -> JString(d.date),
            "idle_seconds" -> JInt(BigInt(d.idleSeconds)),
            "zero_seconds" -> JInt(BigInt(d.zeroSeconds)),
            "savings_cents" -> JInt(BigInt(d.savingsCents)))))))
      case ("GET", Seq("scaling", "savings", "summary")) =>
        val cost = intQueryParam(ex, "hourly_cost_cents",
          ControlPlane.DefaultHourlyCostCents, min = 0)
        val rows = cp.scalingSavingsSummary(cost)
        respond(ex, 200, JObject(
          "policy_count" -> JInt(rows.size),
          "idle_basis" -> JString("live_stretch"),
          "hourly_cost_cents" -> JInt(cost),
          "total_idle_seconds" -> JInt(BigInt(rows.map(_.idleSeconds).sum)),
          "total_zero_seconds" -> JInt(BigInt(rows.map(_.zeroSeconds).sum)),
          "savings_cents" -> JInt(BigInt(rows.map(_.savingsCents).sum)),
          "policies" -> JArray(rows.toList.map(r => JObject(
            "policy_id" -> JString(r.policyId),
            "idle_seconds" -> JInt(BigInt(r.idleSeconds)),
            "zero_seconds" -> JInt(BigInt(r.zeroSeconds)),
            "savings_cents" -> JInt(BigInt(r.savingsCents)))))))
      case ("POST", Seq("scaling", "policies", id, "activity")) =>
        // the reference's activity sources call RecordActivity
        // internally; exposed here as the same decision-layer hook
        respond(ex, 200, cp.idleStateJson(cp.recordScalingActivity(id)))
      // ---- query-engine scaling (ref internal/api/handlers/
      // queryscaling.go:35-45 — policy CRUD, current queue metrics,
      // history; evaluation through the fixed-threshold model, driven
      // here by an explicit tick the reference's background loop
      // performs on a timer)
      case ("POST", Seq("queryscaling", "policies")) =>
        val b = jsonBody(ex)
        respond(ex, 201,
          cp.queryScalingPolicyJson(cp.createQueryScalingPolicy(
            jstr(b \ "name"), jstr(b \ "query_engine"),
            jwholeStrict(b \ "min_replicas", "min_replicas", 1),
            jwholeStrict(b \ "max_replicas", "max_replicas", 10),
            jlongStrict(b \ "cooldown_seconds", "cooldown_seconds", 300L),
            jboolStrict(b \ "scale_to_zero", "scale_to_zero",
              default = false),
            jboolStrict(b \ "enabled", "enabled", default = true),
            jwholeStrict(b \ "queued_queries_threshold",
              "queued_queries_threshold", 5),
            jwholeStrict(b \ "running_queries_threshold",
              "running_queries_threshold", 10),
            jwholeStrict(b \ "latency_threshold_seconds",
              "latency_threshold_seconds", 30))))
      case ("GET", Seq("queryscaling", "policies")) =>
        val all = cp.listQueryScalingPolicies()
        respond(ex, 200, JObject(
          "policies" -> JArray(all.toList.map(cp.queryScalingPolicyJson)),
          "total_count" -> JInt(all.size)))
      case ("GET", Seq("queryscaling", "policies", id)) =>
        respond(ex, 200,
          cp.queryScalingPolicyJson(cp.getQueryScalingPolicy(id)))
      case ("PUT", Seq("queryscaling", "policies", id)) =>
        // keep-if-absent resolves inside the store's lock — reading a
        // prev row here would let concurrent PUTs revert each other
        val b = jsonBody(ex)
        respond(ex, 200,
          cp.queryScalingPolicyJson(cp.updateQueryScalingPolicy(id,
            jstrOpt(b \ "name"), jstrOpt(b \ "query_engine"),
            jintOpt(b \ "min_replicas", "min_replicas"),
            jintOpt(b \ "max_replicas", "max_replicas"),
            jlongOpt(b \ "cooldown_seconds", "cooldown_seconds"),
            jboolOpt(b \ "scale_to_zero", "scale_to_zero"),
            jboolOpt(b \ "enabled", "enabled"),
            jintOpt(b \ "queued_queries_threshold",
              "queued_queries_threshold"),
            jintOpt(b \ "running_queries_threshold",
              "running_queries_threshold"),
            jintOpt(b \ "latency_threshold_seconds",
              "latency_threshold_seconds"))))
      case ("DELETE", Seq("queryscaling", "policies", id)) =>
        cp.deleteQueryScalingPolicy(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case ("GET", Seq("queryscaling", "metrics")) =>
        val m = queryEngineMetrics()
        respond(ex, 200, JObject(
          "queued_queries" -> JInt(m.queued),
          "running_queries" -> JInt(m.running),
          "blocked_queries" -> JInt(m.blocked),
          "p95_latency_ms" -> m.p95LatencyMs
            .map(v => JDouble(v): JValue).getOrElse(JNull)))
      case ("GET", Seq("queryscaling", "history")) =>
        val all = cp.listQueryScalingHistory()
        respond(ex, 200, JObject(
          "history" -> JArray(all.toList.map(cp.scalingEventJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("queryscaling", "policies", id, "state")) =>
        val st = cp.getQueryScalingState(id)
        respond(ex, 200, JObject(
          "policy_id" -> JString(id),
          "current_replicas" -> JInt(st.currentReplicas),
          "last_scale_at_ms" -> st.lastScaleAtMs
            .map(t => JInt(BigInt(t)): JValue).getOrElse(JNull)))
      case ("POST", Seq("queryscaling", "policies", id, "evaluate")) =>
        // dry-run metrics REPLACE the live view, same contract as the
        // generic scaling evaluate
        val b = jsonBody(ex)
        val metrics = b \ "metrics" match {
          case o: JObject => Some(graft.observe.Scaling.QueryMetrics(
            jwholeStrict(o \ "queued", "queued", 0),
            jwholeStrict(o \ "running", "running", 0),
            jwholeStrict(o \ "blocked", "blocked", 0),
            o \ "p95_latency_ms" match {
              case JDouble(v)  => Some(v)
              case JInt(n)     => Some(n.toDouble)
              case JDecimal(v) => Some(v.toDouble)
              case _           => None
            }))
          // same contract as the generic evaluate: only absent/null
          // falls back to the live view; a present non-object is 400
          case JNothing | JNull => Some(queryEngineMetrics())
          case other => throw ControlPlane.Invalid(
            "metrics must be an object, got " +
              JsonMethods.compact(JsonMethods.render(other)))
        }
        val dryRun = jboolStrict(b \ "dry_run", "dry_run", default = false)
        val d = cp.evaluateQueryScalingPolicy(id, metrics, persist = !dryRun)
        respond(ex, 200, JObject(
          "dry_run" -> JBool(dryRun),
          // one action vocabulary across both scaling surfaces
          "action" -> JString(d.action.replace('_', '-')),
          "desired_replicas" -> JInt(d.desiredReplicas),
          "reason" -> JString(d.reason),
          "trigger_value" -> JDouble(d.triggerValue)))
      case ("GET", Seq("queryscaling", "policies", id, "history")) =>
        val all = cp.listQueryScalingHistory(Some(id))
        respond(ex, 200, JObject(
          "history" -> JArray(all.toList.map(cp.scalingEventJson)),
          "total" -> JInt(all.size)))
      // ---- OIDC providers (ref internal/api/handlers/oidc.go — the
      // pre-login /auth/oidc/providers listing, the
      // /settings/oidc/providers admin CRUD, and the interactive
      // authorize/callback dance below; issuer-signed JWTs ALSO
      // authenticate directly on the bearer path)
      // ---- session auth (ref internal/api/handlers/auth.go:31-158 —
      // login, one-time admin registration, /auth/me). Login is exempt
      // from the gate; register and me sit behind it when closed.
      case ("POST", Seq("auth", "register")) =>
        val b = jsonBody(ex)
        val (u, tok, s) = cp.registerFirstAdmin(
          jstrStrict(b \ "email", "email", ""),
          jstrStrict(b \ "password", "password", ""),
          jstrStrict(b \ "name", "name", ""))
        // the session plaintext exists only in THIS response
        respond(ex, 201, JObject(
          "user" -> cp.userJson(u),
          "token" -> JString(tok),
          "expires_at_ms" -> JInt(BigInt(s.expiresAtMs))))
      case ("POST", Seq("auth", "login")) =>
        val b = jsonBody(ex)
        val (u, tok, s) = cp.loginUser(
          jstrStrict(b \ "email", "email", ""),
          jstrStrict(b \ "password", "password", ""))
        respond(ex, 200, JObject(
          "token" -> JString(tok),
          "expires_at_ms" -> JInt(BigInt(s.expiresAtMs)),
          "user" -> cp.userJson(u)))
      case ("GET", Seq("auth", "me")) =>
        principalJson(ex) match {
          case Some(p) => respond(ex, 200, p)
          case None => respond(ex, 401,
            JObject("error" -> JString("authentication required")))
        }
      // deactivation hook (ref services/auth.go UpdateUser's is_active
      // arm): a deactivated user can neither log in nor use sessions
      case ("POST", Seq("users", id, "deactivate")) =>
        respond(ex, 200, cp.userJson(cp.setUserActive(id, active = false)))
      case ("POST", Seq("users", id, "activate")) =>
        respond(ex, 200, cp.userJson(cp.setUserActive(id, active = true)))
      case ("GET", Seq("auth", "oidc", "providers")) =>
        val enabled = cp.listOidcProviders().filter(_.enabled)
        respond(ex, 200, JObject(
          "providers" -> JArray(enabled.toList.map(cp.oidcProviderSummaryJson)),
          "total_count" -> JInt(enabled.size)))
      // ---- the interactive OIDC login dance (ref handlers/oidc.go:
      // 45-155 Authorize/Callback over services/oidc.go:86-285).
      // authorize mints state+nonce+PKCE and hands back the
      // front-channel URL; callback redeems the one-time state,
      // exchanges the code on the back channel, validates the ID
      // token (SIGNATURE included — a fidelity improvement over the
      // reference's ParseIDToken, see OidcLogin scaladoc), checks the
      // nonce, provisions the user, and mints a login session.
      case ("POST", Seq("auth", "oidc", providerName, "authorize")) =>
        val b = jsonBody(ex)
        val redirect = jstr(b \ "redirect_uri")
        if (redirect.isEmpty)
          throw ControlPlane.Invalid("redirect_uri is required")
        if (!OidcLogin.validRedirectUri(redirect))
          throw ControlPlane.Invalid(
            "redirect_uri must be an http(s) URL with a host")
        val origin = java.net.URI.create(redirect)
        val originKey = origin.getScheme + "://" + origin.getHost +
          (if (origin.getPort >= 0) s":${origin.getPort}" else "")
        if (originKey != baseUri && !oidcRedirectOrigins.contains(originKey))
          throw ControlPlane.Invalid(
            "redirect_uri origin is not allowlisted")
        val p = cp.getOidcProviderByName(providerName)
        if (!p.enabled)
          throw ControlPlane.Invalid("provider is disabled")
        OidcLogin.discover(p.issuerUrl) match {
          case Left(err) => respond(ex, 502, JObject("error" ->
            JString(s"failed to start authorization: $err")))
          case Right(d) =>
            val st = cp.createOidcState(p.id, redirect)
            val url = OidcLogin.authorizationUrl(d, p.clientId, p.scopes,
              st.state, st.nonce, OidcLogin.codeChallenge(st.codeVerifier),
              s"$baseUri/api/v1/auth/oidc/callback")
            respond(ex, 200, JObject(
              "authorization_url" -> JString(url),
              "state" -> JString(st.state),
              "provider" -> JString(p.name)))
        }
      case (m, Seq("auth", "oidc", "callback")) if m == "GET" || m == "POST" =>
        // ref handlers/oidc.go:102-114: query params first, then the
        // JSON body (IdPs redirect with GET; SPAs relay with POST).
        val b = if (m == "POST") jsonBody(ex) else JNothing
        def field(name: String): String =
          HttpUtil.queryParam(ex, name).filter(_.nonEmpty).getOrElse(jstr(b \ name))
        val errParam = field("error")
        if (errParam.nonEmpty)
          throw ControlPlane.Invalid(s"authentication failed: $errParam")
        val code = field("code")
        val state = field("state")
        if (code.isEmpty || state.isEmpty)
          throw ControlPlane.Invalid("code and state are required")
        val st = cp.consumeOidcState(state)
          .getOrElse(throw ControlPlane.Invalid("invalid or expired state"))
        val p = try cp.getOidcProvider(st.providerId) catch {
          case _: ControlPlane.NotFound =>
            throw ControlPlane.Invalid("provider not found")
        }
        // a provider disabled mid-dance must not complete (disable is
        // how a compromised IdP gets cut off; the store also burns its
        // in-flight states on the disable transition)
        if (!p.enabled)
          throw ControlPlane.Invalid("provider is disabled")
        val d = OidcLogin.discover(p.issuerUrl).fold(
          err => throw ControlPlane.Invalid(s"token exchange failed: $err"),
          identity)
        val tokens = OidcLogin.exchange(d, code, st.codeVerifier,
          s"$baseUri/api/v1/auth/oidc/callback", p.clientId, p.clientSecret)
          .fold(
            err => throw ControlPlane.Invalid(s"token exchange failed: $err"),
            identity)
        // reuse the bearer path's cached validator (same JWKS cache
        // across requests) instead of paying discovery + JWKS per login
        val validator = {
          storeValidators() // refresh if the provider rows changed
          val (keys, vs) = providerValidators // one volatile read: aligned
          keys.zip(vs).collectFirst { case ((iss, cid, _), v)
            if iss == p.issuerUrl && cid == p.clientId => v }
            .getOrElse(new OidcValidator(p.issuerUrl, p.clientId))
        }
        val claims = validator.validate(tokens.idToken).fold(
          err => throw ControlPlane.Invalid(
            s"ID token validation failed: $err"),
          identity)
        // the nonce binds THIS id_token to THIS login attempt — a
        // replayed token from another dance must die here
        if ((claims.claims \ "nonce") != JString(st.nonce))
          throw ControlPlane.Invalid("ID token validation failed: bad nonce")
        val extra =
          if (tokens.accessToken.nonEmpty)
            OidcLogin.userInfo(d, tokens.accessToken)
          else None
        val info = OidcLogin.toUserInfo(claims.claims, p.groupsClaim, extra)
        val (u, tok, session) = cp.oidcLogin(p.id, info)
        respond(ex, 200, JObject(
          "success" -> JBool(true),
          "token" -> JString(tok),
          "expires_at_ms" -> JInt(BigInt(session.expiresAtMs)),
          "user" -> cp.userJson(u),
          "redirect_uri" -> JString(st.redirectUri)))
      case ("POST", Seq("settings", "oidc", "providers")) =>
        val b = jsonBody(ex)
        respond(ex, 201, cp.oidcProviderJson(cp.createOidcProvider(
          jstr(b \ "name"), jstr(b \ "display_name"),
          jstr(b \ "provider_type", "generic"), jstr(b \ "issuer_url"),
          jstr(b \ "client_id"), jstr(b \ "client_secret"),
          jstrs(b \ "scopes"), jstr(b \ "groups_claim"),
          jroleMapping(b \ "role_mapping").getOrElse(Map.empty),
          jstr(b \ "default_role"),
          jboolStrict(b \ "enabled", "enabled", default = true),
          jboolStrict(b \ "auto_create_users", "auto_create_users",
            default = true))))
      case ("GET", Seq("settings", "oidc", "providers")) =>
        val all = cp.listOidcProviders()
        respond(ex, 200, JObject(
          "providers" -> JArray(all.toList.map(cp.oidcProviderJson)),
          "total_count" -> JInt(all.size)))
      case ("GET", Seq("settings", "oidc", "providers", id)) =>
        respond(ex, 200, cp.oidcProviderJson(cp.getOidcProvider(id)))
      case ("PUT", Seq("settings", "oidc", "providers", id)) =>
        val b = jsonBody(ex)
        // an ABSENT or EMPTY client_secret keeps the stored one — the
        // secret is write-only, and form round-trips render it as an
        // empty field; a PUT without it must never wipe the credential
        val secret = b \ "client_secret" match {
          case JString(s) if s.nonEmpty => Some(s)
          case _                        => None
        }
        respond(ex, 200, cp.oidcProviderJson(cp.updateOidcProvider(id,
          jstr(b \ "name"), jstr(b \ "display_name"),
          jstr(b \ "provider_type", "generic"), jstr(b \ "issuer_url"),
          jstr(b \ "client_id"), secret, jstrs(b \ "scopes"),
          jstr(b \ "groups_claim"),
          // role mapping keeps the stored value when absent (like the
          // booleans — a partial PUT must not wipe the group→role map)
          jroleMapping(b \ "role_mapping"),
          jstr(b \ "default_role"),
          // the enabled flag gates a CREDENTIAL: an absent field keeps
          // the stored value (a partial-body PUT must not silently
          // re-enable a disabled issuer) resolved under the store's
          // lock, a non-boolean is refused
          jboolOpt(b \ "enabled", "enabled"),
          jboolOpt(b \ "auto_create_users", "auto_create_users"))))
      case ("DELETE", Seq("settings", "oidc", "providers", id)) =>
        cp.deleteOidcProvider(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case ("POST", Seq("settings", "oidc", "providers", id, "test")) =>
        // the reference's TestProvider: run discovery against the
        // configured issuer, success/error like test-connection
        val p = cp.getOidcProvider(id)
        OidcValidator.discover(p.issuerUrl) match {
          case Right(jwks) => respond(ex, 200, JObject(
            "success" -> JBool(true), "jwks_uri" -> JString(jwks)))
          case Left(err) => respond(ex, 200, JObject(
            "success" -> JBool(false), "error" -> JString(err)))
        }
      case ("POST", Seq("api-keys")) =>
        val b = jsonBody(ex)
        val expires = b \ "expires_at_ms" match {
          case JInt(n) => Some(n.toLong)
          case _       => None
        }
        val (k, plaintext) = cp.createApiKey(jstr(b \ "name"), expires)
        respond(ex, 201, JObject(cp.apiKeyJson(k).obj :+
          ("key" -> (JString(plaintext): JValue))))
      case ("GET", Seq("api-keys")) =>
        val all = cp.listApiKeys()
        respond(ex, 200, JObject(
          "api_keys" -> JArray(all.toList.map(cp.apiKeyJson)),
          "total" -> JInt(all.size)))
      case ("GET", Seq("api-keys", id)) =>
        respond(ex, 200, cp.apiKeyJson(cp.getApiKey(id)))
      case ("POST", Seq("api-keys", id, "revoke")) =>
        respond(ex, 200, cp.apiKeyJson(cp.revokeApiKey(id)))
      case ("DELETE", Seq("api-keys", id)) =>
        cp.deleteApiKey(id)
        respond(ex, 200, JObject("deleted" -> JBool(true)))
      case _ =>
        respond(ex, 404, JObject("error" -> JString("not found")))
    }

  private def alertRoutesOf(b: JValue): Seq[(String, Boolean, Long)] =
    b \ "routes" match {
      case JArray(rs) => rs.map(rt => (jstr(rt \ "channel_id"),
        (rt \ "enabled") != JBool(false),
        jint(rt \ "repeat_interval_seconds", 0).toLong))
      case _ => Nil
    }

  private def configOf(b: JValue): Map[String, String] =
    b \ "config" match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }

  private def jlong(v: JValue): Long = v match {
    case JInt(n)  => n.toLong
    case JLong(n) => n
    case _        => 0L
  }

  private def jdouble(v: JValue): Double = v match {
    case JDouble(x)  => x
    case JInt(n)     => n.toDouble
    case JDecimal(x) => x.toDouble
    case _           => 0.0
  }

  private def validated(ex: HttpExchange, names: (String, String)*)(body: => Unit): Unit = {
    names.foreach { case (n, kind) => Identifiers.validate(n, kind) }
    body
  }

  /** The static deployment token, a live managed API key (issued
    * through the control plane, hashed at rest, revocable), OR an
    * OIDC-issued JWT validated against the configured issuer's JWKS —
    * the reference's auth middleware accepts its configured secrets,
    * api_key.go-validated keys, and oidc.go-validated tokens. Secret
    * compares are constant-time; the JWT path is signature-verified. */
  /** A request authorizes iff it resolves to a principal — ONE
    * resolution path shared with `/auth/me`, so the accepted set and
    * the identified set can never diverge. The cost of building one
    * small principal object per request is deliberate: a parallel
    * boolean-only probe is exactly the divergence bug this replaced. */
  private def authorized(ex: HttpExchange): Boolean =
    principalJson(ex).isDefined

  /** Identify the PRESENTED credential (ref handlers/auth.go:79-91
    * GetMe over middleware.GetAuthContext) — one view across all four
    * credential kinds: static token, managed API key, login session,
    * OIDC JWT. The token namespaces are disjoint (`graft_live_` /
    * `graft_sess_` / JWT dots), so probe order cannot change which
    * credential matches. */
  private def principalJson(ex: HttpExchange): Option[JObject] =
    if (authToken.exists(t => HttpUtil.bearerOk(ex, t)))
      Some(JObject("kind" -> JString("static_token")))
    else HttpUtil.bearerToken(ex).flatMap { t =>
      controlPlane.flatMap(cp => cp.validateApiKey(t).map(k =>
        JObject("kind" -> JString("api_key"),
          "api_key" -> JObject("id" -> JString(k.id),
            "name" -> JString(k.name), "prefix" -> JString(k.prefix))))
        .orElse(cp.validateSession(t).map { case (s, u) =>
          JObject("kind" -> JString("session"),
            "user" -> cp.userJson(u),
            "expires_at_ms" -> JInt(BigInt(s.expiresAtMs)))
        }))
        .orElse((oidc.toSeq ++ storeValidators()).view
          .flatMap(_.validate(t).toOption).headOption.map(c =>
            JObject("kind" -> JString("oidc"),
              "subject" -> JString(c.subject))))
    }

  /** The DEPLOYMENT configuration decides whether the API is closed:
    * the static token or the env-configured OIDC issuer. Store-managed
    * providers only ever EXTEND the credential set of an
    * already-closed API — were they part of this decision, an open
    * deployment could be taken over by an unauthenticated POST of an
    * attacker-issuer provider (auth suddenly required, their JWTs the
    * only working credential, persisted across restarts), and
    * disabling the last provider would silently REOPEN every route
    * (fail-open). Mutable store rows must not gate authentication. */
  private def authRequired: Boolean =
    authToken.isDefined || oidc.isDefined

  // enabled store-managed providers become validators (audience =
  // client id), rebuilt when the provider rows change — each validator
  // keeps its own JWKS cache across requests
  @volatile private var providerValidators
  : (Seq[(String, String, Long)], Seq[OidcValidator]) = (Nil, Nil)

  private def storeValidators(): Seq[OidcValidator] = controlPlane match {
    case None => Nil
    case Some(cp) =>
      val enabled = cp.listOidcProviders().filter(_.enabled)
      val key = enabled.map(p => (p.issuerUrl, p.clientId, p.updatedAtMs))
      val cached = providerValidators
      if (cached._1 == key) cached._2
      else {
        val vs = enabled.map(p => new OidcValidator(p.issuerUrl, p.clientId))
        providerValidators = (key, vs)
        vs
      }
  }

  /** Prometheus text exposition (format 0.0.4) of the registry —
    * counters then gauges, each with its `# TYPE` line, names already in
    * the reference's `philotes_<subsystem>_<name>` form. */
  private def metricsText(ex: HttpExchange): Unit = {
    val sb = new StringBuilder
    registry.countersSnapshot().toSeq.sortBy(_._1).foreach { case (n, v) =>
      sb.append("# TYPE ").append(n).append(" counter\n")
        .append(n).append(' ').append(v).append('\n')
    }
    registry.gaugesSnapshot().toSeq.sortBy(_._1).foreach { case (n, v) =>
      sb.append("# TYPE ").append(n).append(" gauge\n")
        .append(n).append(' ')
        .append(if (v == v.toLong.toDouble) v.toLong.toString else v.toString)
        .append('\n')
    }
    val bytes = sb.toString.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "text/plain; version=0.0.4; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** QueryLayerStatus (services/query.go:56-94, models/query.go:11-24)
    * with the Spark engine standing where Trino stood: availability,
    * engine version, uptime, running-query and executor counts — each
    * read live off the SparkContext/status tracker. */
  private def status(ex: HttpExchange): Unit = {
    val sc = spark.sparkContext
    val uptimeMs = System.currentTimeMillis() - sc.startTime
    val running = spark.sparkContext.statusTracker.getActiveJobIds().length
    // a cluster reports its REAL executor count (the driver is one of
    // the infos); local mode has no separate executors, so thread count
    // stands in for workers
    val execs = sc.statusTracker.getExecutorInfos.length - 1
    val workers = if (execs >= 1) execs else sc.defaultParallelism
    respond(ex, 200, JObject(
      "available" -> JBool(!sc.isStopped),
      "engine" -> JString("spark"),
      "engine_version" -> JString(sc.version),
      "uptime" -> JString(s"${uptimeMs / 1000}s"),
      "node_count" -> JInt(workers + 1), // workers + driver/coordinator
      "running_queries" -> JInt(running),
      "active_workers" -> JInt(workers),
      "checked_at" -> JInt(BigInt(System.currentTimeMillis()))))
  }

  // ---- catalog exploration (services/query.go:121-266) -------------

  private def listCatalogs(ex: HttpExchange): Unit = {
    // SHOW CATALOGS lists only catalogs the session has already
    // touched; the REGISTERED set (what the reference reports) is the
    // conf's spark.sql.catalog.<name> plugin keys, plus the builtin
    val CatKey = "^spark\\.sql\\.catalog\\.([A-Za-z0-9_]+)$".r
    val registered = spark.conf.getAll.keys.collect {
      case CatKey(n) => n
    }.toSet
    val shown = spark.sql("SHOW CATALOGS").collect().toSeq.map(_.getString(0))
    val names = (registered ++ shown + "spark_catalog").toSeq.sorted
    respond(ex, 200, JObject(
      "catalogs" -> JArray(names.toList.map(n => JObject("name" -> JString(n)))),
      "total" -> JInt(names.size)))
  }

  private def listSchemas(ex: HttpExchange, c: String): Unit = {
    val names = spark.sql(s"SHOW NAMESPACES IN $c").collect().toSeq
      .map(_.getString(0)).sorted
    respond(ex, 200, JObject(
      "schemas" -> JArray(names.toList.map(n =>
        JObject("name" -> JString(n), "catalog" -> JString(c)))),
      "catalog" -> JString(c),
      "total" -> JInt(names.size)))
  }

  private def listTables(ex: HttpExchange, c: String, s: String): Unit = {
    val names = spark.sql(s"SHOW TABLES IN $c.$s").collect().toSeq
      .map(_.getAs[String]("tableName")).sorted
    respond(ex, 200, JObject(
      "tables" -> JArray(names.toList.map(n => JObject(
        "name" -> JString(n), "schema" -> JString(s),
        "catalog" -> JString(c), "type" -> JString("TABLE")))),
      "catalog" -> JString(c), "schema" -> JString(s),
      "total" -> JInt(names.size)))
  }

  private def tableInfo(ex: HttpExchange, c: String, s: String, t: String): Unit = {
    // DESCRIBE emits section markers ('# ...') and blank separators
    // after the column list — the reference keeps only (name, type)
    // column rows (query.go:246-258)
    val cols = spark.sql(s"DESCRIBE $c.$s.$t").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (n, _) => n.nonEmpty && !n.startsWith("#") }
    respond(ex, 200, JObject(
      "name" -> JString(t), "schema" -> JString(s), "catalog" -> JString(c),
      "type" -> JString("TABLE"),
      "columns" -> JArray(cols.toList.map { case (n, ty) =>
        JObject("name" -> JString(n), "type" -> JString(ty)) })))
  }

  // ---- SQL with cursor pagination (services/query.go:335-426) ------

  private def runSql(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val parsed = try JsonMethods.parse(body) catch {
      case NonFatal(_) =>
        respond(ex, 400, JObject("error" -> JString("request body is not JSON")))
        return
    }
    val sql = parsed \ "sql" match {
      case JString(q) if q.trim.nonEmpty => q
      case _ =>
        respond(ex, 400, JObject("error" -> JString("missing 'sql' field")))
        return
    }
    val pageSize = parsed \ "page_size" match {
      case JInt(n) if n > 0 && n <= 10000 => n.toInt
      case JNothing                       => defaultPageSize
      case _ =>
        respond(ex, 400,
          JObject("error" -> JString("page_size must be in [1, 10000]")))
        return
    }
    // admission is ONE atomic reservation BEFORE the expensive analysis:
    // a 429 stays nearly free, the cap cannot be raced past, and a build
    // failure (or a lost race) never constructs — let alone leaks — an
    // unregistered cursor. Abandoned cursors (client stopped paging —
    // the normal Trino-client behavior on abort) are evicted once idle
    // past the TTL, so the cap bounds LIVE cursors instead of
    // permanently bricking the endpoint after maxCursors abandons.
    val id = java.util.UUID.randomUUID().toString.take(8) + "-" + ids.incrementAndGet()
    val reserved = cursors.synchronized {
      if (cursors.size >= maxCursors) {
        val cutoff = System.currentTimeMillis() - cursorTtlMs
        val it = cursors.entrySet().iterator()
        while (it.hasNext) {
          val st = it.next().getValue
          // never evict a RESERVATION (cursor == null): its statement is
          // still analyzing, and evicting it would let the later
          // unconditional registration land one cursor over the cap
          if (st.cursor != null && st.lastTouchedMs < cutoff) it.remove()
        }
      }
      if (cursors.size < maxCursors) {
        cursors.put(id, new CursorState(null, Nil)) // reservation
        true
      } else false
    }
    if (!reserved) {
      respond(ex, 429, JObject("error" ->
        JString(s"too many open cursors (max $maxCursors) — page them to " +
          "exhaustion, DELETE /query/results/{id}, or wait out the idle TTL")))
      return
    }
    try {
      val df = spark.sql(sql) // AnalysisException → 400 via handle()
      val st = new CursorState(Paging.cursor(df, pageSize), df.columns.toSeq)
      cursors.put(id, st)
      servePage(ex, id, st, requested = None)
    } catch {
      // Throwable, not NonFatal: reservations are exempt from TTL
      // eviction, so a fatal error (OOM, stack overflow) escaping this
      // cleanup would leak the slot permanently
      case e: Throwable => cursors.remove(id); throw e
    }
  }

  private def nextPage(ex: HttpExchange, id: String, requested: Option[Long]): Unit = {
    val st = cursors.get(id)
    if (st == null || st.cursor == null) {
      // exhausted cursors keep their FINAL page re-fetchable (tombstone
      // cache): the terminal response can be lost in transit like any
      // other, and its NUMBERED retry must not 404 into "result
      // truncated?". A bare-id GET ("next page") after exhaustion stays
      // 404 — Trino's expired-nextUri contract.
      val tomb = finished.get(id)
      if (tomb != null && requested.contains(tomb._1))
        respond(ex, 200, tomb._2)
      else
        respond(ex, 404, JObject("error" -> JString(s"unknown or expired cursor $id")))
    } else servePage(ex, id, st, requested)
  }

  /** One page; removing the cursor exactly when no further page exists
    * (`next_uri` absent ⇔ cursor dead — Trino's contract, with the final
    * page parked in [[finished]]). Pages are NUMBERED and each next_uri
    * names the page it leads to, so retries are idempotent:
    * re-requesting the last served number replays the cached page,
    * requesting the next number advances, anything else is 410 (the
    * page was consumed and evicted — unlike a silent skip, the client
    * KNOWS its window broke). The fetch, the has-more probe, and the
    * cache update happen under ONE lock, so two clients racing the same
    * next_uri resolve to one fetch + one replay. A failing fetch
    * (executor death mid-stream) frees the slot rather than pinning it
    * until the TTL. */
  private def servePage(ex: HttpExchange, id: String, st: CursorState,
                        requested: Option[Long]): Unit = {
    val (code, body) = st.cursor.synchronized {
      st.lastTouchedMs = System.currentTimeMillis()
      val nextNo = st.pagesServed
      requested match {
        case Some(n) if st.lastPage != null && n == st.lastPage._1 =>
          (200, st.lastPage._2) // idempotent retry of the last page
        case Some(n) if n != nextNo =>
          (410, JObject("error" -> JString(
            s"page $n of cursor $id is gone (next available is $nextNo)")))
        case _ =>
          val page = try st.cursor.nextPage() catch {
            case NonFatal(e) => cursors.remove(id); throw e
          }
          val more = st.cursor.hasMore
          val json = JObject(
            "id" -> JString(id),
            "page" -> JInt(BigInt(nextNo)),
            "columns" -> JArray(st.columns.toList.map(JString(_))),
            "rows" -> JArray(page.toList.map(rowJson)),
            ("next_uri" -> (if (more) JString(s"/query/results/$id/${nextNo + 1}")
            else JNothing)))
          st.lastPage = (nextNo, json)
          st.pagesServed = nextNo + 1
          if (!more) {
            cursors.remove(id)
            finished.put(id, (nextNo, json))
          }
          (200, json)
      }
    }
    respond(ex, code, body)
  }

  private def rowJson(r: Row): JValue =
    JArray(r.toSeq.toList.map(valueJson))

  private def valueJson(v: Any): JValue = v match {
    case null                  => JNull
    case s: String             => JString(s)
    case b: Boolean            => JBool(b)
    case b: Byte               => JInt(BigInt(b.toInt))
    case s: Short              => JInt(BigInt(s.toInt))
    case i: Int                => JInt(BigInt(i))
    case l: Long               => JInt(BigInt(l))
    case f: Float              => doubleJson(f.toDouble)
    case d: Double             => doubleJson(d)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: BigDecimal         => JDecimal(d)
    case b: Array[Byte]        => JString(java.util.Base64.getEncoder.encodeToString(b))
    case seq: scala.collection.Seq[_] => JArray(seq.toList.map(valueJson))
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, mv) => String.valueOf(k) -> valueJson(mv) })
    case r: Row                => rowJson(r)
    case other                 => JString(other.toString) // dates, timestamps, …
  }

  /** Specials must go out QUOTED — bare NaN corrupts the whole JSON
    * document (same rule the pgoutput encoder enforces). */
  private def doubleJson(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)

  private def respond(ex: HttpExchange, status: Int, body: JObject): Unit =
    HttpUtil.respondJson(ex, status, body)
}
