package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase
import graft.lake.{GraftCatalog, SnapshotLog}

/** The HTTP service layer end-to-end over real sockets: route shapes,
  * identifier validation before SQL, Trino-style cursor pagination
  * (next_uri dies with the last page), and error statuses. */
class ApiServerSpec extends SparkTestBase {

  private val cat = "gapitest"

  private def buildCatalog(): Unit = {
    val wh = Files.createTempDirectory("graft-api").toString
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = s"$wh/ns/t"
    val df = (1L to 25L).map(i => (i, i * 10, f"$i%016d")).toDF("id", "v",
      graft.ingest.Cdc.LsnColumn)
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  private val http = HttpClient.newHttpClient()

  private def get(base: String, path: String): (Int, JValue) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), JsonMethods.parse(r.body()))
  }

  private def post(base: String, path: String, body: String): (Int, JValue) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), JsonMethods.parse(r.body()))
  }

  private def withServer(f: String => Unit): Unit = {
    buildCatalog()
    val srv = new ApiServer(spark, defaultPageSize = 10)
    try f(srv.baseUri) finally srv.close()
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other      => fail(s"expected string, got $other")
  }

  test("health, catalogs, schemas, tables, describe — the /query group") {
    withServer { base =>
      val (hs, hb) = get(base, "/query/health")
      assert(hs === 200 && str(hb \ "status") === "healthy")

      val (sts, stb) = get(base, "/query/status")
      assert(sts === 200)
      assert((stb \ "available") === JBool(true))
      assert(str(stb \ "engine_version").startsWith("4."))
      assert((stb \ "active_workers").isInstanceOf[JInt])
      assert((stb \ "node_count").asInstanceOf[JInt].num.toInt >= 2)

      val (cs, cb) = get(base, "/query/catalogs")
      assert(cs === 200)
      val catNames = (cb \ "catalogs" \\ classOf[JString])
      assert(catNames.contains(cat), s"catalog list $catNames misses $cat")

      val (ss, sb) = get(base, s"/query/catalogs/$cat/schemas")
      assert(ss === 200)
      assert((sb \\ classOf[JString]).contains("ns"))
      assert(str(sb \ "catalog") === cat)

      val (ts, tb) = get(base, s"/query/catalogs/$cat/schemas/ns/tables")
      assert(ts === 200)
      assert((tb \ "tables" \\ classOf[JString]).contains("t"))

      val (ds, db) = get(base, s"/query/catalogs/$cat/schemas/ns/tables/t")
      assert(ds === 200)
      val colNames = (db \ "columns" \ "name" \\ classOf[JString])
      assert(colNames === List("id", "v", graft.ingest.Cdc.LsnColumn))
      assert(str(db \ "type") === "TABLE")
    }
  }

  test("SQL pagination: pages drain the full ordered result, cursor dies at the end") {
    withServer { base =>
      val (s1, b1) = post(base, "/query/sql",
        s"""{"sql": "SELECT id FROM $cat.ns.t ORDER BY id", "page_size": 10}""")
      assert(s1 === 200)
      assert((b1 \ "columns") === JArray(List(JString("id"))))
      def ids(b: JValue): Seq[Long] =
        (b \ "rows").asInstanceOf[JArray].arr.map(r =>
          r.asInstanceOf[JArray].arr.head.asInstanceOf[JInt].num.toLong)
      assert(ids(b1) === (1L to 10L))
      val (s2, b2) = get(base, str(b1 \ "next_uri"))
      assert(s2 === 200 && ids(b2) === (11L to 20L))
      val (s3, b3) = get(base, str(b2 \ "next_uri"))
      assert(s3 === 200 && ids(b3) === (21L to 25L))
      // exhausted: no next_uri, and the cursor id is gone (Trino expiry)
      assert((b3 \ "next_uri") === JNothing)
      val (s4, _) = get(base, "/query/results/" + str(b3 \ "id"))
      assert(s4 === 404)
    }
  }

  test("numbered next_uri retries are idempotent; stale pages are 410; final page survives exhaustion") {
    withServer { base =>
      val (s1, b1) = post(base, "/query/sql",
        s"""{"sql": "SELECT id FROM $cat.ns.t ORDER BY id", "page_size": 10}""")
      assert(s1 === 200 && (b1 \ "page") === JInt(0))
      def ids(b: JValue): Seq[Long] =
        (b \ "rows").asInstanceOf[JArray].arr.map(r =>
          r.asInstanceOf[JArray].arr.head.asInstanceOf[JInt].num.toLong)
      val uri1 = str(b1 \ "next_uri")
      val (s2, b2) = get(base, uri1)
      assert(s2 === 200 && ids(b2) === (11L to 20L))
      // a lost-response RETRY of the same next_uri replays the SAME page
      val (s2r, b2r) = get(base, uri1)
      assert(s2r === 200 && ids(b2r) === (11L to 20L), "retry skipped a page")
      // a page consumed and evicted from the retry cache is 410 on the
      // LIVE cursor — never a silent skip
      val (sg, _) = get(base, "/query/results/" + str(b1 \ "id") + "/0")
      assert(sg === 410)
      // ...and the window still advances correctly afterwards
      val (s3, b3) = get(base, str(b2r \ "next_uri"))
      assert(s3 === 200 && ids(b3) === (21L to 25L))
      assert((b3 \ "next_uri") === JNothing)
      // the FINAL page's numbered uri stays re-fetchable (its response
      // can be lost like any other)...
      val finalUri = str(b2 \ "next_uri")
      val (sf, bf) = get(base, finalUri)
      assert(sf === 200 && ids(bf) === (21L to 25L))
      // ...but a bare-id "next" after exhaustion is Trino's expired
      // 404, and so is any OTHER page number of the dead cursor
      assert(get(base, "/query/results/" + str(b3 \ "id"))._1 === 404)
      assert(get(base, "/query/results/" + str(b3 \ "id") + "/0")._1 === 404)
    }
  }

  test("bearer-token auth: 401 without or with a wrong token; probe and scrape stay open") {
    buildCatalog()
    val srv = new ApiServer(spark, defaultPageSize = 10,
      authToken = Some("s3cr3t-tok"))
    try {
      val base = srv.baseUri
      assert(get(base, "/query/catalogs")._1 === 401)
      val wrong = http.send(HttpRequest.newBuilder(
        URI.create(base + "/query/catalogs"))
        .header("Authorization", "Bearer nope").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrong.statusCode() === 401)
      val right = http.send(HttpRequest.newBuilder(
        URI.create(base + "/query/catalogs"))
        .header("Authorization", "Bearer s3cr3t-tok").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(right.statusCode() === 200)
      // health is the probe surface: unauthenticated
      assert(get(base, "/query/health")._1 === 200)
      // /metrics is NOT exempt by default — names and values are
      // operational intelligence
      val m = http.send(HttpRequest.newBuilder(URI.create(base + "/metrics"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(m.statusCode() === 401)
      val mAuth = http.send(HttpRequest.newBuilder(
        URI.create(base + "/metrics"))
        .header("Authorization", "Bearer s3cr3t-tok").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(mAuth.statusCode() === 200)
    } finally srv.close()
    // opt-in unauthenticated scrape (promhttp convention)
    val open = new ApiServer(spark, authToken = Some("s3cr3t-tok"),
      openMetrics = true)
    try assert(http.send(HttpRequest.newBuilder(
      URI.create(open.baseUri + "/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() === 200)
    finally open.close()
    // or a dedicated scrape credential that opens NOTHING else
    val scoped = new ApiServer(spark, authToken = Some("s3cr3t-tok"),
      metricsToken = Some("scrape-tok"))
    try {
      def withTok(path: String, tok: String): Int = http.send(
        HttpRequest.newBuilder(URI.create(scoped.baseUri + path))
          .header("Authorization", s"Bearer $tok").GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(withTok("/metrics", "scrape-tok") === 200)
      assert(withTok("/metrics", "wrong") === 401)
      assert(withTok("/query/catalogs", "scrape-tok") === 401)
    } finally scoped.close()
  }

  test("managed API keys: issue once-plaintext, authenticate, revoke, expire, persist") {
    buildCatalog()
    val meta = Files.createTempDirectory("graft-apikeys").toString
    @volatile var now = 1000L
    val cp = new ControlPlane(meta, connTest = _ => Right(1L), clock = () => now)
    val srv = new ApiServer(spark, authToken = Some("master-tok"),
      controlPlane = Some(cp))
    try {
      val base = srv.baseUri
      def withTok(method: String, path: String, tok: String,
                  body: String = ""): (Int, JValue) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
          .header("Authorization", s"Bearer $tok")
        val req = method match {
          case "GET"    => b.GET()
          case "DELETE" => b.DELETE()
          case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
        }
        val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), JsonMethods.parse(r.body()))
      }
      // issuing requires auth (bootstrap via the master token)
      assert(post(base, "/api/v1/api-keys", """{"name":"ci"}""")._1 === 401)
      val (cs, cb) = withTok("POST", "/api/v1/api-keys", "master-tok",
        """{"name":"ci"}""")
      assert(cs === 201)
      val key = str(cb \ "key")
      val keyId = str(cb \ "id")
      assert(key.startsWith("graft_live_") && key.length > 40)
      assert(str(cb \ "key_prefix") === key.take(10))
      // the key authenticates like the master token
      assert(withTok("GET", "/query/catalogs", key)._1 === 200)
      assert(withTok("GET", "/query/catalogs", key.dropRight(1) + "X")._1 === 401)
      // the list never serves the secret or its hash
      val (_, lb) = withTok("GET", "/api/v1/api-keys", "master-tok")
      assert((lb \ "total") === JInt(1))
      val rendered = JsonMethods.compact(JsonMethods.render(lb))
      assert(!rendered.contains(key) && !rendered.contains("key_hash"))
      // a reopened store validates the same key (hash persisted)
      val cp2 = new ControlPlane(meta, connTest = _ => Right(1L), clock = () => now)
      assert(cp2.validateApiKey(key).isDefined)
      // expiry: a key minted with a deadline stops at the deadline
      val (ek, eplain) = cp.createApiKey("short", expiresAtMs = Some(2000L))
      assert(cp.validateApiKey(eplain).exists(_.id == ek.id))
      now = 2001L
      assert(cp.validateApiKey(eplain).isEmpty)
      intercept[ControlPlane.Invalid] {
        cp.createApiKey("past", expiresAtMs = Some(now - 1))
      }
      // revoke: soft — stops authenticating, row stays; idempotent
      val (rs, rb) = withTok("POST", s"/api/v1/api-keys/$keyId/revoke", "master-tok")
      assert(rs === 200 && (rb \ "revoked") === JBool(true))
      assert(withTok("GET", "/query/catalogs", key)._1 === 401)
      assert(withTok("POST", s"/api/v1/api-keys/$keyId/revoke",
        "master-tok")._1 === 200)
      assert(withTok("GET", s"/api/v1/api-keys/$keyId", "master-tok")._1 === 200)
      // delete: hard
      assert(withTok("DELETE", s"/api/v1/api-keys/$keyId", "master-tok")._1 === 200)
      assert(withTok("GET", s"/api/v1/api-keys/$keyId", "master-tok")._1 === 404)
    } finally srv.close()
  }

  test("OIDC bearer JWTs: JWKS-verified RS256 accepted; expired, wrong-audience, alg-confusion refused") {
    import java.net.InetSocketAddress
    import java.security.{KeyPairGenerator, Signature}
    import com.sun.net.httpserver.HttpServer
    buildCatalog()
    // graft.FakeOidcIssuer is THE shared issuer scaffolding — one
    // implementation of the JWKS/JWT encoding across suites
    val issuer = new graft.FakeOidcIssuer
    val issuerBase = issuer.base
    def jwt(payload: String, alg: String = "RS256",
            kid: String = "k1"): String = issuer.jwt(payload, alg, kid)
    val now = System.currentTimeMillis() / 1000
    def claims(aud: String = "graft-api", exp: Long = now + 600,
               iss: String = issuerBase): String =
      s"""{"iss":"$iss","aud":"$aud","sub":"alice","exp":$exp,"iat":$now}"""
    val validator = new OidcValidator(issuerBase, "graft-api")
    val srv = new ApiServer(spark, authToken = Some("master-tok"),
      oidc = Some(validator))
    try {
      val base = srv.baseUri
      def withTok(tok: String): Int = http.send(
        HttpRequest.newBuilder(URI.create(base + "/query/catalogs"))
          .header("Authorization", s"Bearer $tok").GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      // a valid issuer-signed token authenticates like the static token
      assert(withTok(jwt(claims())) === 200)
      assert(withTok("master-tok") === 200)
      // the refusal family, each with its precise reason
      assert(validator.validate(jwt(claims())).isRight)
      assert(validator.validate(jwt(claims(exp = now - 600))) ===
        Left("expired"))
      assert(validator.validate(jwt(claims(aud = "someone-else")))
        .left.exists(_.contains("audience")))
      assert(validator.validate(jwt(claims(iss = "https://evil.example")))
        .left.exists(_.contains("issuer")))
      assert(validator.validate(jwt(claims(), alg = "none")) ===
        Left("refused alg none"))
      assert(validator.validate(jwt(claims(), kid = "ghost"))
        .left.exists(_.contains("unknown kid")))
      // a token signed by a DIFFERENT key under the advertised kid
      val kp2 = { val g = KeyPairGenerator.getInstance("RSA"); g.initialize(2048); g.generateKeyPair() }
      val forged = {
        val h = graft.FakeOidcIssuer.b64url("""{"alg":"RS256","kid":"k1"}""".getBytes("UTF-8"))
        val p = graft.FakeOidcIssuer.b64url(claims().getBytes("UTF-8"))
        val sig = Signature.getInstance("SHA256withRSA")
        sig.initSign(kp2.getPrivate); sig.update(s"$h.$p".getBytes("UTF-8"))
        s"$h.$p.${graft.FakeOidcIssuer.b64url(sig.sign())}"
      }
      assert(validator.validate(forged) === Left("bad signature"))
      assert(withTok(forged) === 401)
      assert(withTok(jwt(claims(exp = now - 600))) === 401)
      assert(withTok("garbage") === 401)
      // an OIDC-ONLY deployment (no static token) must still be
      // CLOSED: anonymous 401, issuer-signed JWT 200
      val only = new ApiServer(spark,
        oidc = Some(new OidcValidator(issuerBase, "graft-api")))
      try {
        assert(get(only.baseUri, "/query/catalogs")._1 === 401)
        assert(http.send(HttpRequest.newBuilder(
          URI.create(only.baseUri + "/query/catalogs"))
          .header("Authorization", s"Bearer ${jwt(claims())}").GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() === 200)
      } finally only.close()
      // a FAILING issuer is fetch-rate-limited: a second unknown-kid
      // validation inside the refresh interval attempts no new fetch
      val hits = new java.util.concurrent.atomic.AtomicInteger()
      val dead = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      dead.createContext("/", ex => {
        hits.incrementAndGet(); ex.sendResponseHeaders(500, -1); ex.close()
      })
      dead.start()
      try {
        val v2 = new OidcValidator(
          s"http://127.0.0.1:${dead.getAddress.getPort}", "graft-api")
        assert(v2.validate(jwt(claims())).left.exists(_.startsWith("jwks fetch failed")))
        assert(v2.validate(jwt(claims())).left.exists(_.contains("unknown kid")))
        assert(hits.get === 1,
          s"a failing issuer must be fetch-rate-limited, saw ${hits.get} fetches")
      } finally dead.stop(0)
    } finally { srv.close(); issuer.stop() }
  }

  test("OIDC provider management: CRUD, secret redaction, pre-auth listing, store-driven JWT auth") {
    buildCatalog()
    val issuer = new graft.FakeOidcIssuer
    val issuerBase = issuer.base
    def jwt(aud: String): String = {
      val now = System.currentTimeMillis() / 1000
      issuer.jwt(
        s"""{"iss":"$issuerBase","aud":"$aud","sub":"bob","exp":${now + 600}}""")
    }
    val dir = Files.createTempDirectory("graft-oidc-cp").toString
    val cp = new ControlPlane(dir, connTest = _ => Right(1L))
    val srv = new ApiServer(spark, authToken = Some("master-tok"),
      controlPlane = Some(cp))
    try {
      val base = srv.baseUri
      def call(method: String, path: String, body: String = "",
               tok: Option[String] = Some("master-tok")): (Int, JValue) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
        tok.foreach(t => b.header("Authorization", s"Bearer $t"))
        val req = method match {
          case "GET"    => b.GET()
          case "DELETE" => b.DELETE()
          case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
        }
        val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), JsonMethods.parse(r.body()))
      }
      // create: registry defaults applied, the secret never renders
      val (c1, b1) = call("POST", "/api/v1/settings/oidc/providers",
        s"""{"name":"corp","display_name":"Corp SSO",
           |"provider_type":"generic","issuer_url":"$issuerBase",
           |"client_id":"graft-api","client_secret":"s3cr3t-cs"}"""
          .stripMargin)
      assert(c1 === 201)
      val pid = str(b1 \ "id")
      assert(b1 \ "scopes" === JArray(List(
        JString("openid"), JString("profile"), JString("email"))))
      assert(b1 \ "groups_claim" === JString("groups"))
      assert(!JsonMethods.compact(JsonMethods.render(b1)).contains("s3cr3t-cs"))
      // validation family
      assert(call("POST", "/api/v1/settings/oidc/providers",
        s"""{"name":"x1","provider_type":"carrier-pigeon",
           |"issuer_url":"$issuerBase","client_id":"a"}""".stripMargin)._1 === 400)
      assert(call("POST", "/api/v1/settings/oidc/providers",
        """{"name":"x2","provider_type":"generic",
          |"issuer_url":"not a url","client_id":"a"}""".stripMargin)._1 === 400)
      assert(call("POST", "/api/v1/settings/oidc/providers",
        s"""{"name":"corp","provider_type":"generic",
           |"issuer_url":"$issuerBase","client_id":"a"}""".stripMargin)._1 === 409)
      // the PRE-AUTH listing answers with no credential, summary only
      val (cl, bl) = call("GET", "/api/v1/auth/oidc/providers", tok = None)
      assert(cl === 200 && bl \ "total_count" === JInt(1))
      val summaries = bl \ "providers" match {
        case JArray(xs) => xs; case _ => Nil
      }
      assert(summaries.size === 1 &&
        summaries.head \ "provider_type" === JString("generic") &&
        summaries.head \ "client_id" === JNothing)
      // the settings group stays authenticated
      assert(call("GET", "/api/v1/settings/oidc/providers", tok = None)._1 === 401)
      // a JWT from the STORE-configured issuer authenticates; one for
      // a different audience does not
      assert(call("GET", "/query/catalogs", tok = Some(jwt("graft-api")))._1 === 200)
      assert(call("GET", "/query/catalogs", tok = Some(jwt("not-us")))._1 === 401)
      // the test endpoint runs real discovery
      val (ct, bt) = call("POST", s"/api/v1/settings/oidc/providers/$pid/test")
      assert(ct === 200 && bt \ "success" === JBool(true) &&
        bt \ "jwks_uri" === JString(s"$issuerBase/jwks"))
      // disable via PUT WITHOUT client_secret: secret kept, JWT refused,
      // pre-auth listing empties
      val (cu, _) = call("PUT", s"/api/v1/settings/oidc/providers/$pid",
        s"""{"name":"corp","display_name":"Corp SSO",
           |"provider_type":"generic","issuer_url":"$issuerBase",
           |"client_id":"graft-api","enabled":false}""".stripMargin)
      assert(cu === 200)
      assert(cp.listOidcProviders().head.clientSecret === "s3cr3t-cs")
      assert(call("GET", "/query/catalogs", tok = Some(jwt("graft-api")))._1 === 401)
      assert(call("GET", "/api/v1/auth/oidc/providers", tok = None)
        ._2 \ "total_count" === JInt(0))
      // persistence: a reopened store sees the provider and its secret
      val cp2 = new ControlPlane(dir, connTest = _ => Right(1L))
      assert(cp2.listOidcProviders().map(p =>
        (p.name, p.clientId, p.clientSecret, p.enabled)) ===
        Seq(("corp", "graft-api", "s3cr3t-cs", false)))
      // delete
      assert(call("DELETE", s"/api/v1/settings/oidc/providers/$pid")._1 === 200)
      assert(call("GET", s"/api/v1/settings/oidc/providers/$pid")._1 === 404)
      // PUT semantics: an ABSENT enabled keeps the stored value, an
      // EMPTY client_secret keeps the secret, a string "false" is 400
      val p2 = cp.createOidcProvider("corp2", "Corp2", "generic",
        issuerBase, "graft-api", clientSecret = "cs2", enabled = false)
      val (cPut, bPut) = call("PUT",
        s"/api/v1/settings/oidc/providers/${p2.id}",
        s"""{"name":"corp2","provider_type":"generic",
           |"issuer_url":"$issuerBase","client_id":"graft-api",
           |"client_secret":""}""".stripMargin)
      assert(cPut === 200 && bPut \ "enabled" === JBool(false))
      assert(cp.getOidcProvider(p2.id).clientSecret === "cs2")
      assert(call("PUT", s"/api/v1/settings/oidc/providers/${p2.id}",
        s"""{"name":"corp2","provider_type":"generic",
           |"issuer_url":"$issuerBase","client_id":"graft-api",
           |"enabled":"false"}""".stripMargin)._1 === 400)
      // a trailing slash must not flip the pre-auth listing to 401:
      // exemption runs on the router's normalized segments
      assert(call("GET", "/api/v1/auth/oidc/providers/", tok = None)._1 === 200)
      // an OPEN deployment (no static token, no env OIDC) stays open
      // even with an ENABLED store provider: mutable store rows never
      // decide whether auth is required — they would otherwise be an
      // unauthenticated takeover path (attacker-issuer provider locks
      // the operator out) and a fail-open path (disabling the last
      // provider reopens everything)
      cp.updateOidcProvider(p2.id, "corp2", "Corp2", "generic",
        issuerBase, "graft-api", None, Nil, "", enabled = Some(true),
        autoCreateUsers = Some(true))
      val open = new ApiServer(spark, controlPlane = Some(cp))
      try assert(get(open.baseUri, "/query/catalogs")._1 === 200)
      finally open.close()
    } finally { srv.close(); issuer.stop() }
  }

  test("GET /api/v1/version and /api/v1/config serve the safe deployment subset") {
    buildCatalog()
    val dir = Files.createTempDirectory("graft-vercfg").toString
    val cp = new ControlPlane(dir, connTest = _ => Right(1L))
    val srv = new ApiServer(spark, controlPlane = Some(cp),
      defaultPageSize = 25)
    try {
      val (vc, vb) = get(srv.baseUri, "/api/v1/version")
      assert(vc === 200 && vb \ "api_version" === JString("v1"))
      assert(vb \ "version" === JString(graft.Cli.Version))
      assert(str(vb \ "engine_version").startsWith("4."))
      val (cc, cb) = get(srv.baseUri, "/api/v1/config")
      assert(cc === 200)
      assert(cb \ "query" \ "default_page_size" === JInt(25))
      assert((cb \ "query" \ "shuffle_partitions").isInstanceOf[JInt])
      // the reference's security note: the config surface must carry
      // nothing secret-shaped
      val body = JsonMethods.compact(JsonMethods.render(cb))
      assert(!body.contains("password") && !body.contains("secret") &&
        !body.contains("token"))
    } finally srv.close()
    // the routes read nothing from the control plane: a pure /query
    // deployment (no store attached) serves them too
    val bare = new ApiServer(spark)
    try {
      assert(get(bare.baseUri, "/api/v1/version")._1 === 200)
      assert(get(bare.baseUri, "/api/v1/config")._1 === 200)
    } finally bare.close()
  }

  test("scaling evaluate: dry-run metrics REPLACE the registry; malformed body 400; strict fields") {
    buildCatalog()
    val dir = Files.createTempDirectory("graft-scal-api").toString
    val cp = new ControlPlane(dir, connTest = _ => Right(1L))
    val reg = new graft.observe.Metrics.Registry
    val srv = new ApiServer(spark, controlPlane = Some(cp), registry = reg)
    try {
      val base = srv.baseUri
      def call(method: String, path: String, body: String = ""): (Int, JValue) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
        val req = method match {
          case "GET" => b.GET()
          case m     => b.method(m, HttpRequest.BodyPublishers.ofString(body))
        }
        val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), JsonMethods.parse(r.body()))
      }
      val (c1, b1) = call("POST", "/api/v1/scaling/policies",
        """{"name":"w","target_type":"cdc-worker","min_replicas":1,
          |"max_replicas":4,"cooldown_seconds":0,
          |"scale_up_rules":[{"metric":"philotes_cdc_lag_seconds",
          |  "operator":"gt","threshold":10.0,"scale_by":2}]}""".stripMargin)
      assert(c1 === 201)
      val pid = str(b1 \ "id")
      val ev = s"/api/v1/scaling/policies/$pid/evaluate"
      // the live registry WOULD fire — but a dry-run body REPLACES the
      // registry view, so empty dry-run metrics trigger nothing
      reg.setGauge("cdc", "lag_seconds", 42.0)
      val (ce, be) = call("POST", ev, """{"metrics":{}}""")
      assert(ce === 200 && be \ "should_execute" === JBool(false))
      // no metrics section: the INJECTED registry (not the process
      // global) drives the evaluation
      val (ce2, be2) = call("POST", ev, "{}")
      assert(ce2 === 200 && be2 \ "should_execute" === JBool(true) &&
        be2 \ "desired_replicas" === JInt(3))
      // a malformed body is 400 — never a silent live evaluation that
      // ticks cooldown/history while ignoring the supplied metrics
      assert(call("POST", ev, """{"metrics":{,}}""")._1 === 400)
      // dry_run previews WITHOUT persisting: with the background loop
      // as a second writer, a what-if probe must never poison the live
      // width, cooldown, or history
      val widthBefore = cp.getScalingPolicyState(pid).currentReplicas
      val histBefore = cp.listScalingHistory(Some(pid)).size
      val (cd, bd) = call("POST", ev,
        """{"metrics":{"philotes_cdc_lag_seconds":999},"dry_run":true}""")
      assert(cd === 200 && bd \ "dry_run" === JBool(true) &&
        bd \ "should_execute" === JBool(true))
      assert(cp.getScalingPolicyState(pid).currentReplicas === widthBefore)
      assert(cp.listScalingHistory(Some(pid)).size === histBefore)
      // strict field parsing: a string boolean and an out-of-range
      // cooldown refuse instead of silently coercing
      assert(call("POST", "/api/v1/scaling/policies",
        """{"name":"x","target_type":"cdc-worker","min_replicas":1,
          |"max_replicas":4,"scale_to_zero":"true"}""".stripMargin)._1 === 400)
      assert(call("POST", "/api/v1/scaling/policies",
        """{"name":"y","target_type":"cdc-worker","min_replicas":1,
          |"max_replicas":4,
          |"cooldown_seconds":4294967296000000000000}""".stripMargin)._1 === 400)
      // replica counts parse strictly: a string refuses, a whole
      // float (json encoders emit 7.0 for 7) accepts, a fractional
      // value refuses — never a silently defaulted policy bound
      assert(call("POST", "/api/v1/scaling/policies",
        """{"name":"z1","target_type":"cdc-worker","min_replicas":"1",
          |"max_replicas":4}""".stripMargin)._1 === 400)
      assert(call("POST", "/api/v1/scaling/policies",
        """{"name":"z2","target_type":"cdc-worker","min_replicas":1,
          |"max_replicas":4.5}""".stripMargin)._1 === 400)
      val (cz, bz) = call("POST", "/api/v1/scaling/policies",
        """{"name":"z3","target_type":"cdc-worker","min_replicas":1.0,
          |"max_replicas":4.0,"cooldown_seconds":0}""".stripMargin)
      assert(cz === 201 && bz \ "max_replicas" === JInt(4))
      // rule numbers too: a string threshold or fractional scale_by
      // must 400, not coerce to zero
      assert(call("POST", "/api/v1/scaling/policies",
        """{"name":"z4","target_type":"cdc-worker","min_replicas":1,
          |"max_replicas":4,"scale_up_rules":[{"metric":"m",
          |"operator":"gt","threshold":"high","scale_by":1}]}"""
          .stripMargin)._1 === 400)
      assert(call("POST", "/api/v1/scaling/policies",
        """{"name":"z5","target_type":"cdc-worker","min_replicas":1,
          |"max_replicas":4,"scale_up_rules":[{"metric":"m",
          |"operator":"gt","threshold":1.0,"scale_by":1.5}]}"""
          .stripMargin)._1 === 400)
      // a present non-object metrics field is 400 on evaluate — only
      // absent/null falls back to the live registry (a typo'd string
      // must never evaluate-and-persist against live values)
      assert(call("POST", ev, """{"metrics":"oops"}""")._1 === 400)
      assert(call("POST", ev, """{"metrics":{"lag":"high"}}""")._1 === 400)
      // queryscaling: same strictness on create thresholds and the
      // evaluate metrics contract
      val (cq, bq) = call("POST", "/api/v1/queryscaling/policies",
        """{"name":"qp","query_engine":"trino","min_replicas":1,
          |"max_replicas":3,"cooldown_seconds":0}""".stripMargin)
      assert(cq === 201)
      val qev = s"/api/v1/queryscaling/policies/${str(bq \ "id")}/evaluate"
      assert(call("POST", qev, """{"metrics":[1,2]}""")._1 === 400)
      assert(call("POST", "/api/v1/queryscaling/policies",
        """{"name":"qp2","query_engine":"trino","min_replicas":1,
          |"max_replicas":3,"queued_queries_threshold":"5"}"""
          .stripMargin)._1 === 400)
    } finally srv.close()
  }

  test("query parameters decode once from the raw query: an encoded & stays in the value") {
    val dir = Files.createTempDirectory("graft-qparam-api").toString
    val cp = new ControlPlane(dir, connTest = _ => Right(1L))
    val srv = new ApiServer(spark, controlPlane = Some(cp))
    try {
      val base = srv.baseUri
      Seq("on" -> true, "off" -> false).foreach { case (name, enabled) =>
        assert(post(base, "/api/v1/scaling/policies",
          s"""{"name":"$name","target_type":"cdc-worker","min_replicas":1,
             |"max_replicas":2,"enabled":$enabled}""".stripMargin)._1 === 201)
      }
      def names(query: String): Seq[String] = {
        val (code, body) = get(base, s"/api/v1/scaling/policies$query")
        assert(code === 200)
        (body \ "policies").children.map(p => str(p \ "name")).sorted
      }
      assert(names("") === Seq("off", "on"))
      assert(names("?enabled=true") === Seq("on"))
      // the handler sees enabled = "true&x", which is not "true"
      assert(names("?enabled=true%26x") === Seq("off", "on"))
    } finally srv.close()
  }

  test("session auth: login exempt, register gated, /auth/me across credential kinds, expiry refusal") {
    buildCatalog()
    val dir = Files.createTempDirectory("graft-auth-api").toString
    @volatile var now = 1000000L
    val cp = new ControlPlane(dir, connTest = _ => Right(1L), clock = () => now)
    val srv = new ApiServer(spark, controlPlane = Some(cp),
      authToken = Some("deploy-tok"))
    try {
      val base = srv.baseUri
      def call(method: String, path: String, body: String = "",
               bearer: Option[String] = None): (Int, JValue) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
        bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
        val req = method match {
          case "GET" => b.GET()
          case m     => b.method(m, HttpRequest.BodyPublishers.ofString(body))
        }
        val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(),
          if (r.body().isEmpty) JNothing else JsonMethods.parse(r.body()))
      }
      val reg = """{"email":"op@example.com","password":"hunter2hunter2","name":"Op"}"""
      // register sits BEHIND the gate on a closed deployment — the
      // reference's public register would be an unauthenticated
      // admin-mint here (intentional deviation, documented)
      assert(call("POST", "/api/v1/auth/register", reg)._1 === 401)
      val (cr, br) = call("POST", "/api/v1/auth/register", reg,
        bearer = Some("deploy-tok"))
      assert(cr === 201 && str(br \ "user" \ "role") === "admin")
      // hash/salt never render anywhere in the response
      assert(!JsonMethods.compact(JsonMethods.render(br)).contains("hash"))
      // one-time: the second register is 409 even authenticated
      assert(call("POST", "/api/v1/auth/register", reg,
        bearer = Some("deploy-tok"))._1 === 409)
      // validation 400s
      assert(call("POST", "/api/v1/auth/login",
        """{"email":"","password":"x"}""")._1 === 400)
      // login is EXEMPT (it mints the credential) but only succeeds
      // against a stored password; wrong password and unknown email
      // are the same 401
      assert(call("POST", "/api/v1/auth/login",
        """{"email":"op@example.com","password":"wrongwrong"}""")._1 === 401)
      assert(call("POST", "/api/v1/auth/login",
        """{"email":"ghost@example.com","password":"hunter2hunter2"}""")._1 === 401)
      val (cl, bl) = call("POST", "/api/v1/auth/login",
        """{"email":"op@example.com","password":"hunter2hunter2"}""")
      assert(cl === 200)
      val sess = str(bl \ "token")
      assert(sess.startsWith("graft_sess_"))
      // the session token authenticates protected routes...
      assert(call("GET", "/query/catalogs", bearer = Some(sess))._1 === 200)
      // ...and /auth/me identifies each credential kind
      val (cm, bm) = call("GET", "/api/v1/auth/me", bearer = Some(sess))
      assert(cm === 200 && str(bm \ "kind") === "session" &&
        str(bm \ "user" \ "email") === "op@example.com")
      val (cms, bms) = call("GET", "/api/v1/auth/me",
        bearer = Some("deploy-tok"))
      assert(cms === 200 && str(bms \ "kind") === "static_token")
      val (_, bk) = call("POST", "/api/v1/api-keys",
        """{"name":"ci"}""", bearer = Some("deploy-tok"))
      val (cmk, bmk) = call("GET", "/api/v1/auth/me",
        bearer = Some(str(bk \ "key")))
      assert(cmk === 200 && str(bmk \ "kind") === "api_key" &&
        str(bmk \ "api_key" \ "name") === "ci")
      assert(call("GET", "/api/v1/auth/me")._1 === 401)
      // expiry: past the 24h TTL the session refuses everywhere
      now += ControlPlane.DefaultSessionTtlMs + 1000L
      assert(call("GET", "/api/v1/auth/me", bearer = Some(sess))._1 === 401)
      assert(call("GET", "/query/catalogs", bearer = Some(sess))._1 === 401)
      // the deactivation route: login 403s afterwards
      val uid = str(br \ "user" \ "id")
      assert(call("POST", s"/api/v1/users/$uid/deactivate", "",
        bearer = Some("deploy-tok"))._1 === 200)
      assert(call("POST", "/api/v1/auth/login",
        """{"email":"op@example.com","password":"hunter2hunter2"}""")._1 === 403)
    } finally srv.close()
  }

  test("GET /metrics serves the registry as Prometheus text exposition") {
    buildCatalog()
    val reg = new graft.observe.Metrics.Registry
    reg.inc("cdc", "events_total", 42L)
    reg.inc("buffer", "dlq_total", 3L)
    reg.setGauge("cdc", "lag_seconds", 1.5)
    val srv = new ApiServer(spark, registry = reg)
    try {
      val r = http.send(HttpRequest.newBuilder(
        URI.create(srv.baseUri + "/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain"))
      val body = r.body()
      assert(body.contains("# TYPE philotes_cdc_events_total counter"))
      assert(body.contains("philotes_cdc_events_total 42"))
      assert(body.contains("# TYPE philotes_buffer_dlq_total counter"))
      assert(body.contains("philotes_buffer_dlq_total 3"))
      assert(body.contains("# TYPE philotes_cdc_lag_seconds gauge"))
      assert(body.contains("philotes_cdc_lag_seconds 1.5"))
    } finally srv.close()
  }

  test("identifier validation rejects before SQL; analysis errors and bad routes map to statuses") {
    withServer { base =>
      // injection-shaped identifier → 400 from the validator, not SQL
      val (is, ib) = get(base, s"/query/catalogs/$cat/schemas/x%3Bdrop/tables")
      assert(is === 400)
      assert(str(ib \ "error").contains("invalid schema name"))
      // bad SQL → 400 with the analysis message
      val (qs, _) = post(base, "/query/sql",
        """{"sql": "SELECT * FROM nonexistent_table_xyz"}""")
      assert(qs === 400)
      // non-JSON body → 400
      val (js, _) = post(base, "/query/sql", "not json at all")
      assert(js === 400)
      // missing sql field → 400
      val (ms, _) = post(base, "/query/sql", """{"limit": 5}""")
      assert(ms === 400)
      // unknown route → 404
      val (ns, _) = get(base, "/query/nope")
      assert(ns === 404)
      // page_size out of range → 400
      val (ps, _) = post(base, "/query/sql",
        s"""{"sql": "SELECT 1", "page_size": 0}""")
      assert(ps === 400)
    }
  }

  test("open-cursor cap returns 429; DELETE frees a slot") {
    buildCatalog()
    val srv = new ApiServer(spark, defaultPageSize = 1, maxCursors = 2)
    try {
      val base = srv.baseUri
      val q = s"""{"sql": "SELECT id FROM $cat.ns.t ORDER BY id", "page_size": 1}"""
      val (s1, b1) = post(base, "/query/sql", q)
      assert(s1 === 200)
      assert(post(base, "/query/sql", q)._1 === 200)
      assert(post(base, "/query/sql", q)._1 === 429)
      // explicit close releases the slot — an abandoning client has a
      // way out besides draining
      val del = http.send(HttpRequest.newBuilder(
        URI.create(base + "/query/results/" + str(b1 \ "id")))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() === 200)
      assert(post(base, "/query/sql", q)._1 === 200)
    } finally srv.close()
  }

  test("idle cursors are evicted at the cap: abandonment cannot brick the endpoint") {
    buildCatalog()
    // TTL 0: every idle cursor is evictable the moment the cap is hit
    val srv = new ApiServer(spark, defaultPageSize = 1, maxCursors = 2,
      cursorTtlMs = 0L)
    try {
      val base = srv.baseUri
      val q = s"""{"sql": "SELECT id FROM $cat.ns.t ORDER BY id", "page_size": 1}"""
      (1 to 5).foreach { i =>
        assert(post(base, "/query/sql", q)._1 === 200, s"POST $i was rejected")
      }
    } finally srv.close()
  }
}
