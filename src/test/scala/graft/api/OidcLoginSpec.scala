package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{FakeOidcIssuer, SparkTestBase}

/** The interactive OIDC login dance end-to-end against a scripted
  * local IdP (ref internal/api/handlers/oidc.go Authorize/Callback,
  * services/oidc.go StartAuthorization/HandleCallback): PKCE S256
  * round-trip, one-time state redemption with expiry, ID-token
  * signature + nonce enforcement, user provisioning (subject match /
  * email link / auto-create / disabled), and the role mapping. */
class OidcLoginSpec extends SparkTestBase {

  private val http = HttpClient.newHttpClient()

  private def freshDir(): String =
    Files.createTempDirectory("graft-oidclogin").toString

  private def call(base: String, method: String, path: String,
                   body: String = "", bearer: Option[String] = None)
  : (Int, JValue) = {
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

  private def s_(v: JValue): String = v match {
    case JString(x) => x
    case _          => ""
  }

  /** Parse the query of an authorization URL into a param map. */
  private def urlParams(url: String): Map[String, String] = {
    val q = url.dropWhile(_ != '?').drop(1)
    q.split('&').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap
  }

  /** Standard happy-path IdP scripting: /token returns a signed
    * id_token carrying `nonce` (captured from the authorization URL)
    * and the given identity claims. */
  private def scriptToken(idp: FakeOidcIssuer, nonce: String, aud: String,
                          sub: String, email: String,
                          groups: Seq[String] = Nil,
                          nonceOverride: Option[String] = None,
                          emailVerified: Boolean = true): Unit =
    idp.onToken = { _ =>
      val now = System.currentTimeMillis() / 1000
      val gs = groups.map(g => "\"" + g + "\"").mkString(",")
      val tok = idp.jwt(
        s"""{"iss":"${idp.base}","aud":"$aud","sub":"$sub",
           |"email":"$email","email_verified":$emailVerified,
           |"name":"Pat Example",
           |"nonce":"${nonceOverride.getOrElse(nonce)}",
           |"groups":[$gs],"exp":${now + 600}}""".stripMargin)
      (200, s"""{"access_token":"at-1","token_type":"Bearer",
               |"id_token":"$tok"}""".stripMargin)
    }

  private def withPlane(f: (ControlPlane, ApiServer, FakeOidcIssuer) => Unit)
  : Unit = {
    val idp = new FakeOidcIssuer("login-k1")
    val cp = new ControlPlane(freshDir(), connTest = _ => Right(1L))
    val srv = new ApiServer(spark, authToken = Some("admin-tok"),
      controlPlane = Some(cp),
      oidcRedirectOrigins = Seq("http://localhost:3000"))
    try f(cp, srv, idp) finally { srv.close(); idp.stop() }
  }

  test("full dance: authorize → IdP → callback mints a working session; PKCE and nonce round-trip") {
    withPlane { (cp, srv, idp) =>
      cp.createOidcProvider("corp", "Corp SSO", "generic", idp.base,
        "graft-api", "cs-secret",
        roleMapping = Map("eng" -> "operator"), defaultRole = "viewer")
      // authorize is PUBLIC on a token-closed API
      val (c1, b1) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/done"}""")
      assert(c1 === 200)
      val url = s_(b1 \ "authorization_url")
      assert(url.startsWith(s"${idp.base}/authorize?"))
      val p = urlParams(url)
      assert(p("response_type") === "code")
      assert(p("client_id") === "graft-api")
      assert(p("scope") === "openid profile email")
      assert(p("code_challenge_method") === "S256")
      assert(p("redirect_uri") ===
        s"${srv.baseUri}/api/v1/auth/oidc/callback")
      assert(p("state") === s_(b1 \ "state"))
      assert(p("state").nonEmpty && p("nonce").nonEmpty &&
        p("code_challenge").nonEmpty)

      scriptToken(idp, p("nonce"), "graft-api", "sub-1",
        "pat@example.com", Seq("eng"))
      val (c2, b2) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"authcode-1","state":"${p("state")}"}""")
      assert(c2 === 200, JsonMethods.compact(JsonMethods.render(b2)))
      assert((b2 \ "success") === JBool(true))
      val sess = s_(b2 \ "token")
      assert(sess.startsWith("graft_sess_"))
      assert(s_(b2 \ "redirect_uri") === "http://localhost:3000/done")
      assert(s_(b2 \ "user" \ "email") === "pat@example.com")
      assert(s_(b2 \ "user" \ "role") === "operator") // eng → operator
      assert(s_(b2 \ "user" \ "oidc_subject") === "sub-1")

      // the back channel carried the PKCE verifier matching the
      // front-channel challenge, the code, and the client secret
      val tp = idp.lastTokenParams
      assert(tp("grant_type") === "authorization_code")
      assert(tp("code") === "authcode-1")
      assert(tp("client_id") === "graft-api")
      assert(tp("client_secret") === "cs-secret")
      assert(OidcLogin.codeChallenge(tp("code_verifier")) ===
        p("code_challenge"))

      // the minted session authenticates like any password session
      val (c3, b3) = call(srv.baseUri, "GET", "/api/v1/auth/me",
        bearer = Some(sess))
      assert(c3 === 200 && s_(b3 \ "kind") === "session")
      assert(s_(b3 \ "user" \ "email") === "pat@example.com")

      // no password exists on the SSO account: password login is 401
      val (c4, _) = call(srv.baseUri, "POST", "/api/v1/auth/login",
        """{"email":"pat@example.com","password":"whatever-pw"}""")
      assert(c4 === 401)
    }
  }

  test("state is one-time, unknown state refuses, IdP error relays as 400") {
    withPlane { (cp, srv, idp) =>
      cp.createOidcProvider("corp", "Corp", "generic", idp.base, "graft-api")
      val (_, b1) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/done"}""")
      val p = urlParams(s_(b1 \ "authorization_url"))
      scriptToken(idp, p("nonce"), "graft-api", "sub-1", "a@example.com")
      val (c2, _) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c1","state":"${p("state")}"}""")
      assert(c2 === 200)
      // replay: the state burned with the first redemption
      val (c3, b3) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c1","state":"${p("state")}"}""")
      assert(c3 === 400 && s_(b3 \ "error").contains("invalid or expired"))
      val (c4, _) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        """{"code":"c1","state":"no-such-state"}""")
      assert(c4 === 400)
      // IdP-reported error (GET redirect shape) relays as 400 and
      // burns nothing
      val (c5, b5) = call(srv.baseUri, "GET",
        "/api/v1/auth/oidc/callback?error=access_denied&state=x")
      assert(c5 === 400 &&
        s_(b5 \ "error").contains("access_denied"))
      val (c6, _) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        """{"code":"","state":""}""")
      assert(c6 === 400)
    }
  }

  test("expired state refuses (injected clock); cleanup sweeps expired rows") {
    val idp = new FakeOidcIssuer()
    @volatile var now = 1000000L
    val cp = new ControlPlane(freshDir(), connTest = _ => Right(1L),
      clock = () => now)
    try {
      val p = cp.createOidcProvider("corp", "Corp", "generic", idp.base, "a")
      val st = cp.createOidcState(p.id, "http://localhost/done")
      now += ControlPlane.OidcStateTtlMs + 1
      assert(cp.consumeOidcState(st.state).isEmpty)
      // a second state created before expiry, consumed in time, works
      val st2 = cp.createOidcState(p.id, "http://localhost/done")
      now += 1000
      assert(cp.consumeOidcState(st2.state).map(_.redirectUri) ===
        Some("http://localhost/done"))
      // the next mint sweeps the expired row: only the new state is left
      val st3 = cp.createOidcState(p.id, "http://localhost/done")
      now += ControlPlane.OidcStateTtlMs + 1
      val st4 = cp.createOidcState(p.id, "http://localhost/done")
      assert(cp.listOidcStates.map(_.state) === Vector(st4.state))
      assert(cp.consumeOidcState(st4.state).isDefined)
      assert(cp.consumeOidcState(st3.state).isEmpty)
    } finally idp.stop()
  }

  test("state store is bounded: oldest-first eviction at the cap; states survive restart") {
    val idp = new FakeOidcIssuer()
    @volatile var now = 5000000L
    val dir = freshDir()
    val cp = new ControlPlane(dir, connTest = _ => Right(1L),
      clock = () => now)
    try {
      val p = cp.createOidcProvider("corp", "Corp", "generic", idp.base, "a")
      val first = cp.createOidcState(p.id, "http://localhost/1")
      (1 to ControlPlane.MaxOidcStates).foreach { i =>
        now += 1 // distinct created_at, all inside the TTL
        cp.createOidcState(p.id, s"http://localhost/$i")
      }
      assert(cp.listOidcStates.size === ControlPlane.MaxOidcStates)
      // the oldest pending login is the one evicted
      assert(cp.consumeOidcState(first.state).isEmpty)
      // persisted: a restart keeps in-flight logins redeemable
      val last = cp.createOidcState(p.id, "http://localhost/last")
      val cp2 = new ControlPlane(dir, connTest = _ => Right(1L),
        clock = () => now)
      assert(cp2.consumeOidcState(last.state).map(_.redirectUri) ===
        Some("http://localhost/last"))
    } finally idp.stop()
  }

  test("nonce mismatch and wrong-issuer signature refuse the ID token") {
    withPlane { (cp, srv, idp) =>
      cp.createOidcProvider("corp", "Corp", "generic", idp.base, "graft-api")
      def dance(): Map[String, String] = {
        val (_, b) = call(srv.baseUri, "POST",
          "/api/v1/auth/oidc/corp/authorize",
          """{"redirect_uri":"http://localhost:3000/done"}""")
        urlParams(s_(b \ "authorization_url"))
      }
      // wrong nonce in an otherwise-valid token
      val p1 = dance()
      scriptToken(idp, p1("nonce"), "graft-api", "s", "a@example.com",
        nonceOverride = Some("stolen-nonce"))
      val (c1, b1) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c","state":"${p1("state")}"}""")
      assert(c1 === 400 && s_(b1 \ "error").contains("nonce"))

      // token signed by a DIFFERENT issuer's key: signature refusal
      val evil = new FakeOidcIssuer("login-k1") // same kid, wrong key
      try {
        val p2 = dance()
        idp.onToken = { _ =>
          val now = System.currentTimeMillis() / 1000
          val tok = evil.jwt(
            s"""{"iss":"${idp.base}","aud":"graft-api","sub":"s",
               |"nonce":"${p2("nonce")}","exp":${now + 600}}""".stripMargin)
          (200, s"""{"access_token":"at","id_token":"$tok"}""")
        }
        val (c2, b2) = call(srv.baseUri, "POST",
          "/api/v1/auth/oidc/callback",
          s"""{"code":"c","state":"${p2("state")}"}""")
        assert(c2 === 400 &&
          s_(b2 \ "error").contains("ID token validation failed"))
      } finally evil.stop()

      // token-endpoint failure relays as exchange failure
      val p3 = dance()
      idp.onToken = _ => (400, """{"error":"invalid_grant"}""")
      val (c3, b3) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c","state":"${p3("state")}"}""")
      assert(c3 === 400 && s_(b3 \ "error").contains("token exchange failed"))
    }
  }

  test("provisioning: subject match updates role from groups; email links an existing password user; auto-create off refuses") {
    withPlane { (cp, srv, idp) =>
      cp.createOidcProvider("corp", "Corp", "generic", idp.base, "graft-api",
        roleMapping = Map("admins" -> "admin", "eng" -> "operator"),
        defaultRole = "viewer")
      def loginAs(sub: String, email: String, groups: Seq[String])
      : (Int, JValue) = {
        val (_, b) = call(srv.baseUri, "POST",
          "/api/v1/auth/oidc/corp/authorize",
          """{"redirect_uri":"http://localhost:3000/done"}""")
        val p = urlParams(s_(b \ "authorization_url"))
        scriptToken(idp, p("nonce"), "graft-api", sub, email, groups)
        call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
          s"""{"code":"c","state":"${p("state")}"}""")
      }
      // email link: a pre-existing password admin gains the OIDC bond
      val (admin, _, _) = cp.registerFirstAdmin(
        "root@example.com", "correct-horse-bs", "Root")
      val (c1, b1) = loginAs("sub-root", "root@example.com", Seq("admins"))
      assert(c1 === 200)
      assert(s_(b1 \ "user" \ "id") === admin.id) // linked, not duplicated
      assert(s_(b1 \ "user" \ "oidc_subject") === "sub-root")
      // subject re-login with CHANGED groups remaps the role
      val (c2, b2) = loginAs("sub-root", "root@example.com", Seq("eng"))
      assert(c2 === 200 && s_(b2 \ "user" \ "id") === admin.id)
      assert(s_(b2 \ "user" \ "role") === "operator")
      // no matching group → default role
      val (c3, b3) = loginAs("sub-new", "new@example.com", Seq("sales"))
      assert(c3 === 200 && s_(b3 \ "user" \ "role") === "viewer")
      // the linked password account still logs in by password
      val (c4, _) = call(srv.baseUri, "POST", "/api/v1/auth/login",
        """{"email":"root@example.com","password":"correct-horse-bs"}""")
      assert(c4 === 200)

      // UNVERIFIED email must never link an existing account — the
      // lax-IdP takeover: an attacker asserting the admin's email at
      // an IdP that does not verify it must not become the admin
      def loginUnverified(sub: String, email: String): (Int, JValue) = {
        val (_, b) = call(srv.baseUri, "POST",
          "/api/v1/auth/oidc/corp/authorize",
          """{"redirect_uri":"http://localhost:3000/done"}""")
        val p = urlParams(s_(b \ "authorization_url"))
        scriptToken(idp, p("nonce"), "graft-api", sub, email,
          emailVerified = false)
        call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
          s"""{"code":"c","state":"${p("state")}"}""")
      }
      val (cT, bT) = loginUnverified("sub-evil", "root@example.com")
      assert(cT === 403, JsonMethods.compact(JsonMethods.render(bT)))
      // ...and the admin's account kept its original OIDC bond
      assert(cp.listUsers().find(_.email == "root@example.com")
        .flatMap(_.oidcSubject) === Some("sub-root"))
      // an email already bound to a DIFFERENT SSO identity refuses
      // (no silent re-link, no duplicate-email second user)
      val (c6, _) = loginAs("sub-other", "root@example.com", Seq("eng"))
      assert(c6 === 403)

      // auto-create off: unknown subject refuses with 403
      cp.createOidcProvider("strict", "Strict", "generic", idp.base,
        "graft-api", autoCreateUsers = false)
      val (_, b5) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/strict/authorize",
        """{"redirect_uri":"http://localhost:3000/done"}""")
      val p5 = urlParams(s_(b5 \ "authorization_url"))
      scriptToken(idp, p5("nonce"), "graft-api", "sub-ghost",
        "ghost@example.com")
      val (c5, _) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c","state":"${p5("state")}"}""")
      assert(c5 === 403)

      // an IdP that omits the email claim must not auto-create: a
      // second such subject would collide with the first on email ""
      // and poison the password-login uniqueness lookup
      val noEmail = intercept[ControlPlane.Forbidden] {
        cp.oidcLogin(cp.getOidcProviderByName("corp").id,
          ControlPlane.OidcUserInfo("sub-no-email", "",
            emailVerified = false, "Ghost", "", "", Nil))
      }
      assert(noEmail.getMessage.contains("no email"))

      // provisioned users survive a restart with their OIDC bond
      val cp2 = new ControlPlane(cp.metaDir, connTest = _ => Right(1L))
      val again = cp2.oidcLogin(
        cp2.getOidcProviderByName("corp").id,
        ControlPlane.OidcUserInfo("sub-new", "new@example.com",
          emailVerified = true, "New", "", "", Seq("eng")))
      assert(again._1.email === "new@example.com" &&
        again._1.role === "operator")
    }
  }

  test("authorize refusals: unknown provider 404, disabled 400, bad redirect 400; deleted provider burns states") {
    withPlane { (cp, srv, idp) =>
      val (c0, _) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/ghost/authorize",
        """{"redirect_uri":"http://localhost:3000/x"}""")
      assert(c0 === 404)
      val p = cp.createOidcProvider("corp", "Corp", "generic", idp.base,
        "graft-api", enabled = false)
      val (c1, _) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/x"}""")
      assert(c1 === 400)
      cp.updateOidcProvider(p.id, "corp", "Corp", "generic", idp.base,
        "graft-api", None, Nil, "", enabled = Some(true))
      val (c2, _) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"ftp://files.example.com/x"}""")
      assert(c2 === 400)
      val (c3, _) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize", """{}""")
      assert(c3 === 400)
      // well-formed http(s) but NOT on the allowlist (the callback
      // response pairs a session token with the echoed redirect_uri,
      // so an open redirect is a token-exfiltration vector)
      val (c3b, _) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://evil.example.com/steal"}""")
      assert(c3b === 400)
      // the server's OWN origin needs no allowlist entry
      val (c3c, _) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        s"""{"redirect_uri":"${srv.baseUri}/app/done"}""")
      assert(c3c === 200)
      // an IdP redirect carrying '+' / '%' in the code must reach the
      // token exchange byte-identical (raw-query single decode)
      val (_, bd) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/x"}""")
      val pd = urlParams(s_(bd \ "authorization_url"))
      scriptToken(idp, pd("nonce"), "graft-api", "sub-enc", "enc@example.com")
      val (cd, _) = call(srv.baseUri, "GET",
        s"/api/v1/auth/oidc/callback?code=ab%2Bcd%25ef&state=${pd("state")}")
      assert(cd === 200)
      assert(idp.lastTokenParams("code") === "ab+cd%ef")

      // disabling a provider mid-dance burns its in-flight states:
      // the compromised-IdP cutoff admits nothing already in flight
      val (c4, b4) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/x"}""")
      assert(c4 === 200)
      cp.updateOidcProvider(p.id, "corp", "Corp", "generic", idp.base,
        "graft-api", None, Nil, "", enabled = Some(false))
      val (cDis, bDis) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/callback",
        s"""{"code":"c","state":"${s_(b4 \ "state")}"}""")
      assert(cDis === 400 &&
        s_(bDis \ "error").contains("invalid or expired"))
      cp.updateOidcProvider(p.id, "corp", "Corp", "generic", idp.base,
        "graft-api", None, Nil, "", enabled = Some(true))

      // a live state dies with its provider
      val (c4b, b4b) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/x"}""")
      assert(c4b === 200)
      cp.deleteOidcProvider(p.id)
      val (c5, b5) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c","state":"${s_(b4b \ "state")}"}""")
      assert(c5 === 400 && s_(b5 \ "error").contains("invalid or expired"))
    }
  }

  test("role mapping validates on create/update; userinfo fills claim gaps") {
    withPlane { (cp, srv, idp) =>
      intercept[ControlPlane.Invalid] {
        cp.createOidcProvider("bad", "Bad", "generic", idp.base, "a",
          roleMapping = Map("eng" -> "emperor"))
      }
      intercept[ControlPlane.Invalid] {
        cp.createOidcProvider("bad", "Bad", "generic", idp.base, "a",
          defaultRole = "emperor")
      }
      cp.createOidcProvider("corp", "Corp", "generic", idp.base,
        "graft-api", roleMapping = Map("eng" -> "operator"))
      // ID token with NO email/groups; userinfo supplies both — the
      // merge fills gaps (ref services/oidc.go:230-242)
      val (_, b) = call(srv.baseUri, "POST",
        "/api/v1/auth/oidc/corp/authorize",
        """{"redirect_uri":"http://localhost:3000/done"}""")
      val p = urlParams(s_(b \ "authorization_url"))
      idp.onToken = { _ =>
        val now = System.currentTimeMillis() / 1000
        val tok = idp.jwt(
          s"""{"iss":"${idp.base}","aud":"graft-api","sub":"sub-ui",
             |"nonce":"${p("nonce")}","exp":${now + 600}}""".stripMargin)
        (200, s"""{"access_token":"at-ui","id_token":"$tok"}""")
      }
      idp.onUserInfo = {
        case Some("at-ui") => (200,
          """{"sub":"sub-ui","email":"ui@example.com","name":"From UserInfo",
            |"groups":["eng"]}""".stripMargin)
        case _ => (401, "{}")
      }
      val (c1, b1) = call(srv.baseUri, "POST", "/api/v1/auth/oidc/callback",
        s"""{"code":"c","state":"${p("state")}"}""")
      assert(c1 === 200, JsonMethods.compact(JsonMethods.render(b1)))
      assert(s_(b1 \ "user" \ "email") === "ui@example.com")
      assert(s_(b1 \ "user" \ "role") === "operator")
      assert(s_(b1 \ "user" \ "name") === "From UserInfo")
    }
  }
}
