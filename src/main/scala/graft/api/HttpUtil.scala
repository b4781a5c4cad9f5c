package graft.api

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import com.sun.net.httpserver.HttpExchange
import org.json4s._
import org.json4s.jackson.JsonMethods

/** HTTP plumbing shared by the engine's two servers
  * ([[ApiServer]], [[graft.lake.RestCatalogServer]]): one bearer
  * check, one JSON responder, one body parser — a hardening fix to
  * any of these reaches both services. */
object HttpUtil {

  /** Constant-time bearer comparison — timing must not leak how much
    * of the token matched. */
  def bearerOk(ex: HttpExchange, token: String): Boolean = {
    val got = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    val want = s"Bearer $token"
    java.security.MessageDigest.isEqual(got.getBytes(UTF_8), want.getBytes(UTF_8))
  }

  /** The presented bearer credential, verbatim (for hash-keyed lookups
    * like API-key validation — the comparison happens over digests,
    * never over the raw value). */
  def bearerToken(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer "))
      .map(_.substring("Bearer ".length))

  /** Query parameter `name`: the RAW query split on '&', the first
    * `name=` value decoded exactly once. `getQuery` pre-decodes percent
    * escapes, so splitting it cuts a value that carries an encoded '&'
    * short, and decoding its output again corrupts '+' and '%'. */
  def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&').toSeq)
      .collectFirst { case kv if kv.startsWith(s"$name=") =>
        java.net.URLDecoder.decode(kv.substring(name.length + 1), UTF_8) }

  /** Request body as JSON: empty body → `Some(JObject())`, malformed
    * JSON → None (the caller maps it onto its own 400 shape). */
  def readJsonBody(ex: HttpExchange): Option[JValue] = {
    val raw = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    if (raw.trim.isEmpty) Some(JObject())
    else try Some(JsonMethods.parse(raw)) catch { case NonFatal(_) => None }
  }

  /** One JSON response; HEAD requests get headers only. */
  def respondJson(ex: HttpExchange, status: Int, body: JObject): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(body)).getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (ex.getRequestMethod == "HEAD") {
      ex.sendResponseHeaders(status, -1)
    } else {
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}
