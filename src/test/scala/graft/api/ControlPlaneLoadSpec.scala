package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Corrupt control files fail loudly: a missing or mistyped required
  * field, or a file of the wrong JSON shape, refuses the load with an
  * `IllegalStateException` naming the file, the entity and the field —
  * never a store quietly loaded with "" / 0 / empty defaults. The
  * legacy fields earlier releases did not write still load with their
  * documented defaults. Inputs are rows of the committed v1 fixture
  * with one thing broken. */
class ControlPlaneLoadSpec extends AnyFunSuite {

  private val fixtureMeta = Paths.get("src/test/resources/control_fixture_v1/meta")

  private def fixtureFile(name: String): JValue = JsonMethods.parse(
    new String(Files.readAllBytes(fixtureMeta.resolve(name)), UTF_8))

  /** A control dir holding only `name`, with `content` as its JSON. */
  private def dirWith(name: String, content: JValue): Path = {
    val dir = Files.createTempDirectory("graft-ctrl-load")
    Files.write(dir.resolve(name),
      JsonMethods.compact(JsonMethods.render(content)).getBytes(UTF_8))
    dir
  }

  private def firstRow(name: String): (String, JObject) =
    fixtureFile(name) match {
      case JArray((o: JObject) :: _) =>
        (o \ "id" match { case JString(s) => s; case _ => "" }, o)
      case other => fail(s"$name is not an array of objects: $other")
    }

  private def loadFails(dir: Path, mentions: String*): Unit = {
    val e = intercept[IllegalStateException] {
      ControlPlaneFixture.open(dir.toString, () => ControlPlaneFixture.RenderMs)
    }
    mentions.foreach(m => assert(e.getMessage.contains(m),
      s"'${e.getMessage}' does not mention '$m'"))
  }

  test("a mistyped field refuses the load: sources.json port \"x\"") {
    val (id, row) = firstRow("sources.json")
    val bad = row.transformField { case ("port", _) => ("port", JString("x")) }
    loadFails(dirWith("sources.json", JArray(List(bad))),
      "sources.json", id, "port")
  }

  test("a missing required field refuses the load: a pipelines.json row without id") {
    val (_, row) = firstRow("pipelines.json")
    val bad = JObject(row.obj.filterNot(_._1 == "id"))
    loadFails(dirWith("pipelines.json", JArray(List(bad))),
      "pipelines.json", "id")
  }

  test("a file of the wrong JSON shape refuses the load: users.json as an object") {
    val (_, row) = firstRow("users.json")
    loadFails(dirWith("users.json", row), "users.json", "array")
  }

  test("a null required number refuses the load: scaling_state.json current_replicas") {
    val JObject((policyId, st: JObject) :: _) = fixtureFile("scaling_state.json")
    val bad = st.transformField {
      case ("current_replicas", _) => ("current_replicas", JNull)
    }
    loadFails(dirWith("scaling_state.json", JObject(policyId -> bad)),
      "scaling_state.json", policyId, "current_replicas")
  }

  test("a truncated file refuses the load, naming it") {
    val dir = Files.createTempDirectory("graft-ctrl-load")
    Files.write(dir.resolve("channels.json"), """[{"id":"c1","na""".getBytes(UTF_8))
    loadFails(dir, "channels.json", "not valid JSON")
  }

  test("the tolerated legacy fields may be absent and load with their defaults") {
    val users = fixtureFile("users.json") match {
      case JArray(rows) => JArray(rows.map {
        case o: JObject => JObject(o.obj.filterNot { case (k, _) =>
          k == "is_active" || k.startsWith("oidc_") })
        case other => other
      })
      case other => fail(s"users.json is not an array: $other")
    }
    val providers = fixtureFile("oidc_providers.json") match {
      case JArray(rows) => JArray(rows.map {
        case o: JObject => JObject(o.obj.filterNot(_._1 == "default_role"))
        case other => other
      })
      case other => fail(s"oidc_providers.json is not an array: $other")
    }
    val dir = dirWith("users.json", users)
    Files.write(dir.resolve("oidc_providers.json"),
      JsonMethods.compact(JsonMethods.render(providers)).getBytes(UTF_8))
    val cp = ControlPlaneFixture.open(dir.toString,
      () => ControlPlaneFixture.RenderMs)
    assert(cp.listUsers().size === 3)
    cp.listUsers().foreach { u =>
      assert(u.isActive && u.oidcProviderId.isEmpty && u.oidcSubject.isEmpty &&
        u.oidcGroups.isEmpty, s"$u")
    }
    assert(cp.listOidcProviders().map(_.defaultRole) === Seq("viewer", "viewer"))
  }
}
