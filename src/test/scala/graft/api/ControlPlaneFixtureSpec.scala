package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** On-disk compatibility of the control plane: a control dir written by
  * an earlier release (`src/test/resources/control_fixture_v1`, every
  * persisted kind populated — see [[ControlPlaneFixture]]) loads to the
  * same entities, rendered byte-identically through the API's JSON
  * functions, and every kind survives a persist-then-reload round trip. */
class ControlPlaneFixtureSpec extends AnyFunSuite {
  import ControlPlaneFixture._

  private val fixture = Paths.get("src/test/resources/control_fixture_v1")

  private def copyOfFixture(): Path = {
    val dir = Files.createTempDirectory("graft-ctrl-fixture")
    Files.list(fixture.resolve("meta")).forEach(f =>
      Files.copy(f, dir.resolve(f.getFileName)))
    dir
  }

  private def tokens(): (Seq[String], Seq[String]) = readTokens(
    new String(Files.readAllBytes(fixture.resolve("tokens.json")), UTF_8))

  test("the fixture holds all 19 control files") {
    val names = Files.list(fixture.resolve("meta")).toArray.toSeq
      .map(_.asInstanceOf[Path].getFileName.toString).sorted
    assert(names === Seq("alert_history.json", "alert_instances.json",
      "alert_silences.json", "alerts.json", "api_keys.json", "channels.json",
      "idle_state.json", "oidc_providers.json", "oidc_states.json",
      "pipelines.json", "query_scaling_history.json",
      "query_scaling_policies.json", "query_scaling_state.json",
      "scaling_history.json", "scaling_policies.json", "scaling_state.json",
      "sessions.json", "sources.json", "users.json"))
  }

  test("the fixture loads and renders byte-identically to its recorded views") {
    val (sessions, keys) = tokens()
    val cp = open(copyOfFixture().toString, () => RenderMs)
    val expected = new String(
      Files.readAllBytes(fixture.resolve("rendered.txt")), UTF_8)
    val got = render(cp, sessions, keys)
    val diff = expected.linesIterator.zipAll(got.linesIterator, "<none>", "<none>")
      .filter { case (a, b) => a != b }.take(3).toList
    assert(diff.isEmpty, s"first differing lines (expected, got): $diff")
    assert(got === expected)
  }

  test("every kind survives a persist-then-reload round trip") {
    val (sessions, keys) = tokens()
    val dir = copyOfFixture().toString
    var now = RenderMs
    val cp = open(dir, () => now)
    // one write per kind, so every file is re-encoded by this build
    now += 1000L
    val src = cp.listSources().head
    cp.createSource("rt-src", "", "rt.example", 0, "rt", "rt", "rt-password")
    val pipe = cp.listPipelines().head
    cp.updatePipeline(pipe.id, pipe.name)
    val rule = cp.listAlertRules().head
    cp.createChannel("rt-chan", "webhook", config = Map("url" -> "http://x"))
    cp.createAlertRule("rt-rule", "m", "lt", 2.0)
    cp.recordAlertFired(rule.id, "rt|series", Some(1.5), now)
    cp.createSilence(Map("a" -> "b"), now, now + 1000L, "rt")
    val idp = cp.createOidcProvider("rt-idp", "", "okta",
      "https://rt.example", "rt-client", "rt-secret")
    cp.createOidcState(idp.id, "http://localhost/rt")
    cp.createApiKey("rt-key")
    cp.loginUser("admin@example.com", "fixture-password")
    val zero = cp.listScaledToZero().head.policyId
    cp.wakeScalingPolicy(zero, "manual")
    cp.createScalingPolicy("rt-pol", "nodes", 1, 2)
    val q = cp.listQueryScalingPolicies().filter(_.enabled).head
    cp.evaluateQueryScalingPolicy(q.id,
      Some(graft.observe.Scaling.QueryMetrics(50, 1, 0, None)))
    cp.createQueryScalingPolicy("rt-q", "trino")
    assert(cp.getSource(src.id).password === "pw-fixture-secret")
    val before = render(cp, sessions, keys)
    val after = render(open(dir, () => now), sessions, keys)
    assert(after === before)
    // the writes above really reached every file
    Files.list(fixture.resolve("meta")).forEach { f =>
      val name = f.getFileName.toString
      assert(!java.util.Arrays.equals(Files.readAllBytes(f),
        Files.readAllBytes(Paths.get(dir, name))), s"$name was not rewritten")
    }
  }
}
