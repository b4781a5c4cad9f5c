package graft

import org.apache.spark.sql.SparkSession

import graft.api.{AlertManager, ApiServer, ControlPlane, ScalingManager}
import graft.lake.{GraftCatalog, RestCatalogServer}
import graft.streaming.PgPipelineRunner

/** The engine's deployable entry point — the Spark-side counterpart of
  * the reference's service binaries (ref cmd/philotes-api/main.go: the
  * management + query API; cmd/philotes-worker/main.go: the CDC worker
  * wired source → pipeline → Iceberg catalog):
  *
  *   - ONE SparkSession (the worker and the query layer share the
  *     engine — where the reference runs Trino beside its worker,
  *     Spark is both);
  *   - the SQL catalog registered over the warehouse;
  *   - [[ControlPlane]] + [[PgPipelineRunner]]: pipeline CRUD whose
  *     `start` actuates a REAL WAL-tailing drain into the lake;
  *   - [[ApiServer]]: the `/query` group, `/api/v1` control plane,
  *     `/metrics` exposition;
  *   - [[RestCatalogServer]]: the Iceberg REST catalog protocol over
  *     the same warehouse, so external engines and the reference's own
  *     client can load tables and commit appends.
  *
  * Configuration is environment-first like the reference's
  * `config.Load` (ref internal/config): `GRAFT_WAREHOUSE` (or arg 1,
  * required), `GRAFT_API_PORT` / `GRAFT_REST_PORT` (default ephemeral),
  * `GRAFT_TOKEN` (bearer auth on both servers when set),
  * `GRAFT_OPEN_METRICS` / `GRAFT_METRICS_TOKEN` (scrape auth: opt the
  * `/metrics` endpoint out of bearer auth, or give the scraper its
  * own token),
  * `GRAFT_PREFIX` (REST warehouse prefix, default `graft`),
  * `GRAFT_OIDC_ISSUER` / `GRAFT_OIDC_AUDIENCE` (set together: the API
  * also accepts RS256 JWTs from this issuer for this audience,
  * JWKS-verified — [[graft.api.OidcValidator]]),
  * `GRAFT_ENCRYPTION_KEY` (base64 32 bytes, `graft.Cli keygen` mints
  * one — control-plane credentials encrypt at rest when set),
  * `GRAFT_MASTER` (default `local[*]` — on a cluster, submit with the
  * real master and this is ignored by spark-submit's precedence).
  * Both servers bind loopback; production fronting (TLS, external
  * exposure) belongs to a proxy, the same posture as the reference's
  * deployment charts.
  *
  * Prints ONE JSON line with the bound endpoints, then serves until
  * SIGTERM/SIGINT (a shutdown hook closes servers, stops pipelines
  * through the control plane's runner, and stops Spark). */
object Serve {

  /** Everything [[main]] starts, closable for tests. */
  final class Handle(val spark: SparkSession, val api: ApiServer,
                     val rest: RestCatalogServer,
                     val controlPlane: ControlPlane,
                     val alerts: Option[AlertManager] = None,
                     val scaling: Option[ScalingManager] = None,
                     val metricsSampler: Option[graft.api.MetricsHub.Sampler] = None)
    extends AutoCloseable {
    override def close(): Unit = {
      alerts.foreach(_.close()) // stop evaluating before teardown
      scaling.foreach(_.close())
      metricsSampler.foreach(_.close())
      // the API goes down FIRST so no new actuation can race the sweep
      // (a start accepted after the pipeline snapshot would leave its
      // drain loop alive past Spark's stop); then every live pipeline
      // drains — a 'starting' one is retried briefly until it settles
      // into a stoppable state
      api.close()
      var waited = 0
      while ({
        val live = controlPlane.listPipelines()
          .filter(p => p.status == "running" || p.status == "starting")
        live.foreach { p =>
          try controlPlane.stopPipeline(p.id)
          catch { case _: Throwable => () } // 'starting' → retry below
        }
        waited += 1
        live.nonEmpty && waited < 20 && {
          val settling = controlPlane.listPipelines()
            .exists(p => p.status == "running" || p.status == "starting")
          if (settling) Thread.sleep(250)
          settling
        }
      }) ()
      rest.close()
    }
  }

  /** Wire the service over an EXISTING session (tests pass theirs). */
  def start(spark: SparkSession, warehouse: String,
            token: Option[String] = None, prefix: String = "graft",
            apiPort: Int = 0, restPort: Int = 0,
            catalogName: String = "graft",
            controlDir: Option[String] = None,
            openMetrics: Boolean = false,
            metricsToken: Option[String] = None,
            alertIntervalMs: Long = 15000L,
            scalingIntervalMs: Long = 30000L,
            metricsSampleMs: Long = 5000L,
            oidcIssuer: Option[String] = None,
            oidcAudience: Option[String] = None): Handle = {
    spark.conf.set(s"spark.sql.catalog.$catalogName", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalogName.warehouse", warehouse)
    // control-plane state is a LOCAL directory (ControlPlane persists
    // via java.nio): deriving it from an object-store warehouse URI
    // would silently create a bogus local dir named "s3a:..." under
    // the CWD — refuse loudly and demand an explicit location instead
    val meta = controlDir.getOrElse {
      // Hadoop Path parses paths URI.create would reject (spaces)
      val scheme = Option(
        new org.apache.hadoop.fs.Path(warehouse).toUri.getScheme)
      if (scheme.exists(_ != "file"))
        throw new IllegalArgumentException(
          s"warehouse '$warehouse' is not a local path — set " +
            "GRAFT_CONTROL_DIR to a local directory for control-plane state")
      // beside the warehouse, never inside it — a foreign directory
      // under the warehouse root would surface as a phantom namespace
      // in SHOW NAMESPACES and the REST listing (every trailing slash
      // strips, or "wh//" would nest _control back inside)
      s"${warehouse.replaceAll("/+$", "")}_control"
    }
    val runner = new PgPipelineRunner(spark, warehouse)
    val cp = new ControlPlane(meta, runner)
    // OIDC bearer validation needs BOTH the issuer and the expected
    // audience — one without the other is a misconfiguration, never a
    // silently-open or silently-closed API
    val oidc = (oidcIssuer, oidcAudience) match {
      case (Some(iss), Some(aud)) => Some(new graft.api.OidcValidator(iss, aud))
      case (None, None)           => None
      case _ => throw new IllegalArgumentException(
        "GRAFT_OIDC_ISSUER and GRAFT_OIDC_AUDIENCE must be set together")
    }
    // per-pipeline metrics (ref server.go:326-327): the store backs the
    // /pipelines/:id/metrics routes; the sampler scrapes each live
    // pipeline's scoped registry (0 disables the scrape loop — the
    // routes still answer, from whatever samples exist)
    val metricsStore = new graft.api.MetricsHub.Store()
    val sampler =
      if (metricsSampleMs <= 0L) None
      else Some(new graft.api.MetricsHub.Sampler(metricsStore,
        () => runner.liveRegistries(), intervalMs = metricsSampleMs).start())
    val api = new ApiServer(spark, authToken = token,
      controlPlane = Some(cp), bindPort = apiPort,
      openMetrics = openMetrics, metricsToken = metricsToken,
      oidc = oidc, metricsStore = Some(metricsStore))
    val rest = new RestCatalogServer(spark, warehouse, prefix = prefix,
      authToken = token, bindPort = restPort)
    // the alerting manager loop (ref internal/alerting/manager.go):
    // store-backed rules evaluated against the process registry on the
    // reference's 15 s default cadence; 0 disables
    val alerts =
      if (alertIntervalMs <= 0L) None
      else {
        val mgr = new AlertManager(cp, intervalMs = alertIntervalMs)
        mgr.start()
        Some(mgr)
      }
    // the scaling evaluation loop (ref scaling/manager.go's ticker,
    // 30 s default for both families): every enabled policy evaluated
    // against the process registry / the engine's live query pressure
    val scaling =
      if (scalingIntervalMs <= 0L) None
      else {
        val mgr = new ScalingManager(cp,
          queryMetricsSource =
            () => Some(ScalingManager.sparkQueryMetrics(spark)),
          intervalMs = scalingIntervalMs)
        mgr.start()
        Some(mgr)
      }
    new Handle(spark, api, rest, cp, alerts, scaling, sampler)
  }

  /** The master `main` sets, if any. Application-code `spark.master`
    * has the HIGHEST precedence — setting it unconditionally would
    * silently turn `spark-submit --master yarn` into local[*]. Only an
    * explicit `GRAFT_MASTER` overrides an existing `spark.master`; a
    * bare JVM launch (no spark.master anywhere) defaults to local[*]. */
  def master(env: collection.Map[String, String],
             props: collection.Map[String, String]): Option[String] =
    env.get("GRAFT_MASTER")
      .orElse(if (props.contains("spark.master")) None else Some("local[*]"))

  def main(args: Array[String]): Unit = {
    val env = sys.env
    val warehouse = env.get("GRAFT_WAREHOUSE").orElse(args.headOption)
      .getOrElse(throw new IllegalArgumentException(
        "GRAFT_WAREHOUSE (or the first argument) must name the warehouse directory"))
    def port(key: String): Int = env.get(key).map { v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a port number, got '$v'"))
    }.getOrElse(0)
    // interval knobs fail LOUDLY on a malformed value: "0 " meant to
    // DISABLE a loop silently falling back to the default would leave
    // that loop running
    def intervalMs(key: String, default: Long): Long = env.get(key).map { v =>
      v.toLongOption.map(_ * 1000L).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be a number of seconds, got '$v'"))
    }.getOrElse(default)
    val spark = EngineSession(Seq(
      "spark.app.name" -> "graft-serve",
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"),
    ) ++ master(env, sys.props).map("spark.master" -> _): _*)
    spark.sparkContext.setLogLevel("WARN")
    val handle = start(spark, warehouse,
      token = env.get("GRAFT_TOKEN"),
      prefix = env.getOrElse("GRAFT_PREFIX", "graft"),
      apiPort = port("GRAFT_API_PORT"), restPort = port("GRAFT_REST_PORT"),
      controlDir = env.get("GRAFT_CONTROL_DIR"),
      // scrape auth: GRAFT_OPEN_METRICS=true opts into the promhttp
      // unauthenticated convention; GRAFT_METRICS_TOKEN scopes a
      // dedicated scraper credential instead
      openMetrics = env.get("GRAFT_OPEN_METRICS").exists(_.toBoolean),
      metricsToken = env.get("GRAFT_METRICS_TOKEN"),
      // GRAFT_ALERT_INTERVAL_SECONDS: evaluation cadence (0 disables;
      // the reference's default is 15 s)
      alertIntervalMs = intervalMs("GRAFT_ALERT_INTERVAL_SECONDS", 15000L),
      // GRAFT_SCALING_INTERVAL_SECONDS: scaling evaluation cadence
      // (0 disables; the reference's default is 30 s for both the
      // generic and the query-engine families)
      scalingIntervalMs = intervalMs("GRAFT_SCALING_INTERVAL_SECONDS", 30000L),
      // GRAFT_METRICS_SAMPLE_SECONDS: per-pipeline metrics scrape
      // cadence feeding /pipelines/:id/metrics (0 disables the loop)
      metricsSampleMs = intervalMs("GRAFT_METRICS_SAMPLE_SECONDS", 5000L),
      // GRAFT_OIDC_ISSUER + GRAFT_OIDC_AUDIENCE: accept JWTs minted by
      // this issuer for this audience as API credentials (RS256,
      // JWKS-verified — ref internal/oidc/client.go)
      oidcIssuer = env.get("GRAFT_OIDC_ISSUER"),
      oidcAudience = env.get("GRAFT_OIDC_AUDIENCE"))
    val done = new java.util.concurrent.CountDownLatch(1)
    // register ABOVE Spark's own SparkContext-stop hook (Hadoop's
    // manager runs by descending priority; Spark's hook sits at ~40) so
    // the pipeline drain still has a live SparkContext to flush through
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = {
          handle.close()
          spark.stop()
          done.countDown()
        }
      }, 100)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    println(JsonMethods.compact(JsonMethods.render(JObject(
      "api" -> JString(handle.api.baseUri),
      "catalog" -> JString(s"${handle.rest.baseUri}/catalog/v1"),
      "warehouse" -> JString(warehouse)))))
    done.await()
  }
}
