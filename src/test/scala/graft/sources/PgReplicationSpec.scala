package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.sys.process._

/** LIVE Postgres logical replication through the pure-JVM wire client:
  * a real postgres server (initdb'd into /tmp, wal_level=logical), real
  * DML through psql, a real pgoutput slot tailed over a socket — and
  * the stream runs UNCHANGED through the existing pipeline (Debezium
  * envelope → EnvelopeDecoder → current-state / lake merge). Cancels
  * (does not fail) when no postgres installation is present — the
  * environment-bound path of SURVEY S1, exercised for real when the
  * environment provides it. */
class PgReplicationSpec extends SparkTestBase
  with org.scalatest.BeforeAndAfterAll {

  private val Port = 54331
  private val DataDir = "/tmp/graft_pgspec"
  private val PgBin = "/usr/lib/postgresql/15/bin"

  private def sh(cmd: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(s => out.append(s).append('\n'),
      s => out.append(s).append('\n')))
    (code, out.toString)
  }

  private def psql(sql: String): String = {
    val (code, out) = sh(Seq("psql", "-h", "127.0.0.1", "-p", Port.toString,
      "-U", "graft", "-d", "postgres", "-X", "-tAc", sql))
    assert(code == 0, s"psql failed: $out")
    out.trim
  }

  /** Start a throwaway server; None when the environment lacks one. */
  private lazy val serverUp: Boolean = {
    val havePg = new java.io.File(s"$PgBin/initdb").canExecute &&
      sh(Seq("id", "-u", "postgres"))._1 == 0
    havePg && {
      sh(Seq("su", "postgres", "-c",
        s"$PgBin/pg_ctl -D $DataDir stop -m immediate")) // stale instance
      sh(Seq("rm", "-rf", DataDir))
      sh(Seq("mkdir", "-p", DataDir))
      sh(Seq("chown", "postgres", DataDir))
      val (c1, o1) = sh(Seq("su", "postgres", "-c",
        s"$PgBin/initdb -D $DataDir -U graft --auth=trust -E UTF8"))
      assert(c1 == 0, s"initdb: $o1")
      val conf = new java.io.FileWriter(s"$DataDir/postgresql.conf", true)
      conf.write("\nwal_level=logical\nmax_replication_slots=4\n" +
        "listen_addresses='127.0.0.1'\n")
      conf.close()
      val (c2, o2) = sh(Seq("su", "postgres", "-c",
        s"$PgBin/pg_ctl -D $DataDir -o '-p $Port' -l $DataDir/server.log start"))
      assert(c2 == 0, s"pg_ctl: $o2")
      Thread.sleep(800)
      psql("SELECT 1") == "1"
    }
  }

  override def afterAll(): Unit = {
    try sh(Seq("su", "postgres", "-c",
      s"$PgBin/pg_ctl -D $DataDir stop -m immediate"))
    finally super.afterAll()
  }

  private val payloadSchema = new StructType()
    .add("id", "long").add("name", "string").add("value", "double")

  private def decodeToState(envelopes: Seq[String]): Map[Long, (String, Double)] = {
    import spark.implicits._
    val raw = spark.createDataset(envelopes).toDF("json")
    val env = graft.ingest.EnvelopeDecoder.flattened(
      graft.ingest.EnvelopeDecoder.decode(raw, "json", payloadSchema))
    graft.ingest.Cdc.currentStateWithTruncate(env, Seq("id"))
      .select(col("id").cast("long"), col("name"), col("value").cast("double"))
      .as[(Long, String, Double)].collect()
      .map { case (i, n, v) => i -> (n, v) }.toMap
  }

  private def pgState(): Map[Long, (String, Double)] =
    psql("SELECT id, name, value FROM users ORDER BY id").split('\n')
      .filter(_.nonEmpty).map { line =>
        val Array(i, n, v) = line.split('|')
        i.toLong -> (n, v.toDouble)
      }.toMap

  test("live WAL tail: insert/update/delete stream through the whole pipeline") {
    assume(serverUp, "no usable postgres installation in this environment")
    psql("""CREATE TABLE users (
           |  id bigint primary key, name text, value double precision)""".stripMargin)
    psql("ALTER TABLE users REPLICA IDENTITY FULL")
    psql("CREATE PUBLICATION graft_pub FOR TABLE users")
    val wire = new PgWire("127.0.0.1", Port, "graft", "postgres")
    try {
      wire.connectReplication()
      wire.ensureSlot("graft_slot")
      // DML lands AFTER the slot exists, so the stream owns it whole
      psql("INSERT INTO users VALUES (1,'alice',10.5),(2,'bob',20.0),(3,'carol',30.25)")
      psql("UPDATE users SET value = 99.5, name = 'ALICE' WHERE id = 1")
      psql("DELETE FROM users WHERE id = 2")
      wire.startReplication("graft_slot", "graft_pub")
      val (envelopes, endLsn) = wire.drain()
      assert(envelopes.size === 5, s"expected 5 changes, got:\n${envelopes.mkString("\n")}")
      // the stream replays to EXACTLY the live table state, through the
      // standard decoder + current-state operators
      assert(decodeToState(envelopes) === pgState())
      assert(decodeToState(envelopes) ===
        Map(1L -> ("ALICE", 99.5), 3L -> ("carol", 30.25)))
      // envelope fidelity: ops, source metadata, numeric json values
      assert(envelopes.count(_.contains("\"op\":\"c\"")) === 3)
      assert(envelopes.count(_.contains("\"op\":\"u\"")) === 1)
      assert(envelopes.count(_.contains("\"op\":\"d\"")) === 1)
      assert(envelopes.forall(_.contains("\"table\":\"users\"")))
      assert(endLsn > 0L)
      wire.confirm(endLsn)
    } finally wire.close()
  }

  test("delivery contract: confirm advances the slot; unconfirmed batches replay") {
    assume(serverUp, "no usable postgres installation in this environment")
    psql("INSERT INTO users VALUES (4,'dave',40.0)")
    // drain WITHOUT confirming, reconnect: the batch replays
    val w1 = new PgWire("127.0.0.1", Port, "graft", "postgres")
    val first = try {
      w1.connectReplication()
      w1.startReplication("graft_slot", "graft_pub")
      w1.drain()._1
    } finally w1.close()
    assert(first.exists(_.contains("\"name\":\"dave\"")))
    val w2 = new PgWire("127.0.0.1", Port, "graft", "postgres")
    try {
      w2.connectReplication()
      w2.startReplication("graft_slot", "graft_pub")
      val (replayed, lsn2) = w2.drain()
      assert(replayed.exists(_.contains("\"name\":\"dave\"")),
        "unconfirmed batch did not replay")
      // persist-then-confirm: after the ack, only NEW changes arrive
      w2.confirm(lsn2)
      psql("INSERT INTO users VALUES (5,'erin',50.0)")
      val (fresh, _) = w2.drain()
      assert(fresh.exists(_.contains("\"name\":\"erin\"")))
      assert(!fresh.exists(_.contains("\"name\":\"dave\"")),
        "confirmed batch was re-delivered")
    } finally w2.close()
  }

  test("TOASTed values survive unrelated updates; special floats stay typed") {
    assume(serverUp, "no usable postgres installation in this environment")
    val wire = new PgWire("127.0.0.1", Port, "graft", "postgres")
    try {
      wire.connectReplication()
      wire.startReplication("graft_slot", "graft_pub")
      wire.drain() match { case (_, l) => if (l > 0) wire.confirm(l) }
      // a 4 KB value gets TOASTed; updating ONLY `value` ships the new
      // tuple with an unchanged-toast marker for `name` — the decoder
      // must backfill it from the old image, never null it out
      val big = "x" * 4096
      psql(s"INSERT INTO users VALUES (7, repeat('x', 4096), 7.0)")
      psql("UPDATE users SET value = 77.5 WHERE id = 7")
      // Postgres produces NaN/Infinity for float columns — they must
      // round-trip as typed doubles, not corrupt the envelope
      psql("INSERT INTO users VALUES (8, 'nan', 'NaN'::float8)")
      val (envelopes, _) = wire.drain()
      val st = decodeToState(envelopes)
      assert(st(7L)._1 === big, "toasted value lost through update")
      assert(st(7L)._2 === 77.5)
      assert(st(8L)._2.isNaN, s"NaN corrupted: ${st.get(8L)}")
      assert(st(8L)._1 === "nan")
    } finally wire.close()
  }

  test("TRUNCATE flows as the truncate marker the pipeline understands") {
    assume(serverUp, "no usable postgres installation in this environment")
    val wire = new PgWire("127.0.0.1", Port, "graft", "postgres")
    try {
      wire.connectReplication()
      wire.startReplication("graft_slot", "graft_pub")
      wire.drain() match { case (_, l) => if (l > 0) wire.confirm(l) }
      psql("TRUNCATE users")
      psql("INSERT INTO users VALUES (9,'zoe',90.0)")
      val (envelopes, _) = wire.drain()
      assert(envelopes.exists(_.contains("\"op\":\"t\"")))
      // truncate wipes state; the later insert survives — the SAME
      // semantics the stand-in e2e gates prove, now from a live WAL
      assert(decodeToState(envelopes.filter(e =>
        e.contains("\"op\":\"t\"") || e.contains("\"op\":\"c\"")))
        === Map(9L -> ("zoe", 90.0)))
    } finally wire.close()
  }

  test("control-plane start/stop drives a LIVE WAL→lake pipeline through the runner") {
    assume(serverUp, "no usable postgres installation in this environment")
    import graft.api.ControlPlane
    import graft.streaming.PgPipelineRunner
    psql("""CREATE TABLE ctl_users (
           |  id bigint primary key, name text, value double precision)""".stripMargin)
    psql("ALTER TABLE ctl_users REPLICA IDENTITY FULL")
    psql("CREATE PUBLICATION ctl_pub FOR TABLE ctl_users")
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-ctl-lake").toString
    val meta = java.nio.file.Files.createTempDirectory("graft-ctl-meta").toString
    val runner = new PgPipelineRunner(spark, lakeRoot,
      quietMs = 200, maxWaitMs = 1500L)
    val cp = new ControlPlane(meta, runner)
    val src = cp.createSource("live-pg", "", "127.0.0.1", Port, "postgres",
      "graft", publicationName = "ctl_pub")
    // the DEFAULT connection probe opens a real wire session
    assert(cp.testConnection(src.id).isRight)
    // ...and discovery sees the table over a plain session
    assert(ControlPlane.wireDiscoverTables(cp.getSource(src.id), Some("public"))
      .toOption.get.contains(("public", "ctl_users")))
    val p = cp.createPipeline("live-p1", src.id,
      Seq(("public", "ctl_users", true)))
    assert(cp.startPipeline(p.id).status === "running")
    psql("INSERT INTO ctl_users VALUES (1,'ada',1.5), (2,'bo',2.5)")
    psql("UPDATE ctl_users SET value = 99.0 WHERE id = 2")
    psql("DELETE FROM ctl_users WHERE id = 1")
    // the runner drains, decodes (schema INFERRED — no seed), routes and
    // merges; poll the lake until the state lands or time out loudly
    // processBatch lands each table as a raw-zone append commit (the
    // buffer shape, ref S8) — read it back and fold to current state
    val tableDir = s"$lakeRoot/${p.id}/tables/ctl_users"
    def lakeState(): Option[Map[Long, (String, Double)]] =
      try {
        import spark.implicits._
        val df = graft.ingest.CdcWriter.read(spark, tableDir)
        Some(graft.ingest.Cdc.currentStateWithTruncate(df, Seq("id"))
          .select(col("id").cast("long"), col("name"),
            col("value").cast("double"))
          .as[(Long, String, Double)].collect()
          .map { case (i, n, v) => i -> (n, v) }.toMap)
      } catch { case scala.util.control.NonFatal(_) => None }
    val deadline = System.currentTimeMillis() + 60000L
    var state = lakeState()
    while (!state.contains(Map(2L -> ("bo", 99.0))) &&
      System.currentTimeMillis() < deadline) {
      Thread.sleep(500L)
      state = lakeState()
    }
    assert(state === Some(Map(2L -> ("bo", 99.0))),
      s"live pipeline never landed the expected state (got $state, " +
        s"runner error: ${runner.errorOf(p.id)})")
    assert(cp.stopPipeline(p.id).status === "stopped")
    assert(runner.errorOf(p.id).isEmpty,
      s"runner recorded an error: ${runner.errorOf(p.id)}")
    // stopped means stopped: further DML no longer lands
    psql("INSERT INTO ctl_users VALUES (7,'ghost',0.0)")
    Thread.sleep(1500L)
    assert(lakeState() === Some(Map(2L -> ("bo", 99.0))))
  }

  test("live pipeline metrics: sampler scrapes the runner; HTTP routes serve them") {
    assume(serverUp, "no usable postgres installation in this environment")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.api.{ApiServer, ControlPlane, MetricsHub}
    import graft.streaming.PgPipelineRunner
    psql("""CREATE TABLE mx_users (
           |  id bigint primary key, name text, value double precision)""".stripMargin)
    psql("ALTER TABLE mx_users REPLICA IDENTITY FULL")
    psql("CREATE PUBLICATION mx_pub FOR TABLE mx_users")
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-mx-lake").toString
    val meta = java.nio.file.Files.createTempDirectory("graft-mx-meta").toString
    val runner = new PgPipelineRunner(spark, lakeRoot,
      quietMs = 200, maxWaitMs = 1500L)
    val cp = new ControlPlane(meta, runner)
    val store = new MetricsHub.Store()
    // the provider IS the runner's live view: pipelines that start and
    // stop come and go from the scrape set without reconfiguration
    val sampler = new MetricsHub.Sampler(store, () => runner.liveRegistries())
    val srv = new ApiServer(spark, controlPlane = Some(cp),
      metricsStore = Some(store))
    try {
      val src = cp.createSource("live-mx", "", "127.0.0.1", Port, "postgres",
        "graft", publicationName = "mx_pub")
      val p = cp.createPipeline("live-mx-p", src.id,
        Seq(("public", "mx_users", true)))
      assert(cp.startPipeline(p.id).status === "running")
      psql("INSERT INTO mx_users VALUES (1,'ada',1.5), (2,'bo',2.5), (3,'cy',3.5)")
      val http = java.net.http.HttpClient.newHttpClient()
      def get(path: String): (Int, JValue) = {
        val r = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(srv.baseUri + path)).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), JsonMethods.parse(r.body()))
      }
      def lng(v: JValue): Long = v match { case JInt(n) => n.toLong; case _ => -1L }
      // scrape-and-check until the drain lands (ticks driven here so the
      // test never waits on the daemon's interval)
      val deadline = System.currentTimeMillis() + 60000L
      def metricsBody(): JValue = { sampler.tickNow(); get(
        s"/api/v1/pipelines/${p.id}/metrics")._2 \ "metrics" }
      var m = metricsBody()
      while (lng(m \ "events_processed") < 3 &&
        System.currentTimeMillis() < deadline) { Thread.sleep(500L); m = metricsBody() }
      assert(lng(m \ "events_processed") >= 3,
        s"metrics never saw the inserts (runner error: ${runner.errorOf(p.id)})")
      assert((m \ "status") === JString("running"))
      assert(lng(m \ "iceberg_commits") >= 1)
      assert(lng(m \ "iceberg_bytes_written") > 0)
      m \ "uptime" match {
        case JString(u) => assert(u.matches("""\d+[hms].*|\d+s"""))
        case other      => fail(s"running pipeline reported no uptime: $other")
      }
      val tbl = (m \ "tables") match {
        case JArray(xs) => xs.find(t => (t \ "table") == JString("mx_users"))
        case _          => None
      }
      assert(tbl.exists(t => lng(t \ "events_processed") >= 3),
        s"per-table row missing or empty: $tbl")
      // history: the ticks above are real samples on the wall clock
      val (hc, hb) = get(s"/api/v1/pipelines/${p.id}/metrics/history?range=15m")
      assert(hc === 200)
      val pts = (hb \ "history" \ "data_points") match {
        case JArray(xs) => xs; case _ => Nil }
      assert(pts.nonEmpty, "history served no data points after live samples")
      assert(cp.stopPipeline(p.id).status === "stopped")
    } finally { sampler.close(); srv.close() }
  }

  test("SCRAM-SHA-256: the wire client authenticates a scram-only replication user") {
    assume(serverUp, "no usable postgres installation in this environment")
    // PG 15 stores passwords scram-sha-256 by default; an hba rule
    // PREPENDED for this user forces the SASL exchange (everything else
    // keeps the suite's trust auth)
    psql("CREATE ROLE scram_rep LOGIN REPLICATION PASSWORD 'graft-scram-pw'")
    val hba = s"$DataDir/pg_hba.conf"
    val existing = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(hba)), "UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(hba),
      (s"host all scram_rep 127.0.0.1/32 scram-sha-256\n" + existing)
        .getBytes("UTF-8"))
    psql("SELECT pg_reload_conf()")
    Thread.sleep(300)
    // wrong password: the exchange fails with Postgres' own 28P01
    val bad = new PgWire("127.0.0.1", Port, "scram_rep", "postgres",
      password = Some("wrong"))
    try {
      val e = intercept[PgWire.PgError](bad.connectReplication())
      assert(e.sqlState == "28P01", s"expected auth failure, got $e")
    } finally bad.close()
    // no password at all: refused loudly client-side, before any send
    val none = new PgWire("127.0.0.1", Port, "scram_rep", "postgres")
    try intercept[IllegalStateException](none.connectReplication())
    finally none.close()
    // right password: the full SASL round-trip (including the server-
    // signature verification) completes and the session can run real
    // replication commands
    val wire = new PgWire("127.0.0.1", Port, "scram_rep", "postgres",
      password = Some("graft-scram-pw"))
    try {
      wire.connectReplication()
      val sys = wire.command("IDENTIFY_SYSTEM")
      assert(sys.nonEmpty && sys.head.size >= 4, s"IDENTIFY_SYSTEM: $sys")
    } finally wire.close()
  }

  test("cleartext password auth is refused by default; explicit opt-in honors it") {
    assume(serverUp, "no usable postgres installation in this environment")
    psql("CREATE ROLE clear_rep LOGIN REPLICATION PASSWORD 'clear-pw'")
    val hba = s"$DataDir/pg_hba.conf"
    val existing = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(hba)), "UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(hba),
      (s"host all clear_rep 127.0.0.1/32 password\n" + existing)
        .getBytes("UTF-8"))
    psql("SELECT pg_reload_conf()")
    Thread.sleep(300)
    // default: the client refuses to mail the raw credential over a
    // plaintext socket — a MITM downgrading from SCRAM gets nothing
    val refused = new PgWire("127.0.0.1", Port, "clear_rep", "postgres",
      password = Some("clear-pw"))
    try {
      val e = intercept[IllegalStateException](refused.connectReplication())
      assert(e.getMessage.contains("cleartext"), e.getMessage)
    } finally refused.close()
    // explicit opt-in: the exchange completes and the session works
    val optIn = new PgWire("127.0.0.1", Port, "clear_rep", "postgres",
      password = Some("clear-pw"), allowCleartextPassword = true)
    try {
      optIn.connectReplication()
      assert(optIn.command("IDENTIFY_SYSTEM").nonEmpty)
    } finally optIn.close()
    // opt-in with a wrong password still fails with Postgres' own error
    val bad = new PgWire("127.0.0.1", Port, "clear_rep", "postgres",
      password = Some("wrong"), allowCleartextPassword = true)
    try {
      val e = intercept[PgWire.PgError](bad.connectReplication())
      assert(e.sqlState == "28P01", s"expected auth failure, got $e")
    } finally bad.close()
  }

  test("a crashed drain loop reads as status error; a clean restart clears it") {
    assume(serverUp, "no usable postgres installation in this environment")
    import graft.api.ControlPlane
    import graft.streaming.PgPipelineRunner
    psql("""CREATE TABLE rst_users (
           |  id bigint primary key, name text)""".stripMargin)
    psql("ALTER TABLE rst_users REPLICA IDENTITY FULL")
    psql("CREATE PUBLICATION rst_pub FOR TABLE rst_users")
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-rst-lake").toString
    val meta = java.nio.file.Files.createTempDirectory("graft-rst-meta").toString
    val runner = new PgPipelineRunner(spark, lakeRoot,
      quietMs = 200, maxWaitMs = 1500L)
    val cp = new ControlPlane(meta, runner)
    val src = cp.createSource("rst-pg", "", "127.0.0.1", Port, "postgres",
      "graft", publicationName = "rst_pub")
    val p = cp.createPipeline("rst-p1", src.id, Seq(("public", "rst_users", true)))
    assert(cp.startPipeline(p.id).status === "running")
    // kill the walsender serving our slot: the drain loop dies with a
    // server error, which must surface as status `error` on refresh
    val slot = "graft_" + p.id.toLowerCase.replaceAll("[^a-z0-9_]", "")
    psql("SELECT pg_terminate_backend(active_pid) FROM pg_replication_slots " +
      s"WHERE slot_name = '$slot' AND active_pid IS NOT NULL")
    val deadline = System.currentTimeMillis() + 30000L
    while (runner.errorOf(p.id).isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(250L)
    assert(runner.errorOf(p.id).isDefined, "drain-loop crash never recorded")
    assert(cp.refreshStatus(p.id).status === "error")
    // restart: the run error belongs to the DEAD run — a clean restart
    // must come back healthy, not flip to error on the next refresh
    assert(cp.startPipeline(p.id).status === "running")
    assert(runner.errorOf(p.id).isEmpty,
      s"stale run error survived restart: ${runner.errorOf(p.id)}")
    assert(cp.refreshStatus(p.id).status === "running")
    // and the restarted loop actually lands data
    psql("INSERT INTO rst_users VALUES (5, 'eve')")
    val tableDir = s"$lakeRoot/${p.id}/tables/rst_users"
    def landed(): Boolean =
      try graft.ingest.CdcWriter.read(spark, tableDir)
        .filter(col("id").cast("long") === 5L).count() > 0
      catch { case scala.util.control.NonFatal(_) => false }
    val d2 = System.currentTimeMillis() + 60000L
    while (!landed() && System.currentTimeMillis() < d2) Thread.sleep(500L)
    assert(landed(), s"restarted pipeline never landed data " +
      s"(runner error: ${runner.errorOf(p.id)})")
    assert(cp.stopPipeline(p.id).status === "stopped")
    assert(runner.errorOf(p.id).isEmpty)
  }
}
