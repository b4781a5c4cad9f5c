package graft.lake

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.model.FieldIds
import RestCatalogClient._

/** The Iceberg REST catalog layer end-to-end: server over a
  * [[SnapshotLog]] warehouse, client speaking the reference's wire
  * shapes (ref internal/iceberg/catalog/rest.go), and the
  * [[GraftRestCatalog]] Spark plugin reading REST-coordinated tables
  * through the same manifest scan path as the directory catalog —
  * metadata over HTTP, manifests and data from storage. */
class RestCatalogSpec extends SparkTestBase {

  private val Day = graft.model.SchemaBuilder.partitionColumn

  private def fixture(): (RestCatalogServer, RestCatalogClient, String) = {
    val wh = Files.createTempDirectory("graft-rest").toString
    val srv = new RestCatalogServer(spark, wh, prefix = "lake",
      authToken = Some("s3cr3t"))
    val cli = new RestCatalogClient(srv.baseUri, "lake", token = Some("s3cr3t"))
    (srv, cli, wh)
  }

  private val schema = StructType(Seq(
    FieldIds.withId(StructField("id", LongType, nullable = false), 1),
    FieldIds.withId(StructField("v", DoubleType), 2),
    FieldIds.withId(StructField(Day, StringType), 3)))

  /** Write one parquet data file of (id, v, day) rows under the table
    * location and return its registration entry. */
  private def writeFile(tableDir: String, name: String,
                        rows: Seq[(Long, Double, String)]): RestDataFile = {
    import spark.implicits._
    val stage = Files.createTempDirectory("graft-rest-stage").toString
    rows.toDF("id", "v", Day).coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stage))
      .filter(st => st.getPath.getName.endsWith(".parquet")).head
    val dest = new Path(tableDir, s"data/$name")
    fs.mkdirs(dest.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs, dest, false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stage), true)
    val size = fs.getFileStatus(dest).getLen
    val days = rows.map(_._3).distinct
    RestDataFile(s"data/$name", rows.size.toLong, size,
      partition = if (days.size == 1) Seq(Day -> days.head) else Nil)
  }

  test("namespace lifecycle: create, exists, list, 404s, non-empty drop refused") {
    val (srv, cli, _) = fixture()
    try {
      assert(!cli.namespaceExists(Seq("db")))
      cli.createNamespace(Seq("db"))
      assert(cli.namespaceExists(Seq("db")))
      cli.createNamespace(Seq("db")) // idempotent (409 tolerated, ref rest.go:64)
      assert(cli.listNamespaces() === Seq(Seq("db")))
      assert(!cli.tableExists(Seq("db"), "ghost"))
      intercept[NotFound] { cli.loadTable(Seq("db"), "ghost") }
      cli.createTable(Seq("db"), "t", schema)
      intercept[CommitConflict] { cli.dropNamespace(Seq("db")) } // non-empty → 409
      assert(cli.dropTable(Seq("db"), "t"))
      assert(cli.dropNamespace(Seq("db")))
      assert(!cli.namespaceExists(Seq("db")))
    } finally { srv.close(); cli.close() }
  }

  test("create table honors client field ids and declared day spec; loadTable round-trips") {
    val (srv, cli, wh) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      cli.createTable(Seq("db"), "t", schema) // idempotent
      assert(cli.listTables(Seq("db")) === Seq("t"))
      val t = cli.loadTable(Seq("db"), "t")
      assert(t.location === s"$wh/db/t")
      assert(t.currentSnapshotId === 1L)
      assert(t.uuid === RestWire.tableUuid(s"$wh/db/t"))
      assert(t.uuid === cli.loadTable(Seq("db"), "t").uuid) // stable identity
      val cur = t.currentSchema.get
      assert(cur.fieldNames.toSeq === Seq("id", "v", Day))
      assert(FieldIds.idOf(cur("id")) === Some(1))
      assert(FieldIds.idOf(cur(Day)) === Some(3))
      assert(cur("id").nullable === false) // required round-trips
      // the declared schema's ids are authoritative on the stored manifest
      val snap = SnapshotLog.currentSnapshot(spark, t.location).get
      assert(FieldIds.idOf(snap.schema("id")) === Some(1))
      assert(t.refs("main").snapshotId === 1L)
    } finally { srv.close(); cli.close() }
  }

  test("conditional append commit: files land, requirement CAS, 409 on stale head") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val f1 = writeFile(loc, "d1.parquet",
        Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-01")))
      val f2 = writeFile(loc, "d2.parquet", Seq((3L, 3.0, "2024-01-02")))
      val committed = cli.commitAppend(Seq("db"), "t", Seq(f1, f2),
        require = Some(1L))
      assert(committed.currentSnapshotId === 2L)
      // stale CAS → 409, head unmoved
      val f3 = writeFile(loc, "d3.parquet", Seq((4L, 4.0, "2024-01-03")))
      intercept[CommitConflict] {
        cli.commitAppend(Seq("db"), "t", Seq(f3), require = Some(1L))
      }
      assert(cli.loadTable(Seq("db"), "t").currentSnapshotId === 2L)
      // fresh CAS commits; unconditional append also commits (ref sends
      // empty requirements — appends commute)
      assert(cli.commitAppend(Seq("db"), "t", Seq(f3),
        require = Some(2L)).currentSnapshotId === 3L)
      val f4 = writeFile(loc, "d4.parquet", Seq((5L, 5.0, "2024-01-03")))
      assert(cli.commitAppend(Seq("db"), "t", Seq(f4))
        .currentSnapshotId === 4L)
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      assert(snap.files.map(_.path).toSet ===
        Set("data/d1.parquet", "data/d2.parquet", "data/d3.parquet", "data/d4.parquet"))
      assert(snap.totalRows === 5L)
      // partition values landed under the declared identity spec
      assert(snap.files.forall(_.spec.contains("identity")))
      assert(snap.files.find(_.path == "data/d2.parquet").get.partition === "2024-01-02")
    } finally { srv.close(); cli.close() }
  }

  test("Spark reads a REST table through GraftRestCatalog: pruning, time travel, refs") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val f1 = writeFile(loc, "d1.parquet",
        Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-01")))
      val f2 = writeFile(loc, "d2.parquet", Seq((3L, 3.0, "2024-01-02")))
      cli.commitAppend(Seq("db"), "t", Seq(f1), require = Some(1L))
      cli.commitAppend(Seq("db"), "t", Seq(f2), require = Some(2L))
      SnapshotLog.tag(spark, loc, "audit", 2L)

      val cat = "rtest"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")

      assert(spark.sql(s"SELECT sum(id) FROM $cat.db.t").collect().head.getLong(0) === 6L)
      // the day filter prunes manifest entries before any footer opens
      assert(spark.sql(
        s"SELECT id FROM $cat.db.t WHERE $Day = '2024-01-02'")
        .collect().map(_.getLong(0)).toSeq === Seq(3L))
      val (kept, total) = GraftScanStats.lastScan(loc).get
      assert(total === 2L && kept === 1L)
      // time travel: snapshot id, tag (ANY catalog client's ref), future ts
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2")
        .collect().head.getLong(0) === 2L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 'audit'")
        .collect().head.getLong(0) === 2L)
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.t TIMESTAMP AS OF '2100-01-01 00:00:00'")
        .collect().head.getLong(0) === 3L)
      // catalog exploration through the plugin
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0))
        .toSeq === Seq("db"))
      assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
        .map(_.getAs[String]("tableName")).toSeq === Seq("t"))
    } finally { srv.close(); cli.close() }
  }

  test("unpartitioned files ride the explicit marker — day filters never wrongly prune") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "u", schema) // no declared spec
      val loc = cli.loadTable(Seq("db"), "u").location
      // a file spanning two days registers with NO partition value
      val f = writeFile(loc, "mix.parquet",
        Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-02"))).copy(partition = Nil)
      cli.commitAppend(Seq("db"), "u", Seq(f), require = Some(1L))
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      assert(snap.files.head.spec.contains("unpartitioned"))
      val cat = "rtest2"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      // the day predicate must NOT prune the mixed file away
      assert(spark.sql(
        s"SELECT id FROM $cat.db.u WHERE $Day = '2024-01-02'")
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
    } finally { srv.close(); cli.close() }
  }

  test("unpartitioned files refuse the per-day rewrites; SQL INSERT appends beside them") {
    val (srv, cli, _) = fixture()
    try {
      import spark.implicits._
      import graft.ingest.{Cdc, CdcWriter}
      cli.createTable(Seq("db"), "u", schema) // no declared spec
      val loc = cli.loadTable(Seq("db"), "u").location
      // a file spanning two days registers with NO partition value
      val f = writeFile(loc, "mix.parquet",
        Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-02"))).copy(partition = Nil)
      cli.commitAppend(Seq("db"), "u", Seq(f), require = Some(1L))
      val head = SnapshotLog.currentSnapshot(spark, loc).get.id
      // a per-day rewrite never reads the mixed file: a merge touching
      // 2024-01-01 would keep key 1's old version live beside its new
      // one, and a retention drop would keep the file's 2024-01-01 row
      val update = Seq((1L, 10.0, "UPDATE", "2024-01-01 12:00:00", "0000000000000009"))
        .toDF("id", "v", Cdc.OpColumn, "ts", Cdc.LsnColumn)
        .withColumn(Cdc.TsColumn, to_timestamp(col("ts"))).drop("ts")
      def refused(op: => Any): Unit = {
        val e = intercept[IllegalArgumentException](op)
        assert(e.getMessage.contains("system.normalize_layout(table => '<table>') before"))
      }
      refused(CdcWriter.merge(spark, loc, update, Seq("id")))
      refused(SnapshotLog.dropDaysBefore(spark, loc, "2024-01-02"))
      refused(SnapshotLog.compact(spark, loc, Some(Day), maxFiles = 1))
      assert(SnapshotLog.currentSnapshot(spark, loc).get.id === head)
      def ids: Seq[Long] = SnapshotLog.readCurrent(spark, loc).get
        .select("id").as[Long].collect().toSeq.sorted
      // an append rewrites no live file, so it goes ahead
      SnapshotLog.sqlInsert(spark, loc,
        Seq((3L, 3.0, "2024-01-03")).toDF("id", "v", Day), overwrite = false)
      assert(ids === Seq(1L, 2L, 3L))
      // once normalized to exact days, retention drops the old day's row
      SnapshotLog.normalizeLayout(spark, loc, Some(Day))
      assert(SnapshotLog.dropDaysBefore(spark, loc, "2024-01-02") === Seq("2024-01-01"))
      assert(ids === Seq(2L, 3L))
    } finally { srv.close(); cli.close() }
  }

  test("commit safety: foreign paths, escapes, unknown requirement/update kinds refused") {
    val (srv, cli, wh) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema)
      // a data file OUTSIDE the table location is refused
      intercept[RestCatalogError] {
        cli.commitAppend(Seq("db"), "t",
          Seq(RestDataFile("/etc/passwd", 1L, 1L)))
      }
      intercept[RestCatalogError] {
        cli.commitAppend(Seq("db"), "t",
          Seq(RestDataFile("data/../../../other/f.parquet", 1L, 1L)))
      }
      // raw requests: unknown requirement and update kinds are 400 —
      // fail closed, never silently accepted
      val http = HttpClient.newHttpClient()
      def post(body: String): Int = {
        val req = HttpRequest.newBuilder(
          URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/t"))
          .header("Authorization", "Bearer s3cr3t")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        http.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(post("""{"requirements":[{"type":"assert-last-assigned-field-id","last-assigned-field-id":3}],"updates":[]}""") === 400)
      assert(post("""{"requirements":[],"updates":[{"action":"set-properties","updates":{"k":"v"}}]}""") === 400)
      // auth: wrong/missing token → 401 before any route logic
      val anon = new RestCatalogClient(srv.baseUri, "lake", token = None)
      intercept[NotAuthorized] { anon.namespaceExists(Seq("db")) }
      // unknown warehouse prefix → 404
      val wrong = new RestCatalogClient(srv.baseUri, "other", token = Some("s3cr3t"))
      intercept[NotFound] { wrong.loadTable(Seq("db"), "t") }
    } finally { srv.close(); cli.close() }
  }

  test("SQL writes through the plugin compose with REST commits") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val cat = "rtestw"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      // an engine co-located with storage writes THROUGH the commit
      // log (the optimistic cross-process protocol); the REST catalog
      // observes the new head — the mixed-writer deployment Lakekeeper
      // supports
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 1.0, '2024-01-01')")
      assert(cli.loadTable(Seq("db"), "t").currentSnapshotId === 2L)
      // and a REST-side append composes right back
      val f = writeFile(loc, "d2.parquet", Seq((2L, 2.0, "2024-01-02")))
      cli.commitAppend(Seq("db"), "t", Seq(f), require = Some(2L))
      assert(spark.sql(s"SELECT sum(id) FROM $cat.db.t")
        .collect().head.getLong(0) === 3L)
      // DDL through the plugin round-trips over REST
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
      spark.sql(s"CREATE TABLE $cat.ddl.made (id BIGINT, name STRING)")
      assert(cli.tableExists(Seq("ddl"), "made"))
      spark.sql(s"DROP TABLE $cat.ddl.made")
      assert(!cli.tableExists(Seq("ddl"), "made"))
    } finally { srv.close(); cli.close() }
  }

  test("multi-level namespaces round-trip percent-encoded") {
    val (srv, cli, _) = fixture()
    try {
      cli.createNamespace(Seq("tier", "bronze"))
      assert(cli.namespaceExists(Seq("tier", "bronze")))
      assert(!cli.namespaceExists(Seq("tier", "silver")))
      cli.createTable(Seq("tier", "bronze"), "t", schema)
      assert(cli.listTables(Seq("tier", "bronze")) === Seq("t"))
      assert(cli.loadTable(Seq("tier", "bronze"), "t").currentSnapshotId === 1L)
      assert(cli.dropTable(Seq("tier", "bronze"), "t"))
    } finally { srv.close(); cli.close() }
  }

  test("path traversal in URL identifiers is refused before any filesystem touch") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema)
      val http = HttpClient.newHttpClient()
      def status(method: String, path: String): Int = {
        val b = HttpRequest.newBuilder(URI.create(srv.baseUri + path))
          .header("Authorization", "Bearer s3cr3t")
        val req = (method match {
          case "GET"    => b.GET()
          case "DELETE" => b.DELETE()
          case m => b.method(m, HttpRequest.BodyPublishers.ofString("{}"))
        }).build()
        http.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(status("GET", "/catalog/v1/lake/namespaces/..") === 400)
      assert(status("GET", "/catalog/v1/lake/namespaces/..%1F../tables") === 400)
      assert(status("DELETE", "/catalog/v1/lake/namespaces/db/tables/..") === 400)
      assert(status("POST", "/catalog/v1/lake/namespaces/db/tables/has.dot") === 400)
      // scheme-qualified data-file path without '://' must not pass as
      // relative (Hadoop child-with-scheme resolution would escape)
      intercept[RestCatalogError] {
        cli.commitAppend(Seq("db"), "t",
          Seq(RestDataFile("file:/etc/passwd", 1L, 1L)))
      }
    } finally { srv.close(); cli.close() }
  }

  test("foreign-process commit race surfaces as 409, not 500") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val f = writeFile(loc, "d1.parquet", Seq((1L, 1.0, "2024-01-01")))
      // inject a foreign commit between the server's head read and its
      // manifest publish (the hook fires inside SnapshotLog.commit;
      // the flag stops the injected commit from recursing)
      @volatile var injected = false
      SnapshotLog.commitTestHook = (dir, _) => {
        if (dir == loc && !injected) {
          injected = true
          val c = SnapshotLog.currentSnapshot(spark, loc).get
          SnapshotLog.commit(spark, loc, "append", c.schema, Some(c))
        }
      }
      try {
        intercept[CommitConflict] {
          cli.commitAppend(Seq("db"), "t", Seq(f))
        }
      } finally SnapshotLog.commitTestHook = (_, _) => ()
      assert(injected)
      // the client's contract: reload and retry lands the commit
      val head = cli.loadTable(Seq("db"), "t").currentSnapshotId
      assert(cli.commitAppend(Seq("db"), "t", Seq(f), require = Some(head))
        .currentSnapshotId === head + 1)
    } finally { srv.close(); cli.close() }
  }

  test("metadata-location names the real manifest; refs keys stay unique; numeric partition values canonicalize") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      // the reserved name is refused at the ref layer itself, so the
      // refs object can never carry a duplicate 'main' key; the Map
      // construction in loadTableBody is defense in depth
      intercept[IllegalArgumentException] {
        SnapshotLog.tag(spark, loc, "main", 1L)
      }
      SnapshotLog.tag(spark, loc, "audit", 1L)
      val http = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/t"))
        .header("Authorization", "Bearer s3cr3t").GET().build()
      val body = http.send(req, HttpResponse.BodyHandlers.ofString()).body()
      val parsed = org.json4s.jackson.JsonMethods.parse(body)
      val mloc = (parsed \ "metadata-location") match {
        case org.json4s.JString(p) => p
        case other                 => fail(s"no metadata-location: $other")
      }
      val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new Path(mloc)), s"metadata-location $mloc does not exist")
      (parsed \ "metadata" \ "refs") match {
        case org.json4s.JObject(fields) =>
          assert(fields.map(_._1).count(_ == "main") === 1)
          assert(fields.map(_._1).distinct.size === fields.size)
        case other => fail(s"refs not an object: $other")
      }
      // a numeric partition value is accepted and canonicalized
      val f = writeFile(loc, "d1.parquet", Seq((1L, 1.0, "20240102")))
      val commit = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/t"))
        .header("Authorization", "Bearer s3cr3t")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[],"updates":[{"action":"append","append":
             |{"data-files":[{"file-path":"${f.path}","file-format":"parquet",
             |"record-count":1,"file-size-in-bytes":${f.sizeBytes},
             |"partition":{"$Day":20240102}}]}}]}""".stripMargin)).build()
      assert(http.send(commit, HttpResponse.BodyHandlers.ofString())
        .statusCode() === 200)
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      assert(snap.files.head.partition === "20240102")
    } finally { srv.close(); cli.close() }
  }

  test("non-convention partition sources never mis-prune; epoch ordinals render as calendar values") {
    val (srv, cli, _) = fixture()
    try {
      import graft.model.FieldIds
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      // identity spec on a NON-convention column: partition values are
      // region strings, which must never be compared against day
      // predicates (the qualified spec name makes the file unprunable)
      val sch = StructType(Seq(
        FieldIds.withId(StructField("id", LongType, nullable = false), 1),
        FieldIds.withId(StructField("region", StringType), 2),
        FieldIds.withId(StructField(Day, StringType), 3)))
      cli.createTable(Seq("db"), "r", sch,
        partitionSpec = Seq("region" -> "identity"))
      val loc = cli.loadTable(Seq("db"), "r").location
      val stage = java.nio.file.Files.createTempDirectory("graft-rest-r").toString
      import spark.implicits._
      Seq((1L, "emea", "2024-01-01")).toDF("id", "region", Day)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new Path(stage))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      fs.mkdirs(new Path(loc, "data"))
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs,
        new Path(loc, "data/r1.parquet"), false,
        spark.sparkContext.hadoopConfiguration)
      cli.commitAppend(Seq("db"), "r", Seq(RestDataFile("data/r1.parquet",
        1L, fs.getFileStatus(new Path(loc, "data/r1.parquet")).getLen,
        partition = Seq("region" -> "emea"))), require = Some(1L))
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      assert(snap.files.head.spec === Some("identity:region"))
      assert(snap.files.head.partition === "emea")
      val cat = "rtest3"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      // the day filter must KEEP the region-partitioned file
      assert(spark.sql(
        s"SELECT id FROM $cat.db.r WHERE $Day = '2024-01-01'")
        .collect().map(_.getLong(0)).toSeq === Seq(1L))

      // Iceberg canonical INTEGER partition values are epoch ordinals:
      // a day-transform commit with an integer renders yyyy-MM-dd
      cli.createTable(Seq("db"), "d", schema,
        partitionSpec = Seq(Day -> "day"))
      val dloc = cli.loadTable(Seq("db"), "d").location
      val df = writeFile(dloc, "d1.parquet", Seq((1L, 1.0, "2024-01-02")))
      val epochDay = java.time.LocalDate.parse("2024-01-02").toEpochDay
      val http = HttpClient.newHttpClient()
      val commit = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/d"))
        .header("Authorization", "Bearer s3cr3t")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[],"updates":[{"action":"append","append":
             |{"data-files":[{"file-path":"${df.path}","file-format":"parquet",
             |"record-count":1,"file-size-in-bytes":${df.sizeBytes},
             |"partition":{"$Day":$epochDay}}]}}]}""".stripMargin)).build()
      assert(http.send(commit, HttpResponse.BodyHandlers.ofString())
        .statusCode() === 200)
      val dsnap = SnapshotLog.currentSnapshot(spark, dloc).get
      assert(dsnap.files.head.partition === "2024-01-02")
      assert(dsnap.files.head.spec === Some("day"))
    } finally { srv.close(); cli.close() }
  }

  test("day-transform tables take compaction, retention and SQL INSERT like identity ones") {
    val (srv, cli, _) = fixture()
    try {
      import spark.implicits._
      val batches = Seq(
        Seq((1L, 1.0, "2024-01-01")), Seq((2L, 2.0, "2024-01-01")),
        Seq((3L, 3.0, "2024-01-02")), Seq((4L, 4.0, "2024-01-02")),
        Seq((5L, 5.0, "2024-01-03")))
      // the same files committed under a `day` and an `identity` spec
      val Seq(dayLoc, idLoc) = Seq("dd" -> "day", "di" -> "identity").map {
        case (name, transform) =>
          cli.createTable(Seq("db"), name, schema,
            partitionSpec = Seq(Day -> transform))
          val loc = cli.loadTable(Seq("db"), name).location
          batches.zipWithIndex.foreach { case (rows, i) =>
            cli.commitAppend(Seq("db"), name, Seq(writeFile(loc, s"f$i.parquet", rows)))
          }
          loc
      }
      assert(SnapshotLog.currentSnapshot(spark, dayLoc).get.files
        .forall(_.spec.contains("day")))
      def state(loc: String): Seq[(Long, Double, String)] =
        SnapshotLog.readCurrent(spark, loc).get.select("id", "v", Day)
          .as[(Long, Double, String)].collect().toSeq.sortBy(_._1)
      def onBoth[T](op: String => T): Unit = {
        assert(op(dayLoc) === op(idLoc))
        assert(state(dayLoc) === state(idLoc))
      }
      onBoth(SnapshotLog.compact(spark, _, Some(Day), maxFiles = 1))
      assert(SnapshotLog.currentSnapshot(spark, dayLoc).get.files.size === 3)
      onBoth(loc => SnapshotLog.sqlInsert(spark, loc,
        Seq((6L, 6.0, "2024-01-04")).toDF("id", "v", Day), overwrite = false).totalRows)
      onBoth(SnapshotLog.dropDaysBefore(spark, _, "2024-01-02"))
      assert(state(dayLoc).map(_._1) === Seq(3L, 4L, 5L, 6L))
    } finally { srv.close(); cli.close() }
  }

  test("ALTER TABLE ADD COLUMN evolves through the REST protocol, add-only enforced") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val f1 = writeFile(loc, "d1.parquet", Seq((1L, 1.0, "2024-01-01")))
      cli.commitAppend(Seq("db"), "t", Seq(f1), require = Some(1L))
      val cat = "rtest4"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN note STRING")
      // the evolved schema serves over REST; pre-evolution rows read null
      val t = cli.loadTable(Seq("db"), "t")
      assert(t.currentSchema.get.fieldNames.toSeq ===
        Seq("id", "v", Day, "note"))
      val row = spark.sql(s"SELECT id, note FROM $cat.db.t").collect().head
      assert(row.getLong(0) === 1L && row.isNullAt(1))
      // ... and SQL writes land values into the new column
      spark.sql(s"INSERT INTO $cat.db.t VALUES (2, 2.0, '2024-01-02', 'hi')")
      assert(spark.sql(
        s"SELECT note FROM $cat.db.t WHERE id = 2").collect().head.getString(0)
        === "hi")
      // add-only is enforced at the protocol: a retype is 400
      val http = HttpClient.newHttpClient()
      val retype = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/t"))
        .header("Authorization", "Bearer s3cr3t")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"requirements":[],"updates":[{"action":"add-schema","schema":
            |{"type":"struct","schema-id":0,"fields":[
            |{"id":1,"name":"id","type":"string","required":false}]}},
            |{"action":"set-current-schema-id","schema-id":-1}]}""".stripMargin))
        .build()
      assert(http.send(retype, HttpResponse.BodyHandlers.ofString())
        .statusCode() === 400)
      // a NOT NULL add is refused the same way
      intercept[RestCatalogError] {
        cli.evolveSchema(Seq("db"), "t", t.currentSchema.get.add(
          org.apache.spark.sql.types.StructField("strict",
            org.apache.spark.sql.types.LongType, nullable = false)))
      }
    } finally { srv.close(); cli.close() }
  }

  test("commits verify footers: ghost paths and lying record-counts are 400; LSN bounds recorded") {
    val (srv, cli, _) = fixture()
    try {
      import graft.model.FieldIds
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val sch = StructType(Seq(
        FieldIds.withId(StructField("id", LongType, nullable = false), 1),
        FieldIds.withId(StructField(graft.ingest.Cdc.LsnColumn, StringType), 2),
        FieldIds.withId(StructField(Day, StringType), 3)))
      cli.createTable(Seq("db"), "t", sch, partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      // a path that exists nowhere is refused before any manifest write
      intercept[RestCatalogError] {
        cli.commitAppend(Seq("db"), "t",
          Seq(RestDataFile("data/ghost.parquet", 1L, 1L)))
      }
      // a real file with a LYING record-count is refused — manifest rows
      // feed metadata-answered COUNTs, so the footer is authoritative
      import spark.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-rest-fs").toString
      Seq((1L, "00000003", "2024-01-01"), (2L, "00000007", "2024-01-01"))
        .toDF("id", graft.ingest.Cdc.LsnColumn, Day)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new Path(stage))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      fs.mkdirs(new Path(loc, "data"))
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs,
        new Path(loc, "data/f1.parquet"), false,
        spark.sparkContext.hadoopConfiguration)
      val size = fs.getFileStatus(new Path(loc, "data/f1.parquet")).getLen
      intercept[RestCatalogError] { // declares 5 rows, footer says 2
        cli.commitAppend(Seq("db"), "t", Seq(RestDataFile(
          "data/f1.parquet", 5L, size, Seq(Day -> "2024-01-01"))))
      }
      // the honest commit lands WITH footer-derived LSN bounds — REST-
      // ingested files skip by LSN window like the engine's own writes
      cli.commitAppend(Seq("db"), "t", Seq(RestDataFile(
        "data/f1.parquet", 2L, size, Seq(Day -> "2024-01-01"))))
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      assert(snap.files.head.minLsn === Some("00000003"))
      assert(snap.files.head.maxLsn === Some("00000007"))
      def window(lo: String, hi: String) = GraftPruning.filePredicate(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual(graft.ingest.Cdc.LsnColumn, lo),
        org.apache.spark.sql.sources.LessThanOrEqual(graft.ingest.Cdc.LsnColumn, hi)))
      assert(snap.files.count(window("00000009", "00000010")) === 0)
      assert(snap.files.count(window("00000001", "00000005")) === 1)
    } finally { srv.close(); cli.close() }
  }

  test("config endpoint advertises the prefix; wire shapes match the reference client") {
    val (srv, cli, _) = fixture()
    try {
      val http = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/config"))
        .header("Authorization", "Bearer s3cr3t").GET().build()
      val body = http.send(req, HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains(""""prefix":"lake""""))
      // the reference's exact createTable request body (rest.go:115-123)
      // is accepted verbatim
      cli.createNamespace(Seq("db"))
      val create = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables"))
        .header("Authorization", "Bearer s3cr3t")
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"wire","schema":{"type":"struct","schema-id":0,"fields":[
            |{"id":1,"name":"id","type":"long","required":true},
            |{"id":2,"name":"payload","type":"string","required":false},
            |{"id":3,"name":"ts","type":"timestamp","required":false}]},
            |"partition-spec":{"spec-id":0,"fields":[
            |{"source-id":3,"field-id":1000,"name":"ts_day","transform":"day"}]},
            |"write-order":null,"stage-create":false,"properties":{}}""".stripMargin))
        .build()
      val resp = http.send(create, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      // and the response decodes through the client's parser
      val t = cli.loadTable(Seq("db"), "wire")
      assert(t.currentSchema.get("ts").dataType === TimestampNTZType)
      assert(t.currentSchema.get("id").nullable === false)
    } finally { srv.close(); cli.close() }
  }

  test("footer verification runs OUTSIDE the table lock: a slow-verifying commit never blocks a concurrent commit") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val slow = writeFile(loc, "slow.parquet", Seq((1L, 1.0, "2024-01-01")))
      val fast = writeFile(loc, "fast.parquet", Seq((2L, 2.0, "2024-01-02")))
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      srv.onVerifyHook = () =>
        if (first.getAndSet(false)) { entered.countDown(); release.await() }
      try {
        // commit A parks INSIDE its verification phase...
        val a = new Thread(() => cli.commitAppend(Seq("db"), "t", Seq(slow)))
        a.start()
        assert(entered.await(30, TimeUnit.SECONDS))
        // ...while commit B (same table!) runs start-to-finish — were
        // verification under the table lock, B would wait forever here
        val bDone = new CountDownLatch(1)
        val b = new Thread(() => {
          cli.commitAppend(Seq("db"), "t", Seq(fast)); bDone.countDown()
        })
        b.start()
        assert(bDone.await(30, TimeUnit.SECONDS),
          "a concurrent commit must not queue behind footer verification")
        release.countDown()
        a.join(30000); b.join(30000)
      } finally { release.countDown(); srv.onVerifyHook = () => () }
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      assert(snap.files.map(_.path).toSet ===
        Set("data/slow.parquet", "data/fast.parquet"))
      assert(snap.id === 3L) // create + two sequential appends
    } finally { srv.close(); cli.close() }
  }

  test("dropTable+createTable during footer verification is 409 even with an IDENTICAL spec, never a poisoned commit") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val rows = Seq((1L, 1.0, "2024-01-01"))
      val f = writeFile(loc, "d1.parquet", rows)
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val first = new AtomicBoolean(true)
      srv.onVerifyHook = () =>
        if (first.getAndSet(false)) { entered.countDown(); release.await() }
      try {
        val failure = new AtomicReference[Throwable]()
        val a = new Thread(() => {
          try { cli.commitAppend(Seq("db"), "t", Seq(f)); () }
          catch { case t: Throwable => failure.set(t) }
        })
        a.start()
        assert(entered.await(30, TimeUnit.SECONDS))
        // the table is dropped and re-created while the commit
        // verifies footers — with the SAME spec, so only the sidecar's
        // incarnation id distinguishes the new table: the verified
        // footer stats belonged to the OLD incarnation's bytes, and
        // landing them would poison the new table's pruning metadata
        cli.dropTable(Seq("db"), "t")
        cli.createTable(Seq("db"), "t", schema,
          partitionSpec = Seq(Day -> "identity"))
        val loc2 = cli.loadTable(Seq("db"), "t").location
        writeFile(loc2, "d1.parquet", rows) // the drop removed the file
        release.countDown()
        a.join(30000)
        assert(failure.get().isInstanceOf[CommitConflict],
          s"expected CommitConflict, got ${failure.get()}")
      } finally { release.countDown(); srv.onVerifyHook = () => () }
      // the re-created table's head is untouched by the refused commit
      assert(cli.loadTable(Seq("db"), "t").currentSnapshotId === 1L)
    } finally { srv.close(); cli.close() }
  }

  test("two-field partition spec (identity + day): verified commits, file-exact pruning, metadata rendering") {
    val (srv, cli, _) = fixture()
    try {
      val sch = StructType(Seq(
        FieldIds.withId(StructField("id", LongType, nullable = false), 1),
        FieldIds.withId(StructField("region", StringType), 2),
        FieldIds.withId(StructField(Day, StringType), 3)))
      cli.createTable(Seq("db"), "p2", sch,
        partitionSpec = Seq("region" -> "identity", Day -> "day"))
      val loc = cli.loadTable(Seq("db"), "p2").location
      import spark.implicits._
      def file(name: String, id: Long, region: String, day: String): RestDataFile = {
        val stage = Files.createTempDirectory("graft-rest-p2").toString
        Seq((id, region, day)).toDF("id", "region", Day)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val fs = new Path(stage).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val part = fs.listStatus(new Path(stage))
          .filter(_.getPath.getName.endsWith(".parquet")).head
        fs.mkdirs(new Path(loc, "data"))
        val dest = new Path(loc, s"data/$name")
        org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs, dest, false,
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(stage), true)
        RestDataFile(s"data/$name", 1L, fs.getFileStatus(dest).getLen,
          partition = Seq("region" -> region, Day -> day))
      }
      cli.commitAppend(Seq("db"), "p2", Seq(
        file("e1.parquet", 1L, "emea", "2024-01-01"),
        file("e2.parquet", 2L, "emea", "2024-01-02"),
        file("a1.parquet", 3L, "apac", "2024-01-01"),
        file("a2.parquet", 4L, "apac", "2024-01-02")))
      val snap = SnapshotLog.currentSnapshot(spark, loc).get
      // the calendar field holds the manifest's primary (prunable) slot;
      // the identity field rides footer-verified [v, v] bounds
      assert(snap.files.forall(_.spec === Some("day")))
      val e1 = snap.files.find(_.path == "data/e1.parquet").get
      assert(e1.partition === "2024-01-01")
      assert(e1.boundsFor("region") === Some(("emea", "emea")))
      // a conjunctive filter on BOTH spec fields keeps exactly one file
      val cat = "rtest_p2"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      assert(spark.sql(s"""SELECT id FROM $cat.db.p2
        WHERE region = 'emea' AND $Day = '2024-01-02'""")
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
      assert(GraftScanStats.lastScan(loc) === Some((1L, 4L)))
      // loadTable renders BOTH spec fields with sequential field-ids
      val http = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(
        s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/p2"))
        .header("Authorization", "Bearer s3cr3t").GET().build()
      val body = org.json4s.jackson.JsonMethods.parse(
        http.send(req, HttpResponse.BodyHandlers.ofString()).body())
      import org.json4s._
      val fields = body \ "metadata" \ "partition-specs" match {
        case JArray(List(spec0)) => spec0 \ "fields" match {
          case JArray(fs) => fs.map(f =>
            ((f \ "name"), (f \ "transform"), (f \ "field-id")))
          case _ => Nil
        }
        case _ => Nil
      }
      assert(fields === List(
        (JString("region"), JString("identity"), JInt(1000)),
        (JString(Day), JString("day"), JInt(1001))))
      // unknown combinations stay refused loudly: two calendar fields
      intercept[RestCatalogError] {
        cli.createTable(Seq("db"), "bad2", sch,
          partitionSpec = Seq(Day -> "day", Day -> "month"))
      }
    } finally { srv.close(); cli.close() }
  }

  test("declared partition values are validated: malformed calendar forms and footer-contradicted values are 400") {
    val (srv, cli, _) = fixture()
    try {
      val sch = StructType(Seq(
        FieldIds.withId(StructField("id", LongType, nullable = false), 1),
        FieldIds.withId(StructField("region", StringType), 2),
        FieldIds.withId(StructField(Day, StringType), 3)))
      cli.createTable(Seq("db"), "v", sch,
        partitionSpec = Seq("region" -> "identity", Day -> "day"))
      val loc = cli.loadTable(Seq("db"), "v").location
      import spark.implicits._
      val stage = Files.createTempDirectory("graft-rest-v").toString
      Seq((1L, "emea", "2024-01-01")).toDF("id", "region", Day)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val fs = new Path(stage).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new Path(stage))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      fs.mkdirs(new Path(loc, "data"))
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs,
        new Path(loc, "data/v1.parquet"), false,
        spark.sparkContext.hadoopConfiguration)
      val size = fs.getFileStatus(new Path(loc, "data/v1.parquet")).getLen
      def attempt(region: String, day: String): Unit =
        cli.commitAppend(Seq("db"), "v", Seq(RestDataFile(
          "data/v1.parquet", 1L, size,
          partition = Seq("region" -> region, Day -> day))))
      // malformed calendar form (not yyyy-MM-dd)
      val e1 = intercept[RestCatalogError] { attempt("emea", "2024-1-1") }
      assert(e1.getMessage.contains("calendar form"))
      // impossible calendar date
      val e2 = intercept[RestCatalogError] { attempt("emea", "2024-13-41") }
      assert(e2.getMessage.contains("calendar form"))
      // identity value contradicting the footer (file is all-emea)
      val e3 = intercept[RestCatalogError] { attempt("apac", "2024-01-01") }
      assert(e3.getMessage.contains("footer records"))
      // day value contradicting the footer's convention-column stats
      val e4 = intercept[RestCatalogError] { attempt("emea", "2024-01-02") }
      assert(e4.getMessage.contains("footer records"))
      // nothing landed: the table is still at its create snapshot
      assert(SnapshotLog.currentSnapshot(spark, loc).get.files.isEmpty)
      // and the truthful declaration commits
      attempt("emea", "2024-01-01")
      assert(SnapshotLog.currentSnapshot(spark, loc).get.files.size === 1)
    } finally { srv.close(); cli.close() }
  }

  test("listings paginate: pageSize/pageToken round-trip, stable totals, malformed token 400") {
    val (srv, cli, _) = fixture()
    try {
      val nss = Seq("a1", "a2", "a3", "a4", "a5")
      nss.foreach(n => cli.createNamespace(Seq(n)))
      nss.foreach(n => cli.createTable(Seq("a1"), s"t_$n", schema))
      // server-side paging: 2 + 2 + 1 with opaque tokens
      val (p1, t1) = cli.listNamespacesPage(pageSize = Some(2))
      assert(p1.map(_.head) === Seq("a1", "a2") && t1.isDefined)
      val (p2, t2) = cli.listNamespacesPage(pageSize = Some(2), pageToken = t1)
      assert(p2.map(_.head) === Seq("a3", "a4") && t2.isDefined)
      val (p3, t3) = cli.listNamespacesPage(pageSize = Some(2), pageToken = t2)
      assert(p3.map(_.head) === Seq("a5") && t3.isEmpty)
      // the paging bulk client sees exactly the unpaged listing
      assert(cli.listNamespaces(pageSize = Some(2)) === cli.listNamespaces())
      // table listings page the same way
      val (tp1, tt1) = cli.listTablesPage(Seq("a1"), Some(3))
      assert(tp1 === Seq("t_a1", "t_a2", "t_a3") && tt1.isDefined)
      val (tp2, tt2) = cli.listTablesPage(Seq("a1"), Some(3), tt1)
      assert(tp2 === Seq("t_a4", "t_a5") && tt2.isEmpty)
      assert(cli.listTables(Seq("a1"), pageSize = Some(2)) ===
        cli.listTables(Seq("a1")))
      // no pageSize: the whole listing, no token (existing clients)
      val (all, tok) = cli.listNamespacesPage()
      assert(all.size === 5 && tok.isEmpty)
      // a malformed token refuses before any listing work
      intercept[RestCatalogError] {
        cli.listNamespacesPage(pageSize = Some(2), pageToken = Some("a!b"))
      }
      // tokens are OPAQUE: one carrying reserved query characters
      // ships percent-encoded and arrives verbatim — the server sees
      // the whole "+=&" value (and 400s it as malformed base64)
      // instead of a query string silently truncated at the '&'
      intercept[RestCatalogError] {
        cli.listNamespacesPage(pageSize = Some(2), pageToken = Some("+=&x"))
      }
      // pageSize=0 must not silently return the unbounded listing
      intercept[RestCatalogError] {
        cli.listNamespacesPage(pageSize = Some(0))
      }
    } finally { srv.close(); cli.close() }
  }

  test("listNamespaces with parent= lists one nested level as full identifiers") {
    val (srv, cli, _) = fixture()
    try {
      cli.createNamespace(Seq("a"))
      cli.createNamespace(Seq("a", "b"))
      cli.createNamespace(Seq("a", "c"))
      cli.createNamespace(Seq("top"))
      assert(cli.listNamespaces() === Seq(Seq("a"), Seq("top")))
      assert(cli.listNamespaces(parent = Seq("a")) ===
        Seq(Seq("a", "b"), Seq("a", "c")))
      assert(cli.listNamespaces(parent = Seq("a", "b")) === Nil)
      intercept[NotFound] { cli.listNamespaces(parent = Seq("ghost")) }
      // ...and Spark's SHOW NAMESPACES IN sees them through the plugin
      val cat = "rtest_parent"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      assert(spark.sql(s"SHOW NAMESPACES IN $cat.a")
        .collect().map(_.getString(0)).sorted.toSeq === Seq("a.b", "a.c"))
    } finally { srv.close(); cli.close() }
  }

  test("commits verify file-size-in-bytes against the file: a wrong or missing size is 400") {
    val (srv, cli, _) = fixture()
    try {
      cli.createTable(Seq("db"), "t", schema,
        partitionSpec = Seq(Day -> "identity"))
      val loc = cli.loadTable(Seq("db"), "t").location
      val head = cli.loadTable(Seq("db"), "t").currentSnapshotId
      val f = writeFile(loc, "d1.parquet",
        Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-01")))
      // a zero-size entry plans no split, a short one truncates the
      // scan: the catalog would serve fewer rows than the manifest counts
      Seq(0L, f.sizeBytes - 1, f.sizeBytes + 1).foreach { declared =>
        val e = intercept[RestCatalogError] {
          cli.commitAppend(Seq("db"), "t", Seq(f.copy(sizeBytes = declared)))
        }
        assert(e.getMessage.contains("file-size-in-bytes") ||
          e.getMessage.contains("bytes"), e.getMessage)
      }
      // Iceberg's file-size-in-bytes is required: absent is 400 too
      val http = HttpClient.newHttpClient()
      val body = s"""{"requirements":[],"updates":[{"action":"append",""" +
        s""""append":{"data-files":[{"file-path":"${f.path}",""" +
        s""""file-format":"parquet","record-count":2,""" +
        s""""partition":{"$Day":"2024-01-01"}}]}}]}"""
      val req = HttpRequest.newBuilder(
        URI.create(s"${srv.baseUri}/catalog/v1/lake/namespaces/db/tables/t"))
        .header("Authorization", "Bearer s3cr3t")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      assert(http.send(req, HttpResponse.BodyHandlers.ofString())
        .statusCode() === 400)
      // nothing was committed by the refused attempts
      assert(cli.loadTable(Seq("db"), "t").currentSnapshotId === head)
      assert(SnapshotLog.currentSnapshot(spark, loc).forall(_.files.isEmpty))
      // the honest commit lands, and the catalog's scan returns its rows
      cli.commitAppend(Seq("db"), "t", Seq(f))
      val cat = "rtest_size"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.prefix", "lake")
      spark.conf.set(s"spark.sql.catalog.$cat.token", "s3cr3t")
      assert(spark.sql(s"SELECT id FROM $cat.db.t").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally { srv.close(); cli.close() }
  }
}
