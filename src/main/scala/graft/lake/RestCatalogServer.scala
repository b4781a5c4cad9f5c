package graft.lake

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.model.{FieldIds, Identifiers}

/** Wire model of the Iceberg REST catalog protocol (the public Apache
  * Iceberg REST OpenAPI specification, the storage contract the
  * reference speaks as a client — ref internal/iceberg/catalog/
  * rest.go:40-217, Lakekeeper-compatible route shapes): JSON ↔ Spark
  * conversions shared by [[RestCatalogServer]] and
  * [[RestCatalogClient]].
  *
  * Type names are the Iceberg primitive vocabulary (ref internal/
  * iceberg/types.go:13-23). Nested Spark types are out of the wire
  * schema's scope on purpose: the reference's client models field types
  * as plain strings, and every CDC-sourced table is primitive-typed
  * (internal/iceberg/schema maps PG scalars only). */
object RestWire {

  def sparkToIceberg(dt: DataType): String = dt match {
    case BooleanType         => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType            => "long"
    case FloatType           => "float"
    case DoubleType          => "double"
    case DateType            => "date"
    case TimestampType       => "timestamptz"
    case TimestampNTZType    => "timestamp"
    case StringType          => "string"
    case BinaryType          => "binary"
    case d: DecimalType      => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"type ${other.simpleString} has no Iceberg REST primitive form")
  }

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  def icebergToSpark(t: String): DataType = t match {
    case "boolean"              => BooleanType
    case "int"                  => IntegerType
    case "long"                 => LongType
    case "float"                => FloatType
    case "double"               => DoubleType
    case "date"                 => DateType
    case "timestamp"            => TimestampNTZType
    case "timestamptz"          => TimestampType
    case "string" | "uuid"      => StringType
    case "binary" | "fixed"     => BinaryType
    // the reference's `time` is microseconds-since-midnight (ref
    // internal/iceberg/schema/types.go) — a long on the Spark side,
    // the same mapping graft.model.TypeMapping applies
    case "time"                 => LongType
    case DecimalRe(p, s)        => DecimalType(p.toInt, s.toInt)
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg type '$other'")
  }

  /** A Spark schema (field ids riding [[FieldIds.Key]] metadata) as the
    * REST `schema` object. Unstamped schemas are emitted with ordinal
    * ids — the same stamping [[SnapshotLog]] applies on first commit. */
  def schemaJson(schema: StructType, schemaId: Int): JObject = {
    val stamped = if (FieldIds.hasIds(schema)) schema else FieldIds.stamp(schema)._1
    JObject(
      "type" -> JString("struct"),
      "schema-id" -> JInt(schemaId),
      "fields" -> JArray(stamped.fields.toList.map { f =>
        JObject(
          "id" -> JInt(BigInt(FieldIds.idOf(f).getOrElse(0))),
          "name" -> JString(f.name),
          "type" -> JString(sparkToIceberg(f.dataType)),
          "required" -> JBool(!f.nullable))
      }))
  }

  /** The REST `schema` object as a Spark schema with field-id metadata. */
  def schemaFromJson(j: JValue): StructType = {
    val fields = j \ "fields" match {
      case JArray(fs) => fs
      case _ => throw new IllegalArgumentException("schema has no fields array")
    }
    StructType(fields.map { f =>
      val name = f \ "name" match {
        case JString(n) if n.nonEmpty => n
        case _ => throw new IllegalArgumentException("schema field missing name")
      }
      val tpe = f \ "type" match {
        case JString(t) => icebergToSpark(t)
        case _ => throw new IllegalArgumentException(
          s"schema field $name: only primitive type strings are supported")
      }
      val required = (f \ "required") == JBool(true)
      val id = f \ "id" match {
        case JInt(n) => n.toInt
        case _       => 0
      }
      val base = StructField(name, tpe, nullable = !required)
      if (id > 0) FieldIds.withId(base, id) else base
    })
  }

  /** Iceberg REST error envelope. */
  def errorBody(message: String, errType: String, code: Int): JObject =
    JObject("error" -> JObject(
      "message" -> JString(message),
      "type" -> JString(errType),
      "code" -> JInt(code)))

  /** Stable table UUID — a function of the table path, so every load of
    * the same table reports the same identity without a sidecar. */
  def tableUuid(tableDir: String): String =
    java.util.UUID.nameUUIDFromBytes(
      ("graft-rest:" + tableDir).getBytes(UTF_8)).toString

  /** Multi-level namespaces travel as one path segment joined by the
    * unit separator (the REST spec's `%1F` convention). */
  val NsSep = '\u001F'
}

/** An Iceberg REST catalog SERVER over a [[SnapshotLog]] warehouse —
  * the counterpart of the reference's REST client (ref internal/
  * iceberg/catalog/rest.go:40-217; route shapes per the public Apache
  * Iceberg REST OpenAPI spec, Lakekeeper-compatible `/catalog/v1/
  * {prefix}` prefixing): namespaces and tables CRUD, metadata loads,
  * and CONDITIONAL commits — the catalog is the commit coordinator,
  * while manifests and data stay on shared storage.
  *
  * That split is the design that scales: `loadTable` returns a
  * metadata POINTER (location + current snapshot id + schemas + refs),
  * never file lists — a 100 TB table's manifest (thousands of entries,
  * segment-sharded on storage) is read by executors from the
  * filesystem, not shipped through the catalog on every query. The
  * only state the server owns is the warehouse directory itself.
  *
  * Commits run under the table lock: requirements
  * (`assert-ref-snapshot-id`, `assert-table-uuid`, `assert-create`)
  * are re-checked against the CURRENT head inside the lock, then the
  * append commits — one atomic conditional operation, 409
  * `CommitFailedException` on any mismatch (the Iceberg optimistic-
  * concurrency contract the reference's CommitSnapshot retries on).
  * Unknown requirement or update kinds are refused 400 — a condition
  * the server cannot enforce must never be silently accepted.
  *
  * Data-file paths in commits must resolve INSIDE the table location;
  * anything else is 400 (a manifest must never reference foreign
  * files — and a client must not be able to probe the server's
  * filesystem). Files may carry a partition value under a declared
  * transform; files committed without one ride the explicit
  * `unpartitioned` spec marker, which no day predicate ever prunes. */
final class RestCatalogServer(spark: SparkSession, warehouseDir: String,
                              prefix: String = "graft",
                              authToken: Option[String] = None,
                              bindPort: Int = 0)
  extends AutoCloseable {

  import RestWire._

  private val server =
    HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, bindPort), 0)
  private val pool = Executors.newFixedThreadPool(4)

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def port: Int = server.getAddress.getPort
  def baseUri: String = s"http://127.0.0.1:$port"

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  private def fs = new Path(warehouseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsParts(seg: String): Seq[String] = seg.split(NsSep).toSeq
  private def dirOf(parts: Seq[String]): String =
    (warehouseDir +: parts).mkString("/")

  import RestCatalogServer.Halt

  private def halt(code: Int, message: String, errType: String): Nothing =
    throw new Halt(code, errorBody(message, errType, code))

  private def handle(ex: HttpExchange): Unit = {
    try {
      if (authToken.isDefined && !authorized(ex))
        throw new Halt(401, errorBody("missing or invalid bearer token",
          "NotAuthorizedException", 401))
      val segs = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty).toSeq
      (ex.getRequestMethod, segs) match {
        case ("GET", Seq("catalog", "v1", "config")) =>
          respond(ex, 200, JObject(
            "defaults" -> JObject(),
            "overrides" -> JObject("prefix" -> JString(prefix))))
        case (m, "catalog" +: "v1" +: p +: rest) if p == prefix =>
          route(ex, m, rest)
        case (_, "catalog" +: "v1" +: p +: _) =>
          halt(404, s"unknown warehouse prefix '$p'", "NoSuchNamespaceException")
        case _ =>
          halt(404, "not found", "NotFoundException")
      }
    } catch {
      case h: Halt => respond(ex, h.code, h.body)
      case e: IllegalArgumentException =>
        respond(ex, 400, errorBody(String.valueOf(e.getMessage),
          "BadRequestException", 400))
      case NonFatal(e) =>
        respond(ex, 500, errorBody(String.valueOf(e.getMessage),
          "InternalServerError", 500))
    } finally ex.close()
  }

  /** EVERY path identifier validates before any filesystem resolution
    * (the same pre-SQL rule [[graft.api.ApiServer]] applies): the
    * identifier charset admits no `.`, `/`, or scheme separators, so a
    * traversal like `namespaces/..` or a scheme-qualified segment can
    * never reach `dirOf` — 400, not a probe of the server's disk. */
  private def checkedNs(seg: String): Seq[String] = {
    val parts = nsParts(seg)
    parts.foreach(Identifiers.validate(_, "namespace"))
    parts
  }

  private def route(ex: HttpExchange, method: String, rest: Seq[String]): Unit =
    (method, rest) match {
      case ("GET", Seq("namespaces"))            => listNamespaces(ex)
      case ("POST", Seq("namespaces"))           => createNamespace(ex)
      case ("GET" | "HEAD", Seq("namespaces", ns))   => getNamespace(ex, checkedNs(ns))
      case ("DELETE", Seq("namespaces", ns))     => dropNamespace(ex, checkedNs(ns))
      case ("GET", Seq("namespaces", ns, "tables")) => listTables(ex, checkedNs(ns))
      case ("POST", Seq("namespaces", ns, "tables")) => createTable(ex, checkedNs(ns))
      case ("GET" | "HEAD", Seq("namespaces", ns, "tables", t)) =>
        loadTable(ex, checkedNs(ns), Identifiers.validate(t, "table"))
      case ("POST", Seq("namespaces", ns, "tables", t)) =>
        commitTable(ex, checkedNs(ns), Identifiers.validate(t, "table"))
      case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
        dropTable(ex, checkedNs(ns), Identifiers.validate(t, "table"))
      case _ => halt(404, "not found", "NotFoundException")
    }

  private def authorized(ex: HttpExchange): Boolean =
    graft.api.HttpUtil.bearerOk(ex, authToken.get)

  private def jsonBody(ex: HttpExchange): JValue =
    graft.api.HttpUtil.readJsonBody(ex).getOrElse(
      halt(400, "request body is not JSON", "BadRequestException"))

  // ---- namespaces --------------------------------------------------

  private def namespaceExists(parts: Seq[String]): Boolean = {
    val p = new Path(dirOf(parts))
    fs.exists(p) && !SnapshotLog.isSnapshotTable(spark, p.toString)
  }

  /** The Iceberg REST spec's listing pagination (`pageToken` /
    * `pageSize` in, `next-page-token` out). The token is an opaque
    * cursor — base64 of the LAST NAME served — so the next page is
    * every name strictly greater: stable under concurrent creates and
    * drops (an entry added behind the cursor is simply not seen by an
    * in-flight listing, same as every cursor-paged catalog). A request
    * without `pageSize` returns the full listing and no token — at
    * warehouse scale (thousands of tables) real clients page. */
  private def pageOf(ex: HttpExchange, names: Seq[String])
  : (Seq[String], Option[String]) = {
    val after = graft.api.HttpUtil.queryParam(ex, "pageToken").map { t =>
      try new String(java.util.Base64.getUrlDecoder.decode(t), UTF_8)
      catch { case _: IllegalArgumentException =>
        halt(400, "malformed pageToken", "BadRequestException") }
    }
    val size = graft.api.HttpUtil.queryParam(ex, "pageSize").map { s =>
      val n = try s.toInt catch { case _: NumberFormatException =>
        halt(400, "pageSize must be an integer", "BadRequestException") }
      // a 0/negative pageSize silently returning the UNBOUNDED listing
      // would defeat the reason pagination exists; the spec's minimum
      // is 1, so refuse like the non-integer case
      if (n <= 0) halt(400, "pageSize must be positive", "BadRequestException")
      n
    }
    val remaining = after match {
      case Some(a) => names.filter(_ > a)
      case None    => names
    }
    size match {
      case None => (remaining, None)
      case Some(n) =>
        val page = remaining.take(n)
        val next =
          if (remaining.lengthCompare(n) > 0 && page.nonEmpty)
            Some(java.util.Base64.getUrlEncoder.withoutPadding
              .encodeToString(page.last.getBytes(UTF_8)))
          else None
        (page, next)
    }
  }

  private def withNextToken(body: JObject, next: Option[String]): JObject =
    next.fold(body)(t => JObject(body.obj :+
      ("next-page-token" -> (JString(t): JValue))))

  /** Lists ONE level of namespaces: the warehouse's top level, or —
    * with the REST spec's `parent=` query parameter (levels joined by
    * `%1F`) — the direct children of that namespace, each returned as
    * its full multi-part identifier. Paginates per [[pageOf]]. */
  private def listNamespaces(ex: HttpExchange): Unit = {
    val parent: Seq[String] =
      graft.api.HttpUtil.queryParam(ex, "parent").map(checkedNs).getOrElse(Nil)
    if (parent.nonEmpty && !namespaceExists(parent))
      halt(404, s"namespace ${parent.mkString(".")} not found",
        "NoSuchNamespaceException")
    val root = new Path(dirOf(parent))
    val names =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          !SnapshotLog.isSnapshotTable(spark, st.getPath.toString))
        .map(_.getPath.getName).sorted
    val (page, next) = pageOf(ex, names)
    respond(ex, 200, withNextToken(JObject("namespaces" -> JArray(
      page.toList.map(n =>
        JArray((parent :+ n).toList.map(JString(_)))))), next))
  }

  private def createNamespace(ex: HttpExchange): Unit = {
    val body = jsonBody(ex)
    val parts = body \ "namespace" match {
      case JArray(ps) if ps.nonEmpty => ps.map {
        case JString(s) => s
        case _ => halt(400, "namespace levels must be strings", "BadRequestException")
      }
      case _ => halt(400, "missing namespace array", "BadRequestException")
    }
    parts.foreach(Identifiers.validate(_, "namespace"))
    // ANY existing directory is a conflict — a snapshot TABLE at this
    // path must not silently become an invisible "namespace" (it would
    // never list, and creates under it would 404)
    if (fs.exists(new Path(dirOf(parts))))
      halt(409, s"namespace ${parts.mkString(".")} collides with an " +
        "existing table or namespace", "AlreadyExistsException")
    fs.mkdirs(new Path(dirOf(parts)))
    respond(ex, 200, JObject(
      "namespace" -> JArray(parts.toList.map(JString(_))),
      "properties" -> JObject()))
  }

  private def getNamespace(ex: HttpExchange, parts: Seq[String]): Unit = {
    if (!namespaceExists(parts))
      halt(404, s"namespace ${parts.mkString(".")} not found",
        "NoSuchNamespaceException")
    respond(ex, 200, JObject(
      "namespace" -> JArray(parts.toList.map(JString(_))),
      "properties" -> JObject(
        "location" -> JString(dirOf(parts)))))
  }

  private def dropNamespace(ex: HttpExchange, parts: Seq[String]): Unit = {
    if (!namespaceExists(parts))
      halt(404, s"namespace ${parts.mkString(".")} not found",
        "NoSuchNamespaceException")
    val p = new Path(dirOf(parts))
    if (fs.listStatus(p).nonEmpty)
      halt(409, s"namespace ${parts.mkString(".")} is not empty",
        "NamespaceNotEmptyException")
    fs.delete(p, true)
    respondEmpty(ex, 204)
  }

  // ---- tables ------------------------------------------------------

  private def tableDir(ns: Seq[String], t: String): String = dirOf(ns :+ t)

  private def requireTable(ns: Seq[String], t: String): String = {
    val dir = tableDir(ns, t)
    if (!SnapshotLog.isSnapshotTable(spark, dir))
      halt(404, s"table ${(ns :+ t).mkString(".")} not found",
        "NoSuchTableException")
    dir
  }

  private def listTables(ex: HttpExchange, ns: Seq[String]): Unit = {
    if (!namespaceExists(ns))
      halt(404, s"namespace ${ns.mkString(".")} not found",
        "NoSuchNamespaceException")
    val names = fs.listStatus(new Path(dirOf(ns))).toSeq
      .filter(st => st.isDirectory &&
        SnapshotLog.isSnapshotTable(spark, st.getPath.toString))
      .map(_.getPath.getName).sorted
    val (page, next) = pageOf(ex, names)
    respond(ex, 200, withNextToken(
      JObject("identifiers" -> JArray(page.toList.map(n =>
        JObject("namespace" -> JArray(ns.toList.map(JString(_))),
          "name" -> JString(n))))), next))
  }

  /** The declared partition spec rides a metadata sidecar — the server
    * must map commit-time partition maps (field name → value) onto the
    * manifest's per-file transform vocabulary, and the declaration is
    * catalog-level state the manifest itself does not carry. */
  private def specSidecar(dir: String): Path =
    new Path(dir, SnapshotLog.MetaDirName + "/rest-spec.json")

  private case class DeclaredSpec(fieldName: String, sourceName: String,
                                  transform: String,
                                  sourceType: Option[DataType] = None) {
    def calendar: Boolean = DeclaredSpec.CalendarTransforms.contains(transform)
  }

  private object DeclaredSpec {
    val CalendarTransforms = Set("year", "month", "day", "hour")
  }

  /** Iceberg's canonical INTEGER partition values are epoch ordinals
    * (years/months/days/hours since 1970-01-01) — render them in the
    * manifest's calendar vocabulary. An identity transform keeps the
    * raw number: it IS the column value. */
  private def ordinalValue(transform: String, v: Long): String = transform match {
    case "year"  => (1970L + v).toString
    case "month" =>
      f"${1970 + Math.floorDiv(v, 12)}%04d-${Math.floorMod(v, 12) + 1}%02d"
    case "day"   => java.time.LocalDate.ofEpochDay(v).toString
    case "hour"  => java.time.LocalDateTime
      .ofEpochSecond(v * 3600L, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH"))
    case _       => v.toString
  }

  private val Transforms = Set("identity", "year", "month", "day", "hour")

  /** A declared calendar partition value must PARSE in its transform's
    * calendar form (yyyy / yyyy-MM / yyyy-MM-dd / yyyy-MM-dd HH) — the
    * manifest compares these by string prefix, so a malformed value
    * would silently mis-prune instead of erroring anywhere. */
  private def checkCalendarForm(transform: String, field: String,
                                v: String): Unit = {
    val ok = try transform match {
      case "year"  => v.matches("""\d{4}""")
      case "month" => java.time.YearMonth.parse(v); v.matches("""\d{4}-\d{2}""")
      case "day"   => java.time.LocalDate.parse(v); true
      case "hour"  =>
        v.matches("""\d{4}-\d{2}-\d{2} \d{2}""") && {
          java.time.LocalDate.parse(v.take(10)); v.substring(11).toInt < 24
        }
      case _ => true
    } catch { case _: RuntimeException => false }
    if (!ok) halt(400, s"partition value '$v' for '$field' does not match " +
      s"the $transform transform's calendar form", "BadRequestException")
  }

  /** Footer cross-checks only run where the parquet statistics render
    * in the same vocabulary the declared value uses: strings and plain
    * integral/floating columns. Date/timestamp/decimal stats render as
    * raw physical values (epoch ordinals, unscaled bytes) — comparing
    * those against calendar strings would refuse every correct commit. */
  private def crossCheckable(d: DeclaredSpec): Boolean = d.sourceType match {
    case Some(StringType) => true
    case Some(ByteType | ShortType | IntegerType | LongType |
              FloatType | DoubleType) => true
    case _ => false
  }

  private def valuesEqual(declared: String, bound: String,
                          dt: DataType): Boolean = dt match {
    case StringType => declared == bound
    case _ =>
      try BigDecimal(declared) == BigDecimal(bound)
      catch { case _: NumberFormatException => false }
  }

  /** One declared partition value against the file's own footer stats
    * for its source column (absent stats = unverifiable, accepted but
    * never recorded as pruning bounds):
    *  - identity: the column must be CONSTANT at the declared value —
    *    footer min and max must both equal it;
    *  - calendar on the convention column (ISO date strings): the
    *    recorded min/max prefixes must equal the declared value. */
  private def checkAgainstFooter(path: String, d: DeclaredSpec, v: String,
                                 stats: Option[(String, String)]): Unit =
    stats match {
      case Some((mn, mx)) if !d.calendar && crossCheckable(d) =>
        val dt = d.sourceType.get
        if (!valuesEqual(v, mn, dt) || !valuesEqual(v, mx, dt))
          halt(400, s"data file $path declares identity partition " +
            s"${d.fieldName}=$v but its footer records " +
            s"[$mn, $mx] for ${d.sourceName}", "BadRequestException")
      case Some((mn, mx))
        if d.calendar &&
          d.sourceName == graft.model.SchemaBuilder.partitionColumn &&
          d.sourceType.contains(StringType) =>
        // string-typed convention column only: DATE/TIMESTAMP parquet
        // stats render as epoch ordinals, which must never be string-
        // compared against calendar forms (it would refuse correct
        // commits)
        val len = d.transform match {
          case "year" => 4
          case "month" => 7
          case "day" => 10
          case "hour" => 13
        }
        // the convention column holds day-granularity ISO strings; a
        // finer transform (hour) cannot be checked against them
        if (mn.length >= len && mx.length >= len &&
            (mn.take(len) != v || mx.take(len) != v))
          halt(400, s"data file $path declares ${d.transform} partition " +
            s"${d.fieldName}=$v but its footer records " +
            s"[$mn, $mx] for ${d.sourceName}", "BadRequestException")
      case _ => ()
    }

  /** Test hook: runs once per commit just before footer verification —
    * a concurrency spec parks one commit here to prove verification
    * does not hold the table's commit lock. */
  @volatile private[lake] var onVerifyHook: () => Unit = () => ()

  /** The sidecar's incarnation id, when present (tables created before
    * the incarnation era have none — two None reads compare equal, the
    * pre-existing behavior for legacy warehouses). */
  private def readIncarnation(dir: String): Option[String] = {
    val p = specSidecar(dir)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val raw = try new String(in.readAllBytes(), UTF_8) finally in.close()
    JsonMethods.parse(raw) \ "incarnation" match {
      case JString(i) => Some(i)
      case _          => None
    }
  }

  /** The sidecar's current form is `{"incarnation": ..., "fields":
    * [...]}`; the original single-object form (one field, no
    * source-type) still reads — a table created before the multi-field
    * era keeps committing. */
  private def readSpec(dir: String): Seq[DeclaredSpec] = {
    val p = specSidecar(dir)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val raw = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val j = JsonMethods.parse(raw)
    def one(f: JValue): Option[DeclaredSpec] = for {
      JString(fn) <- Option(f \ "name")
      JString(sn) <- Option(f \ "source-name")
      JString(tr) <- Option(f \ "transform")
    } yield DeclaredSpec(fn, sn, tr, f \ "source-type" match {
      case JString(t) => Some(icebergToSpark(t))
      case _          => None
    })
    j \ "fields" match {
      case JArray(fs) => fs.flatMap(one)
      case _          => one(j).toSeq
    }
  }

  private def createTable(ex: HttpExchange, ns: Seq[String]): Unit = {
    if (!namespaceExists(ns))
      halt(404, s"namespace ${ns.mkString(".")} not found",
        "NoSuchNamespaceException")
    val body = jsonBody(ex)
    val name = body \ "name" match {
      case JString(n) if n.nonEmpty => n
      case _ => halt(400, "missing table name", "BadRequestException")
    }
    Identifiers.validate(name, "table")
    val schema = schemaFromJson(body \ "schema")
    val dir = tableDir(ns, name)
    if (SnapshotLog.isSnapshotTable(spark, dir))
      halt(409, s"table ${(ns :+ name).mkString(".")} already exists",
        "AlreadyExistsException")
    // the declared spec: transforms from the reference family (ref
    // internal/iceberg/types.go:54-75, a LIST of fields), with AT MOST
    // ONE calendar-family field — the manifest's primary partition slot
    // holds one calendar value per file, while every ADDITIONAL field
    // must be an identity (it rides the manifest's per-file min/max
    // bounds: an identity-partitioned file's source column is constant,
    // so [v, v] bounds ARE the partition value). Richer combinations
    // have no manifest counterpart and are refused loudly rather than
    // silently dropped
    val declared: Seq[DeclaredSpec] = body \ "partition-spec" \ "fields" match {
      case JArray(Nil) | JNothing => Nil
      case JArray(fields) =>
        val specs = fields.map { f =>
          val tr = f \ "transform" match {
            case JString(t) if Transforms.contains(t) => t
            case JString(t) => halt(400, s"unsupported partition transform '$t'",
              "BadRequestException")
            case _ => halt(400, "partition field missing transform", "BadRequestException")
          }
          val srcId = f \ "source-id" match {
            case JInt(i) => i.toInt
            case _       => -1
          }
          val srcField = FieldIds.fieldById(schema, srcId)
            .getOrElse(halt(400, s"partition source-id $srcId names no schema field",
              "BadRequestException"))
          val fn = f \ "name" match {
            case JString(n) if n.nonEmpty => n
            case _                        => srcField.name
          }
          DeclaredSpec(fn, srcField.name, tr, Some(srcField.dataType))
        }
        if (specs.count(_.calendar) > 1)
          halt(400, "at most one calendar-transform partition field " +
            "(year/month/day/hour) is supported", "BadRequestException")
        if (specs.map(_.fieldName).distinct.size != specs.size)
          halt(400, "partition field names must be distinct", "BadRequestException")
        if (specs.map(_.sourceName).distinct.size != specs.size)
          halt(400, "partition source columns must be distinct", "BadRequestException")
        specs
      case _ => Nil
    }
    // commit AND sidecar under ONE table lock: a racing same-process
    // commit must never observe the created table before its declared
    // spec lands (commitTable reads the sidecar under the same lock).
    // Order stays commit-then-sidecar — the sidecar lives inside the
    // metadata dir, and creating that dir first would make the table
    // "exist" with no snapshot for every concurrent existence probe
    val snap = SnapshotLog.withTableLock(dir) {
      if (SnapshotLog.isSnapshotTable(spark, dir))
        halt(409, s"table ${(ns :+ name).mkString(".")} already exists",
          "AlreadyExistsException")
      // preReconciled: the client's field ids are authoritative — the
      // Iceberg catalog contract is to honor the declared schema ids
      val s = SnapshotLog.commit(spark, dir, "create", schema, parent = None,
        preReconciled = FieldIds.hasIds(schema))
      // the sidecar ALWAYS lands (empty field list for unpartitioned
      // tables) and carries an incarnation id: the table's PATH is
      // stable across drop+recreate, so path-derived identity cannot
      // distinguish incarnations — commitAppend's verify-then-CAS
      // compares this id to refuse commits whose out-of-lock footer
      // verification ran against a different incarnation's files
      locally {
        val out = fs.create(specSidecar(dir), true)
        try out.write(JsonMethods.compact(JsonMethods.render(JObject(
          "incarnation" -> JString(java.util.UUID.randomUUID().toString),
          "fields" -> JArray(declared.toList.map(d => JObject(
            "name" -> JString(d.fieldName),
            "source-name" -> JString(d.sourceName),
            "transform" -> JString(d.transform),
            "source-type" ->
              d.sourceType.map(t => JString(sparkToIceberg(t)))
                .getOrElse(JNothing))))))).getBytes(UTF_8))
        finally out.close()
      }
      s
    }
    respond(ex, 200, loadTableBody(dir, ns, name, snap))
  }

  private def loadTable(ex: HttpExchange, ns: Seq[String], t: String): Unit = {
    val dir = requireTable(ns, t)
    val snap = SnapshotLog.currentSnapshot(spark, dir).getOrElse(
      halt(404, s"table ${(ns :+ t).mkString(".")} has no snapshot",
        "NoSuchTableException"))
    respond(ex, 200, loadTableBody(dir, ns, t, snap))
  }

  private def dropTable(ex: HttpExchange, ns: Seq[String], t: String): Unit = {
    val dir = requireTable(ns, t)
    fs.delete(new Path(dir), true)
    respondEmpty(ex, 204)
  }

  /** The loadTableResponse: the reference's decoded subset (format-
    * version .. current-snapshot-id, rest.go:302-319) plus the standard
    * spec's `snapshots` and `refs` sections — a SUPERSET the Go client's
    * decoder skips and richer clients (our Spark plugin) use for time
    * travel. Never file lists: manifests stay on storage. */
  private def loadTableBody(dir: String, ns: Seq[String], t: String,
                            snap: SnapshotLog.Snapshot): JObject = {
    val schema = snap.schema
    val stamped = if (FieldIds.hasIds(schema)) schema else FieldIds.stamp(schema)._1
    val declared = readSpec(dir)
    val specFields = declared.zipWithIndex.toList.map { case (d, i) =>
      val sid = stamped.fields.find(_.name == d.sourceName)
        .flatMap(FieldIds.idOf).getOrElse(0)
      JObject(
        "source-id" -> JInt(sid),
        "field-id" -> JInt(1000 + i),
        "name" -> JString(d.fieldName),
        "transform" -> JString(d.transform))
    }
    // historical schemas still referenced by live files, then current
    val historic = snap.schemasById.toList.sortBy(_._1)
      .filterNot(_._1 == snap.schemaId)
      .map { case (id, json) =>
        schemaJson(DataType.fromJson(json).asInstanceOf[StructType], id)
      }
    // headers + filename-listed branch heads only: a metadata request
    // must stay O(history) SMALL reads, never O(history × files)
    // manifest resolution (segments resolve once, for the pinned snap)
    val allSnaps = SnapshotLog.snapshotHeaders(spark, dir)
    val tags = SnapshotLog.tags(spark, dir)
    val branches = SnapshotLog.branches(spark, dir)
      .map(b => b -> SnapshotLog.branchHeadId(spark, dir, b))
    // a Map keeps ref names unique in the rendered JSON — the implicit
    // main branch wins over any user ref that took the reserved name
    val refs =
      ((tags.toSeq.map { case (n, id) => n -> (id, "tag") } ++
        branches.map { case (n, id) => n -> (id, "branch") }).toMap +
        ("main" -> (snap.id, "branch")))
        .toSeq.sortBy(_._1)
        .map { case (n, (id, kind)) => n -> JObject(
          "snapshot-id" -> JInt(BigInt(id)), "type" -> JString(kind)) }
    val metadata = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(tableUuid(dir)),
      "location" -> JString(dir),
      "last-updated-ms" -> JInt(BigInt(snap.tsMs)),
      "last-column-id" -> JInt(snap.lastColumnId),
      "schemas" -> JArray(historic :+ schemaJson(stamped, snap.schemaId)),
      "current-schema-id" -> JInt(snap.schemaId),
      "partition-specs" -> JArray(List(JObject(
        "spec-id" -> JInt(0), "fields" -> JArray(specFields)))),
      "default-spec-id" -> JInt(0),
      "last-partition-id" -> JInt(999 + specFields.size),
      "properties" -> JObject(),
      "current-snapshot-id" -> JInt(BigInt(snap.id)),
      "snapshots" -> JArray(allSnaps.toList.map(s => JObject(
        "snapshot-id" -> JInt(BigInt(s.id)),
        ("parent-snapshot-id" ->
          s.parentId.map(p => JInt(BigInt(p))).getOrElse(JNothing)),
        "timestamp-ms" -> JInt(BigInt(s.tsMs)),
        "summary" -> JObject("operation" -> JString(s.operation)),
        "schema-id" -> JInt(s.schemaId)))),
      "refs" -> JObject(refs.toList))
    JObject(
      "metadata-location" ->
        JString(f"$dir/${SnapshotLog.MetaDirName}/snap-${snap.id}%012d.json"),
      "metadata" -> metadata)
  }

  // ---- commit ------------------------------------------------------

  private def commitTable(ex: HttpExchange, ns: Seq[String], t: String): Unit = {
    val dir = requireTable(ns, t)
    val body = jsonBody(ex)

    // parse requirements STRICTLY: one the server cannot enforce must
    // refuse the commit, never silently pass
    sealed trait Req
    case class AssertRef(ref: String, snapshotId: Option[Long]) extends Req
    case class AssertUuid(uuid: String) extends Req
    case object AssertCreate extends Req
    val reqs: Seq[Req] = body \ "requirements" match {
      case JArray(rs) => rs.map { r =>
        r \ "type" match {
          case JString("assert-ref-snapshot-id") =>
            val ref = r \ "ref" match {
              case JString(n) => n
              case _          => "main"
            }
            val sid = r \ "snapshot-id" match {
              case JInt(i) => Some(i.toLong)
              case _       => None
            }
            AssertRef(ref, sid)
          case JString("assert-table-uuid") => r \ "uuid" match {
            case JString(u) => AssertUuid(u)
            case _ => halt(400, "assert-table-uuid missing uuid", "BadRequestException")
          }
          case JString("assert-create") => AssertCreate
          case JString(other) =>
            halt(400, s"unsupported requirement '$other'", "BadRequestException")
          case _ => halt(400, "requirement missing type", "BadRequestException")
        }
      }
      case JNothing => Nil
      case _ => halt(400, "requirements must be an array", "BadRequestException")
    }

    // updates: the reference's `append` action (rest.go:329-336) plus
    // the standard spec's schema-evolution pair (`add-schema` +
    // `set-current-schema-id`) — everything else has no manifest
    // counterpart and is refused loudly
    var dataFiles: Seq[JValue] = Nil
    var addedSchema: Option[StructType] = None
    body \ "updates" match {
      case JArray(us) => us.foreach { u =>
        u \ "action" match {
          case JString("append") => u \ "append" \ "data-files" match {
            case JArray(fs) => dataFiles = dataFiles ++ fs
            case _ => halt(400, "append update missing data-files",
              "BadRequestException")
          }
          case JString("add-schema") =>
            if (addedSchema.isDefined)
              halt(400, "at most one add-schema per commit", "BadRequestException")
            addedSchema = Some(schemaFromJson(u \ "schema"))
          case JString("set-current-schema-id") =>
            // Iceberg's -1 sentinel = "the schema added in this commit";
            // the engine's current schema IS the head snapshot's, so the
            // action is acknowledged rather than separately stored
            u \ "schema-id" match {
              case JInt(_) | JNothing => ()
              case _ => halt(400, "set-current-schema-id needs schema-id",
                "BadRequestException")
            }
          case JString(other) =>
            halt(400, s"unsupported update action '$other'", "BadRequestException")
          case _ => halt(400, "update missing action", "BadRequestException")
        }
      }
      case JNothing => ()
      case _ => halt(400, "updates must be an array", "BadRequestException")
    }

    val tableRoot = new Path(dir).toUri.normalize()

    // a parsed-but-unverified file: the manifest entry plus every
    // declared (field, value) pair, carried to the footer verifier
    case class PendingFile(df: SnapshotLog.DataFile,
                           declaredVals: Seq[(DeclaredSpec, String)])

    def toDataFile(specs: Seq[DeclaredSpec])(j: JValue): PendingFile = {
      val path = j \ "file-path" match {
        case JString(p) if p.nonEmpty => p
        case _ => halt(400, "data file missing file-path", "BadRequestException")
      }
      j \ "file-format" match {
        case JString(f) if !f.equalsIgnoreCase("parquet") =>
          halt(400, s"unsupported file format '$f'", "BadRequestException")
        case _ => ()
      }
      val rows = j \ "record-count" match {
        case JInt(n) if n >= 0 => n.toLong
        case _ => halt(400, s"data file $path missing record-count",
          "BadRequestException")
      }
      // required by Iceberg, and checked against the file below: the
      // scan plans its splits from this size
      val size = j \ "file-size-in-bytes" match {
        case JInt(n) if n >= 0 => n.toLong
        case _ => halt(400, s"data file $path missing file-size-in-bytes",
          "BadRequestException")
      }
      // resolve INSIDE the table location only — never a foreign path.
      // ANY scheme marks the path absolute (`file:/x` carries no `://`
      // yet Hadoop's child-with-scheme resolution would still escape)
      val rel =
        if (path.startsWith("/") || new Path(path).toUri.getScheme != null) {
          val abs = new Path(path).toUri.normalize()
          val root = tableRoot.getPath.stripSuffix("/") + "/"
          if (abs.getPath == null || !abs.getPath.startsWith(root))
            halt(400, s"data file $path is outside the table location",
              "BadRequestException")
          abs.getPath.substring(root.length)
        } else if (path.split('/').contains(".."))
          halt(400, s"data file $path escapes the table location",
            "BadRequestException")
        else path
      val (partition, spec, declaredVals) = j \ "partition" match {
        case JObject(Nil) | JNothing =>
          ("", Some("unpartitioned"), Nil: Seq[(DeclaredSpec, String)])
        case JObject(fields) =>
          if (specs.isEmpty) halt(400,
            "data file carries a partition but the table declares no spec",
            "BadRequestException")
          def valueOf(d: DeclaredSpec): String = fields.collectFirst {
            case (n, value) if n == d.fieldName => value match {
              case JString(s)  => s
              // Iceberg's canonical integer partition values are
              // EPOCH ORDINALS (years/months/days/hours since 1970) —
              // convert to the manifest's calendar vocabulary, never
              // store the raw ordinal (it would silently prune against
              // yyyy[-MM[-dd[ HH]]] comparisons)
              case JInt(i)     => ordinalValue(d.transform, i.toLong)
              case JLong(l)    => ordinalValue(d.transform, l)
              case JDouble(x)  => x.toString
              case JDecimal(x) => x.toString
              case JBool(b)    => b.toString
              case other => halt(400,
                s"unsupported partition value $other for '${d.fieldName}'",
                "BadRequestException")
            }
          }.getOrElse(halt(400,
            s"partition map misses declared field '${d.fieldName}'",
            "BadRequestException"))
          val vals = specs.map(d => d -> valueOf(d))
          // a calendar value either parses in its transform's calendar
          // form or the commit refuses — a malformed string would feed
          // the manifest's prefix-compared pruning vocabulary and
          // silently include/exclude the file for every day predicate
          vals.foreach { case (d, v) =>
            if (d.calendar) checkCalendarForm(d.transform, d.fieldName, v)
          }
          // the primary manifest slot holds the calendar field (the
          // day-pruning vocabulary), or the sole/first identity field;
          // every OTHER field is an identity whose verified [v, v]
          // footer bounds ride extraBounds (range/equality pruning)
          val primary = specs.find(_.calendar).getOrElse(specs.head)
          // the manifest's day-pruning vocabulary reasons about the
          // CONVENTION partition column; a spec on any other source
          // column records a QUALIFIED transform name — an unknown
          // transform to the pruner, so those files are never pruned
          // (correct, just unprunable) instead of being compared
          // against the wrong column's values
          val prunable =
            primary.sourceName == graft.model.SchemaBuilder.partitionColumn
          val specName =
            if (prunable) primary.transform
            else s"${primary.transform}:${primary.sourceName}"
          (valueOf(primary), Some(specName), vals)
        case _ => halt(400, "partition must be an object", "BadRequestException")
      }
      PendingFile(SnapshotLog.DataFile(rel, partition, rows, size,
        minLsn = None, maxLsn = None, seq = -1L, spec = spec), declaredVals)
    }

    // the declared spec + incarnation read under a BRIEF lock only
    // because createTable publishes commit-then-sidecar under the
    // table lock — a table observed to exist may still be mid-create
    // until that lock releases; once read, both are immutable catalog
    // state FOR THIS INCARNATION (a drop+recreate mints a new id)
    val (tableSpec, tableIncarnation) =
      SnapshotLog.withTableLock(dir)((readSpec(dir), readIncarnation(dir)))
    val pending = dataFiles.map(toDataFile(tableSpec))

    // VERIFY every registered file against its own parquet footer,
    // OUTSIDE the table lock — the files are immutable, so verification
    // is order-independent, and the O(new files) footer reads (network
    // round trips on object storage) must never serialize every other
    // commit to the table behind one large commit. The manifest's row
    // counts feed metadata-answered aggregates, so a client-declared
    // count is never trusted: a ghost path, a non-parquet file, or a
    // lying record-count is 400. The same footer open records LSN
    // bounds (REST-ingested commits file-skip like the engine's own
    // writers) and cross-checks every declared partition value the
    // footer can see: an identity value must equal the source column's
    // min AND max (identity means constant), and a calendar value on
    // the convention column must equal the recorded date prefix —
    // a wrong declared value would silently corrupt pruning and
    // metadata-answered aggregates, so it is 400, never accepted
    onVerifyHook()
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = pending.map { pf =>
      val f = pf.df
      val p = new Path(dir, f.path)
      val wantCols = (graft.ingest.Cdc.LsnColumn +:
        pf.declaredVals.map(_._1.sourceName)).distinct
      val (rows, bounds, length) =
        try {
          val (r, b) = SnapshotLog.footerStatsMulti(hconf, p, wantCols)
          (r, b, p.getFileSystem(hconf).getFileStatus(p).getLen)
        } catch {
          case NonFatal(_) => halt(400,
            s"data file ${f.path} is missing or not readable parquet",
            "BadRequestException")
        }
      if (rows != f.rows)
        halt(400, s"data file ${f.path} declares ${f.rows} rows but its " +
          s"footer records $rows", "BadRequestException")
      if (length != f.sizeBytes)
        halt(400, s"data file ${f.path} declares file-size-in-bytes " +
          s"${f.sizeBytes} but is $length bytes", "BadRequestException")
      pf.declaredVals.foreach { case (d, v) =>
        checkAgainstFooter(f.path, d, v, bounds.get(d.sourceName))
      }
      // verified identity values become [v, v] manifest bounds on their
      // source column — the equality/range pruning surface; recorded
      // only when the footer actually confirmed them
      val extra = pf.declaredVals.collect {
        case (d, v) if !d.calendar && crossCheckable(d) &&
          bounds.contains(d.sourceName) &&
          d.sourceName != graft.ingest.Cdc.LsnColumn =>
          d.sourceName -> (v, v)
      }.toMap
      val (mn, mx) = bounds.get(graft.ingest.Cdc.LsnColumn) match {
        case Some((lo, hi)) => (Some(lo), Some(hi))
        case None           => (None, None)
      }
      f.copy(minLsn = mn, maxLsn = mx, extraBounds = extra)
    }

    // ONE atomic conditional commit: the requirements and the head are
    // read INSIDE the lock, then append — the server IS the
    // coordinator, so no optimistic retry loop runs here; a failed
    // requirement is the client's retry signal (409, Iceberg's
    // CommitFailedException)
    val snap = SnapshotLog.withTableLock(dir) {
      // the declared values AND footer stats were gathered against the
      // incarnation read in phase 1 — a drop+recreate in the verify
      // gap (even with an identical spec: the verified bytes belonged
      // to the OLD incarnation's files) would land a commit whose
      // manifest stats poison pruning and metadata-answered
      // aggregates, so any identity or spec difference is the client's
      // 409 retry signal; the sidecar is one small file, so the
      // re-read is cheap under the lock
      if (readIncarnation(dir) != tableIncarnation)
        halt(409, s"table ${(ns :+ t).mkString(".")} was dropped and " +
          "re-created during commit", "CommitFailedException")
      if (readSpec(dir) != tableSpec)
        halt(409, s"table ${(ns :+ t).mkString(".")} partition spec " +
          "changed during commit", "CommitFailedException")
      val cur = SnapshotLog.currentSnapshot(spark, dir)
      reqs.foreach {
        case AssertCreate =>
          halt(409, s"table ${(ns :+ t).mkString(".")} already exists",
            "CommitFailedException")
        case AssertUuid(u) =>
          if (u != tableUuid(dir))
            halt(409, s"table uuid mismatch: expected $u", "CommitFailedException")
        case AssertRef("main", sid) =>
          if (sid != cur.map(_.id))
            halt(409, s"requirement failed: main is at " +
              s"${cur.map(_.id).getOrElse("absent")}, expected " +
              sid.map(_.toString).getOrElse("absent"), "CommitFailedException")
        case AssertRef(ref, sid) =>
          val tags = SnapshotLog.tags(spark, dir)
          val branches = SnapshotLog.branches(spark, dir)
          // branchHeadId: filename-listed — never resolve a full
          // branch snapshot (O(files)) under the commit lock for an id
          val at: Option[Long] =
            if (branches.contains(ref))
              Some(SnapshotLog.branchHeadId(spark, dir, ref))
            else tags.get(ref)
          if (at != sid)
            halt(409, s"requirement failed: ref $ref is at " +
              s"${at.getOrElse("absent")}, expected " +
              sid.map(_.toString).getOrElse("absent"), "CommitFailedException")
      }
      cur match {
        case Some(c) =>
          // a declared schema meets the head by the engine's one
          // evolution rule (SchemaEvolution.plan; a refusal is a 400).
          // The server rewrites no files, so a plan with a rewrite set is
          // refused too. add-schema declares the WHOLE next schema, so
          // omitting a head column is refused, and a required added
          // column is refused as invalid input. One commit carries the
          // new schema AND any appended files atomically, Iceberg-
          // transaction style.
          val schema = addedSchema.fold(c.schema) { next =>
            val planned = SchemaEvolution.plan(Some(c), next).flatMap(_.metadataOnly)
              .fold(throw _, identity)
            val omitted = c.schema.fieldNames.filterNot(next.fieldNames.contains)
            if (omitted.nonEmpty)
              halt(400, s"add-schema omits column(s) ${omitted.mkString(", ")}: " +
                "a declared schema keeps every table column", "BadRequestException")
            next.fields.find(f => !f.nullable && !c.schema.fieldNames.contains(f.name))
              .foreach(f => halt(400, s"added column ${f.name} must be nullable: " +
                "existing rows read it as null", "BadRequestException"))
            planned
          }
          val op = if (files.isEmpty && addedSchema.isDefined) "evolve-schema"
                   else "append"
          // withTableLock is JVM-local: a FOREIGN-process writer landing
          // between the head read and the manifest publish surfaces as
          // ConcurrentCommitException — that is the client's 409 retry
          // signal (Iceberg's CommitFailedException), never a 500
          try SnapshotLog.commit(spark, dir, op, schema, Some(c), add = files)
          catch {
            case e: SnapshotLog.ConcurrentCommitException =>
              halt(409, String.valueOf(e.getMessage), "CommitFailedException")
          }
        case None =>
          halt(409, s"table ${(ns :+ t).mkString(".")} has no current snapshot",
            "CommitFailedException")
      }
    }
    respond(ex, 200, loadTableBody(dir, ns, t, snap))
  }

  // ---- plumbing ----------------------------------------------------

  private def respond(ex: HttpExchange, status: Int, body: JObject): Unit =
    graft.api.HttpUtil.respondJson(ex, status, body)

  private def respondEmpty(ex: HttpExchange, status: Int): Unit =
    ex.sendResponseHeaders(status, -1)
}

object RestCatalogServer {
  /** Control-flow carrier for an HTTP error response. */
  private final class Halt(val code: Int, val body: JObject)
    extends RuntimeException(JsonMethods.compact(JsonMethods.render(body)))
}
