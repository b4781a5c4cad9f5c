package graft.lake

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.FieldIds

/** The Iceberg REST catalog CLIENT — the same operation surface the
  * reference's catalog client exposes (ref internal/iceberg/catalog/
  * catalog.go:11-33: CreateNamespace / NamespaceExists / CreateTable /
  * TableExists / LoadTable / CommitSnapshot / Close; wire shapes
  * rest.go:40-217), over the JDK's [[HttpClient]] — zero added
  * dependencies.
  *
  * `commitAppend` is the Iceberg conditional-commit contract: data
  * files are written to storage FIRST, then registered through the
  * catalog in one atomic request whose `assert-ref-snapshot-id`
  * requirement makes it a compare-and-swap on the branch head — a 409
  * ([[RestCatalogClient.CommitConflict]]) means another writer moved
  * the head, and the caller re-loads and retries. Passing
  * `require = None` asserts nothing (the reference's CommitSnapshot
  * sends an empty requirements list — append-only commits commute). */
final class RestCatalogClient(baseUri: String, prefix: String,
                              token: Option[String] = None,
                              timeout: Duration = Duration.ofSeconds(30))
  extends AutoCloseable {

  import RestCatalogClient._
  import RestWire.NsSep

  private val http = HttpClient.newBuilder().connectTimeout(timeout).build()

  private def url(path: String): String =
    s"$baseUri/catalog/v1/$prefix$path"

  private def request(method: String, path: String,
                      body: Option[JValue] = None): (Int, JValue) = {
    val b = HttpRequest.newBuilder(URI.create(url(path))).timeout(timeout)
      .header("Content-Type", "application/json")
      .header("Accept", "application/json")
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val req = body match {
      case Some(j) => b.method(method, HttpRequest.BodyPublishers.ofString(
        JsonMethods.compact(JsonMethods.render(j)), UTF_8)).build()
      case None => b.method(method, HttpRequest.BodyPublishers.noBody()).build()
    }
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val parsed =
      if (resp.body() == null || resp.body().isEmpty) JNothing
      else try JsonMethods.parse(resp.body()) catch { case _: Throwable => JNothing }
    (resp.statusCode(), parsed)
  }

  private def errMessage(j: JValue): String =
    j \ "error" \ "message" match {
      case JString(m) => m
      case _          => "unknown error"
    }

  private def fail(code: Int, j: JValue): Nothing = code match {
    case 401 | 403 => throw new NotAuthorized(errMessage(j))
    case 404       => throw new NotFound(errMessage(j))
    case 409       => throw new CommitConflict(errMessage(j))
    case _ => throw new RestCatalogError(s"catalog error (status $code): " +
      errMessage(j))
  }

  /** Multi-level namespaces join with the PERCENT-ENCODED unit
    * separator — the raw control character is illegal in a URI path
    * ([[java.net.URI.create]] throws), `%1F` is the spec's convention,
    * and the server's decoded path splits it back out. Level names
    * percent-encode too (space as %20 — the server's getPath decodes
    * percent escapes only, never '+'). */
  /** One percent-encoded path segment (space as %20 — the server's
    * getPath decodes percent escapes only, never '+'). Table names
    * ride this too: a third-party catalog can list names with
    * URI-reserved characters, and a raw segment would crash
    * [[java.net.URI.create]] client-side instead of round-tripping. */
  private def pathSeg(name: String): String =
    java.net.URLEncoder
      .encode(name, java.nio.charset.StandardCharsets.UTF_8)
      .replace("+", "%20")

  private def nsSeg(ns: Seq[String]): String =
    ns.map(pathSeg).mkString("%1F")

  // ---- the reference Catalog interface -----------------------------

  /** Create-if-absent (ref rest.go:39-76: existence probe, then POST,
    * 409 tolerated). */
  def createNamespace(ns: Seq[String]): Unit = {
    if (namespaceExists(ns)) return
    val (code, body) = request("POST", "/namespaces", Some(JObject(
      "namespace" -> JArray(ns.toList.map(JString(_))),
      "properties" -> JObject())))
    if (code != 200 && code != 201 && code != 409) fail(code, body)
  }

  def namespaceExists(ns: Seq[String]): Boolean =
    request("GET", s"/namespaces/${nsSeg(ns)}") match {
      case (200, _)   => true
      case (404, _)   => false
      case (code, b)  => fail(code, b)
    }

  // values are percent-encoded: the spec's next-page-token is OPAQUE,
  // and third-party catalogs may mint tokens carrying reserved
  // characters (+, =, &) that would otherwise corrupt the query
  // string. Spaces go as %20, not URLEncoder's '+': servers reading
  // URI.getQuery decode percent escapes only.
  private def listQuery(params: Seq[(String, String)]): String =
    if (params.isEmpty) ""
    else params.map { case (k, v) =>
      val enc = java.net.URLEncoder
        .encode(v, java.nio.charset.StandardCharsets.UTF_8)
        .replace("+", "%20")
      s"$k=$enc"
    }.mkString("?", "&", "")

  // an EMPTY next-page-token means "no more pages" on some servers
  // (instead of omitting the field) — treating it as a live cursor
  // would loop the paging bulk methods forever against such a catalog
  private def nextTokenOf(body: JValue): Option[String] =
    body \ "next-page-token" match {
      case JString(t) if t.nonEmpty => Some(t)
      case _                        => None
    }

  /** One level of namespaces: top level, or — with `parent` — the
    * direct children of that namespace (the REST spec's `parent=`
    * query parameter, levels joined by the encoded unit separator).
    * With `pageSize` set, pages through the spec's `pageToken` /
    * `next-page-token` protocol until the listing is exhausted — the
    * shape real clients use against warehouse-scale catalogs. */
  def listNamespaces(parent: Seq[String] = Nil,
                     pageSize: Option[Int] = None): Seq[Seq[String]] =
    pageSize match {
      case None => listNamespacesPage(parent, None, None)._1
      case Some(n) =>
        val out = Seq.newBuilder[Seq[String]]
        var token: Option[String] = None
        var more = true
        while (more) {
          val (page, next) = listNamespacesPage(parent, Some(n), token)
          out ++= page
          token = next
          more = next.isDefined
        }
        out.result()
    }

  /** One PAGE of namespaces plus the opaque next-page token (absent on
    * the last page). */
  def listNamespacesPage(parent: Seq[String] = Nil,
                         pageSize: Option[Int] = None,
                         pageToken: Option[String] = None)
  : (Seq[Seq[String]], Option[String]) = {
    val params =
      // RAW unit separator here — listQuery percent-encodes it to the
      // %1F wire form (nsSeg's pre-encoded form would double-encode)
      (if (parent.isEmpty) Nil
       else Seq("parent" -> parent.mkString("\u001f"))) ++
        pageSize.map(n => "pageSize" -> n.toString) ++
        pageToken.map(t => "pageToken" -> t)
    request("GET", "/namespaces" + listQuery(params)) match {
      case (200, body) =>
        val nss = body \ "namespaces" match {
          case JArray(xs) => xs.map {
            case JArray(parts) => parts.collect { case JString(p) => p }
            case _             => Nil
          }
          case _ => Nil
        }
        (nss, nextTokenOf(body))
      case (code, b) => fail(code, b)
    }
  }

  /** Create-if-absent with ensured namespace (ref rest.go:100-142).
    * `partitionSpec`: (sourceField, transform) pairs — identity /
    * year / month / day / hour, the reference's transform family
    * (internal/iceberg/types.go:54-75 models the spec as a field
    * LIST); the server admits identity fields plus at most one
    * calendar field. */
  def createTable(ns: Seq[String], table: String, schema: StructType,
                  partitionSpec: Seq[(String, String)] = Nil): Unit = {
    createNamespace(ns)
    if (tableExists(ns, table)) return
    val stamped = if (FieldIds.hasIds(schema)) schema else FieldIds.stamp(schema)._1
    val specJson = JObject("spec-id" -> JInt(0), "fields" -> JArray(
      partitionSpec.zipWithIndex.toList.map { case ((src, transform), i) =>
        val sid = stamped.fields.find(_.name == src).flatMap(FieldIds.idOf)
          .getOrElse(throw new IllegalArgumentException(
            s"partition source '$src' is not a schema field"))
        JObject(
          "source-id" -> JInt(sid), "field-id" -> JInt(1000 + i),
          "name" -> JString(src), "transform" -> JString(transform))
      }))
    val (code, body) = request("POST", s"/namespaces/${nsSeg(ns)}/tables",
      Some(JObject(
        "name" -> JString(table),
        "schema" -> RestWire.schemaJson(stamped, 0),
        "partition-spec" -> specJson,
        "stage-create" -> JBool(false),
        "properties" -> JObject())))
    if (code != 200 && code != 201 && code != 409) fail(code, body)
  }

  def tableExists(ns: Seq[String], table: String): Boolean =
    request("GET", s"/namespaces/${nsSeg(ns)}/tables/${pathSeg(table)}") match {
      case (200, _)  => true
      case (404, _)  => false
      case (code, b) => fail(code, b)
    }

  /** Table names in a namespace; with `pageSize` set, pages through
    * the listing like [[listNamespaces]]. */
  def listTables(ns: Seq[String],
                 pageSize: Option[Int] = None): Seq[String] =
    pageSize match {
      case None => listTablesPage(ns, None, None)._1
      case Some(n) =>
        val out = Seq.newBuilder[String]
        var token: Option[String] = None
        var more = true
        while (more) {
          val (page, next) = listTablesPage(ns, Some(n), token)
          out ++= page
          token = next
          more = next.isDefined
        }
        out.result()
    }

  /** One PAGE of table names plus the opaque next-page token. */
  def listTablesPage(ns: Seq[String], pageSize: Option[Int] = None,
                     pageToken: Option[String] = None)
  : (Seq[String], Option[String]) = {
    val params = pageSize.map(n => "pageSize" -> n.toString).toSeq ++
      pageToken.map(t => "pageToken" -> t)
    request("GET", s"/namespaces/${nsSeg(ns)}/tables" + listQuery(params)) match {
      case (200, body) =>
        val names = body \ "identifiers" match {
          case JArray(ids) => ids.flatMap(i => i \ "name" match {
            case JString(n) => Some(n)
            case _          => None
          })
          case _ => Nil
        }
        (names, nextTokenOf(body))
      case (code, b) => fail(code, b)
    }
  }

  def loadTable(ns: Seq[String], table: String): RestTable =
    request("GET", s"/namespaces/${nsSeg(ns)}/tables/${pathSeg(table)}") match {
      case (200, body) => parseTable(body)
      case (code, b)   => fail(code, b)
    }

  /** Register already-written data files as one conditional append
    * commit (ref rest.go:187-217's CommitSnapshot). Returns the
    * committed table state; throws [[CommitConflict]] when a
    * requirement fails. */
  def commitAppend(ns: Seq[String], table: String, files: Seq[RestDataFile],
                   require: Option[Long] = None): RestTable = {
    val reqs = require match {
      case Some(sid) => List(JObject(
        "type" -> JString("assert-ref-snapshot-id"),
        "ref" -> JString("main"),
        "snapshot-id" -> JInt(BigInt(sid))))
      case None => Nil
    }
    val update = JObject(
      "action" -> JString("append"),
      "append" -> JObject("data-files" -> JArray(files.toList.map { f =>
        JObject(
          "file-path" -> JString(f.path),
          "file-format" -> JString("parquet"),
          "record-count" -> JInt(BigInt(f.rows)),
          "file-size-in-bytes" -> JInt(BigInt(f.sizeBytes)),
          ("partition" -> JObject(f.partition.toList.map { case (k, v) =>
            k -> (JString(v): JValue) })))
      })))
    val (code, body) = request("POST", s"/namespaces/${nsSeg(ns)}/tables/${pathSeg(table)}",
      Some(JObject("requirements" -> JArray(reqs), "updates" -> JArray(List(update)))))
    if (code == 200 || code == 201) parseTable(body) else fail(code, body)
  }

  /** Evolve the table schema through the catalog (the standard spec's
    * `add-schema` + `set-current-schema-id` update pair) — add-only,
    * one conditional commit like [[commitAppend]]. Field ids on the
    * wire are advisory for THIS call: the server reconciles the
    * evolved schema against the parent BY NAME, so matched columns
    * keep their committed ids and added columns take fresh ones —
    * a partially-stamped widened schema (loaded fields + a new id-less
    * column) cannot corrupt the table's id space. */
  def evolveSchema(ns: Seq[String], table: String, schema: StructType,
                   require: Option[Long] = None): RestTable = {
    val stamped = if (FieldIds.hasIds(schema)) schema else FieldIds.stamp(schema)._1
    val reqs = require match {
      case Some(sid) => List(JObject(
        "type" -> JString("assert-ref-snapshot-id"),
        "ref" -> JString("main"),
        "snapshot-id" -> JInt(BigInt(sid))))
      case None => Nil
    }
    val updates = List(
      JObject("action" -> JString("add-schema"),
        "schema" -> RestWire.schemaJson(stamped, 0)),
      JObject("action" -> JString("set-current-schema-id"),
        "schema-id" -> JInt(-1)))
    val (code, body) = request("POST", s"/namespaces/${nsSeg(ns)}/tables/${pathSeg(table)}",
      Some(JObject("requirements" -> JArray(reqs), "updates" -> JArray(updates))))
    if (code == 200 || code == 201) parseTable(body) else fail(code, body)
  }

  def dropTable(ns: Seq[String], table: String): Boolean =
    request("DELETE", s"/namespaces/${nsSeg(ns)}/tables/${pathSeg(table)}") match {
      case (204 | 200, _) => true
      case (404, _)       => false
      case (code, b)      => fail(code, b)
    }

  def dropNamespace(ns: Seq[String]): Boolean =
    request("DELETE", s"/namespaces/${nsSeg(ns)}") match {
      case (204 | 200, _) => true
      case (404, _)       => false
      case (code, b)      => fail(code, b)
    }

  override def close(): Unit = () // HttpClient holds no closable state

  private def parseTable(body: JValue): RestTable = {
    val md = body \ "metadata"
    def str(j: JValue): String = j match { case JString(s) => s; case _ => "" }
    def lng(j: JValue): Long = j match { case JInt(n) => n.toLong; case _ => -1L }
    val refs = md \ "refs" match {
      case JObject(fields) => fields.flatMap { case (name, v) =>
        v \ "snapshot-id" match {
          case JInt(id) => Some(name -> RestRef(id.toLong, str(v \ "type")))
          case _        => None
        }
      }.toMap
      case _ => Map.empty[String, RestRef]
    }
    val snapshots = md \ "snapshots" match {
      case JArray(ss) => ss.map(s => RestSnapshot(
        lng(s \ "snapshot-id"),
        s \ "parent-snapshot-id" match {
          case JInt(p) => Some(p.toLong)
          case _       => None
        },
        lng(s \ "timestamp-ms"),
        str(s \ "summary" \ "operation")))
      case _ => Nil
    }
    val schemas = md \ "schemas" match {
      case JArray(ss) => ss.map(s =>
        lng(s \ "schema-id").toInt -> RestWire.schemaFromJson(s)).toMap
      case _ => Map.empty[Int, StructType]
    }
    RestTable(
      metadataLocation = str(body \ "metadata-location"),
      uuid = str(md \ "table-uuid"),
      location = str(md \ "location"),
      lastUpdatedMs = lng(md \ "last-updated-ms"),
      lastColumnId = lng(md \ "last-column-id").toInt,
      currentSchemaId = lng(md \ "current-schema-id").toInt,
      schemas = schemas,
      currentSnapshotId = lng(md \ "current-snapshot-id"),
      snapshots = snapshots,
      refs = refs)
  }
}

object RestCatalogClient {
  /** Loaded table metadata — the decoded surface of loadTableResponse
    * (ref rest.go:302-319) plus the standard snapshots/refs sections. */
  final case class RestTable(metadataLocation: String, uuid: String,
                             location: String, lastUpdatedMs: Long,
                             lastColumnId: Int, currentSchemaId: Int,
                             schemas: Map[Int, StructType],
                             currentSnapshotId: Long,
                             snapshots: Seq[RestSnapshot],
                             refs: Map[String, RestRef]) {
    def currentSchema: Option[StructType] = schemas.get(currentSchemaId)
  }
  final case class RestSnapshot(id: Long, parentId: Option[Long],
                                timestampMs: Long, operation: String)
  final case class RestRef(snapshotId: Long, refType: String)

  /** One data file to register (ref rest.go:338-345 restDataFile):
    * `path` relative to the table location (or absolute inside it),
    * `partition` the (declared-field → value) entries — one per
    * declared spec field for a partitioned file, empty otherwise. */
  final case class RestDataFile(path: String, rows: Long, sizeBytes: Long,
                                partition: Seq[(String, String)] = Nil)

  class RestCatalogError(msg: String) extends RuntimeException(msg)
  final class NotFound(msg: String) extends RestCatalogError(msg)
  final class NotAuthorized(msg: String) extends RestCatalogError(msg)
  final class CommitConflict(msg: String) extends RestCatalogError(msg)
}

/** A Spark DSv2 [[TableCatalog]] whose METADATA plane is an Iceberg
  * REST catalog — the architecture the reference deploys against
  * (a Lakekeeper-style catalog service coordinating commits, ref
  * internal/iceberg/catalog/rest.go), spoken natively from Spark:
  *
  * {{{
  *   spark.sql.catalog.rc           = graft.lake.GraftRestCatalog
  *   spark.sql.catalog.rc.uri       = http://host:port
  *   spark.sql.catalog.rc.prefix    = graft
  *   spark.sql.catalog.rc.token     = <bearer>   (optional)
  * }}}
  *
  * `loadTable` resolves the table's LOCATION and current snapshot id
  * over REST, then pins that snapshot from the manifest on shared
  * storage — the catalog call is O(1) metadata, the file listing never
  * crosses HTTP, and the scan that follows is the same columnar
  * [[GraftTable]] path the directory catalog serves (manifest pruning,
  * pushdown, DPP, MOR). Time travel (`VERSION AS OF` id / tag /
  * branch) resolves through the REST metadata's `refs`/`snapshots`
  * sections, so a ref created by ANY catalog client is addressable.
  *
  * DDL (create/drop table, namespaces) goes through the REST catalog;
  * table WRITES follow the Iceberg client contract instead of this
  * plugin: write files, then [[RestCatalogClient.commitAppend]] — the
  * same split the reference's writer uses. */
class GraftRestCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = "graft_rest"
  private var initOpts: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initOpts = options
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  private def opt(key: String): Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$catName.$key")
      .orElse(Option(initOpts.get(key)))

  /** One client per resolved (uri, prefix, token), memoized: the conf
    * is re-read on every resolution (the same retargeting rule
    * [[GraftCatalog.warehouse]] follows) but the underlying JDK
    * HttpClient — a selector thread + connection pool — is only rebuilt
    * when the conf actually changed, so a metadata-heavy plan reuses
    * one client and its connections instead of leaking one per call. */
  @volatile private var memo: (String, String, Option[String], RestCatalogClient) = null

  /** Listings page in bounded responses (the REST spec's pageSize);
    * a thousands-of-tables namespace never arrives as one body. */
  private val ListPageSize = 1000

  private def client: RestCatalogClient = {
    val uri = opt("uri").getOrElse(throw new IllegalStateException(
      s"spark.sql.catalog.$catName.uri is not set"))
    val prefix = opt("prefix").getOrElse("graft")
    val token = opt("token")
    val m = memo
    if (m != null && m._1 == uri && m._2 == prefix && m._3 == token) m._4
    else {
      val c = new RestCatalogClient(uri, prefix, token)
      memo = (uri, prefix, token, c)
      c
    }
  }

  /** The table's REST metadata; a 404 is Spark's NoSuchTableException. */
  private def restTable(ident: Identifier): RestCatalogClient.RestTable =
    try client.loadTable(ident.namespace.toSeq, ident.name)
    catch { case _: RestCatalogClient.NotFound => throw new NoSuchTableException(ident) }

  /** The table at the snapshot `snapshotId` resolves from its metadata. */
  private def graftTable(ident: Identifier)(
      snapshotId: RestCatalogClient.RestTable => Long): Table = {
    val t = restTable(ident)
    new GraftTable(s"$catName.${(ident.namespace :+ ident.name).mkString(".")}",
      t.location, SnapshotLog.snapshotAt(spark, t.location, snapshotId(t)))
  }

  override def tableExists(ident: Identifier): Boolean =
    client.tableExists(ident.namespace.toSeq, ident.name)

  override def loadTable(ident: Identifier): Table =
    graftTable(ident)(_.currentSnapshotId)

  /** `VERSION AS OF` — a retained snapshot id, else a ref (tag or
    * branch) from the REST metadata, the same resolution order
    * [[GraftCatalog.loadTable]] applies. */
  override def loadTable(ident: Identifier, version: String): Table =
    graftTable(ident) { t =>
      val byId =
        if (version.nonEmpty && version.length <= 18 && version.forall(_.isDigit))
          t.snapshots.find(_.id == version.toLong).map(_.id)
        else None
      byId.orElse(t.refs.get(version).map(_.snapshotId)).getOrElse(
        throw new NoSuchTableException(ident))
    }

  /** `TIMESTAMP AS OF` — resolved over the REST metadata's snapshot
    * timeline (micros, Spark's contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    graftTable(ident) { t =>
      val tsMs = timestampMicros / 1000L
      // tie-break on id: same-millisecond commits must resolve to the
      // NEWEST snapshot, matching SnapshotLog.snapshotAsOfTime's binary
      // search (which keeps the last id at a given wall-clock)
      t.snapshots.filter(_.timestampMs <= tsMs) match {
        case Nil => throw new NoSuchTableException(ident)
        case ss  => ss.maxBy(s => (s.timestampMs, s.id)).id
      }
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val c = client
    if (!c.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    // paged: a warehouse-scale namespace streams in bounded responses
    c.listTables(namespace.toSeq, pageSize = Some(ListPageSize)).sorted
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "REST catalog tables declare partitioning through the REST client " +
        "(hidden partitioning) — CREATE TABLE takes no PARTITIONED BY")
    val c = client
    if (c.tableExists(ident.namespace.toSeq, ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catName) ++ ident.namespace.toSeq :+ ident.name)
    c.createTable(ident.namespace.toSeq, ident.name, schema)
    loadTable(ident)
  }

  /** ALTER TABLE ADD COLUMN through the REST catalog: the widened
    * schema commits via the standard `add-schema` update pair, CAS'd
    * on the head and retried on a lost race — the same add-only
    * contract (nullable, appended, no case-collisions) the directory
    * catalog enforces. Other change kinds need a rewrite or field-id
    * surgery the protocol does not carry here. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val adds = changes.map {
      case a: TableChange.AddColumn => a
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER change $other through the REST catalog — " +
          "only ADD COLUMN is supported")
    }
    val c = client
    var attempts = 0
    while (true) {
      val t = restTable(ident)
      val schema = GraftCatalog.addColumns(t.currentSchema.getOrElse(
        throw new IllegalStateException(s"table ${ident.name} reports no schema")),
        adds, (catName +: ident.namespace.toSeq :+ ident.name).mkString("."))
      try {
        c.evolveSchema(ident.namespace.toSeq, ident.name, schema,
          require = Some(t.currentSnapshotId))
        return loadTable(ident)
      } catch {
        case _: RestCatalogClient.CommitConflict if attempts < 4 =>
          attempts += 1 // a foreign commit moved the head — re-derive
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def dropTable(ident: Identifier): Boolean =
    client.dropTable(ident.namespace.toSeq, ident.name)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable is not supported")

  // ---- namespaces --------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    client.listNamespaces(pageSize = Some(ListPageSize)).map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    // the REST spec's parent= listing: one nested level, full parts
    client.listNamespaces(parent = namespace.toSeq,
      pageSize = Some(ListPageSize)).map(_.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    client.namespaceExists(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    client.createNamespace(namespace.toSeq)

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (cascade)
      throw new UnsupportedOperationException("CASCADE drop is not supported")
    try client.dropNamespace(namespace.toSeq)
    catch {
      case _: RestCatalogClient.CommitConflict =>
        // 409 = non-empty, surfaced as the analysis error Spark expects
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace)
    }
  }
}
