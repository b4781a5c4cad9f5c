package graft.lake

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform, Expression => VExpression}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.SnapshotLog.{DataFile, Snapshot}

object GraftCatalog {
  /** `schema` with the ADD COLUMN changes appended — the add-only
    * contract both catalogs enforce (top-level, nullable, appended, no
    * case-collisions) checked once per column. */
  def addColumns(schema: StructType, adds: Seq[TableChange.AddColumn],
                 table: String): StructType =
    adds.foldLeft(schema) { (acc, add) =>
      require(add.fieldNames.length == 1,
        "nested column adds are not supported")
      val colName = add.fieldNames()(0)
      graft.model.Identifiers.validate(colName, "column")
      // Spark resolution is case-insensitive by default: a column
      // differing only in case would make every later reference
      // ambiguous, with no supported ALTER to undo it
      require(!acc.fieldNames.exists(_.equalsIgnoreCase(colName)),
        s"column $colName already exists in $table")
      // pre-evolution rows HAVE no value for the new column — a NOT
      // NULL add or a position move would silently diverge from the
      // committed layout; refuse rather than reinterpret
      require(add.isNullable,
        s"ADD COLUMN $colName NOT NULL is not satisfiable: existing " +
          "rows read the new column as null")
      require(add.position() == null,
        "ADD COLUMN ... FIRST/AFTER is not supported: evolved " +
          "columns append (position is display-only in this engine)")
      acc.add(org.apache.spark.sql.types.StructField(
        colName, add.dataType, nullable = true))
    }
}

/** A Spark DSv2 [[TableCatalog]] over [[SnapshotLog]] tables — the SQL
  * surface of the commit log. Registering
  * `spark.sql.catalog.<name> = graft.lake.GraftCatalog` (plus
  * `spark.sql.catalog.<name>.warehouse = <dir>`) makes every
  * snapshot-logged table a first-class SQL citizen:
  *
  *   - `SELECT ... FROM <cat>.<ns>.<table>` resolves the current
  *     snapshot's manifest — never a directory listing;
  *   - `VERSION AS OF <id|tag|branch>` and `TIMESTAMP AS OF <ts>` run
  *     through [[TableCatalog.loadTable]]'s time-travel overloads, so
  *     Spark's own SQL time-travel syntax lands on real file-set
  *     resolution (ref docs/query/sample-queries.sql:47-52 — the exact
  *     product surface the reference documents over Trino+Iceberg);
  *   - metadata tables ride nested identifiers the way Iceberg-Spark
  *     does (`<cat>.<ns>.<table>.snapshots` / `.history` / `.files` /
  *     `.refs`, ref sample-queries.sql:55-61);
  *   - filters pushed by Spark prune MANIFEST entries before any footer
  *     is opened (partition value under each file's own spec transform +
  *     recorded stats bounds), then flow into the parquet readers for
  *     ordinary row-group pushdown. Merge-on-read semantics (equality +
  *     positional deletes) apply through [[GraftMorScan.applyDeletes]]'s
  *     size-gated joins — SQL reads of a MOR table never shuffle the
  *     stored side.
  *
  * The programmatic reads ([[SnapshotLog.read]]) plan the same relation,
  * so at 100 TB there is one scan cost model: O(1) manifest resolution,
  * driver-side pruning over manifest entries (thousands, not billions),
  * and splits of only the surviving files — no directory listing. The
  * catalog holds no state of its own — every query re-resolves the
  * manifest, so readers always see the latest committed snapshot and
  * never a partial commit. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catName: String = "graft"
  private var initOpts: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initOpts = options
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  /** Warehouse root, re-read from the session conf on every resolution so
    * tests and per-SF fixtures can retarget it after the catalog instance
    * is cached by Spark's CatalogManager. */
  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catName.warehouse")
      .orElse(Option(initOpts.get("warehouse")))
      .getOrElse(throw new IllegalStateException(
        s"spark.sql.catalog.$catName.warehouse is not set"))

  private def dirOf(parts: Seq[String]): String =
    (warehouse +: parts).mkString("/")

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def tableExists(ident: Identifier): Boolean =
    SnapshotLog.isSnapshotTable(spark, dirOf(ident.namespace.toSeq :+ ident.name))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident.namespace.toSeq :+ ident.name)
    if (SnapshotLog.isSnapshotTable(spark, dir)) {
      val snap = SnapshotLog.currentSnapshot(spark, dir).getOrElse(
        throw new NoSuchTableException(ident))
      return new GraftTable(fullName(ident), dir, snap)
    }
    // Iceberg-style metadata tables: `ns.table.snapshots` arrives as
    // Identifier(namespace = ns :+ table, name = "snapshots")
    if (ident.namespace.nonEmpty) {
      val baseDir = dirOf(ident.namespace.toSeq)
      if (SnapshotLog.isSnapshotTable(spark, baseDir) &&
          GraftMetaTables.names.contains(ident.name))
        return GraftMetaTables.load(spark, fullName(ident), baseDir, ident.name)
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF` — a snapshot id, a tag, or a branch head (the same
    * resolution order Iceberg applies to ref names). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident.namespace.toSeq :+ ident.name)
    if (!SnapshotLog.isSnapshotTable(spark, dir))
      throw new NoSuchTableException(ident)
    val snap =
      // a retained snapshot id wins; an all-digit string naming NO
      // retained snapshot falls through to ref resolution, so a tag or
      // branch that happens to be digit-only stays reachable
      // length-guarded: a 20+-digit DIGIT-ONLY TAG name must fall
      // through to ref resolution, not overflow Long
      if (version.nonEmpty && version.length <= 18 &&
          version.forall(_.isDigit) &&
          SnapshotLog.snapshotIds(spark, dir).contains(version.toLong))
        SnapshotLog.snapshotAt(spark, dir, version.toLong)
      // the implicit main branch (reserved for NEW refs) — a
      // pre-reservation tag named 'main' keeps its pinned meaning
      else if (version == "main" &&
          !SnapshotLog.tags(spark, dir).contains("main"))
        SnapshotLog.currentSnapshot(spark, dir).getOrElse(
          throw new NoSuchElementException(s"no snapshots in $dir"))
      else if (SnapshotLog.tags(spark, dir).contains(version))
        SnapshotLog.snapshotAtTag(spark, dir, version)
      else if (SnapshotLog.branches(spark, dir).contains(version))
        SnapshotLog.branchHead(spark, dir, version)
      else
        throw new NoSuchElementException(
          s"no snapshot, tag or branch '$version' in $dir")
    new GraftTable(s"${fullName(ident)}@$version", dir, snap)
  }

  /** `TIMESTAMP AS OF` — Spark hands microseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident.namespace.toSeq :+ ident.name)
    if (!SnapshotLog.isSnapshotTable(spark, dir))
      throw new NoSuchTableException(ident)
    val snap = SnapshotLog.snapshotAsOfTime(spark, dir, timestampMicros / 1000L)
      .getOrElse(throw new NoSuchElementException(
        s"no snapshot of $dir at or before ${timestampMicros / 1000L} ms"))
    new GraftTable(s"${fullName(ident)}@ts", dir, snap)
  }

  private def fullName(ident: Identifier): String =
    (catName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path(dirOf(namespace.toSeq))
    if (!fs.exists(nsDir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsDir).toSeq
      .filter(st => st.isDirectory &&
        SnapshotLog.isSnapshotTable(spark, st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .sortBy(_.name)
      .toArray
  }

  /** CREATE TABLE — an empty initial snapshot under the declared schema;
    * the commit IS the table (no data files until a writer commits). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "GraftCatalog tables declare partitioning at write time " +
        "(hidden partitioning) — CREATE TABLE takes no PARTITIONED BY")
    (ident.namespace.toSeq :+ ident.name)
      .foreach(graft.model.Identifiers.validate(_, "table path segment"))
    val dir = dirOf(ident.namespace.toSeq :+ ident.name)
    if (SnapshotLog.isSnapshotTable(spark, dir))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catName) ++ ident.namespace.toSeq :+ ident.name)
    val snap = SnapshotLog.withTableLock(dir) {
      SnapshotLog.commit(spark, dir, "create", schema, parent = None)
    }
    new GraftTable(fullName(ident), dir, snap)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new Path(dirOf(ident.namespace.toSeq :+ ident.name))
    SnapshotLog.isSnapshotTable(spark, dir.toString) && fs.delete(dir, true)
  }

  /** ALTER TABLE ADD COLUMN — the add-only evolution the reference's
    * schema merge performs (ref internal/iceberg/schema/schema.go:
    * 149-174): one metadata-only commit carrying the same file set under
    * the widened schema; existing rows surface the new column as null
    * (the explicit-schema read handles pre-evolution files). Every other
    * change kind (drop/rename/retype) is refused — those need a rewrite
    * or break time travel. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident.namespace.toSeq :+ ident.name)
    if (!SnapshotLog.isSnapshotTable(spark, dir))
      throw new NoSuchTableException(ident)
    // rename/drop are field-id evolution commits of their own (metadata
    // only — the id machinery in SnapshotLog keeps old files readable);
    // they don't compose with other changes in one ALTER
    changes.toSeq match {
      case Seq(r: TableChange.RenameColumn) =>
        require(r.fieldNames.length == 1,
          "nested column renames are not supported")
        SnapshotLog.renameColumn(spark, dir, r.fieldNames()(0), r.newName())
        return loadTable(ident)
      case Seq(d: TableChange.DeleteColumn) =>
        require(d.fieldNames.length == 1,
          "nested column drops are not supported")
        SnapshotLog.dropColumn(spark, dir, d.fieldNames()(0))
        return loadTable(ident)
      case _ => ()
    }
    SnapshotLog.withTableLock(dir) {
      val cur = SnapshotLog.currentSnapshot(spark, dir).getOrElse(
        throw new NoSuchTableException(ident))
      val adds = changes.map {
        case add: TableChange.AddColumn => add
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER change $other — ADD COLUMN composes; " +
            "RENAME/DROP COLUMN must be the only change in the statement")
      }
      val schema = GraftCatalog.addColumns(cur.schema, adds, fullName(ident))
      SnapshotLog.commit(spark, dir, "evolve-schema", schema, Some(cur))
    }
    loadTable(ident)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable is not supported")

  // ---- maintenance procedures (CALL <cat>.system.<proc>(...))

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got ${ident.namespace.mkString(".")}")
    // the table argument becomes a filesystem path — every segment must
    // be a clean identifier or a crafted '../..' name could point a
    // destructive procedure (expire's sweep) outside the warehouse
    GraftProcedures.load(tbl => {
      // split with limit -1: plain split DROPS empty segments, so "..",
      // "." or "db.t." would silently validate nothing and resolve to
      // the warehouse root (or a normalized name) instead of failing
      val segs = tbl.split("\\.", -1).toSeq
      require(segs.nonEmpty && segs.forall(_.nonEmpty),
        s"malformed procedure table name '$tbl'")
      dirOf(segs.map(graft.model.Identifiers.validate(_, "procedure table segment")))
    }, ident.name)
      .getOrElse(throw new NoSuchElementException(
        s"no procedure ${ident.name}; available: ${GraftProcedures.names.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- namespaces: directories under the warehouse that are not tables

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        !SnapshotLog.isSnapshotTable(spark, st.getPath.toString))
      .map(st => Array(st.getPath.getName))
      .sortBy(_.head)
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Array.empty // single-level namespaces
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(new Path(dirOf(namespace.toSeq))) &&
      !SnapshotLog.isSnapshotTable(spark, dirOf(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> dirOf(namespace.toSeq)).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    namespace.foreach(graft.model.Identifiers.validate(_, "namespace"))
    fs.mkdirs(new Path(dirOf(namespace.toSeq)))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val p = new Path(dirOf(namespace.toSeq))
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    fs.delete(p, true)
  }
}

/** One resolved snapshot served as a DSv2 [[Table]]. The snapshot is
  * pinned at load time — a SQL statement reads ONE consistent manifest
  * even if writers commit mid-query (Iceberg's read isolation). DML
  * (INSERT / INSERT OVERWRITE / DELETE FROM) re-resolves the current
  * snapshot under the table lock at execution, so writes always compose
  * against the latest committed state. */
private[lake] final class GraftTable(tableName: String, tableDir: String,
                                     snap: Snapshot)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** Table root on disk — the handle [[GraftDmlRule]] lowers DML onto. */
  private[lake] def dir: String = tableDir

  /** The pinned snapshot — [[GraftMorScan.applyDeletes]] reads its
    * delete sets to compose the MOR read. */
  private[lake] def snapshot: Snapshot = snap

  override def name(): String = tableName
  override def schema(): StructType = snap.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def properties(): util.Map[String, String] =
    Map("location" -> tableDir, "snapshot-id" -> snap.id.toString,
      "format" -> "graft/snapshot-log").asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableDir, snap)

  /** INSERT lands through the V1 bridge: one [[SnapshotLog.sqlInsert]]
    * commit per statement (append or truncate-replace). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                ov: Boolean): Unit =
              SnapshotLog.sqlInsert(SparkSession.active, tableDir, data,
                overwrite || ov)
          }
      }
    }

  /** DELETE FROM ... WHERE via positional deletes — the predicate must
    * translate totally (else the delete is refused at analysis, never
    * silently partial). An empty filter set is SQL's full-table DELETE:
    * one "delete" snapshot with an empty live set. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftPruning.translate(f, snap.schema).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) {
      // full truncate: replace the live set with nothing, atomically —
      // and with the same cross-process retry as the predicate form
      try SnapshotLog.truncateAll(spark, tableDir)
      catch { // keep the SQL surface's table-not-found classification
        case _: NoSuchElementException =>
          throw new NoSuchTableException(Seq(tableName))
      }
      return
    }
    val cond = filters.toSeq.map(f =>
      GraftPruning.translate(f, snap.schema).getOrElse(
        throw new UnsupportedOperationException(
          s"cannot translate delete predicate $f")))
      .reduce(_ && _)
    // the same conjuncts prune at the MANIFEST: a day-targeted DELETE
    // scans only that day's files before the row predicate applies
    SnapshotLog.deleteWhere(spark, tableDir, cond,
      keep = GraftPruning.filePredicate(filters))
  }
}

private[lake] final class GraftScanBuilder(tableDir: String, snap: Snapshot,
                                           morData: Boolean = false)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var required: StructType =
    if (morData) GraftMorScan.dataSchemaWithLineage(snap.schema)
    else snap.schema
  private var filters: Array[Filter] = Array.empty
  private var pushedAgg: Option[Aggregation] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown as manifest FILE-LIST truncation: an unordered
    * LIMIT n needs only enough files to cover n rows (footer counts are
    * exact), so `SELECT * FROM t LIMIT 10` on an 800k-file table plans
    * ONE file. Always PARTIAL — Spark re-applies the limit above the
    * scan, so the truncation is safe exactly like every other manifest
    * pruning decision. Never taken on the MOR data relation: per-file
    * row counts are upper bounds once the joins above apply deletes, so
    * n raw rows do not guarantee n LIVE rows (and Spark only pushes a
    * limit sitting directly above a scan, which a composed MOR read
    * never has). */
  override def pushLimit(n: Int): Boolean = {
    if (morData) return false
    limit = Some(n)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** Filters the scan CONSUMES (not re-evaluated by Spark post-scan).
    * Empty unless every file makes day pruning exact. */
  private var claimed: Array[Filter] = Array.empty

  /** Residuals returned to Spark from the last [[pushFilters]]. */
  private def residual: Array[Filter] = filters.filterNot(claimed.contains)

  private val PartitionSentinel = "__HIVE_DEFAULT_PARTITION__"

  /** Day pruning is EXACT row filtering, and a partition value is its
    * rows' group key, when every live file is an exact-day file
    * ([[GraftPruning.exactDay]]) on the string convention day column and
    * none is a NULL-day file: a NULL day writes under Spark's
    * default-partition sentinel directory, whose manifest value is that
    * literal string, not NULL — no claimed comparison may match its rows,
    * and a grouped count must not answer with the sentinel text. */
  private def exactDayTable: Boolean =
    SnapshotLog.conventionPartitionCol(snap.schema).exists { n =>
      snap.schema(n).dataType == StringType &&
        snap.planMemoized("exactDayTable") {
          GraftFoldStats.record()
          snap.files.forall(f => GraftPruning.exactDay(f) &&
            f.partition != PartitionSentinel)
        }
    }

  /** The conjunct shapes [[GraftPruning]] enforces EXACTLY on
    * exact-day files — claiming anything its day mapping cannot prune would
    * leak rows. IsNotNull is vacuous here: with no sentinel file, every
    * row's day is non-null. */
  private def exactDayConjunct(f: Filter): Boolean = {
    val pcol = graft.model.SchemaBuilder.partitionColumn
    f match {
      case IsNotNull(`pcol`)                          => true
      case EqualTo(`pcol`, _: String)                 => true
      case In(`pcol`, vs)                             => vs.forall(_.isInstanceOf[String])
      case GreaterThan(`pcol`, _: String)             => true
      case GreaterThanOrEqual(`pcol`, _: String)      => true
      case LessThan(`pcol`, _: String)                => true
      case LessThanOrEqual(`pcol`, _: String)         => true
      case And(l, r)                                  => exactDayConjunct(l) && exactDayConjunct(r)
      case _                                          => false
    }
  }

  /** Exact day conjuncts are CONSUMED (manifest pruning IS the
    * filter — what unlocks aggregate pushdown under the reference's
    * day-windowed monitoring shapes, since Spark skips pushAggregation
    * whenever post-scan residuals remain); everything else returns as
    * residual for Spark's re-evaluation, so a translation gap can never
    * drop rows. `pushedFilters` reports the subset the scan actually
    * uses (for EXPLAIN). */
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    if (!exactDayTable) return fs
    claimed = fs.filter(exactDayConjunct)
    residual
  }

  override def pushedFilters(): Array[Filter] =
    filters.filter(f => GraftPruning.translate(f, snap.schema).isDefined)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only aggregation (Iceberg's aggregate pushdown): COUNT(*),
    * MIN/MAX over columns with recorded per-file bounds, and
    * partition-grouped COUNT(*) are answered from the MANIFEST — exact
    * footer row counts and commit-time bounds — without opening a single
    * data file. At 100 TB that turns `SELECT count(*)` from a
    * 800k-file scan into a driver-side fold over manifest entries.
    *
    * Complete pushdown is claimed only when the manifest answer is
    * EXACT, and every other shape falls back to the ordinary scan:
    *   - no live deletes (MOR rows make manifest counts upper bounds);
    *   - no residual filters (Spark already skips aggregate pushdown
    *     when post-scan filters remain — checked again here);
    *   - MIN/MAX only on numeric columns where EVERY file records
    *     bounds for that column (a post-cluster INSERT without bounds
    *     disables the path rather than corrupting it);
    *   - GROUP BY only on the day-partition column with every file an
    *     exact-day file (spec evolution to month transforms disables the
    *     path). */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPushAgg(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!canPushAgg(agg)) return false
    pushedAgg = Some(agg)
    true
  }

  private def fieldName(e: VExpression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  private def numericBounds(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | LongType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
    case _ => false
  }

  private def canPushAgg(agg: Aggregation): Boolean = {
    // the MOR data relation serves raw pre-delete rows — a manifest
    // aggregate over it would count dead rows
    if (morData) return false
    if (snap.deletes.nonEmpty || snap.posDeletes.nonEmpty) return false
    // CLAIMED day conjuncts are fine — the metadata fold runs over the
    // exactly-pruned file set; any residual disables the path (Spark
    // already refuses pushAggregation under post-scan filters)
    if (residual.nonEmpty) return false
    val groupOk = agg.groupByExpressions match {
      case Array() => true
      case Array(g) => fieldName(g).exists(n =>
        SnapshotLog.conventionPartitionCol(snap.schema).contains(n)) && exactDayTable
      case _ => false
    }
    groupOk && agg.aggregateExpressions.forall {
      case _: CountStar => true
      case m: Min => boundsAnswerable(m.column())
      case m: Max => boundsAnswerable(m.column())
      case _ => false
    }
  }

  private def boundsAnswerable(column: VExpression): Boolean =
    fieldName(column).exists { n =>
      snap.schema.fieldNames.contains(n) &&
        numericBounds(snap.schema(n).dataType) &&
        snap.planMemoized(s"boundsAnswerable:$n") {
          GraftFoldStats.record()
          snap.files.forall(_.boundsFor(n).exists { case (mn, mx) =>
            // bounds must PARSE: float columns can record "Infinity"/
            // "NaN" strings, which the metadata fold cannot represent —
            // fall back to the real scan (GraftPruning.overlaps has the
            // same defensive posture for these strings)
            try { BigDecimal(mn); BigDecimal(mx); true }
            catch { case _: NumberFormatException => false }
          })
        }
    }

  override def build(): Scan = pushedAgg match {
    case Some(agg) =>
      // fold only the files the claimed day conjuncts keep — identity
      // pruning is exact, so the metadata answer equals the real scan's
      GraftAggScan.build(tableDir,
        snap.copy(files = snap.files.filter(
          GraftPruning.filePredicate(claimed))), agg)
    case None =>
      new GraftBatchScan(SparkSession.active, tableDir, snap, required,
        filters, limit, morData,
        filtersExact = filters.nonEmpty && residual.isEmpty)
  }
}

/** The one scan of a snapshot's data files, over its pruned file set —
  * planned as a BatchScanExec (columnar parquet readers, whole-stage
  * codegen) from manifest entries alone, with no file listing. Every
  * snapshot read takes it: SQL reads and [[SnapshotLog.read]] alike.
  * Two capabilities it brings to the optimizer:
  *
  *  - `SupportsReportStatistics`, so broadcast decisions see manifest-
  *    measured sizes at PLAN time, before AQE;
  *  - `SupportsRuntimeFiltering`: a join against a filtered dimension
  *    hands the scan its runtime join-key filters (Spark's dynamic
  *    partition pruning for DSv2) — [[GraftPruning]] turns them into
  *    manifest file skipping, so the probe side of a star join reads
  *    only the files that can hold matching days/key ranges. At 100 TB
  *    this is the difference between scanning the full fact table and
  *    scanning the two days the dimension selected.
  *
  * Static filters also flow into the parquet reader factory for
  * row-group pruning (runtime filters do NOT reach it — BatchScanExec
  * forces its reader factory at planning time, before filter() is
  * invoked; their value here is the manifest file skipping). Spark
  * re-evaluates every predicate above the scan, so both levels stay
  * advisory. Pruning is cached per filter state: the optimizer's stats
  * visitor and plan renderers call estimateStatistics/description
  * repeatedly, and an 800k-entry manifest must not be re-folded on
  * every EXPLAIN line. */
private[lake] final class GraftBatchScan(spark: SparkSession,
                                         tableDir: String, snap: Snapshot,
                                         required: StructType,
                                         filters: Array[Filter],
                                         limit: Option[Int] = None,
                                         morData: Boolean = false,
                                         filtersExact: Boolean = false)
  extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private val lineage = GraftMorScan.lineageOf(snap.schema)

  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var keptCache: Seq[DataFile] = null

  /** MOR lineage columns the scan serves without touching a data byte:
    * `_abs`/`_seq` ride Spark's partition-value channel (one constant
    * vector per file) and `_pos` the parquet readers' row-index column —
    * `readSchema` reorders to the reader's physical layout (data
    * columns, then the in-file `_pos`, then the appended constants). */
  private lazy val constSchema: StructType =
    if (!morData) new StructType()
    else StructType(Seq(
      org.apache.spark.sql.types.StructField(lineage.abs, StringType, nullable = false),
      org.apache.spark.sql.types.StructField(lineage.seq, LongType, nullable = false))
      .filter(f => required.fieldNames.contains(f.name)))

  /** The data columns the files serve (lineage excluded). */
  private lazy val dataFields: Seq[org.apache.spark.sql.types.StructField] =
    if (!morData) required.fields.toSeq
    else required.fields.toSeq.filterNot(f => lineage.names.contains(f.name))

  private lazy val outSchema: StructType =
    if (!morData) required
    else StructType(dataFields ++
      required.fields.filter(_.name == lineage.pos) ++ constSchema.fields)

  private lazy val qualRoot: Path = {
    val p = new Path(tableDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  override def readSchema(): StructType = outSchema

  /** Live deletes are applied by the joins [[GraftMorScan.applyDeletes]]
    * puts above the MOR data relation. A plain scan of such a snapshot
    * may be BUILT (the pushdown visits a `DELETE FROM` target, which
    * never executes as a scan) but must never read: it escaped the
    * composition and would return dead rows. */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    require(morData || !GraftMorScan.hasLiveDeletes(snap),
      s"scan of $tableDir snapshot ${snap.id} has live deletes but no " +
        "delete composition (GraftMorScan.applyDeletes)")
    this
  }

  private def keptFiles: Seq[DataFile] = {
    var k = keptCache
    if (k == null) {
      k = snap.files.filter(
        GraftPruning.filePredicate(filters ++ runtimeFilters))
      keptCache = k
    }
    k
  }

  /** Runtime filters are useful exactly where the manifest can act on
    * them: the partition column and every column with recorded bounds
    * (including the legacy default bounds column of pre-statsCol
    * manifest entries) — RESTRICTED to the scan's own output: Spark
    * resolves these against the scan relation and fails the whole query
    * on an unknown name, so a stats column pruned out of the projection
    * must not be offered. */
  private lazy val filterAttrNames: Seq[String] = {
    val statCols = snap.files.flatMap { f =>
      val primary =
        if (f.minLsn.isDefined && f.maxLsn.isDefined) Seq(f.boundsColumn)
        else Nil
      primary ++ f.extraBounds.keys
    }.distinct
    val pcol = SnapshotLog.conventionPartitionCol(snap.schema).toSeq
    (pcol ++ statCols).distinct.filter(required.fieldNames.contains)
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    filterAttrNames
      .map(n => org.apache.spark.sql.connector.expressions.Expressions.column(n))
      .toArray

  override def filter(fs: Array[Filter]): Unit = {
    runtimeFilters = fs
    keptCache = null // re-prune under the runtime filters
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val pruned = keptFiles
    // LIMIT truncation: keep files until their exact footer row counts
    // cover the limit (rows are manifest-recorded, no deletes on this
    // path, so the prefix provably holds >= n rows whenever the table
    // does). Spark re-applies the limit above the scan.
    // guard: Spark only pushes LIMIT when it sits DIRECTLY above the
    // scan (residual filters block it); truncation is safe only when
    // NO filter remains or every filter is a CLAIMED exact day conjunct
    // (then every row of every kept file matches) — never under runtime
    // filters, whose pruning is advisory
    val kept = limit match {
      case Some(n) if (filters.isEmpty || filtersExact) &&
          runtimeFilters.isEmpty =>
        var acc = 0L
        pruned.takeWhile { f => val need = acc < n; acc += f.rows; need }
      case _ => pruned
    }
    GraftScanStats.record(tableDir, kept.size, snap.files.size)
    // split size decided ONCE over the whole kept set: per-era planning
    // of subsets must produce the same task sizing a single combined
    // plan would, not tiny splits for small era groups
    val maxSplit = org.apache.spark.sql.GraftScanSupport.splitBytesFor(
      spark, kept.map(f => (s"$tableDir/${f.path}", f.sizeBytes)))
    def partitionsOf(fset: Seq[DataFile]): Array[InputPartition] =
      org.apache.spark.sql.GraftScanSupport.planFilePartitionsWithValues(
        spark, fset.map { f =>
          // morData constants use the `_abs` lineage FORM
          // (SnapshotLog.absKey), never the raw manifest path —
          // URI-escaped partition values (hour specs' space) and
          // filesystem authorities diverge between the two, and the
          // delete joins above key on the lineage form
          val consts = constSchema.fieldNames.map[Any] { n =>
            if (n == lineage.abs)
              org.apache.spark.unsafe.types.UTF8String
                .fromString(SnapshotLog.absKey(qualRoot, f.path))
            else f.seq
          }
          (s"$tableDir/${f.path}", f.sizeBytes,
            if (consts.isEmpty) org.apache.spark.sql.catalyst.InternalRow.empty
            else new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(consts))
        }, maxSplitOverride = Some(maxSplit))
    // files are planned PER ERA: bin-packing must never mix files whose
    // reader factories request different physical schemas
    if (eraIds.size <= 1) partitionsOf(kept)
    else kept.groupBy(eraOf).toSeq.sortBy(_._1).flatMap { case (sid, fs) =>
      partitionsOf(fs).map(p => EraInputPartition(sid, p): InputPartition)
    }.toArray
  }

  /** Era key per file: 0 = readable under the CURRENT schema's names;
    * otherwise the file's write-era schema id, served by its own reader
    * factory requesting the era's PHYSICAL names by field id. Memoized
    * per DISTINCT schema id — the per-file fold at an 800k-file
    * manifest must not re-run byNameSafe per file. */
  private lazy val eraSchemas: Map[Int, StructType] =
    SnapshotLog.parsedSchemas(snap)
  private lazy val eraKeyOf: Map[Int, Int] =
    (0 +: snap.files.map(_.schemaId)).distinct.map { sid =>
      sid -> (if (sid == 0) 0 else eraSchemas.get(sid) match {
        case Some(ws) if !graft.model.FieldIds.byNameSafe(ws, snap.schema) => sid
        case _ => 0
      })
    }.toMap
  private def eraOf(f: DataFile): Int = eraKeyOf(f.schemaId)
  private lazy val eraIds: Seq[Int] = eraKeyOf.values.toSeq.distinct.sorted

  /** One parquet reader factory per era. The requested data schema uses
    * the era's physical names at the TARGET's positions (binding above
    * a DSv2 scan is positional; widening reads serve the promotion
    * lattice). Pushed filters are restricted to columns that are (a) in
    * the requested schema — parquet's column-index filtering evaluates
    * predicates on unprojected columns as all-null and would drop every
    * row — and (b) name-STABLE in the era: a filter under a name that
    * means a different field there would prune row groups on the wrong
    * column's statistics. Manifest pruning already enforced the claimed
    * conjuncts; everything else Spark re-evaluates. */
  private def factoryFor(era: Int): PartitionReaderFactory = {
    val (reqData, pushNames, fileSchema) =
      if (era == 0) (dataFields, dataFields.map(_.name).toSet, snap.schema)
      else {
        val ws = eraSchemas(era)
        require(GraftEras.projectable(ws, snap.schema),
          s"$tableDir: files of schema id $era hold a column type the " +
            "widening lattice cannot read as the current type")
        val req = dataFields.map(tf => GraftEras.eraField(ws, tf))
        (req,
          GraftEras.stableNames(ws, snap.schema)
            .intersect(req.map(_.name).toSet),
          ws)
      }
    // _pos rides the parquet readers' row-index mechanism: a LongType
    // field of the reserved temporary name in the REQUESTED schema; it
    // must be NULLABLE or the vectorized reader treats it as a missing
    // REQUIRED parquet column and fails the read
    val readData = StructType(reqData ++
      (if (morData && required.fieldNames.contains(lineage.pos))
        Seq(org.apache.spark.sql.types.StructField(
          org.apache.spark.sql.GraftScanSupport.rowIndexColumn,
          LongType, nullable = true))
      else Nil))
    org.apache.spark.sql.GraftScanSupport.parquetReaderFactory(spark,
      fileSchema, readData,
      filters.filter(_.references.forall(pushNames.contains)),
      constSchema)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (eraIds.size <= 1) factoryFor(eraIds.headOption.getOrElse(0))
    else new EraDispatchReaderFactory(
      eraIds.map(e => e -> factoryFor(e)).toMap)

  /** Manifest-measured stats of the (statically + runtime) pruned file
    * set — visible at plan time, re-estimated by AQE after runtime
    * filters land. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val kept = keptFiles
    val rows = kept.map(_.rows).sum
    val bytes = kept.map(_.sizeBytes).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  private lazy val pushedRendered: String = filters
    .filter(f => GraftPruning.translate(f, snap.schema).isDefined)
    .mkString(", ")

  override def description(): String =
    s"GraftBatchScan $tableDir snapshot=${snap.id} " +
      (if (morData) "morData=true " else "") +
      s"files=${keptFiles.size}/${snap.files.size} " +
      s"columns=${required.fieldNames.mkString(",")} " +
      s"PushedFilters=[$pushedRendered] " +
      limit.map(n => s"PushedLimit=$n ").getOrElse("") +
      s"RuntimeFilterAttrs=[${filterAttrNames.mkString(", ")}]"
}

/** The metadata-only aggregate scan: a [[LocalScan]] whose rows are
  * computed on the driver from manifest entries alone (exact footer row
  * counts + commit-time column bounds). Planned as a LocalTableScanExec
  * — EXPLAIN shows no file scan at all. Row layout follows Spark's
  * aggregate-pushdown contract: group-by columns first, then one value
  * per aggregate expression, positionally. */
private[lake] object GraftAggScan {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  def build(tableDir: String, snap: Snapshot, agg: Aggregation): Scan = {
    val groupCol = agg.groupByExpressions.headOption.map(refName)
    val aggFns = agg.aggregateExpressions.toSeq
    val outFields =
      groupCol.map(n => StructField(n, StringType, nullable = false)).toSeq ++
        aggFns.zipWithIndex.map {
          case (_: CountStar, i) => StructField(s"count_$i", LongType, nullable = false)
          case (m: Min, i) =>
            StructField(s"min_$i", snap.schema(refName(m.column())).dataType)
          case (m: Max, i) =>
            StructField(s"max_$i", snap.schema(refName(m.column())).dataType)
          case (other, _) => throw new IllegalStateException(
            s"unpushable aggregate reached build: $other")
        }
    val groups: Seq[(Option[String], Seq[DataFile])] = groupCol match {
      case Some(_) => snap.files.groupBy(_.partition).toSeq.sortBy(_._1)
        .map { case (p, fs) => (Some(p), fs) }
      case None => Seq((None, snap.files))
    }
    val outRows = groups.map { case (pv, files) =>
      val vals: Seq[Any] = pv.map(UTF8String.fromString(_): Any).toSeq ++
        aggFns.map {
          case _: CountStar => files.map(_.rows).sum
          case m: Min => boundValue(files, refName(m.column()),
            snap.schema(refName(m.column())).dataType, isMin = true)
          case m: Max => boundValue(files, refName(m.column()),
            snap.schema(refName(m.column())).dataType, isMin = false)
          case other => throw new IllegalStateException(s"unpushable: $other")
        }
      new GenericInternalRow(vals.toArray)
    }
    GraftAggStats.record(tableDir, snap.files.size, outRows.size)
    new LocalScan {
      override def rows(): Array[InternalRow] = outRows.toArray
      override def readSchema(): StructType = StructType(outFields)
      override def description(): String =
        s"GraftManifestAggScan $tableDir snapshot=${snap.id} " +
          s"metadata-only aggregates=[${aggFns.mkString(", ")}] " +
          groupCol.map(g => s"groupBy=$g ").getOrElse("") +
          s"files=${snap.files.size} rows=${outRows.size}"
    }
  }

  private def refName(e: VExpression): String = e match {
    case nr: NamedReference => nr.fieldNames().mkString(".")
    case other => throw new IllegalStateException(s"not a column ref: $other")
  }

  /** Fold the per-file bounds into the column's min or max, converted to
    * the column's internal type. Bounds strings are decimal-parsable:
    * canPushAgg's boundsAnswerable refuses any that are not. Empty file
    * set → SQL's null aggregate. */
  private def boundValue(files: Seq[DataFile], column: String,
                         dt: DataType, isMin: Boolean): Any = {
    if (files.isEmpty) return null
    val bounds = files.map { f =>
      val (mn, mx) = f.boundsFor(column).getOrElse(throw new IllegalStateException(
        s"file ${f.path} lost its $column bounds between canPush and build"))
      BigDecimal(if (isMin) mn else mx)
    }
    val v = if (isMin) bounds.min else bounds.max
    dt match {
      case ByteType    => v.toByte
      case ShortType   => v.toShort
      case IntegerType => v.toInt
      case LongType    => v.toLong
      case FloatType   => v.toFloat
      case DoubleType  => v.toDouble
      case other => throw new IllegalStateException(
        s"unpushable bound type $other reached build")
    }
  }
}

/** Last metadata-only aggregation per table dir — the measurement
  * surface the `sql_agg_pushdown` gate asserts on (counts only). */
object GraftAggStats {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private[lake] def record(dir: String, manifestFiles: Long, rows: Long): Unit =
    last.put(dir, (manifestFiles, rows))
  /** (manifest entries folded, result rows) of the most recent
    * metadata-answered aggregate; None = no aggregate was ever answered
    * from metadata for this dir. */
  def lastAgg(dir: String): Option[(Long, Long)] = Option(last.get(dir))
  /** Reset before a measured query (gates + specs). */
  def clear(dir: String): Unit = last.remove(dir)
}

/** A planned file partition tagged with its files' write-era — the
  * dispatching factory routes it to that era's reader. Planning never
  * bin-packs files from different eras into one partition. */
private[lake] final case class EraInputPartition(era: Int,
    inner: org.apache.spark.sql.connector.read.InputPartition)
  extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Routes each partition to its era's parquet reader factory. Columnar
  * support is uniform (every inner factory is the stock parquet
  * factory over the same session conf), so BatchScanExec's
  * no-mixed-partitions requirement holds. */
private[lake] final class EraDispatchReaderFactory(
    factories: Map[Int, org.apache.spark.sql.connector.read.PartitionReaderFactory])
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.InputPartition
  private def route(p: InputPartition)
  : (org.apache.spark.sql.connector.read.PartitionReaderFactory, InputPartition) =
    p match {
      case EraInputPartition(e, inner) => (factories(e), inner)
      case other                       => (factories(0), other)
    }
  override def createReader(p: InputPartition)
  : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (f, i) = route(p); f.createReader(i)
  }
  override def createColumnarReader(p: InputPartition)
  : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (f, i) = route(p); f.createColumnarReader(i)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (f, i) = route(p); f.supportColumnarReads(i)
  }
}

/** Era (rename/drop evolution) projection onto the columnar batch path:
  * a file written under a RENAMED-away schema reads through the stock
  * parquet factory by requesting the era's PHYSICAL column names
  * (resolved BY FIELD ID) at the target's positions — binding above a
  * DSv2 scan is positional, so no per-row projection node is needed.
  * Types must be equal or on the one widening lattice
  * ([[SchemaEvolution.widensTo]]) the parquet readers serve for by-name
  * files too. */
private[lake] object GraftEras {

  import org.apache.spark.sql.types._

  /** Every target field either resolves in the era BY ID with a type
    * that widens to the target's, or has no era counterpart — in which
    * case it reads as NULL via an absent-name request ([[eraField]]). */
  def projectable(ws: StructType, target: StructType): Boolean =
    target.fields.forall { tf =>
      graft.model.FieldIds.idOf(tf)
        .flatMap(graft.model.FieldIds.fieldById(ws, _)) match {
        case None     => true // no era counterpart: absent-name null read
        case Some(wf) => SchemaEvolution.widensTo(wf.dataType, tf.dataType)
      }
    }

  /** The era's physical request field for target field `tf`: the
    * id-resolved era name with the TARGET type (widening reads handle
    * the promotion). A field with NO era counterpart — dropped-then-
    * re-added names included — requests a name PROVABLY ABSENT from the
    * era file, so it reads null: requesting the target NAME would
    * resurrect a retired field's bytes whenever the era file happens to
    * store that name (the dropped-column leak the by-id contract
    * forbids). */
  def eraField(ws: StructType, tf: StructField): StructField = {
    val physical = graft.model.FieldIds.idOf(tf)
      .flatMap(graft.model.FieldIds.fieldById(ws, _))
      .map(_.name).getOrElse {
        var n = s"_graft_absent_${tf.name}"
        while (ws.fieldNames.contains(n)) n += "_"
        n
      }
    StructField(physical, tf.dataType, nullable = true)
  }

  /** Column names whose era mapping is the IDENTITY (the id-resolved
    * physical name equals the target name) — the only names parquet
    * row-group filters may push for this era: a filter under a name
    * that means a DIFFERENT field in the era file would prune row
    * groups on the wrong column's statistics. Absent-name requests
    * never qualify (synthetic names never equal the target's). */
  def stableNames(ws: StructType, target: StructType): Set[String] =
    target.fields.filter(tf => eraField(ws, tf).name == tf.name)
      .map(_.name).toSet
}

/** Count of O(files) plan-time manifest folds actually EXECUTED (cache
  * misses) — the measurement surface for the per-snapshot memoization:
  * one plan must fold each aspect once, however many times the
  * optimizer asks. */
object GraftFoldStats {
  private val n = new java.util.concurrent.atomic.AtomicLong(0L)
  private[lake] def record(): Unit = n.incrementAndGet()
  def count: Long = n.get()
  def reset(): Unit = n.set(0L)
}

/** Last pruning decision per table dir — the measurement surface
  * GraftCatalogSpec asserts on (file counts only, never data). */
object GraftScanStats {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private[lake] def record(dir: String, kept: Long, total: Long): Unit =
    last.put(dir, (kept, total))
  /** (files scanned, files in manifest) of the most recent scan. */
  def lastScan(dir: String): Option[(Long, Long)] = Option(last.get(dir))
}

/** The manifest file-admission rule, decided here and nowhere else:
  * which manifest entries may hold a row matching a predicate (partition
  * values read under each file's spec transform, then recorded stats
  * bounds), and which entries are exact-day files. Plus the Filter →
  * Column translation the scans share. All decisions are conservative:
  * an untranslatable shape keeps every file and defers to Spark's
  * residual evaluation. */
object GraftPruning {

  /** v1 Filter → Column, total translation or None (never partial — a
    * half-translated Not/Or would change semantics). */
  def translate(f: Filter, schema: StructType): Option[org.apache.spark.sql.Column] = {
    def has(attr: String) = schema.fieldNames.contains(attr)
    f match {
      case _: AlwaysTrue                      => Some(lit(true))
      case _: AlwaysFalse                     => Some(lit(false))
      case EqualTo(a, v) if has(a)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) if has(a)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) if has(a)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) if has(a) => Some(col(a) >= lit(v))
      case LessThan(a, v) if has(a)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) if has(a)    => Some(col(a) <= lit(v))
      case In(a, vs) if has(a)                => Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a) if has(a)                => Some(col(a).isNull)
      case IsNotNull(a) if has(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v) if has(a)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) if has(a)     => Some(col(a).endsWith(v))
      case StringContains(a, v) if has(a)     => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- translate(l, schema); rc <- translate(r, schema)) yield lc && rc
      case Or(l, r) =>
        for (lc <- translate(l, schema); rc <- translate(r, schema)) yield lc || rc
      case Not(c) => translate(c, schema).map(!_)
      case _      => None
    }
  }

  /** Conjunctive manifest pruning: a file survives iff every top-level
    * conjunct admits it. Only top-level Ands split — Or/Not conjuncts
    * never prune (conservative). Callers still apply the row-level
    * predicate: admission is necessary, not sufficient. */
  def filePredicate(filters: Array[Filter]): DataFile => Boolean = {
    val conjuncts = filters.toSeq.flatMap(splitAnd)
    f => conjuncts.forall(c => admits(c, f))
  }

  /** Can file `f` hold rows of `day` (yyyy-MM-dd)? The equality case of
    * the day mapping, for tables whose day column is not the convention
    * one. */
  def matchesDay(f: DataFile, day: String): Boolean =
    admits(EqualTo(PartitionCol, day), f)

  /** An exact-day file: partitioned, and its partition value IS every
    * row's day (spec none, `identity` or `day`). Day pruning on such a
    * file is row filtering, and its partition value is its rows' group
    * key. */
  def exactDay(f: DataFile): Boolean =
    f.partition.nonEmpty && (f.spec match {
      case None | Some("identity") | Some("day") => true
      case Some(_)                               => false
    })

  /** Every file of `snap` is an exact-day file or an engine-written
    * unpartitioned one (no partition value, spec none) — the
    * precondition for treating partition values as day keys in
    * per-partition rewrites (compaction, retention, the COW merge). A
    * month, hour or cluster file would pull foreign rows into a per-day
    * rewrite while its own entry stays; a REST "unpartitioned" file may
    * hold rows of any day that no per-day rewrite reaches. */
  def exactDayLayout(snap: Snapshot): Boolean =
    snap.files.forall(f => exactDay(f) || f.partition.isEmpty && f.spec.isEmpty)

  /** SQL INSERT's layout precondition: every partitioned file is an
    * exact-day file. An insert appends beside the live files and
    * rewrites none, so an unpartitioned file of any spec stays whole;
    * a day-partitioned append into a month, hour or cluster layout
    * would break the layout that layout's pruning reasons about. */
  def insertableLayout(snap: Snapshot): Boolean =
    snap.files.forall(f => f.partition.isEmpty || exactDay(f))

  private def splitAnd(f: Filter): Seq[Filter] = f match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other     => Seq(other)
  }

  private val PartitionCol = graft.model.SchemaBuilder.partitionColumn

  /** A partitioned file's day key under its spec transform: the key and
    * the length of the day prefix it stands for (None = the whole day —
    * identity/day files, and hour files through their day prefix, which
    * are finer than a day). None for unpartitioned files and unknown
    * transforms, which no day predicate prunes. */
  private def dayKey(f: DataFile): Option[(String, Option[Int])] =
    if (exactDay(f)) Some((f.partition, None))
    else if (f.partition.isEmpty) None
    else f.spec match {
      case Some("hour")  => Some((f.partition.take(10), None))
      case Some("month") => Some((f.partition, Some(7)))
      case Some("year")  => Some((f.partition, Some(4)))
      case _             => None
    }

  /** Can a file whose day key is `key` (standing for a day prefix of
    * `width`) hold a row satisfying day conjunct `c`? None = `c` is not
    * a day conjunct. A coarse key (month, year) holds days on both sides
    * of the one it shares a prefix with, so strict ranges keep it. Day
    * literals render to ISO strings (a date-typed literal prints the same
    * form). */
  private def dayAdmits(c: Filter, key: String, width: Option[Int]): Option[Boolean] = {
    def cmp(v: Any): Int = {
      val day = String.valueOf(v)
      key.compareTo(width.fold(day)(day.take))
    }
    val coarse = width.isDefined
    c match {
      case EqualTo(PartitionCol, v)            => Some(cmp(v) == 0)
      case In(PartitionCol, vs)                => Some(vs.exists(cmp(_) == 0))
      case GreaterThan(PartitionCol, v)        => val k = cmp(v); Some(k > 0 || coarse && k == 0)
      case GreaterThanOrEqual(PartitionCol, v) => Some(cmp(v) >= 0)
      case LessThan(PartitionCol, v)           => val k = cmp(v); Some(k < 0 || coarse && k == 0)
      case LessThanOrEqual(PartitionCol, v)    => Some(cmp(v) <= 0)
      case _                                   => None
    }
  }

  /** Can file `f` hold a row satisfying conjunct `c`? Day conjuncts
    * evaluate under the FILE's own spec transform (spec evolution: one
    * snapshot may mix identity-, month- and hour-partitioned files);
    * stats bounds are trusted only when recorded FOR the filtered column
    * ([[DataFile.boundsFor]]: the primary stats pair or the grid
    * rewrite's extra bounds), and numeric filter values compare
    * numerically (string bounds lie for numbers: "9" > "10"). */
  private def admits(c: Filter, f: DataFile): Boolean =
    dayKey(f).flatMap { case (key, width) => dayAdmits(c, key, width) }
      .getOrElse(c match {
        case EqualTo(a, v) if hasBounds(f, a)            => overlaps(f, a, v, v)
        case GreaterThan(a, v) if hasBounds(f, a)        => overlaps(f, a, v, null)
        case GreaterThanOrEqual(a, v) if hasBounds(f, a) => overlaps(f, a, v, null)
        case LessThan(a, v) if hasBounds(f, a)           => overlaps(f, a, null, v)
        case LessThanOrEqual(a, v) if hasBounds(f, a)    => overlaps(f, a, null, v)
        case In(a, vs) if hasBounds(f, a)                => vs.exists(v => overlaps(f, a, v, v))
        case _ => true
      })

  private def hasBounds(f: DataFile, attr: String): Boolean =
    f.boundsFor(attr).isDefined

  /** Does the file's recorded `[min, max]` for `attr` overlap `[lo, hi]`
    * (null = unbounded)? String values compare lexically (sound for
    * zero-padded LSNs and ISO dates), numeric values numerically via
    * BigDecimal; a bound that does not parse as a number ("Infinity",
    * "NaN") keeps the file. */
  private def overlaps(f: DataFile, attr: String, lo: Any, hi: Any): Boolean = {
    val (mn, mx) = f.boundsFor(attr).get
    def cmpOk(bound: String, v: Any, geq: Boolean): Boolean = v match {
      case null => true
      case s: String => if (geq) bound >= s else bound <= s
      case n: Number =>
        try {
          val b = BigDecimal(bound); val x = BigDecimal(n.toString)
          if (geq) b >= x else b <= x
        } catch { case _: NumberFormatException => true }
      case _ => true // unknown literal type: never prune
    }
    cmpOk(mx, lo, geq = true) && cmpOk(mn, hi, geq = false)
  }
}

/** Metadata tables served through nested identifiers, measured from the
  * manifest (never recomputed from data) — ref sample-queries.sql:55-61. */
private[lake] object GraftMetaTables {

  val names: Set[String] = Set("snapshots", "history", "files", "refs", "partitions")

  def load(spark: SparkSession, tableName: String, tableDir: String,
           meta: String): Table = {
    import spark.implicits._
    // current-snapshot tables resolve in O(1) manifest parses; only the
    // genuinely historical tables pay an O(history) walk (the resolution
    // cost trap SnapshotLog.snapshotIds' scaladoc warns about)
    def cur: Snapshot = SnapshotLog.currentSnapshot(spark, tableDir).get
    val df: DataFrame = meta match {
      case "snapshots" =>
        SnapshotLog.snapshots(spark, tableDir)
          .map(sn => (sn.id, sn.parentId, sn.operation,
            sn.files.size.toLong, sn.totalRows, sn.tsMs))
          .toDF("snapshot_id", "parent_id", "operation", "n_files",
            "n_rows", "committed_at_ms")
      case "history" =>
        val snaps = SnapshotLog.snapshots(spark, tableDir)
        val curId = snaps.last.id
        snaps.map(sn => (sn.id, sn.parentId, sn.totalRows, sn.id == curId))
          .toDF("snapshot_id", "parent_id", "n_rows", "is_current")
      case "files" =>
        cur.files.map(f => (f.path, f.partition, f.rows, f.sizeBytes,
          f.seq, f.minLsn, f.maxLsn))
          .toDF("file_path", "partition", "n_rows", "size_bytes",
            "added_snapshot_id", "bounds_min", "bounds_max")
      case "partitions" =>
        cur.files.groupBy(f => (f.partition, f.spec.getOrElse("identity")))
          .toSeq.map { case ((p, spec), fs) =>
            (p, spec, fs.size.toLong, fs.map(_.rows).sum,
              fs.map(_.sizeBytes).sum)
          }
          .toDF("partition", "spec", "n_files", "n_rows", "size_bytes")
      case "refs" =>
        val tagRows = SnapshotLog.tags(spark, tableDir).toSeq
          .map { case (n, id) => (n, "tag", id) }
        val branchRows = SnapshotLog.branches(spark, tableDir)
          .map(b => (b, "branch", SnapshotLog.branchHead(spark, tableDir, b).id))
        val mainRow = Seq(("main", "branch", cur.id))
        (mainRow ++ tagRows ++ branchRows)
          .toDF("ref_name", "ref_type", "snapshot_id")
      case other =>
        throw new IllegalArgumentException(s"unknown metadata table $other")
    }
    new GraftMetaTable(s"$tableName", df)
  }
}

/** A driver-materialized metadata frame behind the V1 bridge. Metadata
  * is manifest-sized (entries, not rows), so serving it from the driver
  * is the scale-correct shape. */
private[lake] final class GraftMetaTable(tableName: String, df: DataFrame)
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = df.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val out = required
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = out
            override def buildScan(): RDD[Row] =
              df.select(out.fieldNames.toSeq.map(col): _*).rdd
          }.asInstanceOf[T]
        }
      }
    }
}
