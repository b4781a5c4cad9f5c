package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, AttributeReference, EqualTo => CEqualTo, Expression, GreaterThanOrEqual => CGte, IsNull => CIsNull, Or => COr}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.SnapshotLog.Snapshot

/** SQL reads of a snapshot with LIVE v2 deletes: every such
  * [[GraftTable]] relation is replaced by [[GraftMorScan.applyDeletes]]
  * — the same composition [[SnapshotLog.read]] applies to engine reads,
  * so SQL and engine reads of one snapshot plan the same tree.
  *
  * Scope: every relation in the plan, inside commands too (the query of
  * an INSERT ... SELECT or a CTAS reads live rows). Write targets are
  * not children of their commands (`AppendData.table`) and stay plain;
  * `DELETE FROM`'s target IS its child and is skipped, because the
  * `SupportsDelete` lowering pattern-matches the plain relation. UPDATE
  * and MERGE on graft tables are lowered earlier, in resolution
  * ([[GraftDmlRule]]). A relation with deletes that escaped this rule
  * fails at scan building instead of reading dead rows
  * ([[GraftScanBuilder]]). */
private[lake] final class GraftMorScanRule(spark: SparkSession)
  extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: DeleteFromTable => plan
    case _ => plan.transformUpWithSubqueries {
      case rel: DataSourceV2Relation if GraftMorScan.hasLiveDeletes(rel) =>
        GraftMorScan.applyDeletes(spark, rel)
    }
  }
}

/** The one merge-on-read composition: a snapshot relation becomes the
  * raw data relation ([[GraftMorDataTable]]) with delete application
  * ABOVE it as ordinary Catalyst joins the optimizer can see through —
  * the scan stays a columnar `BatchScanExec` with manifest plan-time
  * stats and runtime (DPP) file skipping.
  *
  * Shape (either leg present only when its delete kind is live):
  * {{{
  *   Project(table columns [+ abs, pos lineage])
  *     Filter(del_seq IS NULL OR seq >= del_seq)        -- eq survival
  *       Join LeftOuter (eq key columns)                 -- size-gated
  *         Join LeftAnti ((abs, pos) = delete slots)     -- size-gated
  *           DataSourceV2Relation(GraftMorDataTable)     -- columnar scan
  *           <pos-delete parquet, distinct slots>
  *         <eq-delete parquet, max seq per key>
  * }}}
  *
  * The data relation serves three lineage columns without touching a
  * data byte: abs and seq ride Spark's partition-value channel (one
  * constant vector per file, valued from the manifest) and pos the
  * parquet readers' row-index column — so the (file, pos) identity
  * positional deletes target and the data-sequence-number equality
  * deletes rank against are both plan-served, never recomputed. Their
  * names are [[lineageOf]] the table schema: `_abs`/`_pos`/`_seq` unless
  * a user column already holds one.
  *
  * Delete sets stay size-gated from manifest bytes (broadcast when
  * delta-sized, shuffle-hash when not) — the stored side never sorts or
  * shuffles for delete application.
  *
  * Ref: the reference queries freshly-merged CDC tables as its primary
  * product surface (docs/query/sample-queries.sql:95-112); Iceberg's own
  * readers apply deletes per-task instead, at the cost of bespoke
  * columnar delete-aware readers — composing Spark's existing join
  * machinery is the Spark-native equivalent. */
private[lake] object GraftMorScan {

  /** The lineage column names of one table: `abs` is the row's data-file
    * path in the `_abs` form ([[SnapshotLog.absKey]]), `pos` its row
    * ordinal within that file (parquet row index), `seq` the
    * data-sequence-number of its file (manifest-recorded). */
  final case class Lineage(abs: String, pos: String, seq: String) {
    def names: Set[String] = Set(abs, pos, seq)
  }

  /** `_abs`/`_pos`/`_seq`, each extended with `_` until no column of
    * `schema` holds it (case-insensitively, Spark's default resolution)
    * — the same absent-name rule as [[GraftEras.eraField]], so a user
    * column named `_abs` reads as data beside the lineage column. */
  def lineageOf(schema: StructType): Lineage = {
    def absent(base: String): String = {
      var n = base
      while (schema.fieldNames.exists(_.equalsIgnoreCase(n))) n += "_"
      n
    }
    Lineage(absent("_abs"), absent("_pos"), absent("_seq"))
  }

  /** The data schema extended with the plan-served lineage columns —
    * the [[GraftMorDataTable]] surface. */
  def dataSchemaWithLineage(schema: StructType): StructType = {
    val l = lineageOf(schema)
    StructType(schema.fields ++ Seq(
      StructField(l.abs, StringType, nullable = false),
      StructField(l.pos, LongType, nullable = false),
      StructField(l.seq, LongType, nullable = false)))
  }

  def hasLiveDeletes(rel: DataSourceV2Relation): Boolean = rel.table match {
    case t: GraftTable => hasLiveDeletes(t.snapshot)
    case _             => false
  }

  def hasLiveDeletes(snap: Snapshot): Boolean =
    snap.files.nonEmpty && (snap.deletes.nonEmpty || snap.posDeletes.nonEmpty)

  /** `rel` (over a [[GraftTable]]) with the snapshot's live deletes
    * applied. Without deletes and lineage the relation is returned as
    * is. With `lineage`, the output is `rel.output` plus the abs and pos
    * lineage columns of every LIVE row — the scan row-level DML
    * evaluates its predicate on. */
  def applyDeletes(spark: SparkSession, rel: DataSourceV2Relation,
                   lineage: Boolean = false): LogicalPlan = {
    val table = rel.table.asInstanceOf[GraftTable]
    val snap = table.snapshot
    if (!lineage && !hasLiveDeletes(snap)) return rel
    val dir = table.dir
    val names = lineageOf(snap.schema)
    val absAttr = AttributeReference(names.abs, StringType, nullable = false)()
    val posAttr = AttributeReference(names.pos, LongType, nullable = false)()
    val seqAttr = AttributeReference(names.seq, LongType, nullable = false)()
    val dataRel = rel.copy(
      table = new GraftMorDataTable(s"${table.name()}#data", dir, snap),
      output = rel.output ++ Seq(absAttr, posAttr, seqAttr))

    // positional deletes: row identity (file, pos) is absolute — the
    // distinct slot frame anti-joined above the columnar scan
    val afterPos: LogicalPlan = if (snap.posDeletes.isEmpty) dataRel else {
      val plan = dfPlan(SnapshotLog.posDeleteSlotsFrame(spark, dir, snap,
        "_g_pabs", "_g_ppos"))
      Join(dataRel, plan, LeftAnti,
        Some(CAnd(CEqualTo(absAttr, attrOf(plan, "_g_pabs")),
          CEqualTo(posAttr, attrOf(plan, "_g_ppos")))),
        JoinHint.NONE)
    }

    // equality deletes: the (key → newest delete seq) frames, ONE PER
    // KEY-SET ERA (merge keys may change between folds). A row survives
    // iff no era's matching delete outranks its file — the eras stack as
    // independent size-gated join+filter legs above the scan, each with
    // fresh exprIds, so two eras deleting on different key columns
    // compose without shadowing
    val out: LogicalPlan =
      snap.deletes.groupBy(_.eqCols).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(afterPos) { case (acc, (eqCols, dels)) =>
          val plan = dfPlan(SnapshotLog.eqDeleteMaxFrame(spark, dir, snap,
            "_g_del_seq", dels))
          val delSeq = attrOf(plan, "_g_del_seq")
          val cond = eqCols.map { c =>
            CEqualTo(attrOf(dataRel, c), attrOf(plan, c)): Expression
          }.reduce(CAnd(_, _))
          Filter(COr(CIsNull(delSeq), CGte(seqAttr, delSeq)),
            Join(acc, plan, LeftOuter, Some(cond), JoinHint.NONE))
        }

    Project(rel.output ++ (if (lineage) Seq(absAttr, posAttr) else Nil), out)
  }

  /** Analyzed plan of a driver-built frame (delete sets are
    * manifest-enumerated parquet paths — analysis of these subplans
    * never re-enters the rule: they contain no graft relations). */
  private def dfPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  private def attrOf(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(
        s"MOR composition lost column $name in ${plan.output.map(_.name)}"))
}

/** The raw data-file relation behind the MOR composition: the
  * snapshot's data files (deletes NOT applied — the joins above apply
  * them) plus the three plan-served lineage columns. Never
  * catalog-addressable; exists only inside composed plans. */
private[lake] final class GraftMorDataTable(tableName: String,
                                            tableDir: String, snap: Snapshot)
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType =
    GraftMorScan.dataSchemaWithLineage(snap.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableDir, snap, morData = true)
}
