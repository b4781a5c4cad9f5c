package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, AttributeReference, EqualTo => CEqualTo, GreaterThanOrEqual => CGte, IsNull => CIsNull, Or => COr}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Command, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.SnapshotLog.Snapshot

/** The columnar merge-on-read rewrite: a read-position SQL scan of a
  * snapshot with LIVE v2 deletes keeps the native `BatchScanExec`
  * (columnar parquet, whole-stage codegen, manifest plan-time stats,
  * runtime/DPP file skipping) instead of dropping to the V1 bridge —
  * delete application moves ABOVE the scan as ordinary Catalyst joins
  * the optimizer can see through.
  *
  * Shape (either leg present only when its delete kind is live):
  * {{{
  *   Project(table columns)
  *     Filter(_del_seq IS NULL OR _seq >= _del_seq)      -- eq survival
  *       Join LeftOuter (eq key columns)                 -- size-gated
  *         Join LeftAnti ((_abs,_pos) = delete slots)    -- size-gated
  *           DataSourceV2Relation(GraftMorDataTable)     -- columnar scan
  *           <pos-delete parquet, distinct slots>
  *         <eq-delete parquet, max seq per key>
  * }}}
  *
  * The data relation serves three lineage columns without touching a
  * data byte: `_abs` and `_seq` ride Spark's partition-value channel
  * (one constant vector per file, valued from the manifest) and `_pos`
  * the parquet readers' row-index column — so the (file, pos) identity
  * positional deletes target and the data-sequence-number equality
  * deletes rank against are both plan-served, never recomputed.
  *
  * At 100 TB this is the difference between the hottest tables (freshly
  * CDC-merged, always carrying live deletes between foldDeletes runs)
  * reading columnar with manifest stats + DPP, and those same tables
  * losing all three exactly when they are queried most. Delete sets
  * stay size-gated from manifest bytes (broadcast when delta-sized,
  * shuffle-hash when not) — the stored side never sorts or shuffles for
  * delete application, same as [[SnapshotLog.read]].
  *
  * Safety: the rewrite only fires on READ-position relations (whole
  * Command trees are left alone — their reads fall back to the V1
  * bridge, which applies deletes itself, so the rewrite is purely an
  * optimization and correctness never depends on it firing). Refused
  * shapes — renamed-era files, mixed eq-key sets, a
  * user column shadowing a lineage name — fall back the same way.
  * Disable with `spark.graft.morBatchScan.enabled=false`.
  *
  * Ref: the reference queries freshly-merged CDC tables as its primary
  * product surface (docs/query/sample-queries.sql:95-112); Iceberg's own
  * readers apply deletes per-task instead, at the cost of bespoke
  * columnar delete-aware readers — composing Spark's existing join
  * machinery is the Spark-native equivalent. */
private[lake] final class GraftMorScanRule(spark: SparkSession)
  extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML/DDL/write targets must keep the plain relation (DELETE's
    // SupportsDelete lowering, MERGE/UPDATE's rule, INSERT's target
    // resolution all pattern-match on it); their READ sides stay on the
    // V1 bridge, which is correct on its own
    case _: Command => plan
    case _ if !enabled => plan
    case _ => plan.transformUpWithSubqueries {
      case rel: DataSourceV2Relation if eligible(rel) => rewrite(rel)
    }
  }

  private def enabled: Boolean =
    spark.sessionState.conf
      .getConfString("spark.graft.morBatchScan.enabled", "true") == "true"

  private def eligible(rel: DataSourceV2Relation): Boolean = rel.table match {
    case t: GraftTable => GraftMorScan.eligible(t.snapshot)
    case _             => false
  }

  private def rewrite(rel: DataSourceV2Relation): LogicalPlan = {
    import GraftMorScan.{AbsCol, PosCol, SeqCol}
    val table = rel.table.asInstanceOf[GraftTable]
    val snap = table.snapshot
    val dir = table.dir
    val absAttr = AttributeReference(AbsCol, StringType, nullable = false)()
    val posAttr = AttributeReference(PosCol, LongType, nullable = false)()
    val seqAttr = AttributeReference(SeqCol, LongType, nullable = false)()
    val dataRel = rel.copy(
      table = new GraftMorDataTable(s"${table.name()}#data", dir, snap),
      output = rel.output ++ Seq(absAttr, posAttr, seqAttr))

    // positional deletes: row identity (file, pos) is absolute — the
    // SHARED distinct slot frame ([[SnapshotLog.posDeleteSlotsFrame]];
    // the V1 MOR read uses the same builder so the paths cannot drift)
    // anti-joined above the columnar scan
    val afterPos: LogicalPlan = if (snap.posDeletes.isEmpty) dataRel else {
      val plan = dfPlan(SnapshotLog.posDeleteSlotsFrame(spark, dir, snap,
        "_g_pabs", "_g_ppos"))
      val pabs = attrOf(plan, "_g_pabs")
      val ppos = attrOf(plan, "_g_ppos")
      Join(dataRel, plan, LeftAnti,
        Some(CAnd(CEqualTo(absAttr, pabs), CEqualTo(posAttr, ppos))),
        JoinHint.NONE)
    }

    // equality deletes: the SHARED (key → newest delete seq) frames
    // ([[SnapshotLog.eqDeleteMaxFrame]]), ONE PER KEY-SET ERA (merge
    // keys may change between folds). A row survives iff no era's
    // matching delete outranks its file — the eras stack as
    // independent size-gated join+filter legs above the scan, each
    // with fresh exprIds, so two eras deleting on different key
    // columns compose without shadowing
    val out: LogicalPlan = if (snap.deletes.isEmpty) afterPos else {
      snap.deletes.groupBy(_.eqCols).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(afterPos) { case (acc, (eqCols, dels)) =>
          val plan = dfPlan(SnapshotLog.eqDeleteMaxFrame(spark, dir, snap,
            "_g_del_seq", dels))
          val delSeq = attrOf(plan, "_g_del_seq")
          val cond = eqCols.map { c =>
            CEqualTo(attrOf(dataRel, c), attrOf(plan, c)): org.apache.spark.sql.catalyst.expressions.Expression
          }.reduce(CAnd(_, _))
          Filter(COr(CIsNull(delSeq), CGte(seqAttr, delSeq)),
            Join(acc, plan, LeftOuter, Some(cond), JoinHint.NONE))
        }
    }

    Project(rel.output, out)
  }

  /** Analyzed plan of a driver-built frame (delete sets are
    * manifest-enumerated parquet paths — analysis of these subplans
    * never re-enters this rule: they contain no graft relations). */
  private def dfPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  private def attrOf(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(
        s"MOR rewrite lost column $name in ${plan.output.map(_.name)}"))
}

/** Shared vocabulary + eligibility for the MOR batch rewrite. */
private[lake] object GraftMorScan {

  /** Absolute (scheme-stripped) data-file path of the row. */
  val AbsCol = "_abs"
  /** Row ordinal within its data file (parquet row index). */
  val PosCol = "_pos"
  /** Data-sequence-number of the row's file (manifest-recorded). */
  val SeqCol = "_seq"

  val LineageCols: Set[String] = Set(AbsCol, PosCol, SeqCol)

  /** The data schema extended with the plan-served lineage columns —
    * the [[GraftMorDataTable]] surface. */
  def dataSchemaWithLineage(schema: StructType): StructType =
    StructType(schema.fields ++ Seq(
      StructField(AbsCol, StringType, nullable = false),
      StructField(PosCol, LongType, nullable = false),
      StructField(SeqCol, LongType, nullable = false)))

  /** Fires only where the rewrite is provably exact: live deletes over
    * a file set the native batch scan can serve (no renamed-era by-id
    * reads), every delete era's key columns still
    * existing (mixed key-set eras stack one frame each), and no user
    * column shadowing a lineage name. Anything else keeps the V1
    * bridge (correct, just slower). */
  def eligible(snap: Snapshot): Boolean = {
    val schema = snap.schema
    (snap.deletes.nonEmpty || snap.posDeletes.nonEmpty) &&
      snap.files.nonEmpty &&
      !schema.fieldNames.exists(n => LineageCols.exists(_.equalsIgnoreCase(n))) &&
      snap.deletes.forall(_.eqCols.forall(schema.fieldNames.contains)) && {
        val eras = SnapshotLog.parsedSchemas(snap)
        snap.files.forall(f => f.schemaId == 0 ||
          eras.get(f.schemaId).forall(ws =>
            GraftEras.readable(ws, schema)))
      }
  }
}

/** The raw data-file relation behind the MOR rewrite: the snapshot's
  * data files (deletes NOT applied — the joins above apply them) plus
  * the three plan-served lineage columns. Never catalog-addressable;
  * exists only inside rewritten plans. */
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
