package graft.lake

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style maintenance procedures, served through Spark 4's
  * `ProcedureCatalog` so the operational surface is plain SQL:
  *
  * {{{
  *   CALL <cat>.system.rewrite_data_files(table => 'db.t', max_files => 4)
  *   CALL <cat>.system.expire_snapshots(table => 'db.t', keep_last => 7)
  *   CALL <cat>.system.fold_deletes(table => 'db.t')
  *   CALL <cat>.system.normalize_layout(table => 'db.t')
  *   CALL <cat>.system.rollback_to_snapshot(table => 'db.t', snapshot_id => 3)
  *   CALL <cat>.system.create_tag(table => 'db.t', tag => 'run1', snapshot_id => 3)
  *   CALL <cat>.system.drop_tag(table => 'db.t', tag => 'run1')
  * }}}
  *
  * Each call is one engine maintenance operation under the table lock,
  * and each returns its MEASURED effect (files swept, partitions
  * rewritten, resulting snapshot id) as a one-row result — the same
  * contract Iceberg's system procedures expose. Results are served via
  * [[LocalScan]]: procedure outputs are O(1) rows, driver-local by
  * construction. */
private[lake] object GraftProcedures {

  /** table argument → table dir, resolved against the owning catalog's
    * warehouse (multi-part names use '.' separators). */
  private type Resolve = String => String

  val names: Seq[String] = Seq("expire_snapshots", "rewrite_data_files",
    "cluster_by", "fold_deletes", "normalize_layout", "rollback_to_snapshot",
    "create_tag", "drop_tag",
    "create_branch", "fast_forward", "drop_branch")

  def load(resolve: Resolve, name: String): Option[UnboundProcedure] = {
    def spark = SparkSession.active
    // the engine's day-partition convention, as the writers apply it
    def pcolOf(dir: String) = SnapshotLog.currentSnapshot(spark, dir)
      .flatMap(s => SnapshotLog.conventionPartitionCol(s.schema))
    name match {
      // debris_grace_ms defaults to SnapshotLog's conservative orphan-
      // cleanup grace; single-process deployments pass 0 for an
      // immediate sweep of never-referenced debris
      case "expire_snapshots" => Some(proc(name,
        Seq("table" -> StringType, "keep_last" -> IntegerType,
          "debris_grace_ms" -> LongType),
        new StructType().add("removed_files", LongType),
        in => {
          val removed = SnapshotLog.expire(spark, resolve(str(in, 0)),
            in.getInt(1), debrisGraceMs = in.getLong(2))
          Seq(row(removed.toLong))
        },
        defaults = Map(
          "debris_grace_ms" -> SnapshotLog.DefaultDebrisGraceMs.toString)))
      case "rewrite_data_files" => Some(proc(name,
        Seq("table" -> StringType, "max_files" -> IntegerType),
        new StructType().add("rewritten_partitions", LongType),
        in => {
          val dir = resolve(str(in, 0))
          val rewritten = SnapshotLog.compact(spark, dir, pcolOf(dir), in.getInt(1))
          Seq(row(rewritten.size.toLong))
        }))
      case "fold_deletes" => Some(proc(name,
        Seq("table" -> StringType),
        new StructType().add("snapshot_id", LongType),
        in => {
          val dir = resolve(str(in, 0))
          val folded = SnapshotLog.foldDeletes(spark, dir, pcolOf(dir))
          Seq(row(folded.map(_.id).getOrElse(-1L)))
        }))
      // the repair the layout refusal names: a clustered or spec-evolved
      // table back to exact days, so COW merges and retention run again
      case "normalize_layout" => Some(proc(name,
        Seq("table" -> StringType),
        new StructType().add("snapshot_id", LongType),
        in => {
          val dir = resolve(str(in, 0))
          val snap = SnapshotLog.normalizeLayout(spark, dir, pcolOf(dir))
          Seq(row(snap.map(_.id).getOrElse(-1L)))
        }))
      case "rollback_to_snapshot" => Some(proc(name,
        Seq("table" -> StringType, "snapshot_id" -> LongType),
        new StructType().add("current_snapshot_id", LongType),
        in => {
          val snap = SnapshotLog.rollback(spark, resolve(str(in, 0)), in.getLong(1))
          Seq(row(snap.id))
        }))
      case "create_tag" => Some(proc(name,
        Seq("table" -> StringType, "tag" -> StringType, "snapshot_id" -> LongType),
        new StructType().add("tagged_snapshot_id", LongType),
        in => {
          SnapshotLog.tag(spark, resolve(str(in, 0)), str(in, 1), in.getLong(2))
          Seq(row(in.getLong(2)))
        }))
      case "drop_tag" => Some(proc(name,
        Seq("table" -> StringType, "tag" -> StringType),
        new StructType().add("dropped", LongType),
        in => {
          SnapshotLog.dropTag(spark, resolve(str(in, 0)), str(in, 1))
          Seq(row(1L))
        }))
      // rewrite_data_files with a SORT strategy: range-cluster the
      // table on a column so stats pruning gets disjoint per-file
      // ranges (splits as a comma-joined ascending list — explicit and
      // reproducible, like the programmatic clusterBy)
      case "cluster_by" => Some(proc(name,
        Seq("table" -> StringType, "column" -> StringType,
          "splits" -> StringType),
        new StructType().add("snapshot_id", LongType),
        in => {
          val splits = str(in, 2).split(',').toSeq.map(_.trim.toDouble)
          val snap = SnapshotLog.clusterBy(spark, resolve(str(in, 0)),
            str(in, 1), splits)
          Seq(row(snap.id))
        }))
      // write-audit-publish as procedures: stage on a branch (the
      // engine writers append to it), audit via VERSION AS OF
      // '<branch>', publish by metadata-only fast-forward
      case "create_branch" => Some(proc(name,
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("base_snapshot_id", LongType),
        in => Seq(row(SnapshotLog.createBranch(
          spark, resolve(str(in, 0)), str(in, 1))))))
      case "fast_forward" => Some(proc(name,
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("published_snapshots", LongType),
        in => Seq(row(SnapshotLog.publish(
          spark, resolve(str(in, 0)), str(in, 1)).size.toLong))))
      case "drop_branch" => Some(proc(name,
        Seq("table" -> StringType, "branch" -> StringType),
        new StructType().add("dropped", LongType),
        in => {
          SnapshotLog.dropBranch(spark, resolve(str(in, 0)), str(in, 1))
          Seq(row(1L))
        }))
      case _ => None
    }
  }

  private def str(in: InternalRow, i: Int): String =
    in.getUTF8String(i).toString

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.map {
      case s: String => UTF8String.fromString(s)
      case o         => o.asInstanceOf[AnyRef]
    }.toArray[Any])

  private def proc(procName: String, params: Seq[(String, DataType)],
                   out: StructType,
                   body: InternalRow => Seq[InternalRow],
                   defaults: Map[String, String] = Map.empty): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft maintenance: $procName"
          override def parameters(): Array[ProcedureParameter] =
            params.map { case (n, t) =>
              val b = ProcedureParameter.in(n, t)
              defaults.get(n).foreach(b.defaultValue)
              b.build()
            }.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): JIterator[Scan] = {
            val resultRows = body(input).toArray
            Collections.singletonList[Scan](new LocalScan {
              override def rows(): Array[InternalRow] = resultRows
              override def readSchema(): StructType = out
            }).iterator()
          }
        }
    }
}
