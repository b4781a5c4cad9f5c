package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}

/** SQL `UPDATE` and `MERGE INTO` for [[GraftCatalog]] tables, via
  * `SparkSessionExtensions` — the remaining DML verbs Spark only serves
  * to connectors through the row-level-operations API, lowered instead
  * onto the commit log's own row-level machinery
  * ([[SnapshotLog.updateWhere]], [[SnapshotLog.mergeInto]]): one atomic
  * snapshot per statement, positional-delete slots plus replacement
  * rows, O(matches) bytes (the pre-DSv2-row-level pattern Iceberg's own
  * Spark extensions used). Register with
  * `spark.sql.extensions=graft.lake.GraftSqlExtensions`.
  *
  * A resolution rule intercepts the RESOLVED `UpdateTable` /
  * `MergeIntoTable` nodes targeting a [[GraftTable]] and rewrites them
  * to eager command nodes; everything the translator cannot express
  * (subqueries, non-equi merge conditions, unsupported expression
  * shapes) fails loudly at analysis — never a silently-partial DML. */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(spark => new GraftDmlRule(spark))
    // post-hoc (after resolution, before the optimizer's scan pushdown):
    // MOR relations get their delete-application joins above the
    // columnar scan ([[GraftMorScanRule]])
    ext.injectPostHocResolutionRule(spark => new GraftMorScanRule(spark))
    ext.injectPlannerStrategy(_ => GraftDmlStrategy)
    // physical: broadcasts of content-cached delete frames reuse ONE
    // Broadcast handle per (frame, key shape) across queries instead of
    // re-broadcasting per query. Columnar rules run on every plan, AQE
    // or not (under AQE on each new query stage).
    ext.injectColumnar(_ =>
      org.apache.spark.sql.execution.exchange.GraftBroadcastReuseRule)
  }
}

/** Eager command node: `run` performs the whole DML under the table
  * lock when the command executes. */
private[lake] final case class GraftDmlCommand(
    name: String, run: () => Unit) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

private[lake] object GraftDmlStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftDmlCommand => GraftDmlExec(c.name, c.run) :: Nil
    case _                  => Nil
  }
}

private[lake] final case class GraftDmlExec(name: String, run: () => Unit)
  extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Array[InternalRow] = { run(); Array.empty }
  override def executeCollect(): Array[InternalRow] = done
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD
  }
}

private[lake] final class GraftDmlRule(spark: SparkSession)
  extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved =>
      graftRelation(u.table) match {
        case Some(rel) => lowerUpdate(u, rel)
        case None      => plan
      }
    case m: MergeIntoTable if m.resolved =>
      graftRelation(m.targetTable) match {
        case Some(rel) => lowerMerge(m, rel)
        case None      => plan
      }
    case _ => plan
  }

  private def graftRelation(table: LogicalPlan): Option[DataSourceV2Relation] =
    table.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] => r
    }

  private def tableDirOf(rel: DataSourceV2Relation): String =
    rel.table.asInstanceOf[GraftTable].dir

  private def pcolOf(rel: DataSourceV2Relation): Option[String] =
    SnapshotLog.conventionPartitionCol(rel.schema)

  /** Prunable v1 conjuncts of a resolved DML condition: top-level ANDs
    * split, each conjunct handed to Spark's own catalyst→v1 translation
    * (the exact code the scan pushdown path uses). Untranslatable
    * conjuncts contribute NOTHING — pruning may only narrow when a
    * conjunct PROVES a file can't match, and
    * [[GraftPruning.filePredicate]] keeps files it can't judge. */
  private def pruneFilters(e: Expression): Array[org.apache.spark.sql.sources.Filter] = {
    def conj(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conj(l) ++ conj(r)
      case other     => Seq(other)
    }
    conj(e).flatMap(
      org.apache.spark.sql.GraftBridge.translateFilter).toArray
  }

  private def lowerUpdate(u: UpdateTable, rel: DataSourceV2Relation): LogicalPlan = {
    val names = rel.output.map(a => a.exprId -> a.name).toMap
    val tr = new DmlTranslator(names, Map.empty)
    val cond = u.condition.map(tr.toColumn).getOrElse(lit(true))
    val assigns = u.assignments.map { a =>
      val key = a.key match {
        case attr: AttributeReference => names.getOrElse(attr.exprId,
          throw tr.unsupported(s"assignment key $attr"))
        case other => throw tr.unsupported(s"assignment key $other")
      }
      key -> tr.toColumn(a.value)
    }.toMap
    val dir = tableDirOf(rel)
    val pcol = pcolOf(rel)
    // manifest pruning: the condition's prunable conjuncts gate the
    // scan (partition value + stats bounds), same as SQL DELETE
    val keep = GraftPruning.filePredicate(
      u.condition.map(pruneFilters).getOrElse(Array.empty),
      rel.schema)
    GraftDmlCommand(s"GraftUpdate $dir",
      () => { SnapshotLog.updateWhere(spark, dir, cond, assigns, pcol,
        keep = keep); () })
  }

  private def lowerMerge(m: MergeIntoTable, rel: DataSourceV2Relation): LogicalPlan = {
    val tr0 = new DmlTranslator(Map.empty, Map.empty)
    // unsupported forms fail at analysis, never silently degrade: a
    // WITH SCHEMA EVOLUTION merge executed without evolving would drop
    // the new source columns without a word
    require(!m.withSchemaEvolution,
      "MERGE ... WITH SCHEMA EVOLUTION is not supported on graft tables")
    val targetNames = rel.output.map(a => a.exprId -> a.name).toMap
    val sourceNames = m.sourceTable.output.map(a => a.exprId -> a.name).toMap
    // the merge condition must be a conjunction of target-col =
    // source-col equalities — that is the bucketed equi-join mergeInto
    // shuffles on; anything else would need an all-pairs comparison
    def eqPairs(e: Expression): Seq[(String, String)] = e match {
      case And(l, r) => eqPairs(l) ++ eqPairs(r)
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (targetNames.get(a.exprId), sourceNames.get(b.exprId),
          targetNames.get(b.exprId), sourceNames.get(a.exprId)) match {
          case (Some(t), Some(s), _, _) => Seq(t -> s)
          case (_, _, Some(t), Some(s)) => Seq(t -> s)
          case _ => throw tr0.unsupported(s"merge condition term $e")
        }
      case other => throw tr0.unsupported(
        s"merge condition $other (equi-join conjunctions only)")
    }
    val on = eqPairs(m.mergeCondition)
    // source frame with join columns renamed to the target's names
    // (mergeInto joins USING the target names); a rename collision is
    // refused rather than silently shadowed
    val srcRaw = org.apache.spark.sql.classic.GraftShim.ofRows(castToImpl(spark), m.sourceTable)
    val src = on.foldLeft(srcRaw) { case (df, (t, s)) =>
      if (t == s) df
      else {
        require(!df.columns.contains(t),
          s"source already has a column named $t; cannot rename join column $s")
        df.withColumnRenamed(s, t)
      }
    }
    val onCols = on.map(_._1)
    // inside mergeInto, source columns are visible as `_src_<name>`
    // (join keys keep their names); translate attr refs accordingly
    val srcMapped = sourceNames.map { case (id, n) =>
      val renamed = on.collectFirst { case (t, s) if s == n => t }.getOrElse(n)
      id -> (if (onCols.contains(renamed)) renamed else s"_src_$renamed")
    }
    val tr = new DmlTranslator(targetNames, srcMapped)
    def assignsOf(as: Seq[Assignment]): Map[String, Column] = as.map { a =>
      val key = a.key match {
        case attr: AttributeReference => targetNames.getOrElse(attr.exprId,
          throw tr.unsupported(s"assignment key $attr"))
        case other => throw tr.unsupported(s"assignment key $other")
      }
      key -> tr.toColumn(a.value)
    }.toMap
    val matched = m.matchedActions.map {
      case UpdateAction(cond, as, _) =>
        SnapshotLog.MatchedUpdate(cond.map(tr.toColumn), assignsOf(as))
      case DeleteAction(cond) =>
        SnapshotLog.MatchedDelete(cond.map(tr.toColumn))
      case other => throw tr.unsupported(s"matched action $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(cond, as) =>
        SnapshotLog.NotMatchedInsert(cond.map(tr.toColumn), assignsOf(as))
      case other => throw tr.unsupported(s"not-matched action $other")
    }
    // WHEN NOT MATCHED BY SOURCE (the full-sync clauses): conditions and
    // assignments reference target columns only — the analyzer already
    // enforces that, so the shared translator simply never sees a
    // source attribute here
    val notMatchedBySource = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, as, _) =>
        SnapshotLog.NotMatchedBySourceUpdate(cond.map(tr.toColumn), assignsOf(as))
      case DeleteAction(cond) =>
        SnapshotLog.NotMatchedBySourceDelete(cond.map(tr.toColumn))
      case other => throw tr.unsupported(s"not-matched-by-source action $other")
    }
    val dir = tableDirOf(rel)
    val pcol = pcolOf(rel)
    val clauses = matched ++ notMatched ++ notMatchedBySource
    GraftDmlCommand(s"GraftMerge $dir",
      () => { SnapshotLog.mergeInto(spark, dir, src, onCols, clauses, pcol); () })
  }
}

/** Resolved Catalyst expression → Column over the frames
  * [[SnapshotLog.updateWhere]]/[[SnapshotLog.mergeInto]] evaluate on.
  * Total translation of a closed, deterministic expression subset;
  * anything else (subqueries, UDFs, non-deterministic functions,
  * unmapped attributes) throws — DML must never run a predicate that
  * differs from what the user wrote. */
private[lake] final class DmlTranslator(target: Map[ExprId, String],
                                        source: Map[ExprId, String]) {

  def unsupported(what: String): UnsupportedOperationException =
    new UnsupportedOperationException(
      s"graft SQL DML cannot translate: $what")

  def toColumn(e: Expression): Column = e match {
    case a: AttributeReference =>
      target.get(a.exprId).map(col)
        .orElse(source.get(a.exprId).map(col))
        .getOrElse(throw unsupported(s"attribute $a"))
    case l: Literal =>
      lit(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    case And(l, r)                => toColumn(l) && toColumn(r)
    case Or(l, r)                 => toColumn(l) || toColumn(r)
    case Not(c)                   => !toColumn(c)
    case EqualTo(l, r)            => toColumn(l) === toColumn(r)
    case EqualNullSafe(l, r)      => toColumn(l) <=> toColumn(r)
    case LessThan(l, r)           => toColumn(l) < toColumn(r)
    case LessThanOrEqual(l, r)    => toColumn(l) <= toColumn(r)
    case GreaterThan(l, r)        => toColumn(l) > toColumn(r)
    case GreaterThanOrEqual(l, r) => toColumn(l) >= toColumn(r)
    case Add(l, r, _)             => toColumn(l) + toColumn(r)
    case Subtract(l, r, _)        => toColumn(l) - toColumn(r)
    case Multiply(l, r, _)        => toColumn(l) * toColumn(r)
    case Divide(l, r, _)          => toColumn(l) / toColumn(r)
    case Remainder(l, r, _)       => toColumn(l) % toColumn(r)
    case UnaryMinus(c, _)         => -toColumn(c)
    case IsNull(c)                => toColumn(c).isNull
    case IsNotNull(c)             => toColumn(c).isNotNull
    case In(v, list) if list.forall(_.isInstanceOf[Literal]) =>
      toColumn(v).isInCollection(list.map(l =>
        CatalystTypeConverters.convertToScala(
          l.asInstanceOf[Literal].value, l.dataType)))
    case c: Cast                  => toColumn(c.child).cast(c.dataType)
    case Coalesce(children)       =>
      org.apache.spark.sql.functions.coalesce(children.map(toColumn): _*)
    case CaseWhen(branches, elseOpt) =>
      val chain = branches.foldLeft(Option.empty[Column]) { case (acc, (p, v)) =>
        Some(acc match {
          case None      => org.apache.spark.sql.functions.when(toColumn(p), toColumn(v))
          case Some(col) => col.when(toColumn(p), toColumn(v))
        })
      }.get
      elseOpt.map(e => chain.otherwise(toColumn(e))).getOrElse(chain)
    case other => throw unsupported(other.getClass.getSimpleName + s": $other")
  }
}
