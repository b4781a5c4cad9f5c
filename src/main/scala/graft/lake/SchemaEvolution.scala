package graft.lake

import graft.model.FieldIds
import org.apache.spark.sql.types._

/** The one rule for how an incoming write schema meets a table's head
  * schema — the reference's add-only `MergeSchemas` (ref schema/
  * schema.go:149-174) on Iceberg's type-promotion lattice. Every writer
  * that may evolve a table asks [[plan]]: the append path
  * ([[SnapshotLog.appendFiles]]), the COW and MOR merges
  * ([[graft.ingest.CdcWriter]]) and the REST catalog's `add-schema`.
  * SQL INSERT never evolves a table (the analyzer aligned the statement
  * to the stored schema) and does not ask.
  *
  * Per head column the batch also carries, by name:
  *  - equal types, or an incoming type that [[widensTo]] the head's,
  *    keep the head's type;
  *  - a head type that widens to the incoming one is widened, metadata
  *    only: the parquet readers widen the carried files on read;
  *  - long → double is widened too, but the head column's carried files
  *    must be rewritten ([[Plan.rewrite]]). Only the COW merge rewrites;
  *    every other writer refuses such a plan ([[Plan.metadataOnly]]);
  *  - every other pair is refused, naming the column and both types.
  *
  * An incoming name that a retained historical schema maps to a field
  * now under another name is a stale pre-RENAME writer, and is refused
  * (a DROPPED name stays a legal re-add). Added columns are appended
  * and nullable: rows written before them read null. A head column is
  * nullable in the plan when either side allows null or the batch omits
  * it.
  *
  * Every incoming column reads under the planned schema exactly as
  * written, so a writer whose files already exist (an append rebasing
  * over a foreign commit, a REST commit) can commit any plan whose
  * rewrite set is empty. */
object SchemaEvolution {

  /** `schema` is the schema to commit; `rewrite` holds the head fields
    * (at their head types) whose carried files do not read under it. */
  final case class Plan(schema: StructType, rewrite: Seq[StructField]) {
    /** This plan for a writer that cannot rewrite carried files. */
    def metadataOnly: Either[Refused, StructType] =
      rewrite.headOption.map(h => refusal(h, schema(h.name).dataType,
        "its files need a rewrite that only a COW merge performs")).toLeft(schema)
  }

  /** A batch whose schema no writer can commit against the head. */
  final class Refused(message: String) extends IllegalArgumentException(message)

  /** How `incoming` meets the head schema — see the object doc. No head
    * (the first commit) commits `incoming` as it is. The retained
    * historical schemas are parsed only when the batch names a column
    * the head lacks. */
  def plan(head: Option[SnapshotLog.Snapshot], incoming: StructType): Either[Refused, Plan] =
    head.fold[Either[Refused, Plan]](Right(Plan(incoming, Nil))) { h =>
      val hs = h.schema
      val headNames = hs.fieldNames.toSet
      val added = incoming.fields.toSeq.filterNot(f => headNames.contains(f.name))
      val byName = incoming.fields.map(f => f.name -> f).toMap
      val pairs = hs.fields.toSeq.flatMap(f => byName.get(f.name).map(f -> _))
      renamedAway(h, hs, added).orElse(pairs.collectFirst {
        case (f, in) if !widensTo(in.dataType, f.dataType) && !promotes(f.dataType, in.dataType) =>
          refusal(f, in.dataType, "neither reads the other's files without a rewrite")
      }).toLeft(Plan(
        StructType(hs.fields.map(f => byName.get(f.name).fold(f.copy(nullable = true)) { in =>
          f.copy(dataType = if (widensTo(in.dataType, f.dataType)) f.dataType else in.dataType,
            nullable = f.nullable || in.nullable)
        }) ++ added.map(_.copy(nullable = true))),
        pairs.collect { case (f, in) if rewritePromotion(f.dataType, in.dataType) => f }))
    }

  /** Can a parquet column written as `from` be READ as `to` by Spark's
    * widening reads (no rewrite)? The lattice: byte→short→int→long,
    * byte/short/int→double, float→double — the by-name and the by-id
    * (renamed era) reads both serve every step, with the vectorized and
    * the row-based parquet reader (GraftBatchScanSpec pins each step).
    * long→double needs a file rewrite and is deliberately absent. */
  def widensTo(from: DataType, to: DataType): Boolean =
    from == to || ((from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType)            => true
      case (IntegerType, LongType | DoubleType)                        => true
      case (FloatType, DoubleType)                                     => true
      case _                                                           => false
    })

  /** Does a column typed `from` evolve to `to` — on read ([[widensTo]])
    * or by rewriting its files (long → double)? */
  def promotes(from: DataType, to: DataType): Boolean =
    widensTo(from, to) || rewritePromotion(from, to)

  private def rewritePromotion(from: DataType, to: DataType): Boolean =
    from == LongType && to == DoubleType

  private def refusal(head: StructField, incoming: DataType, why: String): Refused =
    new Refused(s"cannot reconcile column ${head.name}: table has " +
      s"${head.dataType.simpleString}, batch has ${incoming.simpleString} — $why")

  private def renamedAway(h: SnapshotLog.Snapshot, hs: StructType,
                          added: Seq[StructField]): Option[Refused] =
    if (added.isEmpty || !FieldIds.hasIds(hs)) None
    else {
      val historical = h.schemasById.values.toSeq.map(j =>
        DataType.fromJson(j).asInstanceOf[StructType])
      (for {
        nf  <- added.iterator
        his <- historical.iterator
        hf  <- his.fields.find(_.name == nf.name)
        id  <- FieldIds.idOf(hf)
        cf  <- FieldIds.fieldById(hs, id)
        if cf.name != nf.name
      } yield new Refused(s"batch writes column ${nf.name}, which was renamed " +
        s"to ${cf.name} — refresh the table schema and write under the current name"))
        .nextOption()
    }
}
