package graft.model

import org.apache.spark.sql.types._

/** Builds and evolves table schemas for captured tables.
  *
  * Mirrors the reference's schema builder semantics
  * (ref internal/iceberg/schema/schema.go:54-102,149-174):
  *  - declared source columns map through [[TypeMapping]], then the CDC
  *    system columns are appended
  *  - evolution is add-only: new fields appended, version bumped, existing
  *    field types never change
  *
  * Spark difference: field IDs are managed by the table format (Iceberg
  * assigns them on write), so versions are tracked per schema instead of
  * per field.
  */
object SchemaBuilder {

  /** CDC system columns appended to every table
    * (ref internal/iceberg/types.go:179-201). */
  val systemColumns: Seq[StructField] = Seq(
    StructField("_cdc_operation", StringType, nullable = false,
      new MetadataBuilder().putString("doc", "CDC operation type (INSERT, UPDATE, DELETE)").build()),
    StructField("_cdc_timestamp", TimestampType, nullable = false,
      new MetadataBuilder().putString("doc", "Timestamp when the CDC event occurred").build()),
    StructField("_cdc_lsn", StringType, nullable = false,
      new MetadataBuilder().putString("doc", "PostgreSQL Log Sequence Number").build()),
  )

  /** Day-partition column derived from _cdc_timestamp — the reference's
    * default partition spec (ref schema.go:106-135: day(_cdc_timestamp)
    * named `_cdc_date`). */
  val partitionColumn = "_cdc_date"

  /** Build a schema from declared source columns (the typed path: read the
    * source catalog, don't guess — SURVEY §1.3). */
  def buildFromColumns(cols: Seq[SourceColumn], compat: Boolean = false): StructType =
    StructType(
      cols.map(c => StructField(c.name, TypeMapping.pgToSpark(c.pgType, compat), c.nullable))
        ++ systemColumns)

  /** Add-only merge for schema evolution (ref MergeSchemas,
    * schema.go:149-174): fields of `existing` keep position and type;
    * `incoming` fields not present are appended in their incoming order.
    * Returns the merged schema and the bumped version. */
  def merge(existing: StructType, incoming: StructType, version: Int): (StructType, Int) = {
    val have = existing.fieldNames.toSet
    val added = incoming.fields.filterNot(f => have.contains(f.name))
    if (added.isEmpty) (existing, version)
    else (StructType(existing.fields ++ added), version + 1)
  }
}
