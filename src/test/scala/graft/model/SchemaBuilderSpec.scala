package graft.model

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's schema-builder tests
  * (ref internal/iceberg/schema/schema_test.go:103-200). */
class SchemaBuilderSpec extends AnyFunSuite {

  test("buildFromColumns maps declared pg types") {
    val schema = SchemaBuilder.buildFromColumns(Seq(
      SourceColumn("id", "bigint", nullable = false, primaryKey = true),
      SourceColumn("price", "numeric(10,2)"),
      SourceColumn("tags", "text[]")))
    assert(schema("id").dataType === LongType)
    assert(schema("price").dataType === DecimalType(10, 2))
    assert(schema("tags").dataType === ArrayType(StringType))
    assert(schema.fieldNames.contains("_cdc_lsn"))
    assert(!schema("_cdc_operation").nullable)
  }

  test("merge is add-only and bumps version (ref MergeSchemas)") {
    val v1 = StructType(Seq(StructField("id", IntegerType)) ++
      SchemaBuilder.systemColumns)
    val v2incoming = StructType(Seq(StructField("email", StringType),
      StructField("id", IntegerType)) ++ SchemaBuilder.systemColumns)
    val (merged, version) = SchemaBuilder.merge(v1, v2incoming, version = 0)
    assert(version === 1)
    // existing fields keep position; new field appended at the end
    assert(merged.fieldNames.take(v1.fields.length).toSeq === v1.fieldNames.toSeq)
    assert(merged.fieldNames.last === "email")
    // idempotent: merging the same schema again changes nothing
    val (again, v3) = SchemaBuilder.merge(merged, v2incoming, version)
    assert(v3 === 1 && again === merged)
    // existing types never change even if incoming disagrees
    val conflicting = StructType(Seq(StructField("id", StringType)))
    val (kept, _) = SchemaBuilder.merge(merged, conflicting, version)
    assert(kept("id").dataType === IntegerType)
  }
}
