package graft.model

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Table-driven port of the reference's type-mapping tests
  * (ref internal/iceberg/schema/schema_test.go:11-101). */
class TypeMappingSpec extends AnyFunSuite {

  // compat mode reproduces the reference mapping exactly
  private val compatCases: Seq[(String, DataType)] = Seq(
    "integer" -> IntegerType, "int4" -> IntegerType,
    "bigint" -> LongType, "int8" -> LongType, "smallint" -> IntegerType,
    "serial" -> IntegerType, "bigserial" -> LongType, "oid" -> LongType,
    "real" -> FloatType, "float4" -> FloatType,
    "double precision" -> DoubleType, "float8" -> DoubleType,
    "numeric" -> DoubleType, // reference: lossy double
    "boolean" -> BooleanType, "bool" -> BooleanType,
    "text" -> StringType, "varchar" -> StringType,
    "varchar(255)" -> StringType, "char(10)" -> StringType,
    "name" -> StringType,
    "date" -> DateType,
    "time" -> LongType, // micros-since-midnight; Spark has no TimeType
    "timestamp" -> TimestampType, "timestamptz" -> TimestampType,
    "timestamp with time zone" -> TimestampType,
    "bytea" -> BinaryType,
    "uuid" -> StringType,
    "json" -> StringType, "jsonb" -> StringType,
    "inet" -> StringType, "cidr" -> StringType, "macaddr" -> StringType,
    "integer[]" -> StringType, "text[]" -> StringType, // reference: JSON string
    "unknown_type" -> StringType,
    "  VARCHAR(16) " -> StringType, // normalization: trim + lowercase
  )

  for ((pg, expected) <- compatCases)
    test(s"compat: $pg -> $expected") {
      assert(TypeMapping.pgToSpark(pg, compat = true) === expected)
    }

  // improved mode: decimal fidelity + typed arrays (SURVEY §1.2)
  private val improvedCases: Seq[(String, DataType)] = Seq(
    "numeric(10,2)" -> DecimalType(10, 2),
    "decimal(5)" -> DecimalType(5, 0),
    "numeric" -> DecimalType(38, 18),
    "integer[]" -> ArrayType(IntegerType),
    "text[]" -> ArrayType(StringType),
    "numeric(4,1)[]" -> ArrayType(DecimalType(4, 1)),
  )

  for ((pg, expected) <- improvedCases)
    test(s"improved: $pg -> $expected") {
      assert(TypeMapping.pgToSpark(pg) === expected)
    }
}
