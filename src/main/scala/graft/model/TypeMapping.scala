package graft.model

import org.apache.spark.sql.types._

/** PostgreSQL → Spark type mapping.
  *
  * Mirrors the reference's static map + normalization rules
  * (ref internal/iceberg/schema/types.go:11-90) with two documented
  * fidelity improvements (SURVEY §1.2):
  *
  *  - numeric/decimal: the reference degrades to double (precision loss,
  *    types.go:28-29); we map `numeric(p,s)` to `DecimalType(p, s)` and
  *    bare `numeric` to `DecimalType(38, 18)`. Set `compat = true` to
  *    reproduce the reference's lossy double.
  *  - arrays: the reference degrades `foo[]` to a JSON string
  *    (types.go:74-77); we map to `ArrayType(map(foo))`. `compat = true`
  *    reproduces StringType.
  *
  * Everything else matches the reference exactly, including: lowercasing +
  * trimming, parameter stripping (`varchar(255)` → varchar), unknown types
  * → string, and time-of-day → long micros (Spark has no TimeType;
  * the reference's Iceberg `time` is microseconds-since-midnight).
  */
object TypeMapping {

  /** The static name → type table (ref types.go:11-67). */
  private val base: Map[String, DataType] = Map(
    // integers
    "smallint" -> IntegerType, "int2" -> IntegerType,
    "integer" -> IntegerType, "int" -> IntegerType, "int4" -> IntegerType,
    "bigint" -> LongType, "int8" -> LongType,
    "serial" -> IntegerType, "bigserial" -> LongType,
    "oid" -> LongType,
    // floating point
    "real" -> FloatType, "float4" -> FloatType,
    "double precision" -> DoubleType, "float8" -> DoubleType,
    // boolean
    "boolean" -> BooleanType, "bool" -> BooleanType,
    // strings
    "text" -> StringType, "varchar" -> StringType, "char" -> StringType,
    "character" -> StringType, "name" -> StringType,
    // date/time
    "date" -> DateType,
    "time" -> LongType, // micros since midnight; no Spark TimeType
    "time without time zone" -> LongType,
    "time with time zone" -> LongType,
    "timestamp" -> TimestampType,
    "timestamp without time zone" -> TimestampType,
    "timestamp with time zone" -> TimestampType,
    "timestamptz" -> TimestampType,
    // binary / uuid / json-ish
    "bytea" -> BinaryType,
    "uuid" -> StringType, // as Trino does; no native uuid type
    "json" -> StringType, "jsonb" -> StringType,
    "inet" -> StringType, "cidr" -> StringType, "macaddr" -> StringType,
  )

  private val NumericParams = """^(?:numeric|decimal)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$""".r

  /** Map a PostgreSQL type name to a Spark DataType.
    * (ref MapPostgresToIceberg, types.go:70-90) */
  def pgToSpark(pgType: String, compat: Boolean = false): DataType = {
    val normalized = pgType.trim.toLowerCase
    if (normalized.endsWith("[]")) {
      if (compat) StringType // reference: arrays → JSON string
      else ArrayType(pgToSpark(normalized.dropRight(2), compat))
    } else if (normalized.startsWith("numeric") || normalized.startsWith("decimal")) {
      if (compat) DoubleType // reference: numeric → double (lossy)
      else normalized match {
        case NumericParams(p, null) => DecimalType(p.toInt, 0)
        case NumericParams(p, s)    => DecimalType(p.toInt, s.toInt)
        case _                      => DecimalType(38, 18)
      }
    } else {
      // strip (n) parameters: varchar(255) → varchar (ref types.go:80-82)
      val stripped = normalized.indexOf('(') match {
        case i if i > 0 => normalized.substring(0, i).trim
        case _          => normalized
      }
      base.getOrElse(stripped, StringType) // unknown → string (types.go:89-90)
    }
  }
}
