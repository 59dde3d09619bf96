package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.types.PgTypeMapping

class PgTypeMappingSpec extends AnyFunSuite {
  import PgTypeMapping.toSparkType

  test("integer family") {
    assert(toSparkType("integer") == IntegerType)
    assert(toSparkType("serial") == IntegerType)
    assert(toSparkType("int4") == IntegerType)
    assert(toSparkType("bigint") == LongType)
    assert(toSparkType("bigserial") == LongType)
    assert(toSparkType("smallint") == ShortType)
  }

  test("temporal") {
    assert(toSparkType("date") == DateType)
    assert(toSparkType("timestamp") == TimestampType)
    assert(toSparkType("timestamp without time zone") == TimestampType)
    assert(toSparkType("timestamp(3) with time zone") == TimestampType)
  }

  test("numeric typmod propagation") {
    assert(toSparkType("numeric") == DecimalType(10, 0))
    assert(toSparkType("numeric(12,2)") == DecimalType(12, 2))
    assert(toSparkType("numeric(12, 2)") == DecimalType(12, 2))
    assert(toSparkType("NUMERIC(5)") == DecimalType(5, 0))
    assert(toSparkType("decimal(38,18)") == DecimalType(38, 18))
  }

  test("floats and booleans") {
    assert(toSparkType("double precision") == DoubleType)
    assert(toSparkType("float8") == DoubleType)
    assert(toSparkType("real") == FloatType)
    assert(toSparkType("boolean") == BooleanType)
    assert(toSparkType("bool") == BooleanType)
  }

  test("unknown types fall back to string") {
    assert(toSparkType("text") == StringType)
    assert(toSparkType("character varying(255)") == StringType)
    assert(toSparkType("uuid") == StringType)
    assert(toSparkType("jsonb") == StringType)
  }

  test("bytea maps to binary") {
    assert(toSparkType("bytea") == BinaryType)
  }

  test("config overrides win over the builtin table, typmod forms fall through") {
    val ov = Map("integer" -> "bigint", "uuid" -> "string", "money" -> "decimal(19,4)")
    assert(toSparkType("integer", ov) == LongType)
    assert(toSparkType("INTEGER ", ov) == LongType) // name folded before lookup
    assert(toSparkType("money", ov) == DecimalType(19, 4))
    // not overridden → builtin rules still apply, including typmod parsing
    assert(toSparkType("numeric(12,2)", ov) == DecimalType(12, 2))
    assert(toSparkType("bigint", ov) == LongType)
  }

  test("maxChars: the length of varchar(n) and char(n) forms, None otherwise") {
    import PgTypeMapping.maxChars
    assert(maxChars("character varying(255)") == Some(255))
    assert(maxChars("varchar(12)") == Some(12))
    assert(maxChars("character(3)") == Some(3))
    assert(maxChars("char(1)") == Some(1))
    assert(maxChars("bpchar(7)") == Some(7))
    assert(maxChars(" VARCHAR (12) ") == Some(12))
    assert(maxChars("text") == None)
    assert(maxChars("varchar") == None)
    assert(maxChars("character varying") == None)
    assert(maxChars("numeric(12,2)") == None)
  }

  test("parseSparkName: valid DDL names succeed, junk is a Left") {
    assert(PgTypeMapping.parseSparkName("decimal").toOption.get == DecimalType(10, 0))
    assert(PgTypeMapping.parseSparkName("int").toOption.get == IntegerType)
    assert(PgTypeMapping.parseSparkName("not_a_type").isLeft)
  }
}
