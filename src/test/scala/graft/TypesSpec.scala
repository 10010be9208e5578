package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.types._

class TypesSpec extends AnyFunSuite {

  test("type-string parser handles parameterized and spaced forms") {
    import OracleDataType._
    assert(parse("NUMBER(10,2)") == Number)
    assert(parse("number") == Number)
    assert(parse("DECIMAL(4)") == Decimal)
    assert(parse("FLOAT(126)") == Float)
    assert(parse("BINARY FLOAT") == BinaryFloat)
    assert(parse("BINARY DOUBLE") == BinaryDouble)
    assert(parse("DOUBLE PRECISION") == DoublePrecision)
    assert(parse("TIMESTAMP(9)") == Timestamp)
    assert(parse("TIMESTAMP(6) WITH TIME ZONE") == TimestampWithTimeZone)
    assert(parse("TIMESTAMP WITH TIME ZONE") == TimestampWithTimeZone)
    assert(parse("INTERVAL DAY TO SECOND") == IntervalDayToSecond)
    assert(parse("LONG RAW") == LongRaw)
    assert(parse("VARCHAR2(100)") == Varchar2)
    assert(parse("WHATEVER") == Other)
    assert(parseWithParams("NUMBER(10,-3)") == ((Number, Some("10"), Some("-3"))))
    assert(parseWithParams("NUMBER(*,5)") == ((Number, Some("*"), Some("5"))))
    assert(parseWithParams("NUMBER") == ((Number, None, None)))
  }

  test("NUMBER lattice: documented fixed points") {
    def num(p: Option[String], s: Option[String]) =
      OracleTypeMapper.toSparkType(OracleDataType.Number, p, s).get
    assert(num(None, None) == StringType)
    assert(num(Some("4"), None) == LongType)
    assert(num(Some("18"), None) == LongType)
    assert(num(Some("19"), None) == StringType)
    assert(num(Some("*"), None) == StringType)
    assert(num(Some("10"), Some("-3")) == LongType)
    assert(num(Some("10"), Some("0")) == LongType)
    assert(num(Some("10"), Some("2")) == DecimalType(10, 2))
    assert(num(Some("*"), Some("5")) == DecimalType(38, 5))
  }

  test("NUMBER lattice: exhaustive over the (p,s) plane") {
    for (p <- 1 to 38; s <- -10 to 38) {
      val t = OracleTypeMapper
        .toSparkType(OracleDataType.Number, Some(p.toString), Some(s.toString)).get
      if (s <= 0) assert(t == (if (p > 18) StringType else LongType), s"($p,$s)")
      else assert(t == DecimalType(math.max(p, s), s), s"($p,$s)")
    }
  }

  test("unsupported types drop from standardized schema but stay assessed") {
    val t = OracleTypeMapper.standardize("db", "hr", "t",
      Seq(ColumnSpec("A", "VARCHAR2(10)", nullable = false),
        ColumnSpec("B", "BLOB"),
        ColumnSpec("C", "NUMBER(10,2)")),
      primaryKeys = Seq("A"))
    assert(t.sparkSchema == StructType(Seq(
      StructField("A", StringType, nullable = false),
      StructField("C", DecimalType(10, 2)))))
    assert(t.assessments.map(_.supported) == Seq(true, false, true))
    assert(t.assessments(1).suggestion.exists(_.contains("BLOB")))
  }

  test("avro envelope schema of the reference fixtures converts") {
    val schema = new org.apache.avro.Schema.Parser()
      .parse(new java.io.File(graft.sources.DatastreamFixtures.dir, "insert.avro") match {
        case f =>
          val r = new org.apache.avro.file.DataFileReader(
            f, new org.apache.avro.generic.GenericDatumReader[Any]())
          try r.getSchema.toString finally r.close()
      })
    val st = AvroSchemaConverter.toStructType(schema)
    val byName = st.fields.map(f => f.name -> f).toMap
    assert(byName("source_timestamp").dataType == TimestampType)
    assert(byName("source_metadata").dataType.isInstanceOf[StructType])
    val meta = byName("source_metadata").dataType.asInstanceOf[StructType]
    assert(meta("change_type").dataType == StringType)
    assert(meta("scn").dataType == LongType && meta("scn").nullable)
    // heterogeneous union array → string fallback
    assert(byName("sort_keys").dataType
      .asInstanceOf[ArrayType].elementType == StringType)
    val payload = byName("payload").dataType.asInstanceOf[StructType]
    assert(payload("SALARY").dataType == DecimalType(8, 2))
    assert(payload("HIRE_DATE").dataType == TimestampType)
    assert(payload("EMPLOYEE_ID").dataType == LongType)
  }
}
