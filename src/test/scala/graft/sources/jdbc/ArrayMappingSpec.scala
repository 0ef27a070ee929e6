package graft.sources.jdbc

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Types => T}

/** Native JDBC ARRAY mapping (reference: pg arrays → List,
  * `crates/postgres/src/arrow_sql_gen/schema.rs:163-190`). No live
  * array-capable JDBC engine exists in this sandbox (Derby has none),
  * so the wire surface is exercised through reflective JDBC mocks that
  * behave like pgjdbc: `getArray` returning boxed elements,
  * `createArrayOf(elementName, values)`, `_int4` / `int4[]` /
  * `INTEGER ARRAY` type-name introspection.
  */
class ArrayMappingSpec extends AnyFunSuite {

  private def proxy[A](iface: Class[A])(handle: PartialFunction[(String, Array[AnyRef]), Any]): A =
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface), new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
        val key = (m.getName, if (args == null) Array.empty[AnyRef] else args)
        if (handle.isDefinedAt(key)) handle(key).asInstanceOf[AnyRef]
        else m.getName match {
          case "toString" => "mock"
          case "hashCode" => Int.box(1)
          case "equals" => Boolean.box(false)
          case other => throw new UnsupportedOperationException(other)
        }
      }
    }).asInstanceOf[A]

  test("native-array whitelist agrees between DDL, bind guard, and boxing (both dialects)") {
    for (d <- Seq(PostgresDialect, DuckDbDialect)) {
      // whitelisted elements: native DDL + bindable
      for (et <- Seq(BooleanType, ShortType, IntegerType, LongType, FloatType,
          DoubleType, StringType, DecimalType(10, 2))) {
        assert(d.supportsArrayElement(et), s"${d.name}: $et should bind natively")
        assert(d.typeName(ArrayType(et)).endsWith("[]"), s"${d.name}: $et DDL")
      }
      // non-whitelisted elements MUST refuse the createArrayOf path —
      // their DDL falls back to TEXT, so binding natively would write
      // an ARRAY against a TEXT column (review finding: DuckDbDialect
      // inherited a typeName-based guard that accepted DateType)
      for (et <- Seq(DateType, TimestampType, BinaryType, ArrayType(LongType))) {
        assert(!d.supportsArrayElement(et), s"${d.name}: $et must use the JSON fallback")
        assert(d.typeName(ArrayType(et)) == d.stringType, s"${d.name}: $et DDL fallback")
      }
    }
  }

  test("array element types from driver type names (pg wire, pgjdbc, H2)") {
    assert(TypeMapping.arrayElementType("_int4") == IntegerType)
    assert(TypeMapping.arrayElementType("_int8") == LongType)
    assert(TypeMapping.arrayElementType("_text") == StringType)
    assert(TypeMapping.arrayElementType("_float8") == DoubleType)
    assert(TypeMapping.arrayElementType("_bool") == BooleanType)
    assert(TypeMapping.arrayElementType("int4[]") == IntegerType)
    assert(TypeMapping.arrayElementType("INTEGER ARRAY") == IntegerType)
    assert(TypeMapping.arrayElementType("BIGINT ARRAY") == LongType)
    assert(TypeMapping.arrayElementType("_numeric") == DecimalType.SYSTEM_DEFAULT)
    assert(TypeMapping.arrayElementType("_uuid") == StringType) // unknown → string
  }

  test("schemaOf maps ARRAY columns through the type name") {
    val md = proxy(classOf[java.sql.ResultSetMetaData]) {
      case ("getColumnCount", _) => 2
      case ("getColumnLabel", Array(i: Integer)) => if (i == 1) "ids" else "k"
      case ("getColumnType", Array(i: Integer)) => if (i == 1) T.ARRAY else T.BIGINT
      case ("getColumnTypeName", Array(i: Integer)) => if (i == 1) "_int8" else "int8"
      case ("getPrecision", _) => 0
      case ("getScale", _) => 0
      case ("isNullable", _) => java.sql.ResultSetMetaData.columnNullable
    }
    val sch = TypeMapping.schemaOf(md, PostgresDialect)
    assert(sch("ids").dataType == ArrayType(LongType, containsNull = true))
    assert(sch("k").dataType == LongType)
  }

  test("getter reads java.sql.Array into Catalyst arrays (nulls included)") {
    val jdbcArray = proxy(classOf[java.sql.Array]) {
      case ("getArray", _) => Array[AnyRef](Long.box(7L), null, Long.box(9L))
    }
    val rs = proxy(classOf[java.sql.ResultSet]) {
      case ("getArray", Array(_: Integer)) => jdbcArray
      case ("wasNull", _) => false
    }
    val at = ArrayType(LongType, containsNull = true)
    // an array fill consults no column metadata
    val md = proxy(classOf[java.sql.ResultSetMetaData])(PartialFunction.empty)
    val fill = TypeMapping.fills(StructType(Seq(StructField("a", at))), md).head
    val v = new OnHeapColumnVector(1, at)
    fill(rs, 1, v, 0)
    val out = v.getArray(0)
    assert(out.numElements() == 3)
    assert(out.getLong(0) == 7L && out.isNullAt(1) && out.getLong(2) == 9L)
  }

  test("postgres setter binds through createArrayOf; others keep JSON text") {
    var created: (String, Seq[AnyRef]) = null
    var boundArray = false
    var boundString: String = null
    val conn = proxy(classOf[java.sql.Connection]) {
      case ("createArrayOf", Array(n: String, vs: Array[AnyRef])) =>
        created = (n, vs.toSeq)
        proxy(classOf[java.sql.Array]) { case ("free", _) => null }
    }
    val ps = proxy(classOf[java.sql.PreparedStatement]) {
      case ("getConnection", _) => conn
      case ("setArray", Array(_: Integer, _)) => boundArray = true; null
      case ("setString", Array(_: Integer, s: String)) => boundString = s; null
    }
    val row = new GenericInternalRow(Array[Any](
      new GenericArrayData(Seq(1L, 2L, 3L))))

    TypeMapping.setter(ArrayType(LongType), PostgresDialect)(ps, row, 0, 1)
    assert(boundArray && created == (("int8", Seq(Long.box(1L), Long.box(2L), Long.box(3L)))))

    TypeMapping.setter(ArrayType(LongType), DerbyDialect)(ps, row, 0, 1)
    assert(boundString == "[1,2,3]") // nested-as-JSON fallback unchanged

    // null bind type: ARRAY for native dialects, VARCHAR for JSON path
    assert(TypeMapping.jdbcType(ArrayType(LongType), PostgresDialect) == T.ARRAY)
    assert(TypeMapping.jdbcType(ArrayType(LongType), DerbyDialect) == T.VARCHAR)
  }

  test("postgres DDL renders element[] array columns") {
    assert(PostgresDialect.typeName(ArrayType(LongType)) == "BIGINT[]")
    assert(PostgresDialect.typeName(ArrayType(StringType)) == "TEXT[]")
    assert(PostgresDialect.typeName(ArrayType(DecimalType(10, 2))) == "DECIMAL(10,2)[]")
    // Derby keeps nested-as-JSON TEXT
    assert(DerbyDialect.typeName(ArrayType(LongType)) == DerbyDialect.stringType)
  }
}
