package connbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import java.sql.Connection

/** Order-independent digest of a scan result: the row count plus one
  * exact sum per column (integers, doubles that are multiples of 0.25,
  * decimal cents, string byte lengths, timestamp micros and date days;
  * long sums wrap modulo 2^64 on both sides).
  */
final case class Digest(values: Vector[String]) {
  override def toString: String = values.mkString("[", ",", "]")
}

object Digest {

  /** Per-partition accumulator, shipped to the executors. */
  final class Acc(types: Array[DataType]) extends Serializable {
    val longs = new Array[Long](types.length)
    val doubles = new Array[Double](types.length)
    var count = 0L
    def add(r: InternalRow): Unit = {
      count += 1
      var i = 0
      while (i < types.length) {
        if (!r.isNullAt(i)) types(i) match {
          case LongType | TimestampType | TimestampNTZType => longs(i) += r.getLong(i)
          case IntegerType | DateType => longs(i) += r.getInt(i)
          case DoubleType => doubles(i) += r.getDouble(i)
          case d: DecimalType => longs(i) += r.getDecimal(i, d.precision, d.scale).toUnscaledLong
          case StringType => longs(i) += r.getUTF8String(i).numBytes()
          case other => throw new IllegalStateException(s"no digest for $other")
        }
        i += 1
      }
    }
    def merge(o: Acc): Acc = {
      count += o.count
      var i = 0
      while (i < types.length) { longs(i) += o.longs(i); doubles(i) += o.doubles(i); i += 1 }
      this
    }
    def digest: Digest = Digest(count.toString +: types.indices.map { i =>
      if (types(i) == DoubleType) canon(doubles(i)) else longs(i).toString
    }.toVector)
  }

  /** Materialize `df` through its own physical plan and digest every row
    * inside the tasks; only one accumulator per partition returns. */
  def ofDataFrame(df: DataFrame): Digest = {
    val types = df.schema.fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val a = new Acc(types)
      it.foreach(a.add)
      Iterator.single(a)
    }.collect()
    parts.foldLeft(new Acc(types))(_ merge _).digest
  }

  /** The same digest computed by the remote engine itself over plain
    * JDBC (`derby` selects the Derby spelling of each sum). */
  def oracleSql(table: String, cols: Seq[(String, DataType)], where: String,
      derby: Boolean): String = {
    val parts = cols.map { case (c, t) =>
      t match {
        case LongType | IntegerType =>
          if (derby) s"SUM(CAST($c AS BIGINT))" else s"CAST(SUM($c) AS HUGEINT)"
        case DoubleType => s"SUM($c)"
        case _: DecimalType => s"CAST(SUM($c) * 100 AS BIGINT)"
        case StringType =>
          if (derby) s"SUM(CAST(LENGTH($c) AS BIGINT))" else s"SUM(strlen($c))"
        case TimestampType | TimestampNTZType => s"SUM(epoch_us($c))"
        case DateType => s"SUM(CAST($c - DATE '1970-01-01' AS BIGINT))"
        case other => throw new IllegalStateException(s"no oracle for $other")
      }
    }
    s"SELECT COUNT(*), ${parts.mkString(", ")} FROM $table" +
      (if (where.isEmpty) "" else s" WHERE $where")
  }

  def oracle(c: Connection, table: String, cols: Seq[(String, DataType)],
      where: String = "", derby: Boolean = false): Digest = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(oracleSql(table, cols, where, derby))
      rs.next()
      Digest((1 to cols.length + 1).map { i =>
        val v = rs.getObject(i)
        val isDouble = i > 1 && cols(i - 2)._2 == DoubleType
        v match {
          case null => if (isDouble) canon(0.0) else "0"
          case b: java.math.BigInteger => b.longValue().toString // wraps like the JVM sum
          case n: java.lang.Number if isDouble => canon(n.doubleValue())
          case n: java.lang.Number => new java.math.BigDecimal(n.toString).toBigInteger.longValue().toString
          case o => o.toString
        }
      }.toVector)
    } finally st.close()
  }

  /** The same digest with its row count off by one: the benchmark's
    * tests check that a wrong expectation fails the operation. */
  def wrong(d: Digest): Digest =
    Digest((BigInt(d.values.head) + 1).toString +: d.values.tail)

  def canon(d: Double): String =
    java.math.BigDecimal.valueOf(d).stripTrailingZeros().toPlainString

  /** Canonical text of one value of a small result, shared by the
    * Spark side and the JDBC oracle side. */
  def canonValue(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => canon(d)
    case f: java.lang.Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros().toPlainString
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).stripTrailingZeros().toPlainString
    case o => o.toString
  }

  /** Sorted canonical lines of a collected Spark result. */
  def lines(rows: Array[Row]): Vector[String] =
    rows.map(r => r.toSeq.map(canonValue).mkString("|")).toVector.sorted

  /** Sorted canonical lines of a query run over plain JDBC. */
  def oracleLines(c: Connection, sql: String): Vector[String] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Vector.newBuilder[String]
      while (rs.next()) out += (1 to n).map(i => canonValue(rs.getObject(i))).mkString("|")
      out.result().sorted
    } finally st.close()
  }
}
