package connbench

import graft.SparkEntry
import org.apache.spark.sql.Row

import java.io.File
import java.sql.{Connection, DriverManager}

/** The curation control: registered engine queries over a seeded,
  * generated copy of the star schema plus documents, events and
  * embeddings (the same table shapes the engine's query registry reads).
  * No connector is involved anywhere.
  */
object Suite {

  /** Suite queries by short id. Each is a registered `SparkEntry` query
    * with a DuckDB oracle. */
  val queries: Seq[(String, String)] = Seq(
    "q08" -> "q08_window_running", "q40" -> "q40_exact_dedup",
    "q41" -> "q41_ngram_jaccard_pairs", "q91" -> "q91_semantic_curate",
    "q97" -> "q97_dup_spans")

  /** Queries whose exchange bytes the traced run reports. */
  val shuffleTracked: Set[String] = Set("q40", "q41", "q91", "q97")

  final case class SuiteSizes(lineitem: Long, orders: Long, customer: Long, part: Long,
      supplier: Long, events: Long, documents: Long, embeddings: Long) {
    def asJson: String =
      s"""{"lineitem":$lineitem,"orders":$orders,"customer":$customer,"part":$part,""" +
        s""""supplier":$supplier,"events":$events,"documents":$documents,"embeddings":$embeddings}"""
  }

  /** Share of the engine's sf0.1 bench data generated at scale 1. */
  val Fraction = 0.1

  /** Table sizes as a fraction of the engine's sf0.1 bench data. */
  def sizes(f: Double): SuiteSizes = {
    def n(x: Long) = math.max(25L, math.round(x * f))
    SuiteSizes(n(600000), n(150000), n(15000), n(20000), n(1000), n(100000), n(5000), n(2000))
  }

  private val words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
    "filter", "vector")

  private def list(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** DuckDB statements writing each table as one parquet file. Values
    * are functions of (row, seed); money columns are two-place values. */
  def tableSql(z: SuiteSizes, seed: Long, dir: File): Seq[String] = {
    def h(k: Int, expr: String = "i") = s"hash($expr, ${seed * 100 + k})"
    def copy(name: String, sql: String) =
      s"COPY ($sql) TO '${new File(dir, s"$name.parquet").getAbsolutePath}' (FORMAT PARQUET)"
    def money(k: Int, range: Long, offset: Long = 0) =
      s"CAST(CAST(${h(k)} % $range AS BIGINT) - $offset AS DOUBLE) / 100"
    def pick(k: Int, xs: Seq[String]) = s"${list(xs)}[CAST(${h(k)} % ${xs.size} AS INTEGER) + 1]"
    def day(k: Int, days: Int, from: String) =
      s"TIMESTAMP '$from' + to_days(CAST(${h(k)} % $days AS INTEGER))"
    val docText =
      s"array_to_string(list_transform(range(CAST(20 + hash(t, ${seed * 100 + 40}) % 60 AS BIGINT)), " +
        s"j -> ${list(words)}[CAST(hash(t, j, ${seed * 100 + 41}) % ${words.size} AS INTEGER) + 1]), ' ')"
    Seq(
      copy("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, " +
        "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name FROM range(5) r(i)"),
      copy("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, " +
        "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) r(i)"),
      copy("customer", s"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, " +
        s"CAST(${h(1)} % 25 AS INTEGER) AS c_nationkey, ${money(2, 1100000, 100000)} AS c_acctbal, " +
        s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment " +
        s"FROM range(${z.customer}) r(i)"),
      copy("supplier", s"SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, " +
        s"CAST(${h(4)} % 25 AS INTEGER) AS s_nationkey, ${money(5, 1100000, 100000)} AS s_acctbal " +
        s"FROM range(${z.supplier}) r(i)"),
      copy("part", s"SELECT i AS p_partkey, ${pick(6, Seq("small", "large", "red", "blue", "green"))} || ' ' || " +
        s"${pick(7, Seq("ring", "widget", "bolt", "gear", "plate"))} AS p_name, " +
        s"'Brand#' || CAST(${h(8)} % 25 + 1 AS VARCHAR) AS p_brand, " +
        s"${pick(9, Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"))} AS p_type, " +
        s"CAST(${h(10)} % 50 + 1 AS INTEGER) AS p_size, 900 + CAST(i % 1000 AS DOUBLE) / 10 AS p_retailprice " +
        s"FROM range(${z.part}) r(i)"),
      copy("orders", s"SELECT i AS o_orderkey, CAST(${h(11)} % ${z.customer} AS BIGINT) AS o_custkey, " +
        s"${pick(12, Seq("F", "O", "P"))} AS o_orderstatus, ${money(13, 50000000)} AS o_totalprice, " +
        s"${day(14, 2400, "1992-01-01")} AS o_orderdate, " +
        s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority " +
        s"FROM range(${z.orders}) r(i)"),
      copy("lineitem", s"SELECT CAST(i // 4 AS BIGINT) AS l_orderkey, CAST(${h(16)} % ${z.part} AS BIGINT) AS l_partkey, " +
        s"CAST(${h(17)} % ${z.supplier} AS BIGINT) AS l_suppkey, CAST(i % 4 + 1 AS INTEGER) AS l_linenumber, " +
        s"CAST(${h(18)} % 50 + 1 AS DOUBLE) AS l_quantity, ${money(19, 10000000)} AS l_extendedprice, " +
        s"CAST(${h(20)} % 11 AS DOUBLE) / 100 AS l_discount, CAST(${h(21)} % 9 AS DOUBLE) / 100 AS l_tax, " +
        s"${pick(22, Seq("A", "N", "R"))} AS l_returnflag, ${pick(23, Seq("F", "O"))} AS l_linestatus, " +
        s"${day(24, 2500, "1992-01-01")} AS l_shipdate FROM range(${math.min(z.lineitem, z.orders * 4)}) r(i)"),
      copy("events", s"SELECT i AS event_id, TIMESTAMP '2024-01-01 00:00:00' + " +
        s"to_microseconds(i * 150000000 + CAST(${h(25)} % 100000000 AS BIGINT)) AS ts, " +
        s"CAST(${h(26)} % 100 AS BIGINT) AS user_id, " +
        s"${pick(27, Seq("click", "signup", "error", "view", "purchase"))} AS event_type, " +
        s"${money(28, 2000)} AS value, '{\"k\": ' || CAST(${h(29)} % 100 AS VARCHAR) || '}' AS props " +
        s"FROM range(${z.events}) r(i)"),
      // one document in ten repeats the text of another, so exact and
      // near-duplicate removal have work to do
      copy("documents", s"SELECT i AS doc_id, text, lang, 'src' || CAST(i % 20 AS VARCHAR) AS source, " +
        s"CAST(length(text) AS BIGINT) AS n_chars FROM (SELECT i, lang, $docText AS text FROM (SELECT i, " +
        s"CASE WHEN ${h(30)} % 10 = 0 THEN i // 2 ELSE i END AS t, " +
        s"${list(Seq("en", "en", "en", "es", "zh", "de", "fr"))}[CAST(${h(31)} % 7 AS INTEGER) + 1] AS lang " +
        s"FROM range(${z.documents}) r(i)) s) x"),
      copy("embeddings", s"SELECT i AS vec_id, list_transform(range(64), " +
        s"j -> CAST((CAST(hash(i, j, ${seed * 100 + 42}) % 20001 AS DOUBLE) - 10000) / 70000 AS FLOAT)) AS embedding, " +
        s"CAST(${h(43)} % 5 AS INTEGER) AS label FROM range(${z.embeddings}) r(i)")
    )
  }

  def build(dir: File, z: SuiteSizes, seed: Long): Unit = {
    dir.mkdirs()
    val c = DriverManager.getConnection("jdbc:duckdb:")
    try tableSql(z, seed, dir).foreach(Data.exec(c, _)) finally c.close()
  }

  /** A DuckDB connection with one view per generated table. */
  def oracleConnection(dir: File): Connection = {
    val c = DriverManager.getConnection("jdbc:duckdb:")
    graft.Tables.names.foreach { t =>
      Data.exec(c, s"CREATE VIEW $t AS SELECT * FROM read_parquet('${new File(dir, s"$t.parquet").getAbsolutePath}')")
    }
    c
  }

  /** Canonical text of a value from either side (Spark row or JDBC). */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: java.lang.Boolean => b.toString
    case d: java.lang.Double => if (d.isNaN) "NaN" else Digest.canon(d)
    case f: java.lang.Float => if (f.isNaN) "NaN" else Digest.canon(f.toDouble)
    case n: java.lang.Number => Digest.canonValue(n)
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.OffsetDateTime => t.atZoneSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    case t: java.time.Instant => java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: java.sql.Array => canon(a.getArray)
    case a: Array[Byte] => a.map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: java.sql.Struct => s.getAttributes.map(canon).mkString("{", ",", "}")
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  /** Rows as sorted lines, columns ordered by name (the engine's oracle
    * contract compares columns by name). */
  def lines(cols: Seq[String], rows: Seq[Seq[Any]]): Vector[String] = {
    val order = cols.indices.sortBy(cols(_))
    rows.map(r => order.map(i => canon(r(i))).mkString("|")).toVector.sorted
  }

  def oracleLines(c: Connection, name: String): Vector[String] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(SparkEntry.oracleSql(name))
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
      val rows = Vector.newBuilder[Seq[Any]]
      while (rs.next()) rows += (1 to cols.size).map(rs.getObject)
      lines(cols, rows.result())
    } finally st.close()
  }
}
