package connbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.{Connection, DriverManager}

/** Sizes of the generated remote data. `scale` shrinks every size (the
  * benchmark's own tests run at 0.01); the full sizes are the defaults.
  */
final case class Sizes(factRows: Long, dimRows: Int, derbyRows: Long,
    custRows: Int, docs: Long, docFiles: Int) {
  def asJson: String =
    s"""{"fact_rows":$factRows,"dim_rows":$dimRows,"derby_rows":$derbyRows,""" +
      s""""cust_rows":$custRows,"docs":$docs,"doc_files":$docFiles}"""
}

object Sizes {
  def forWorkload(workload: String, scale: Double, cpus: Int): Sizes = {
    def n(x: Long): Long = math.max(20L, math.round(x * scale))
    workload match {
      case "connector_scan" =>
        Sizes(n(250000), 1000, n(50000), 0, n(60000), cpus)
      case "federated_lookup" =>
        Sizes(n(250000), 1000, 0, math.max(100, n(10000).toInt), 0, 1)
      case _ =>
        Sizes(0, 0, 0, 0, 0, 1)
    }
  }
}

/** Where one data build lives: two DuckDB files (the fact side and a
  * second server holding the dimension copy), an in-memory Derby
  * database, and a JSON-lines collection directory.
  */
final case class Remote(dir: File, derbyName: String) {
  val duckFile: File = new File(dir, "warehouse.duckdb")
  val duck2File: File = new File(dir, "lookup.duckdb")
  val docsDir: File = new File(dir, "docs")
  val suiteDir: File = new File(dir, "suite")
  def duckUrl: String = s"jdbc:duckdb:${duckFile.getAbsolutePath}"
  def duck2Url: String = s"jdbc:duckdb:${duck2File.getAbsolutePath}"
  def derbyUrl: String = s"jdbc:derby:memory:$derbyName;create=true"

  /** Plain JDBC connections for building data and for the oracles:
    * they never touch the connector's options, pool or Spark. */
  def duck(): Connection = DriverManager.getConnection(duckUrl)
  def duck2(): Connection = DriverManager.getConnection(duck2Url)
  def derby(): Connection = DriverManager.getConnection(derbyUrl)

  def dropDerby(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$derbyName;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a drop reports success as an exception
}

/** Seeded generation of the remote data. Every value is a function of
  * (row index, seed), so the same seed yields the same tables.
  */
object Data {

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** DuckDB fact table: 7 typed columns. Doubles are multiples of 0.25
    * and decimals have two places, so every sum an oracle takes is exact.
    */
  def factSql(rows: Long, dims: Int, seed: Long): String =
    s"""CREATE TABLE app.fact AS SELECT
       |  CAST(i AS BIGINT) AS id,
       |  CAST(hash(i, ${seed + 1}) % $dims AS INTEGER) AS dim_id,
       |  CAST(hash(i, ${seed + 2}) % 40000 AS DOUBLE) / 4 AS score,
       |  ((hash(i, ${seed + 3}) % 10000000)::BIGINT * 0.01)::DECIMAL(18,2) AS amount,
       |  't' || CAST(hash(i, ${seed + 4}) % 5000 AS VARCHAR) AS tag,
       |  TIMESTAMP '2020-01-01 00:00:00' + to_microseconds((hash(i, ${seed + 5}) % 94608000000000)::BIGINT) AS ts,
       |  DATE '2020-01-01' + CAST(hash(i, ${seed + 6}) % 1000 AS INTEGER) AS day
       |FROM range($rows) r(i)""".stripMargin

  def dimSql(rows: Int, seed: Long): String =
    s"""CREATE TABLE app.dim AS SELECT
       |  CAST(i AS INTEGER) AS dim_id,
       |  'r' || CAST(hash(i, ${seed + 7}) % 12 AS VARCHAR) AS region,
       |  CAST(hash(i, ${seed + 8}) % 100000 AS BIGINT) AS weight
       |FROM range($rows) r(i)""".stripMargin

  /** Build everything a workload reads into `dir`. */
  def build(dir: File, derbyName: String, sizes: Sizes, seed: Long): Remote = {
    dir.mkdirs()
    val r = Remote(dir, derbyName)
    if (sizes.factRows > 0) {
      val c = r.duck()
      try {
        exec(c, "CREATE SCHEMA app")
        exec(c, factSql(sizes.factRows, sizes.dimRows, seed))
        exec(c, dimSql(sizes.dimRows, seed))
      } finally c.close()
      val c2 = r.duck2()
      try {
        exec(c2, "CREATE SCHEMA app")
        exec(c2, dimSql(sizes.dimRows, seed))
      } finally c2.close()
    }
    if (sizes.derbyRows > 0 || sizes.custRows > 0) buildDerby(r, sizes, seed)
    if (sizes.docs > 0) writeDocs(r.docsDir, sizes.docs, sizes.docFiles, seed)
    r
  }

  /** Derby: a copy of the first `derbyRows` fact rows (five columns) and
    * the small nation/customer pair the semi-join lookup reads. Rows are
    * copied over plain JDBC from the DuckDB fact table. Names are quoted
    * lower case, as the connector's catalog quotes what Spark passes it.
    */
  private def buildDerby(r: Remote, sizes: Sizes, seed: Long): Unit = {
    val d = r.derby()
    try {
      exec(d, "CREATE SCHEMA \"app\"")
      if (sizes.derbyRows > 0) {
        exec(d, """CREATE TABLE "app"."dfact" ("id" BIGINT NOT NULL, "dim_id" INT, """ +
          """"score" DOUBLE, "amount" DECIMAL(18,2), "tag" VARCHAR(16))""")
        val src = r.duck()
        try {
          val st = src.createStatement()
          val rs = st.executeQuery(
            s"SELECT id, dim_id, score, amount, tag FROM app.fact WHERE id < ${sizes.derbyRows}")
          d.setAutoCommit(false)
          val ps = d.prepareStatement("""INSERT INTO "app"."dfact" VALUES (?, ?, ?, ?, ?)""")
          var n = 0
          while (rs.next()) {
            ps.setLong(1, rs.getLong(1)); ps.setInt(2, rs.getInt(2))
            ps.setDouble(3, rs.getDouble(3)); ps.setBigDecimal(4, rs.getBigDecimal(4))
            ps.setString(5, rs.getString(5)); ps.addBatch()
            n += 1
            if (n % 5000 == 0) ps.executeBatch()
          }
          ps.executeBatch(); ps.close(); rs.close(); st.close()
          d.commit(); d.setAutoCommit(true)
        } finally src.close()
      }
      if (sizes.custRows > 0) {
        exec(d, """CREATE TABLE "app"."nation" ("nkey" INT NOT NULL, "name" VARCHAR(16))""")
        exec(d, """CREATE TABLE "app"."cust" ("ckey" BIGINT NOT NULL, "nkey" INT, "bal" DECIMAL(18,2))""")
        d.setAutoCommit(false)
        val pn = d.prepareStatement("""INSERT INTO "app"."nation" VALUES (?, ?)""")
        (0 until 25).foreach { i => pn.setInt(1, i); pn.setString(2, s"n$i"); pn.addBatch() }
        pn.executeBatch(); pn.close()
        val pc = d.prepareStatement("""INSERT INTO "app"."cust" VALUES (?, ?, ?)""")
        val rnd = new java.util.SplittableRandom(seed * 31 + 17)
        (0 until sizes.custRows).foreach { i =>
          pc.setLong(1, i); pc.setInt(2, rnd.nextInt(25))
          pc.setBigDecimal(3, java.math.BigDecimal.valueOf(rnd.nextLong(1000000L), 2))
          pc.addBatch()
        }
        pc.executeBatch(); pc.close()
        d.commit(); d.setAutoCommit(true)
      }
    } finally d.close()
  }

  /** One JSON-lines document. `k` drives the pushed filter. */
  final case class Doc(id: Long, k: Int, name: String, score: Double)

  def doc(i: Long, seed: Long): Doc = {
    val h = mix(i * 0x9E3779B97F4A7C15L + seed)
    Doc(i, ((h >>> 1) % 1000).toInt, "d" + ((h >>> 20) % 100000), ((h >>> 40) % 4000) / 4.0)
  }

  /** splitmix64 finalizer: a cheap, well-spread seeded hash. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def writeDocs(dir: File, docs: Long, files: Int, seed: Long): Unit = {
    dir.mkdirs()
    val per = (docs + files - 1) / files
    (0 until files).foreach { f =>
      val w: BufferedWriter = Files.newBufferedWriter(
        new File(dir, "part-%03d.jsonl".formatLocal(java.util.Locale.ROOT, f)).toPath, StandardCharsets.UTF_8)
      try {
        var i = f * per
        val end = math.min(docs, (f + 1) * per)
        while (i < end) {
          val d = doc(i, seed)
          w.write(s"""{"id":${d.id},"k":${d.k},"name":"${d.name}","score":${d.score}}""")
          w.write('\n')
          i += 1
        }
      } finally w.close()
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
