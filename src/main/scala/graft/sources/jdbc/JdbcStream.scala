package graft.sources.jdbc

import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** Incremental micro-batch streaming over a remote JDBC table.
  *
  * The streaming seam SURVEY §2.7 names for the connector layer ("scan →
  * `MicroBatchStream` on the same DSv2 tables"): the reference is
  * strictly batch — every exec declares `Boundedness::Bounded`
  * (`crates/common/src/sql/sql_provider_datafusion/mod.rs:312-317`) — so
  * this is a Spark-first extension, the engine-side analog of the
  * standard JDBC-ingest pattern (poll an append-only table by a
  * monotonically increasing column).
  *
  * Contract: `streamcolumn` names a monotonically increasing
  * NON-NULL numeric column (an auto-increment key, an epoch stamp).
  * The offset is a WATERMARK — the greatest value already processed —
  * and each micro-batch reads `(start, end]`, so a row is never
  * delivered twice and Spark's offset log makes redelivery after
  * restart exact. Rows inserted later with values at or below the
  * watermark are ignored, never duplicated (same late-arrival
  * contract as the document source's file-name watermark, and as any
  * polling ingester); rows whose stream column is NULL fall outside
  * every `(start, end]` range and are never delivered (a nullable
  * column is flagged with a warning at stream start).
  *
  * For STAMP columns, where many rows share a value and commit order
  * is not stamp order, set `streamlag=N`: the delivered watermark is
  * held N stamp-units behind the observed max, so a transaction
  * committing a boundary-valued row just after the probe lands in a
  * later batch instead of below the watermark. Keys that are strictly
  * monotonic need no lag.
  *
  * Pushed-down predicates from the scan builder apply to BOTH the
  * watermark probe and the batch reads: the remote server filters
  * before anything crosses the wire, exactly like the batch path.
  *
  * Rate limiting ([[SupportsAdmissionControl]]): `streamrate=N` caps a
  * micro-batch at ~N rows by probing the max watermark of the first N
  * unprocessed rows (`ORDER BY col FETCH FIRST N ROWS ONLY`) instead
  * of the global max — without it, the first batch of a large existing
  * table would be one giant partition. Rows sharing the boundary value
  * are never split across batches (the range is value-based), so a
  * batch can exceed N only by watermark ties.
  */
final case class JdbcStreamOffset(last: Long) extends Offset {
  override def json(): String = s"""{"last":$last}"""
}

final class JdbcMicroBatchStream(
    options: JdbcOptions,
    schema: StructType,
    where: Seq[String],
    watermarkCol: String)
  extends MicroBatchStream with SupportsAdmissionControl with Logging {

  private val d = options.dialect
  private def q = d.quote(watermarkCol)

  /** `Long.MinValue` = nothing processed (no lower bound rendered). */
  override def initialOffset(): Offset = JdbcStreamOffset(Long.MinValue)

  private def whereClause(extra: Seq[String]): String = {
    val conds = where ++ extra
    if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
  }

  private def lowerBound(from: Long): Seq[String] =
    if (from == Long.MinValue) Nil else Seq(s"$q > $from")

  private def maxWatermark(from: Long, maxRows: Option[Int]): Long = {
    val sql = maxRows match {
      case Some(n) =>
        // max of the first n unprocessed rows in watermark order — the
        // derived table needs a correlation name (Derby requires one)
        s"SELECT MAX(graft_w) FROM (SELECT $q AS graft_w FROM ${options.fromClause}" +
          whereClause(lowerBound(from)) +
          s" ORDER BY $q ${d.limitOffsetClause(Some(n), None)}) graft_lim"
      case None =>
        s"SELECT MAX($q) FROM ${options.fromClause}" + whereClause(lowerBound(from))
    }
    options.withConnection(Remote.query(_, d.repairSql(sql)) { rs =>
      val v = rs.getLong(1)
      if (rs.wasNull()) None else Some(v)
    }).headOption.flatten.getOrElse(from)
  }

  override def getDefaultReadLimit: ReadLimit =
    options.streamRate.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[JdbcStreamOffset].last
    val cap = limit match {
      case m: ReadMaxRows => Some(math.min(m.maxRows(), Int.MaxValue.toLong).toInt)
      case _ => None
    }
    val probed = maxWatermark(from, cap)
    lastProbed = math.max(lastProbed, probed)
    // `streamlag`: hold the delivered watermark `lag` units behind the
    // observed max, so a concurrent transaction committing a row AT the
    // probed boundary (routine when the column is a timestamp — many
    // rows share a stamp and commit order ≠ stamp order) lands inside a
    // later batch instead of below the watermark. Zero (the default)
    // is for strictly monotonic keys, where ties cannot exist.
    val end = math.max(from, probed - options.streamLag)
    JdbcStreamOffset(end)
  }

  /** Last observed remote max, for progress reporting. Deliberately NOT
    * a fresh uncapped MAX query: on a large un-indexed ingest table
    * that is a full scan per trigger paid for a metric; the admission
    * probe's running max serves the same purpose (it understates
    * backlog by at most one rate-capped batch).
    */
  @volatile private var lastProbed: Long = Long.MinValue
  override def reportLatestOffset(): Offset = JdbcStreamOffset(lastProbed)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset =
    JdbcStreamOffset(JdbcMicroBatchStream.Last.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad graft-jdbc offset: $json")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[JdbcStreamOffset].last
    val e0 = end.asInstanceOf[JdbcStreamOffset].last
    if (e0 <= s0) Array.empty
    else {
      val cols = schema.fields.map(f => d.quote(f.name)).mkString(", ")
      val sql = d.repairSql(s"SELECT $cols FROM ${options.fromClause}" +
        whereClause(lowerBound(s0) :+ s"$q <= $e0"))
      logInfo(s"graft-jdbc micro-batch ($s0, $e0]: $sql")
      Array(JdbcInputPartition(sql, 0))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    JdbcReaderFactory(options, schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object JdbcMicroBatchStream {
  private val Last = """"last"\s*:\s*(-?\d+)""".r
}
