package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated testdata tables.
  *
  * Mirrors the reference's notion of a registered catalog of tables
  * (datafusion-table-providers `DatabaseCatalogProvider`,
  * reference `crates/common/src/common.rs:17-100`) for the local parquet
  * corpus: every query addresses tables by name; the scan is a plain
  * parquet DSv2 scan so Catalyst pushes projection + predicates into the
  * file reader (verified via `PushedFilters`/`ReadSchema` in explain).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` → exact epoch-MICROSECOND long, tolerant of every
    * parquet reading the harness has shipped: TIMESTAMP(NANOS) read as
    * Long under `spark.sql.legacy.parquet.nanosAsLong` (integer-floor to
    * µs — `div`, never `/`: nanos exceed 2^53 and double division loses
    * ulps), plain TIMESTAMP, and TIMESTAMP_NTZ (`timestamp[us]` parquet
    * with no tz), which Spark 4's `unix_micros` rejects outright — the
    * NTZ→TIMESTAMP cast is the identity under the UTC session timezone
    * both this engine and the DuckDB oracle pin. Matches DuckDB's
    * `epoch_us(ts)` on the same files in all three cases.
    */
  def epochMicros(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case LongType         => expr(s"$tsCol div 1000")
      case TimestampNTZType => unix_micros(col(tsCol).cast("timestamp"))
      case _                => unix_micros(col(tsCol))
    }
}
