package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark DataFrame program plus (optionally) the
  * equivalent SQL the driver runs in DuckDB over the same parquet tables.
  *
  * Cross-engine exactness rules (so the driver's value-hash compare is
  * bit-stable):
  *   - monetary doubles in the testdata are exact 2-decimal values; all
  *     aggregation over them goes through DECIMAL casts (exact in both
  *     engines), with the final result cast back to DOUBLE.
  *   - thresholds derived from aggregates are compared multiplicatively
  *     (`x * count > sum`) instead of via division, so no FP rounding is
  *     involved in row selection.
  *   - every ORDER BY carries a unique tiebreaker.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle), run)
}
