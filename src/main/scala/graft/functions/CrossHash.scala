package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing primitives.
  *
  * The driver's correctness gate re-runs every query in DuckDB, so any
  * hash-based operator (MinHash, SimHash, LSH) must use a hash that both
  * engines compute identically. Native hashes differ (Spark xxhash64 vs
  * DuckDB murmur-ish `hash()`), but both have bit-identical `md5`, so we
  * derive a 60-bit integer from the first 15 hex chars of md5:
  *
  *   Spark :  conv(substring(md5(s), 1, 15), 16, 10)::long
  *   DuckDB: ('0x' || substr(md5(s), 1, 15))::bigint
  *
  * 15 hex digits < 2^60 always fits a signed 64-bit int, and every
  * downstream permutation stays below 2^62 (see [[MinHashCoefficients]]),
  * so ANSI overflow checks never fire in either engine.
  *
  * This mirrors the reference's need for *engine-portable* semantics: its
  * connectors unparse expressions to each backend's dialect and rely on
  * identical evaluation (reference
  * `crates/common/src/sql/sql_provider_datafusion/mod.rs:352-424`).
  */
object CrossHash {

  /** Modulus for MinHash permutations: the Mersenne prime 2^31 - 1. */
  val P: Long = 2147483647L

  /** 60-bit integer hash of a string column, identical in Spark & DuckDB. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL fragment equivalent to [[h60]] over expression `e`. */
  def h60Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"
}

/** Fixed MinHash permutation coefficients: mh_j = (A(j)*h + B(j)) mod P
  * with h < P, A,B < P, so A*h < 2^62 — no 64-bit overflow in either
  * engine. 16 permutations → 4 LSH bands × 4 rows.
  */
object MinHashCoefficients {
  val NumHashes = 16
  val BandRows = 4
  val A: Seq[Long] = Seq(
    1103515245L, 59546843L, 1163062088L, 119093686L, 1222608931L,
    178640529L, 1282155774L, 238187372L, 1341702617L, 297734215L,
    1401249460L, 357281058L, 1460796303L, 416827901L, 1520343146L,
    476374744L)
  val B: Seq[Long] = Seq(
    506952114L, 1013904228L, 1520856342L, 2027808456L, 387276923L,
    894229037L, 1401181151L, 1908133265L, 267601732L, 774553846L,
    1281505960L, 1788458074L, 147926541L, 654878655L, 1161830769L,
    1668782883L)
}
