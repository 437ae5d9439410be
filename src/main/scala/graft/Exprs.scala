package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic-arithmetic helpers shared by all operator packs.
  *
  * Policy: every aggregate over floating-point money-like columns goes
  * through exact DECIMAL arithmetic and is cast back to DOUBLE at the end.
  * IEEE double addition is not associative, so a plain `sum(double)` depends
  * on partition order (nondeterministic across runs and across engines);
  * `sum(decimal)` is exact, so Spark and the DuckDB oracle produce the same
  * value bit-for-bit. This also makes results stable under `local[32]` vs a
  * 1000-executor cluster — determinism and scale-out safety from the same
  * trick.
  */
object Exprs {
  /** Exact decimal image of a double column (4 fractional digits). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Deterministic sum of a double column: exact decimal sum, cast to double. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic average: exact decimal sum divided (in double) by count. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** TPC-H-style discounted revenue term as an exact decimal expression. */
  def revenueTerm(price: Column, discount: Column): Column =
    dec(price) * (lit(1).cast(DecimalType(18, 4)) - dec(discount))

  /** Deterministic revenue sum, cast back to double. */
  def dRevenue(price: Column, discount: Column): Column =
    sum(revenueTerm(price, discount)).cast(DoubleType)

  /** Cast any integral column to BIGINT so Spark output schema matches the
    * DuckDB oracle (DuckDB windows/counts are BIGINT; Spark row_number is INT). */
  def asLong(c: Column): Column = c.cast(LongType)

  /** D1 content hash of an event row — ONE definition shared by the batch
    * ingest pipeline (s2), the streaming dedup daemon, and their specs, so
    * the three can never silently diverge on delimiter/field order. Plain
    * `concat` (not `concat_ws`): a NULL field must NULL the whole hash like
    * the oracle's `||` operator, not drop out of the hash input. */
  def eventContentHash(eventType: Column, value: Column,
      props: Column): Column =
    md5(concat(eventType, lit("|"), value.cast(StringType), lit("|"), props))
}
