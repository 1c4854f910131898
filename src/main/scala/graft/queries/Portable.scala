package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-portable numerics for the DuckDB hash-compare.
  *
  * Two sources of cross-engine drift, and their fixes:
  *
  *  1. `round()` implementations differ (Spark: exact BigDecimal HALF_UP;
  *     DuckDB: `std::round(x * 10^n) / 10^n` in doubles) — they disagree on
  *     doubles that sit near a .5 boundary. Fix: express rounding as plain
  *     IEEE arithmetic `floor(x * 10^n + 0.5) / 10^n` on BOTH sides — the
  *     identical op sequence on identical doubles is bit-deterministic in
  *     any engine.
  *
  *  2. double summation is order-sensitive, and Spark's partial-agg shuffle
  *     order differs from DuckDB's scan order. Fix: sum in DECIMAL(30,10)
  *     (exact, associative, order-independent) and cast the total back to
  *     double. The per-row double→decimal cast rounds a ~50-digit exact
  *     expansion at scale 10 — boundary hits are impossible in practice, so
  *     both engines produce the identical decimal.
  *
  * These helpers also keep aggregation scale-sane: decimal partial sums are
  * fixed-width (16 bytes), so map-side combine and shuffle volume are
  * unchanged vs double sums.
  */
object Portable {

  /** Bit-deterministic round-half-up via plain IEEE double arithmetic. */
  def r(c: Column, n: Int): Column =
    floor(c * lit(math.pow(10, n)) + lit(0.5)) / lit(math.pow(10, n))

  /** Same formula, SQL text (DuckDB side). */
  def rSql(x: String, n: Int): String =
    s"floor(($x) * 1e$n + 0.5) / 1e$n"

  /** Order-independent exact sum of a double expression, as double.
    *
    * Cost, measured (sf0.1 lineitem, 4 sums):
    * plain double 0.32 s, DECIMAL(18,8) 1.08 s, DECIMAL(30,10) 0.96 s —
    * narrower decimals don't help (the sum buffer widens past the compact
    * long-backed representation either way), so ~3x vs double is the price
    * of cross-engine exactness and (30,10) is kept for headroom. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(30, 10))).cast("double")

  def dsumSql(x: String): String =
    s"CAST(sum(CAST(($x) AS DECIMAL(30,10))) AS DOUBLE)"

  /** DuckDB text of the bit-exact sequential-double cosine between two
    * list expressions — mirrors `graft.functions.CosineSim`'s accumulation
    * order exactly (proven hash-matching by Q-llm-13/Q-llm-14). */
  def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)),
        i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
        / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
             i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
         * sqrt(list_sum(list_transform(generate_series(1, len($b)),
             i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))))"""

  /** Order-independent mean: exact decimal sum / count, rounded portably. */
  def davg(c: Column, digits: Int): Column =
    r(dsum(c) / count(lit(1)), digits)

  def davgSql(x: String, digits: Int): String =
    rSql(s"${dsumSql(x)} / count(*)", digits)
}
