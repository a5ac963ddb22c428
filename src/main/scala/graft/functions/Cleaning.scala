package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Reusable `Column => Column` cleaning / typing expressions.
  *
  * These are the Spark-native equivalents of the reference's row-level
  * cleansing SQL (reference bl_cl.sql:101-110 suffix strips, 1069-1070 name
  * split, 1246 date parse). All are built-in Catalyst expressions — zero
  * UDFs — so whole-stage codegen and pushdown stay intact (SURVEY.md §2.11).
  */
object Cleaning {

  /** F1 — strip a `#`-suffix: `abc#123` → `abc` (bl_cl.sql:101-105).
    * Rows without the marker pass through unchanged.
    */
  def stripHashSuffix(c: Column): Column = substring_index(c, "#", 1)

  /** F2 — strip a `' -'`-suffix: `Name -dirt` → `Name` (bl_cl.sql:106-110). */
  def stripDashSuffix(c: Column): Column = substring_index(c, " -", 1)

  /** F3 — split a full name into (first, last) on the first space
    * (bl_cl.sql:1069-1070). Returns empty string when the part is missing,
    * matching PostgreSQL SPLIT_PART semantics.
    */
  def namePart(c: Column, idx: Int): Column = {
    require(idx >= 1, "split_part is 1-indexed")
    split_part(c, lit(" "), lit(idx))
  }

  /** F6 — parse the source's `dd-MM-yyyy` dates (bl_cl.sql:1246).
    * `try_to_date`: under Spark 4's ANSI default a malformed date would
    * throw mid-pipeline; the staging contract is that bad values survive
    * as nulls and are quarantined by the load's guard checks instead.
    */
  def parseSourceDate(c: Column): Column = try_to_date(c, "dd-MM-yyyy")

  /** F10 — type a staged all-string measure column (bl_cl.sql:1224-1228). */
  def asMeasure(c: Column): Column = c.cast(DoubleType)

  /** J10 — NA-defaulted join key (bl_cl.sql:574-575). */
  def naKey(c: Column): Column = coalesce(c, lit(graft.model.Constants.NA))

  // --- Oracle-parity numeric helpers -------------------------------------
  //
  // Double summation is order-dependent: a 32-partition partial aggregate
  // and a single-threaded oracle disagree in the last ULPs. Accumulating in
  // DECIMAL is exact and order-independent, so Spark and any ANSI engine
  // produce bit-identical results. The DECIMAL(18,4) cast of each input
  // rounds to 4 decimals identically (round-half-away-from-zero) in both.

  /** Exact, order-independent sum of a double column → double. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** As [[dsum]] but rounded to 2 decimals *in decimal space* via
    * `round(dec, 2)` — half-away-from-zero in Spark (HALF_UP) and DuckDB
    * alike. NOT a `CAST(dec(18,4) AS dec(18,2))`: ANSI engines may truncate
    * that downscale (DuckDB does), Spark rounds — .395 would diverge (F13).
    */
  def dsumRound2(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 4))), 2).cast(DoubleType)

  /** Count cast to BIGINT on both engines (DuckDB count is HUGEINT-prone). */
  def lcount(c: Column = lit(1)): Column = count(c).cast(LongType)
}
