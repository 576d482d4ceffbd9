package graft.functions

import org.apache.spark.sql.{Column, functions => F}

/** Relative date arithmetic (SURVEY §2.6 F5) — the reference leans on
  * `strtotime('-1 year')` for bulk-delete cutoffs
  * (`/root/reference/README.md:150-151`). Here the supported subset is
  * parsed once on the driver and becomes interval arithmetic on a
  * Column — deterministic given an anchor, codegen-friendly, and
  * never a string round-trip on executors. */
object Dates {

  private val Rel = """^\s*([+-]?\d+)\s+(year|month|week|day|hour|minute|second)s?\s*$""".r

  /** `relative("-1 year", anchor)`: shift `anchor` by the offset
    * expression. Supported: signed integer + year/month/week/day/
    * hour/minute/second (plural ok). Throws on anything else —
    * lenient silent parses hide data bugs. */
  def relative(offset: String, anchor: Column): Column = offset match {
    case Rel(n, unit) =>
      val k = n.toInt
      // interval arithmetic, NOT add_months/date_add: those return
      // DATE and would silently drop the anchor's time-of-day, while
      // strtotime('-1 year') keeps it. Month-end anchors clamp the
      // same way on both engines (Mar 31 - 1 month = Feb 28/29).
      unit match {
        case "year"   => anchor + F.expr(s"INTERVAL ${12 * k} MONTHS")
        case "month"  => anchor + F.expr(s"INTERVAL $k MONTHS")
        case "week"   => anchor + F.expr(s"INTERVAL ${7 * k} DAYS")
        case "day"    => anchor + F.expr(s"INTERVAL $k DAYS")
        case "hour"   => anchor + F.expr(s"INTERVAL $k HOURS")
        case "minute" => anchor + F.expr(s"INTERVAL $k MINUTES")
        case "second" => anchor + F.expr(s"INTERVAL $k SECONDS")
      }
    case _ => throw new IllegalArgumentException(
      s"unsupported relative date expression: '$offset'")
  }

  /** Exact epoch-ns → epoch-µs truncation for an int64 nanos column.
    * NOT `(c / 1000L)`: Spark's long `/` is DOUBLE division, and at
    * 2024-era nanos (~1.7e18) the double ulp is 256 ns — the quotient
    * lands a hair above the true value on some rows and the long cast
    * then reads one microsecond HIGH. Decimal division is exact here
    * (≤ 3 fractional digits, result scale ≥ 6) and the long cast
    * truncates toward zero — bit-identical to the oracle engine's
    * ns→µs truncation on every row. */
  def nanosToMicros(c: Column): Column =
    (c.cast("decimal(20,0)") / F.lit(1000)).cast("long")

  /** Type-adaptive storage→logical timestamp read: normalize whatever
    * physical encoding the parquet writer chose for an event-time
    * column into TIMESTAMP_NTZ at micro precision. An engine that pins
    * one blessed encoding breaks the day the upstream writer changes —
    * a real reader honors what the file footer says:
    *   - int64 (parquet TIMESTAMP(NANOS) surfaced as raw longs under
    *     `spark.sql.legacy.parquet.nanosAsLong`): exact ns→µs decimal
    *     truncation, then µs → NTZ.
    *   - TIMESTAMP_NTZ (parquet TIMESTAMP(MICROS/MILLIS),
    *     isAdjustedToUTC=false): already the logical type — pass
    *     through.
    *   - TIMESTAMP (isAdjustedToUTC=true): reinterpret as NTZ in the
    *     session zone (sessions here pin UTC, so the instant is
    *     preserved bit-for-bit).
    * Anything else is a schema break and fails loudly with the type
    * found rather than a deep CAST stack trace. */
  def adaptiveTsToNtz(c: Column, physical: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    physical match {
      case LongType =>
        // Magnitude sanity (round-11 advice): this branch ASSUMES the
        // int64 is epoch-NANOS. A fixture shipping plain int64
        // epoch-micros would be divided by 1000 and silently collapse
        // the timeline to ~1970 — plausible-looking wrong data, the
        // worst failure mode. Nanos for any era this engine could see
        // (1980–2200) sit in [3.2e17, 7.3e18]; micros misread as nanos
        // decode to 1970, seconds/millis likewise — all land OUTSIDE
        // the era window and fail loudly naming the value, instead of
        // feeding a 1000×-compressed timeline downstream. NULLs pass
        // through (the `when` guard, not nullSafeEval, carries this).
        val decoded = F.timestamp_micros(nanosToMicros(c)).cast("timestamp_ntz")
        F.when(c.isNull, F.lit(null).cast("timestamp_ntz"))
          .when(F.year(decoded).between(1980, 2200), decoded)
          .otherwise(F.raise_error(F.concat(
            F.lit("adaptiveTsToNtz: int64 value "), c.cast("string"),
            F.lit(" decoded as epoch-nanos lands at "), decoded.cast("string"),
            F.lit(" — outside the plausible era [1980, 2200]; the column "
              + "is likely NOT epoch-nanos (plain epoch-micros/millis?)")))
            .cast("timestamp_ntz"))
      case TimestampNTZType => c
      case TimestampType => c.cast("timestamp_ntz")
      case other => throw new IllegalArgumentException(
        s"unsupported physical encoding for timestamp column: $other " +
          "(expected int64 epoch-nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
}
