package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function shims reproducing the reference's scalar semantics
  * (SURVEY.md §2.8) where Spark's built-ins differ from PostgreSQL /
  * pandas. All are plain `Column` compositions — codegen'd end to end,
  * no UDFs — so they stay inside whole-stage codegen at 100 TB.
  */
object Shims {

  /** PostgreSQL `EXTRACT(DOW)`: 0 = Sunday .. 6 = Saturday.
    * Spark's `dayofweek` is 1 = Sunday, hence the −1.
    * Ref: scripts/02_queries_analysis.sql:124,252. */
  def pgDow(ts: Column): Column = dayofweek(ts) - lit(1)

  /** PostgreSQL `TO_CHAR(ts,'Day')` blank-pads to 9 chars; we expose the
    * trimmed day name (the comparison-stable form).
    * Ref: scripts/02_queries_analysis.sql:123. */
  def dayName(ts: Column): Column = date_format(ts, "EEEE")

  /** `EXTRACT(EPOCH FROM (a - b))` in seconds.
    * Ref: scripts/02_queries_analysis.sql:134; etl_pipeline.py:572,747. */
  def epochDiff(a: Column, b: Column): Column =
    unix_timestamp(a) - unix_timestamp(b)

  /** The reference's month arithmetic: `days / 30.44`, floored — NOT SQL
    * `months_between`. Ref: etl_pipeline.py:707,769. */
  def monthsBetween3044(asOf: Column, d: Column): Column =
    floor(datediff(asOf, d) / lit(30.44))

  /** `NULLIF(x, 0)` guard for ratio-of-aggregates.
    * Ref: scripts/02_queries_analysis.sql:86,106,171-172. */
  def nullIfZero(x: Column): Column = when(x === lit(0), lit(null)).otherwise(x)

  /** Floor a timestamp's minute to its 15-minute bucket.
    * Ref: etl_pipeline.py:835-840. */
  def minuteBucket15(ts: Column): Column = (floor(minute(ts) / 15) * 15).cast("int")

  /** `time_key = hour*100 + 15-min bucket`. Ref: etl_pipeline.py:835-840. */
  def timeKey(ts: Column): Column = hour(ts) * lit(100) + minuteBucket15(ts)

  /** `date_key` as yyyymmdd int. Ref: etl_pipeline.py:345,831. */
  def dateKey(d: Column): Column = date_format(d, "yyyyMMdd").cast("int")

  /** Equirectangular geo distance in km — the reference's approximation
    * (`sqrt(Δlat² + Δlon²) × 111`), deliberately NOT haversine, kept for
    * result parity. Ref: scripts/07_lambda_functions.py:95-99,178-180. */
  def approxGeoDistKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    sqrt(pow(lat1 - lat2, 2) + pow(lon1 - lon2, 2)) * lit(111.0)

  /** Half-up rounding to `n` decimals, cast to double so the output type
    * is engine-portable (DuckDB's round(double) is double).
    *
    * Since round 7 this IS [[roundPortable]]: the sf0.1 deviation-alert
    * gate demonstrated that plain `round(double, n)` on a quotient
    * eventually lands on a shortest-decimal-vs-binary boundary where the
    * engines disagree — every quotient, not just the documented money
    * cases, gets the integer-scaled form. Callers' oracle SQL uses
    * [[roundPortableSql]] to match. */
  def round2(x: Column, n: Int): Column = roundPortable(x, n).cast("double")

  /** Engine-portable half-up rounding of a double ratio to `n` decimals.
    *
    * Plain `round(x, n)` on a double disagrees between engines at
    * representation boundaries: Spark rounds the shortest decimal
    * representation (`BigDecimal.valueOf`) while DuckDB/PostgreSQL round
    * the binary value — x = 0.145 (binary 0.144999…) rounds to 0.15 in
    * Spark but 0.14 in DuckDB, and ratios of integers / 2-decimal money
    * land on such boundaries routinely. Scaling to an integer first
    * removes the disagreement: every half-way point of round-to-integer
    * (n.5) is exactly representable in binary, so both engines see the
    * identical boundary and both round it away from zero. It also makes
    * the value stable under any partitioning (no hidden re-rounding).
    *
    * SQL twin: `CAST(ROUND((x) * 1eN, 0) AS BIGINT) / 1eN`. */
  def roundPortable(x: Column, n: Int): Column = {
    val s = math.pow(10, n)
    round(x * lit(s), 0).cast("long") / lit(s)
  }

  /** Exact average of an exact-typed column (decimal / integral): the
    * sum is exact in any engine and any partitioning, so `sum/count` is
    * one deterministic double division — unlike `avg(double)`, whose
    * accumulation order varies with partition layout and engine.
    * SQL twin: `CAST(SUM(x) AS DOUBLE) / COUNT(x)`. */
  def avgExact(x: Column): Column = sum(x).cast("double") / count(x)

  /** Deterministic average of a per-row double expression: each value is
    * quantized to integer micros (exact long sum — associative), then
    * divided back. Value-identical to `avg(x)` except within 5e-7 of a
    * rounding boundary at the output grain, but stable across engines
    * AND partition layouts. Overflow bound: the micro sum lives in a
    * long, so `sum(|x|)` must stay under ~9.2e12 (ANSI mode makes a
    * violation an error, not silent wraparound) — fine for ratios and
    * per-row measures, not for summing large monetary columns. */
  def avgQuantized(x: Column): Column =
    sum(round(x * lit(1e6), 0).cast("long")).cast("double") / count(x) / lit(1e6)

  // SQL spellings of the portable shims — one string used verbatim by
  // BOTH the Spark SQL twins and the DuckDB oracles (the expressions
  // parse and evaluate identically in the two dialects; double literals
  // are written in e-notation because a bare `100.0` is DECIMAL in both).

  /** SQL twin of [[roundPortable]]. */
  def roundPortableSql(x: String, n: Int): String =
    s"CAST(ROUND(($x) * 1e$n, 0) AS BIGINT) / 1e$n"

  /** SQL twin of [[avgExact]]. */
  def avgExactSql(x: String): String =
    s"CAST(SUM($x) AS DOUBLE) / COUNT($x)"

  /** SQL twin of [[avgQuantized]]. */
  def avgQuantizedSql(x: String): String =
    s"CAST(SUM(CAST(ROUND(($x) * 1e6, 0) AS BIGINT)) AS DOUBLE) / COUNT($x) / 1e6"
}
