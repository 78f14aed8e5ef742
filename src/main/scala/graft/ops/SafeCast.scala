package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regex-guarded ("safe") casts — the reference's universal dirty-data
  * defense, re-expressed as codegen-friendly Catalyst expressions.
  *
  * Reference semantics (SURVEY.md §2.2):
  *   - P1 `CASE WHEN col ~ '<pattern>' THEN col::type ELSE NULL END`
  *     (sql/synthea_typing/synthea-typedtables-transformation.sql:34-37)
  *   - P2 enum-domain cast `CASE WHEN col IN (...) THEN col ELSE NULL END`
  *     (synthea-typedtables-transformation.sql:41-59)
  *   - P3 numeric-string detector `value ~ '^[0-9]+(\.[0-9]+)?$'`
  *     (python/enhanced_synthea_to_omop.py:1980)
  *   - P4 signed/scientific variant
  *     (sql/etl/migrate_numeric_observations_v3.sql:313)
  *
  * All patterns used by the reference are POSIX-class regexes that behave
  * identically under Java regex (verified in SafeCastSpec). Everything here
  * is `when/rlike/cast` — pure Catalyst, whole-stage-codegen'd, no UDFs.
  */
object SafeCast {

  /** Unsigned int/decimal, e.g. "98.6" — the measurement-vs-observation
    * router (enhanced_synthea_to_omop.py:1980). */
  val NumericPattern = "^[0-9]+(\\.[0-9]+)?$"

  /** Signed + scientific notation (migrate_numeric_observations_v3.sql:313). */
  val SignedNumericPattern = "^[-]?[0-9]+([.][0-9]+)?([eE][-+]?[0-9]+)?$"

  /** Integer only. */
  val IntPattern = "^[-]?[0-9]+$"

  /** 36-char UUID shape (synthea-typedtables-transformation.sql:36-37). */
  val UuidPattern = "^[0-9a-fA-F-]{36}$"

  /** Accepts anything starting YYYY-MM-DD, like the reference's timestamp
    * guard (synthea-typedtables-transformation.sql:34-35). */
  val DatePrefixPattern = "^[0-9]{4}-[0-9]{2}-[0-9]{2}"

  /** P1: cast only when the string matches `pattern`; otherwise NULL.
    * Never throws on dirty data: the regex mirrors the reference's guard,
    * and the inner cast is `try_cast` so values that pass the guard but
    * still fail the cast under ANSI mode (Spark 4 default) — invalid
    * calendar dates, overflowing digit strings — become NULL instead of
    * killing the job. */
  def safeCast(c: Column, dt: DataType, pattern: String): Column =
    when(c.rlike(pattern), c.try_cast(dt)).otherwise(lit(null).cast(dt))

  /** P3/P4 convenience forms. */
  def safeNumeric(c: Column, dt: DataType = DoubleType): Column =
    safeCast(c, dt, NumericPattern)
  def safeSignedNumeric(c: Column, dt: DataType = DoubleType): Column =
    safeCast(c, dt, SignedNumericPattern)
  def safeInt(c: Column): Column = safeCast(c, IntegerType, IntPattern)

  /** Timestamp guard: prefix-check then try-cast — NULL (not an ANSI
    * error) on garbage suffixes AND on guard-passing-but-invalid values
    * like '2024-01-02 99:00' (SURVEY.md §7.4 risk 6). */
  def safeTimestamp(c: Column): Column =
    when(c.rlike(DatePrefixPattern), c.try_cast(TimestampType))
      .otherwise(lit(null).cast(TimestampType))

  /** Date guard: '2024-99-99' matches the prefix regex but is not a
    * calendar date — try_cast maps it to NULL instead of throwing. */
  def safeDate(c: Column): Column =
    when(c.rlike(DatePrefixPattern),
        substring(c, 1, 10).try_cast(DateType))
      .otherwise(lit(null).cast(DateType))

  /** UUID validity guard. */
  def safeUuid(c: Column): Column =
    when(c.rlike(UuidPattern), c).otherwise(lit(null).cast(StringType))

  /** P2: enum-domain cast — invalid values become NULL, like the reference's
    * guarded `::enum` casts. */
  def enumCast(c: Column, allowed: Seq[String]): Column =
    when(c.isin(allowed: _*), c).otherwise(lit(null).cast(StringType))

  /** P3 predicate form. */
  def isNumericString(c: Column): Column = c.rlike(NumericPattern)
  def isSignedNumericString(c: Column): Column = c.rlike(SignedNumericPattern)
}
