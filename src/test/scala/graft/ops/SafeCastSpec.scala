package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

import graft.SparkSpecBase

class SafeCastSpec extends SparkSpecBase {
  import SafeCast._

  /** Deterministic property sampling (scalatestplus isn't available in the
    * offline cache, so drive scalacheck Gens by hand with a fixed seed). */
  private def samples[A](g: Gen[A], n: Int = 500): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, rng.Seed(42L + i)))

  private def one(colExpr: org.apache.spark.sql.Column, v: String): Any = {
    import spark.implicits._
    Seq(Option(v)).toDF("v").select(colExpr.as("r")).head().get(0)
  }

  test("safeInt casts valid ints, nulls garbage — never throws") {
    assert(one(safeInt(col("v")), "42") == 42)
    assert(one(safeInt(col("v")), "-7") == -7)
    assert(one(safeInt(col("v")), "4.2") == null)
    assert(one(safeInt(col("v")), "x42") == null)
    assert(one(safeInt(col("v")), "") == null)
    assert(one(safeInt(col("v")), null) == null)
  }

  test("numeric patterns agree with BigDecimal parse on arbitrary strings") {
    // Property: whenever SignedNumericPattern matches, BigDecimal parses it.
    val tokens = Gen.oneOf(
      Gen.numStr, Gen.alphaNumStr,
      Gen.chooseNum(-1e9, 1e9).map(_.toString),
      Gen.chooseNum(-1e12, 1e12).map(d => f"$d%e"))
    for (s <- samples(tokens)) {
      val matches = s.matches(SignedNumericPattern)
      val parses = scala.util.Try(BigDecimal(s)).isSuccess
      if (matches) assert(parses, s"pattern matched but parse failed: '$s'")
    }
  }

  test("rlike semantics match the reference's anchored POSIX patterns") {
    // The reference patterns are all ^-anchored; rlike is search-based, so
    // anchors are load-bearing. Verify a mid-string number does NOT match.
    assert(one(isNumericString(col("v")), "abc 42") == false)
    assert(one(isNumericString(col("v")), "98.6") == true)
    assert(one(isNumericString(col("v")), "-98.6") == false) // unsigned form
    assert(one(isSignedNumericString(col("v")), "-98.6") == true)
    assert(one(isSignedNumericString(col("v")), "1.2e-5") == true)
  }

  test("safeTimestamp accepts YYYY-MM-DD prefixes, rejects others") {
    assert(one(safeTimestamp(col("v")), "2024-01-02 03:04:05") != null)
    assert(one(safeTimestamp(col("v")), "2024-01-02") != null)
    assert(one(safeTimestamp(col("v")), "01/02/2024") == null)
    assert(one(safeTimestamp(col("v")), "garbage") == null)
  }

  test("safeDate truncates to the date prefix like the reference ::date") {
    assert(one(safeDate(col("v")), "2024-01-02T09:00:00Z")
      == java.sql.Date.valueOf("2024-01-02"))
  }

  test("enumCast nulls out-of-domain values") {
    val c = enumCast(col("v"), Seq("M", "F"))
    assert(one(c, "M") == "M")
    assert(one(c, "x") == null)
  }

  test("guard-passing but unparseable inputs become NULL under ANSI mode") {
    // Spark 4 defaults spark.sql.ansi.enabled=true; these all match the
    // regex guard yet fail the cast — try_cast must absorb them (one bad
    // row must never kill a dirty-CSV ETL job).
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(one(safeDate(col("v")), "2024-99-99") == null)
    assert(one(safeDate(col("v")), "2023-02-29") == null) // not a leap year
    assert(one(safeTimestamp(col("v")), "2024-01-02 99:00") == null)
    assert(one(safeInt(col("v")), "99999999999999999999") == null) // overflow
    assert(one(safeCast(col("v"), LongType, IntPattern),
      "99999999999999999999") == null)
    assert(one(safeInt(col("v")), "2147483648") == null) // Int.MaxValue + 1
    assert(one(safeCast(col("v"), LongType, IntPattern), "2147483648") ==
      2147483648L)
  }

  test("safeUuid validates the 36-char shape") {
    assert(one(safeUuid(col("v")), "123e4567-e89b-12d3-a456-426614174000")
      == "123e4567-e89b-12d3-a456-426614174000")
    assert(one(safeUuid(col("v")), "not-a-uuid") == null)
  }
}
