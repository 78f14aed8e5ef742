package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class PrivacySpec extends SparkSpecBase {
  import spark.implicits._

  private val rows = Seq(
    // (id, zip, age) — zip/age are the quasi-identifiers
    (1L, "94110", 30), (2L, "94110", 30), (3L, "94110", 30),
    (4L, "10001", 30), (5L, "10001", 30),
    (6L, "60601", 40)) // unique QI combo: re-identifying
    .toDF("id", "zip", "age")

  test("anonymityAudit histograms class sizes with cap") {
    val got = Privacy.anonymityAudit(rows, Seq("zip", "age"), cap = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // sizes: 3 (capped to 2), 2, 1 → cap bucket has two classes
    assert(got(1L) == ((1L, 1L)))
    assert(got(2L) == ((2L, 5L)))
  }

  test("lDiversityAudit: distinct-l, and entropy-l penalizes skew") {
    val s = spark
    import s.implicits._
    // class g1: 4 rows evenly split over 2 sensitive values → entropy-l 2
    // class g2: 4 rows of ONE value → distinct 1, entropy-l 1 (leak)
    // class g3: skewed 3:1 over 2 values → 1 < entropy-l < 2
    val df = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"),
      ("g2", "a"), ("g2", "a"), ("g2", "a"), ("g2", "a"),
      ("g3", "a"), ("g3", "a"), ("g3", "a"), ("g3", "b"))
      .toDF("qi", "sens")
    val got = Privacy.lDiversityAudit(df, Seq("qi"), "sens")
      .collect().map(r => r.getAs[String]("qi") ->
        (r.getAs[Long]("n"), r.getAs[Long]("distinct_l"),
          r.getAs[Double]("entropy_l"))).toMap
    assert(got("g1") === ((4L, 2L, 2.0)))
    assert(got("g2") === ((4L, 1L, 1.0)))
    val (_, d3, e3) = got("g3")
    assert(d3 === 2L && e3 > 1.0 && e3 < 2.0)
    // exp(H(3/4,1/4)) = exp(ln4 − (3·ln3)/4) ≈ 1.7547
    assert(math.abs(e3 - 1.754765) < 1e-4, e3.toString)
  }
}
