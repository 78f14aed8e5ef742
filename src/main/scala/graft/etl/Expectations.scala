package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the generic contract layer
  * over any table (the reference's QC is OMOP-specific row counting,
  * `etl_pipeline/etl_main.py` verification queries; [[Validation]]
  * mirrors that. This is the reusable tier: not-null / unique / range /
  * domain / pattern / referential checks declared as data, evaluated in
  * bulk, reported uniformly — what a pipeline gates a publish on).
  *
  * Scale shape: ALL column checks compile into ONE aggregate pass over
  * the table (each check is a conditional count — map-side combinable;
  * uniqueness adds count(distinct), which Spark plans as one Expand in
  * the same aggregate). The report is check-domain-sized. Referential
  * checks are one left-anti count each against the parent's key sliver
  * — the q15 orphan-join shape. Nothing collects rows; violation
  * EXAMPLES are a separate bounded query if wanted.
  */
object Expectations {

  /** One declared expectation: `name` (kind), `column`, a violation
    * predicate evaluated per row (null-safe: null input counts as a
    * violation only for NotNull), and the pass threshold as a maximum
    * violation FRACTION (0.0 = hard expectation). */
  final case class Check(name: String, column: String,
                         violation: Column, maxFrac: Double = 0.0)

  def notNull(c: String, maxFrac: Double = 0.0): Check =
    Check("not_null", c, col(c).isNull, maxFrac)

  def inRange(c: String, lo: Double, hi: Double,
              maxFrac: Double = 0.0): Check =
    Check("in_range", c,
      col(c).isNotNull && (col(c) < lo || col(c) > hi), maxFrac)

  def accepted(c: String, values: Seq[String],
               maxFrac: Double = 0.0): Check =
    Check("accepted_values", c,
      col(c).isNotNull && !col(c).cast("string").isin(values: _*),
      maxFrac)

  def matches(c: String, regex: String, maxFrac: Double = 0.0): Check =
    Check("matches", c,
      col(c).isNotNull && !col(c).cast("string").rlike(regex), maxFrac)

  /** Evaluate row-level checks plus optional `unique` columns in ONE
    * aggregate pass. Output (one row per check):
    * (check, column, n_rows, n_violations, viol_frac 6-rounded, pass). */
  def run(df: DataFrame, checks: Seq[Check],
          unique: Seq[String] = Nil): DataFrame = {
    require(checks.nonEmpty || unique.nonEmpty, "no expectations declared")
    val aggs =
      checks.zipWithIndex.map { case (c, i) =>
        count(when(c.violation, lit(1))).as(s"__v$i")
      } ++ unique.zipWithIndex.map { case (c, i) =>
        // violations = non-null rows beyond one per distinct value
        (count(col(c)) - countDistinct(col(c))).as(s"__u$i")
      } :+ count(lit(1)).as("__n")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows =
      checks.zipWithIndex.map { case (c, i) =>
        struct(lit(c.name).as("check"), lit(c.column).as("column"),
          col(s"__v$i").as("viol"), lit(c.maxFrac).as("maxf"))
      } ++ unique.zipWithIndex.map { case (c, i) =>
        struct(lit("unique").as("check"), lit(c).as("column"),
          col(s"__u$i").as("viol"), lit(0.0).as("maxf"))
      }
    wide.select(explode(array(rows: _*)).as("r"), col("__n").as("n_rows"))
      .select(col("r.check").as("check"), col("r.column").as("column"),
        col("n_rows"), col("r.viol").as("n_violations"),
        round(col("r.viol").cast("double") / col("n_rows"), 6)
          .as("viol_frac"),
        (col("r.viol").cast("double") / col("n_rows") <= col("r.maxf"))
          .as("pass"))
  }

  /** Referential expectation: every non-null `childKey` must exist in
    * `parent.parentKey`. One anti-join against the parent's distinct
    * key sliver; same output schema as [[run]] so reports union. */
  def fkCovered(child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame = {
    val orphanCount = child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("__v"))
    val total = child.agg(count(lit(1)).as("__n"))
    orphanCount.crossJoin(total)
      .select(lit("fk_covered").as("check"),
        lit(s"$childKey->$parentKey").as("column"),
        col("__n").as("n_rows"), col("__v").as("n_violations"),
        round(col("__v").cast("double") / col("__n"), 6).as("viol_frac"),
        (col("__v") === 0L).as("pass"))
  }
}
