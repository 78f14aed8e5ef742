package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** The single-aggregate validation report equals the one-aggregate-per-
  * check reference ([[ValidationReference]]) on tables that fail every
  * check, carry NULLs where a check compares, or are empty. */
class ValidationSpec extends SparkSpecBase {
  import spark.implicits._

  private def dates(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("date")))

  // person 2 twice (duplicate id), a NULL id, a NULL and an invalid gender
  private lazy val person = Seq[(Option[Long], Option[Long])](
    (Some(1L), Some(8507L)), (Some(2L), Some(8532L)), (Some(2L), Some(0L)),
    (Some(3L), None), (Some(4L), Some(12345L)), (None, Some(8507L))
  ).toDF("person_id", "gender_concept_id")

  // visit 12 has an unknown person, 13 a NULL person, 14 ends before it
  // starts, 15 has a NULL end
  private lazy val visit = dates(Seq[(Option[Long], Option[Long], String,
    Option[String])](
    (Some(11L), Some(1L), "2020-01-01", Some("2020-01-02")),
    (Some(12L), Some(9L), "2020-01-01", Some("2020-01-02")),
    (Some(13L), None, "2020-01-01", Some("2020-01-02")),
    (Some(14L), Some(2L), "2020-01-05", Some("2020-01-02")),
    (Some(15L), Some(2L), "2020-01-05", None),
    (None, Some(1L), "2020-01-05", Some("2020-01-06"))
  ).toDF("visit_occurrence_id", "person_id", "visit_start_date",
    "visit_end_date"), "visit_start_date", "visit_end_date")

  // an unknown visit and person, a NULL visit, an end before start
  private lazy val condition = dates(Seq[(Option[Long], Option[Long], String,
    Option[String])](
    (Some(1L), Some(11L), "2020-01-01", Some("2020-01-02")),
    (Some(7L), Some(99L), "2020-01-01", Some("2019-01-02")),
    (Some(1L), None, "2020-01-01", None),
    (None, Some(12L), "2020-01-01", Some("2020-01-01"))
  ).toDF("person_id", "visit_occurrence_id", "condition_start_date",
    "condition_end_date"), "condition_start_date", "condition_end_date")

  private def personKeyed(ids: Option[Long]*): DataFrame =
    ids.toDF("person_id")

  private lazy val drugEra = dates(Seq[(Option[Long], String, Option[String],
    Option[Int])](
    (Some(1L), "2020-01-01", Some("2020-01-10"), Some(1)),
    (Some(8L), "2020-01-10", Some("2020-01-01"), Some(0)),
    (None, "2020-01-10", None, None)
  ).toDF("person_id", "drug_era_start_date", "drug_era_end_date",
    "drug_exposure_count"), "drug_era_start_date", "drug_era_end_date")

  private lazy val conditionEra = dates(Seq[(Option[Long], String,
    Option[String], Option[Int])](
    (Some(2L), "2020-01-01", Some("2020-01-10"), Some(2))
  ).toDF("person_id", "condition_era_start_date", "condition_era_end_date",
    "condition_occurrence_count"), "condition_era_start_date",
    "condition_era_end_date")

  private def both(person: DataFrame, visit: DataFrame, condition: DataFrame,
                   measurement: DataFrame, observation: DataFrame,
                   drugEra: DataFrame,
                   conditionEra: DataFrame): Map[String, Long] = {
    val got = Validation.report(spark, person, visit, condition,
      measurement, observation, drugEra, conditionEra)
    // the reference's two per-era checks sum over the era table, which is
    // NULL when the table is empty; the report counts 0 there, as it does
    // for every other check
    assertSameRows(got, ValidationReference.report(spark, person, visit,
      condition, measurement, observation, drugEra, conditionEra)
      .withColumn("failed_count", coalesce(col("failed_count"), lit(0L))))
    got.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("report equals the per-check reference, failures and NULLs") {
    val meas = personKeyed(Some(1L), Some(5L), Some(6L), None)
    val obs = personKeyed(Some(4L), None)
    val report = both(person, visit, condition, meas, obs, drugEra,
      conditionEra)
    assert(report("visit_orphan_person") == 1)
    assert(report("condition_orphan_visit") == 1)
    assert(report("measurement_orphan_person") == 2)
    assert(report("duplicate_person_ids") == 1)
    assert(report("invalid_gender_concept") == 1)
    assert(report("drug_era_empty") == 1)
    assert(report.size == 15)
    val none = lit(false)
    both(person, visit, condition, meas, obs, drugEra.filter(none),
      conditionEra.filter(none))
  }

  test("an empty child table still reports its check with 0") {
    val none = lit(false)
    val report = both(person, visit, condition, personKeyed(),
      personKeyed(Some(1L)), drugEra.filter(none), conditionEra)
    assert(report("measurement_orphan_person") == 0)
    assert(report("drug_era_orphan_person") == 0)
    assert(report("drug_era_empty") == 0)
    assert(ValidationReference.report(spark, person, visit, condition,
      personKeyed(), personKeyed(), drugEra.filter(none),
      conditionEra.filter(none))
      .filter(col("check_name") === "drug_era_empty").head().isNullAt(1))
    val empty = both(person.filter(none), visit.filter(none),
      condition.filter(none), personKeyed(), personKeyed(),
      drugEra.filter(none), conditionEra.filter(none))
    assert(empty.size == 15 && empty.values.forall(_ == 0L))
  }
}
