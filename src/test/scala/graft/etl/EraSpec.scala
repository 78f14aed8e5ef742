package graft.etl

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** OMOP era derivations (drug_era / condition_era, 30-day persistence). */
class EraSpec extends SparkSpecBase {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("drugEra merges exposures within the 30-day persistence window") {
    val exposures = Seq(
      // person 1, drug 10: two exposures 5 days apart -> one era
      (1L, 10L, d("2020-01-01"), d("2020-01-10")),
      (1L, 10L, d("2020-01-15"), d("2020-01-20")),
      // >30-day gap -> second era
      (1L, 10L, d("2020-06-01"), d("2020-06-05")),
      // different drug -> own era
      (1L, 20L, d("2020-01-01"), d("2020-01-03")),
      // different person -> own era
      (2L, 10L, d("2020-01-01"), d("2020-01-02"))
    ).toDF("person_id", "drug_concept_id",
      "drug_exposure_start_date", "drug_exposure_end_date")

    val eras = Domains.drugEra(exposures, persons = 2).collect()
      .map(r => ((r.getAs[Long]("person_id"),
        r.getAs[Long]("drug_concept_id"),
        r.getAs[Date]("drug_era_start_date").toString),
        (r.getAs[Date]("drug_era_end_date").toString,
          r.getAs[Int]("drug_exposure_count").toLong,
          r.getAs[Int]("gap_days").toLong))).toMap
    assert(eras.size == 4)
    // merged era: span 2020-01-01..2020-01-20, 2 exposures,
    // gap_days = 19 - (9 + 5) = 5
    assert(eras((1L, 10L, "2020-01-01")) == ("2020-01-20", 2L, 5L))
    assert(eras((1L, 10L, "2020-06-01")) == ("2020-06-05", 1L, 0L))
    assert(eras((1L, 20L, "2020-01-01")) == ("2020-01-03", 1L, 0L))
    assert(eras((2L, 10L, "2020-01-01")) == ("2020-01-02", 1L, 0L))
  }

  test("drugEra: overlapping exposures contribute no gap days") {
    val exposures = Seq(
      (1L, 10L, d("2020-01-01"), d("2020-01-10")),
      (1L, 10L, d("2020-01-05"), d("2020-01-12")), // overlaps
      (1L, 10L, d("2020-01-12"), d("2020-01-15"))  // touches
    ).toDF("person_id", "drug_concept_id",
      "drug_exposure_start_date", "drug_exposure_end_date")
    val era = Domains.drugEra(exposures, persons = 1).head()
    assert(era.getAs[Date]("drug_era_start_date") == d("2020-01-01"))
    assert(era.getAs[Date]("drug_era_end_date") == d("2020-01-15"))
    assert(era.getAs[Int]("drug_exposure_count") == 3)
    assert(era.getAs[Int]("gap_days") == 0)
  }

  test("drug_era_id is dense, unique, deterministic across partitionings") {
    val exposures = (1 to 200).map { i =>
      ((i % 10).toLong, (i % 7).toLong,
        d(f"2020-${i % 12 + 1}%02d-01"), d(f"2020-${i % 12 + 1}%02d-15"))
    }.toDF("person_id", "drug_concept_id",
      "drug_exposure_start_date", "drug_exposure_end_date")
    val a = Domains.drugEra(exposures, persons = 10)
    val ids = a.select("drug_era_id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to ids.length).toSeq) // dense from 1
    val b = Domains.drugEra(exposures.repartition(11), persons = 10)
      .select("drug_era_id", "person_id", "drug_concept_id",
        "drug_era_start_date")
      .collect().map(_.toSeq).toSet
    assert(b == a.select("drug_era_id", "person_id", "drug_concept_id",
      "drug_era_start_date").collect().map(_.toSeq).toSet)
  }

  test("conditionEra merges occurrences with the 30-day window") {
    val conds = Seq(
      (1L, 100L, d("2020-01-01"), d("2020-01-05")),
      (1L, 100L, d("2020-02-01"), d("2020-02-03")), // 27-day gap: merges
      (1L, 100L, d("2020-05-01"), d("2020-05-02"))  // far: new era
    ).toDF("person_id", "condition_concept_id",
      "condition_start_date", "condition_end_date")
    val eras = Domains.conditionEra(conds, persons = 1)
      .orderBy("condition_era_start_date").collect()
    assert(eras.length == 2)
    assert(eras(0).getAs[Int]("condition_occurrence_count") == 2)
    assert(eras(0).getAs[Date]("condition_era_end_date") == d("2020-02-03"))
    assert(eras(1).getAs[Int]("condition_occurrence_count") == 1)
  }
}
