package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class AchillesSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val person = Seq(
    (1L, 8507L, 1980, 8527L), (2L, 8532L, 1980, 8516L),
    (3L, 8507L, 1990, 8527L)
  ).toDF("person_id", "gender_concept_id", "year_of_birth",
    "race_concept_id")

  private lazy val visit = Seq(
    (1L, 1L, 9201L, "2020-01-01", "2020-01-05"),
    (2L, 2L, 9202L, "2020-02-01", "2020-02-01")
  ).toDF("visit_occurrence_id", "person_id", "visit_concept_id", "s", "e")
    .select(col("*"), col("s").cast("date").as("visit_start_date"),
      col("e").cast("date").as("visit_end_date"))

  // the tables a test leaves out, empty with their schema
  private val none = lit(false)
  private lazy val noDrugEra = edgeDrugEra.filter(none)
  private lazy val noConditionEra = Seq.empty[(Long, Long, Long)]
    .toDF("condition_era_id", "person_id", "condition_concept_id")
  private lazy val noObsPeriod = edgeObsPeriod.filter(none)
  /** Empty procedure, drug exposure, observation and measurement tables. */
  private lazy val noDomains = Seq(
    edgeDomain("procedure_occurrence_id", "procedure_concept_id"),
    edgeDomain("drug_exposure_id", "drug_concept_id"),
    edgeDomain("observation_id", "observation_concept_id"),
    edgeDomain("measurement_id", "measurement_concept_id")).map(_.filter(none))

  /** [[Achilles.run]] over the person/visit/condition core and the given
    * eras, every other domain empty. */
  private def runCore(person: DataFrame, visit: DataFrame,
                      condition: DataFrame, drugEra: DataFrame = noDrugEra,
                      conditionEra: DataFrame = noConditionEra) = {
    val Seq(pr, d, o, m) = noDomains
    Achilles.run(person, visit, condition, drugEra, conditionEra, pr, d, o, m)
  }

  test("stratified counts produce the standard results shape") {
    val res = runCore(person, visit,
      Seq((1L, 1L, 0L)).toDF("condition_occurrence_id", "person_id",
        "condition_concept_id"))
    assert(res.columns.toSeq == Seq("analysis_id", "stratum_1", "stratum_2",
      "stratum_3", "stratum_4", "stratum_5", "count_value"))
    val byAnalysis = res.collect().groupBy(_.getInt(0))
    assert(byAnalysis(1).head.getLong(6) == 3)           // persons
    assert(byAnalysis(2).map(r => r.getString(1) -> r.getLong(6)).toMap
      == Map("8507" -> 2, "8532" -> 1))                  // by gender
    assert(byAnalysis(3).length == 2)                    // two birth years
    assert(byAnalysis(200).length == 2)                  // two visit concepts
  }

  test("X00 persons vs X01 records distinction across every domain") {
    // person 1 has TWO records of concept 10 → X00 counts 1, X01 counts 2
    def dom(idCol: String, conceptCol: String) = Seq(
      (1L, 1L, 10L), (2L, 1L, 10L), (3L, 2L, 10L), (4L, 2L, 20L)
    ).toDF(idCol, "person_id", conceptCol)
    val res = Achilles.run(person, visit,
      dom("condition_occurrence_id", "condition_concept_id"), noDrugEra,
      noConditionEra, dom("procedure_occurrence_id", "procedure_concept_id"),
      dom("drug_exposure_id", "drug_concept_id"),
      dom("observation_id", "observation_concept_id"),
      dom("measurement_id", "measurement_concept_id"))
    val byA = res.collect().groupBy(_.getInt(0))
      .view.mapValues(_.map(r => r.getString(1) -> r.getLong(6)).toMap)
    for (persons <- Seq(400, 600, 700, 800, 1800))
      assert(byA(persons) == Map("10" -> 2, "20" -> 1),
        s"analysis $persons (persons)")
    for (records <- Seq(401, 601, 701, 801, 1801))
      assert(byA(records) == Map("10" -> 3, "20" -> 1),
        s"analysis $records (records)")
    // 200 persons-by-visit-concept vs 201 record counts on the visit table
    assert(byA(200) == Map("9201" -> 1, "9202" -> 1))
    assert(byA(201) == Map("9201" -> 1, "9202" -> 1))
  }

  test("era analyses stack into the same results shape when provided") {
    val drugEra = Seq(
      (1L, 1L, 10L, "2020-01-01", "2020-01-20"),
      (2L, 1L, 10L, "2020-06-01", "2020-06-05"),
      (3L, 2L, 20L, "2020-01-01", "2020-01-02")
    ).toDF("drug_era_id", "person_id", "drug_concept_id", "s", "e")
      .select(col("*"), col("s").cast("date").as("drug_era_start_date"),
        col("e").cast("date").as("drug_era_end_date"))
    val condEra = Seq((1L, 1L, 100L))
      .toDF("condition_era_id", "person_id", "condition_concept_id")
    val res = runCore(person, visit,
      Seq((1L, 1L, 0L)).toDF("condition_occurrence_id", "person_id",
        "condition_concept_id"), drugEra, condEra)
    val byAnalysis = res.collect().groupBy(_.getInt(0))
    assert(byAnalysis(900).map(r => r.getString(1) -> r.getLong(6)).toMap
      == Map("10" -> 2, "20" -> 1))
    assert(byAnalysis(1000).head.getLong(6) == 1)
    val dist = Achilles.runDist(visit, drugEra, person, noObsPeriod)
      .filter(col("analysis_id") === 906).head()
    assert(dist.getAs[Long]("count_value") == 3)
    assert(dist.getAs[Double]("max_value") == 19.0)
  }

  test("runDist stacks the distribution analyses (211 + 906)") {
    val drugEra = Seq((1L, 1L, 10L, "2020-01-01", "2020-01-20"))
      .toDF("drug_era_id", "person_id", "drug_concept_id", "s", "e")
      .select(col("*"), col("s").cast("date").as("drug_era_start_date"),
        col("e").cast("date").as("drug_era_end_date"))
    val dist = Achilles.runDist(visit, drugEra, person, noObsPeriod)
    // with no observation period, 103 and 105 keep their count-0 row
    assert(dist.select("analysis_id").collect().map(_.getInt(0)).sorted
      === Array(103, 105, 211, 906))
    assert(dist.columns.contains("median_value"))
  }

  private lazy val obsPeriods = Seq(
    // person 1: two periods — FIRST (by start) is 10 days long
    (1L, 1L, "2020-01-01", "2020-01-11"),
    (2L, 1L, "2021-01-01", "2021-12-31"),
    (3L, 2L, "2020-06-01", "2020-06-06"),  // 5 days
    (4L, 3L, "2021-03-01", "2021-03-21")   // 20 days
  ).toDF("observation_period_id", "person_id", "s", "e")
    .select(col("*"),
      col("s").cast("date").as("observation_period_start_date"),
      col("e").cast("date").as("observation_period_end_date"))

  test("obs-period distribution analyses 103..107 (R default set)") {
    val dist = Achilles.runDist(visit, noDrugEra, person, obsPeriods)
    val byA = dist.collect().groupBy(_.getInt(0))
    assert(byA.keySet == Set(211, 906, 103, 104, 105, 106, 107))
    // 103: ages at first obs — p1 40 (2020−1980), p2 40, p3 31 (2021−1990)
    val a103 = byA(103).head
    assert(a103.getAs[String]("stratum_1") == null)
    assert(a103.getAs[Long]("count_value") == 3)
    assert(a103.getAs[Double]("min_value") == 31.0)
    assert(a103.getAs[Double]("max_value") == 40.0)
    assert(a103.getAs[Double]("median_value") == 40.0)
    // 104: same ages stratified by gender — male(8507)={40,31}, f={40}
    val a104 = byA(104).map(r =>
      r.getAs[String]("stratum_1") ->
        (r.getAs[Long]("count_value"), r.getAs[Double]("min_value"),
          r.getAs[Double]("max_value"))).toMap
    assert(a104 == Map("8507" -> ((2L, 31.0, 40.0)),
      "8532" -> ((1L, 40.0, 40.0))))
    // 105: FIRST period length per person = {10, 5, 20}
    val a105 = byA(105).head
    assert(a105.getAs[Long]("count_value") == 3)
    assert(a105.getAs[Double]("min_value") == 5.0)
    assert(a105.getAs[Double]("median_value") == 10.0)
    assert(a105.getAs[Double]("max_value") == 20.0)
    // 106: lengths by gender — male(8507)={10,20}, female(8532)={5}
    val a106 = byA(106).map(r =>
      r.getAs[String]("stratum_1") ->
        (r.getAs[Long]("count_value"), r.getAs[Double]("min_value"),
          r.getAs[Double]("max_value"))).toMap
    assert(a106 == Map("8507" -> ((2L, 10.0, 20.0)),
      "8532" -> ((1L, 5.0, 5.0))))
    // 107: deciles — p1 age 40 → 4, p2 age 40 → 4, p3 age 31 → 3
    val a107 = byA(107).map(r =>
      r.getAs[String]("stratum_1") -> r.getAs[Long]("count_value")).toMap
    assert(a107 == Map("4" -> 2L, "3" -> 1L))
  }

  test("age at first observation strata") {
    val op = Seq((1L, 1L, "2020-01-01"), (2L, 2L, "2020-06-01"))
      .toDF("observation_period_id", "person_id", "s")
      .select(col("*"),
        col("s").cast("date").as("observation_period_start_date"),
        col("s").cast("date").as("observation_period_end_date"))
    val byA = Achilles.runDist(visit, noDrugEra, person, op).collect()
      .groupBy(_.getInt(0))
    // both obs-persons born 1980, first obs 2020: age 40, one per gender
    val a103 = byA(103).head
    assert((a103.getAs[Long]("count_value"), a103.getAs[Double]("min_value"),
      a103.getAs[Double]("max_value")) == ((2L, 40.0, 40.0)))
    assert(byA(104).map(r => r.getString(1) ->
      (r.getAs[Long]("count_value"), r.getAs[Double]("median_value"))).toMap
      == Map("8507" -> ((1L, 40.0)), "8532" -> ((1L, 40.0))))
  }

  test("visit-length distribution computes exact percentiles") {
    val d = Achilles.runDist(visit, noDrugEra, person, noObsPeriod)
      .filter(col("analysis_id") === 211).head()
    assert(d.getAs[Long]("count_value") == 2)
    assert(d.getAs[Double]("min_value") == 0.0)
    assert(d.getAs[Double]("max_value") == 4.0)
    assert(d.getAs[Double]("median_value") == 2.0)
  }

  // ---- the single aggregates equal the per-analysis reference ----

  private def dates(df: DataFrame,
                    cols: (String, String)*) =
    cols.foldLeft(df) { case (d, (from, to)) =>
      d.withColumn(to, col(from).cast("date")).drop(from) }

  /** Edge rows: NULL concepts, NULL person ids, NULL end dates (a NULL
    * `len`), a NULL year of birth, duplicate (person, concept) pairs. */
  private lazy val edgePerson = Seq[(Option[Long], Option[Long], Option[Int],
    Option[Long])](
    (Some(1L), Some(8507L), Some(1980), Some(8527L)),
    (Some(2L), None, Some(1980), None),
    (Some(3L), Some(8507L), None, Some(8527L)),
    (Some(4L), Some(8532L), Some(1990), Some(8516L)),
    (None, Some(8532L), Some(1990), Some(8516L))
  ).toDF("person_id", "gender_concept_id", "year_of_birth", "race_concept_id")

  private lazy val edgeVisit = dates(Seq[(Long, Option[Long], Option[Long],
    String, Option[String])](
    (1L, Some(1L), Some(9201L), "2020-01-01", Some("2020-01-05")),
    (2L, Some(1L), Some(9201L), "2020-02-01", None),
    (3L, None, None, "2020-03-01", Some("2020-03-02")),
    (4L, None, None, "2020-03-01", Some("2020-03-09")),
    (5L, Some(2L), None, "2020-04-01", Some("2020-04-01")),
    (6L, Some(4L), Some(9202L), "2021-04-01", Some("2021-05-01"))
  ).toDF("visit_occurrence_id", "person_id", "visit_concept_id", "s", "e"),
    "s" -> "visit_start_date", "e" -> "visit_end_date")

  private def edgeDomain(idCol: String, conceptCol: String) =
    Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(1L), Some(10L)), (2L, Some(1L), Some(10L)),
      (3L, None, Some(10L)), (4L, None, Some(10L)),
      (5L, Some(2L), None), (6L, Some(2L), None), (7L, None, None),
      (8L, Some(3L), Some(20L))
    ).toDF(idCol, "person_id", conceptCol)

  private lazy val edgeDrugEra = dates(Seq[(Long, Option[Long], Option[Long],
    String, Option[String])](
    (1L, Some(1L), Some(10L), "2020-01-01", Some("2020-01-20")),
    (2L, Some(1L), None, "2020-06-01", None),
    (3L, None, Some(20L), "2020-01-01", Some("2020-01-02"))
  ).toDF("drug_era_id", "person_id", "drug_concept_id", "s", "e"),
    "s" -> "drug_era_start_date", "e" -> "drug_era_end_date")

  private lazy val edgeObsPeriod = dates(Seq[(Long, Option[Long], String,
    Option[String])](
    (1L, Some(1L), "2020-01-01", Some("2020-01-11")),
    (2L, Some(1L), "2020-01-01", Some("2020-01-05")),
    (3L, Some(2L), "2019-06-01", None),
    (4L, Some(3L), "2021-03-01", Some("2021-03-21")),
    (5L, Some(4L), "2001-03-01", Some("2001-03-02")),
    (6L, None, "2021-03-01", Some("2021-03-21"))
  ).toDF("observation_period_id", "person_id", "s", "e"),
    "s" -> "observation_period_start_date",
    "e" -> "observation_period_end_date")

  test("run equals the per-analysis reference on edge rows") {
    val cond = edgeDomain("condition_occurrence_id", "condition_concept_id")
    val domains = Seq(
      edgeDomain("procedure_occurrence_id", "procedure_concept_id"),
      edgeDomain("drug_exposure_id", "drug_concept_id"),
      edgeDomain("observation_id", "observation_concept_id"),
      edgeDomain("measurement_id", "measurement_concept_id"))
    val condEra = Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(1L), Some(100L)), (2L, None, None), (3L, Some(2L), None))
      .toDF("condition_era_id", "person_id", "condition_concept_id")
    def both(person: DataFrame, visit: DataFrame,
             tables: Seq[DataFrame]): Unit = {
      val Seq(c, de, ce, pr, d, o, m) = tables
      assertSameRows(Achilles.run(person, visit, c, de, ce, pr, d, o, m),
        AchillesReference.run(person, visit, c, de, ce, pr, d, o, m))
    }
    both(edgePerson, edgeVisit,
      Seq(cond, noDrugEra, noConditionEra) ++ noDomains)
    both(edgePerson, edgeVisit, Seq(cond, edgeDrugEra, condEra) ++ domains)
    // empty inputs: no rows, as the per-analysis groupBys give
    both(edgePerson.filter(none), edgeVisit.filter(none),
      Seq(cond.filter(none), noDrugEra, noConditionEra) ++ noDomains)
  }

  test("runDist equals the per-analysis reference, empty inputs included") {
    def both(visit: DataFrame, drugEra: DataFrame, person: DataFrame,
             op: DataFrame): Unit =
      assertSameRows(Achilles.runDist(visit, drugEra, person, op),
        AchillesReference.runDist(visit, drugEra, person, op))
    val noPerson = edgePerson.filter(none)
    both(edgeVisit, edgeDrugEra, edgePerson, edgeObsPeriod)
    both(edgeVisit, edgeDrugEra, noPerson, edgeObsPeriod)
    // an empty drug era and observation period still give their
    // unstratified rows (count 0, NULL statistics)
    both(edgeVisit, noDrugEra, noPerson, noObsPeriod)
    both(edgeVisit, noDrugEra, edgePerson, noObsPeriod)
    both(edgeVisit.filter(none), noDrugEra, noPerson, noObsPeriod)
    val empty = Achilles.runDist(edgeVisit.filter(none), noDrugEra,
      edgePerson, noObsPeriod).collect()
    assert(empty.map(_.getInt(0)).sorted.toSeq == Seq(103, 105, 211, 906))
    assert(empty.forall(r => r.getLong(2) == 0L && r.isNullAt(3)))
  }
}
