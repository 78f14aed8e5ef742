package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference for [[Achilles]]: the per-analysis formulation, one
  * aggregate per analysis and a union of their results, which the
  * set-based single aggregate per table must equal row for row. Only
  * specs use it.
  */
object AchillesReference {

  private val resultCols = Seq("analysis_id", "stratum_1", "stratum_2",
    "stratum_3", "stratum_4", "stratum_5", "count_value")

  private def result(analysisId: Int, df: DataFrame,
                     strata: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val padded = strata.padTo(5, lit(null).cast("string"))
    df.groupBy(strata: _*)
      .agg(count(lit(1)).as("count_value"))
      .select(lit(analysisId).as("analysis_id") +:
        padded.zipWithIndex.map { case (c, i) =>
          c.cast("string").as(s"stratum_${i + 1}")
        } :+ col("count_value"): _*)
      .select(resultCols.map(col): _*)
  }

  /** Analysis 1: number of persons. */
  def a1NumPersons(person: DataFrame): DataFrame =
    result(1, person, Seq(lit("")))

  /** Analysis 2: persons by gender concept. */
  def a2ByGender(person: DataFrame): DataFrame =
    result(2, person, Seq(col("gender_concept_id")))

  /** Analysis 3: persons by year of birth. */
  def a3ByYearOfBirth(person: DataFrame): DataFrame =
    result(3, person, Seq(col("year_of_birth")))

  /** Analysis 4: persons by race concept. */
  def a4ByRace(person: DataFrame): DataFrame =
    result(4, person, Seq(col("race_concept_id")))

  /** The OHDSI X00 shape — persons with ≥1 record, by concept: distinct
    * (person, concept) then count. Two-stage hash agg; the shuffle carries
    * one row per distinct pair, never per record. */
  private def personsByConcept(id: Int, df: DataFrame,
                               concept: String): DataFrame =
    result(id,
      df.select(col("person_id"), col(concept))
        .dropDuplicates("person_id", concept),
      Seq(col(concept)))

  /** The OHDSI X01 shape — record counts by concept. */
  private def recordsByConcept(id: Int, df: DataFrame,
                               concept: String): DataFrame =
    result(id, df, Seq(col(concept)))

  /** Analysis 200: persons with ≥1 visit, by visit concept. */
  def a200ByVisitConcept(visit: DataFrame): DataFrame =
    personsByConcept(200, visit, "visit_concept_id")

  /** Analysis 201: visit occurrence records by visit concept. */
  def a201VisitRecords(visit: DataFrame): DataFrame =
    recordsByConcept(201, visit, "visit_concept_id")

  /** Analysis 400: persons with ≥1 condition, by condition concept. */
  def a400ByConditionConcept(condition: DataFrame): DataFrame =
    personsByConcept(400, condition, "condition_concept_id")

  /** Analysis 401: condition occurrence records by concept. */
  def a401ConditionRecords(condition: DataFrame): DataFrame =
    recordsByConcept(401, condition, "condition_concept_id")

  /** Analysis 600/601: procedure persons / records by concept
    * (query_achilles_results.sh:203-210 "procedures" block). */
  def a600ByProcedureConcept(procedure: DataFrame): DataFrame =
    personsByConcept(600, procedure, "procedure_concept_id")
  def a601ProcedureRecords(procedure: DataFrame): DataFrame =
    recordsByConcept(601, procedure, "procedure_concept_id")

  /** Analysis 700/701: drug-exposure persons / records by concept
    * (query_achilles_results.sh:193-200 "drugs" block). */
  def a700ByDrugConcept(drugExposure: DataFrame): DataFrame =
    personsByConcept(700, drugExposure, "drug_concept_id")
  def a701DrugRecords(drugExposure: DataFrame): DataFrame =
    recordsByConcept(701, drugExposure, "drug_concept_id")

  /** Analysis 800/801: observation persons / records by concept
    * (query_achilles_results.sh:213-220 "observations" block). */
  def a800ByObservationConcept(observation: DataFrame): DataFrame =
    personsByConcept(800, observation, "observation_concept_id")
  def a801ObservationRecords(observation: DataFrame): DataFrame =
    recordsByConcept(801, observation, "observation_concept_id")

  /** Analysis 1800/1801: measurement persons / records by concept
    * (1801 appears in the summary's record-counts-by-domain list,
    * query_achilles_results.sh:152-155). */
  def a1800ByMeasurementConcept(measurement: DataFrame): DataFrame =
    personsByConcept(1800, measurement, "measurement_concept_id")
  def a1801MeasurementRecords(measurement: DataFrame): DataFrame =
    recordsByConcept(1801, measurement, "measurement_concept_id")

  /** Person × first observation period: (person_id, gender_concept_id,
    * age at first obs). Shared by analyses 101/103/104. */
  private def ageAtFirstObs(person: DataFrame,
                            observationPeriod: DataFrame): DataFrame =
    person.join(
      observationPeriod.groupBy(col("person_id"))
        .agg(min(col("observation_period_start_date")).as("first_obs")),
      "person_id")
      .withColumn("age", year(col("first_obs")) - col("year_of_birth"))

  /** Analysis 101-shape: persons by age at first observation period. */
  def a101AgeAtFirstObs(person: DataFrame,
                        observationPeriod: DataFrame): DataFrame =
    result(101, ageAtFirstObs(person, observationPeriod), Seq(col("age")))

  /** The Achilles distribution shape over a `len` column, optionally
    * stratified (stratum_1). One hash agg; for the stratified form the
    * shuffle carries strata cardinality, never rows. Exact `percentile`
    * for oracle parity — swap percentile_approx at scale (SURVEY §8). */
  private def dist(analysisId: Int, values: DataFrame,
                   stratum: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("count_value"),
      min(col("len")).as("min_value"),
      expr("percentile(len, 0.10)").as("p10_value"),
      expr("percentile(len, 0.25)").as("p25_value"),
      expr("percentile(len, 0.50)").as("median_value"),
      expr("percentile(len, 0.75)").as("p75_value"),
      expr("percentile(len, 0.90)").as("p90_value"),
      max(col("len")).as("max_value"))
    val out = stratum match {
      case Some(s) =>
        values.groupBy(s.cast("string").as("stratum_1"))
          .agg(aggs.head, aggs.tail: _*)
      case None =>
        values.agg(aggs.head, aggs.tail: _*)
          .withColumn("stratum_1", lit(null).cast("string"))
    }
    out.select(lit(analysisId).as("analysis_id") +: col("stratum_1") +:
      distValueCols.map(col): _*)
  }

  private val distValueCols = Seq("count_value", "min_value", "p10_value",
    "p25_value", "median_value", "p75_value", "p90_value", "max_value")

  /** Analysis 211-shape: distribution of visit length in days (A9 —
    * exact percentiles for oracle parity; percentile_approx at scale). */
  def a211VisitLength(visit: DataFrame): DataFrame =
    dist(211, visit.select(
      datediff(col("visit_end_date"), col("visit_start_date"))
        .cast("double").as("len")))

  /** Analysis 103-shape: distribution of age at first observation period
    * (OHDSI Achilles default set, run via run_achilles.R:36-57). */
  def a103AgeAtFirstObsDist(person: DataFrame,
                            observationPeriod: DataFrame): DataFrame =
    dist(103, ageAtFirstObs(person, observationPeriod)
      .select(col("age").cast("double").as("len")))

  /** Analysis 104-shape: age at first observation period, by gender
    * (stratum_1 = gender_concept_id). */
  def a104AgeAtFirstObsByGender(person: DataFrame,
                                observationPeriod: DataFrame): DataFrame =
    dist(104, ageAtFirstObs(person, observationPeriod)
      .select(col("gender_concept_id"),
        col("age").cast("double").as("len")),
      Some(col("gender_concept_id")))

  /** Per-person FIRST observation period, picked by lexicographic
    * min(start, end) — deterministic under start-date ties, no window.
    * Shared by analyses 105/106/107. */
  private def firstPeriodLength(observationPeriod: DataFrame): DataFrame =
    observationPeriod
      .groupBy(col("person_id"))
      .agg(min(struct(col("observation_period_start_date"),
        col("observation_period_end_date"))).as("first"))
      .select(col("person_id"),
        col("first.observation_period_start_date").as("first_start"),
        datediff(col("first.observation_period_end_date"),
          col("first.observation_period_start_date"))
          .cast("double").as("len"))

  /** Analysis 105-shape: length in days of each person's FIRST
    * observation period. */
  def a105ObsPeriodLength(observationPeriod: DataFrame): DataFrame =
    dist(105, firstPeriodLength(observationPeriod))

  /** Analysis 106-shape: first-period length by gender
    * (stratum_1 = gender_concept_id). */
  def a106ObsPeriodLengthByGender(person: DataFrame,
                                  observationPeriod: DataFrame): DataFrame =
    dist(106, firstPeriodLength(observationPeriod)
      .join(person.select(col("person_id"), col("gender_concept_id")),
        "person_id"),
      Some(col("gender_concept_id")))

  /** Analysis 107-shape: first-period length by age decile at first
    * observation (stratum_1 = floor(age/10)). */
  def a107ObsPeriodLengthByAgeDecile(person: DataFrame,
                                     observationPeriod: DataFrame)
      : DataFrame =
    dist(107, firstPeriodLength(observationPeriod)
      .join(person.select(col("person_id"), col("year_of_birth")),
        "person_id")
      .withColumn("decile",
        floor((year(col("first_start")) - col("year_of_birth")) / 10)),
      Some(col("decile")))

  /** Analysis 900-shape: drug eras by drug concept
    * (query_achilles_results.sh drug-era block). */
  def a900ByDrugEraConcept(drugEra: DataFrame): DataFrame =
    result(900, drugEra, Seq(col("drug_concept_id")))

  /** Analysis 906-shape: distribution of drug-era length in days. */
  def a906DrugEraLength(drugEra: DataFrame): DataFrame =
    dist(906, drugEra.select(datediff(col("drug_era_end_date"),
      col("drug_era_start_date")).cast("double").as("len")))

  /** Analysis 1000-shape: condition eras by condition concept. */
  def a1000ByConditionEraConcept(conditionEra: DataFrame): DataFrame =
    result(1000, conditionEra, Seq(col("condition_concept_id")))

  /** Distribution analyses → the separate achilles_results_dist table the
    * reference reads (query_achilles_results.sh:228-230 reads 211 from
    * `achilles_results_dist`, not `achilles_results`), the
    * observation-period defaults of the R Achilles set (103–107,
    * run_achilles.R) included. */
  def runDist(visit: DataFrame, drugEra: DataFrame, person: DataFrame,
              observationPeriod: DataFrame): DataFrame =
    Seq(a211VisitLength(visit), a906DrugEraLength(drugEra),
      a103AgeAtFirstObsDist(person, observationPeriod),
      a104AgeAtFirstObsByGender(person, observationPeriod),
      a106ObsPeriodLengthByGender(person, observationPeriod),
      a107ObsPeriodLengthByAgeDecile(person, observationPeriod),
      a105ObsPeriodLength(observationPeriod))
      .reduce(_ unionByName _)

  /** Full default-analyses run → one stacked results table. */
  def run(person: DataFrame, visit: DataFrame, condition: DataFrame,
          drugEra: DataFrame, conditionEra: DataFrame, procedure: DataFrame,
          drugExposure: DataFrame, observation: DataFrame,
          measurement: DataFrame): DataFrame =
    Seq(
      a1NumPersons(person), a2ByGender(person), a3ByYearOfBirth(person),
      a4ByRace(person),
      a200ByVisitConcept(visit), a201VisitRecords(visit),
      a400ByConditionConcept(condition), a401ConditionRecords(condition),
      a600ByProcedureConcept(procedure), a601ProcedureRecords(procedure),
      a700ByDrugConcept(drugExposure), a701DrugRecords(drugExposure),
      a800ByObservationConcept(observation),
      a801ObservationRecords(observation),
      a1800ByMeasurementConcept(measurement),
      a1801MeasurementRecords(measurement),
      a900ByDrugEraConcept(drugEra),
      a1000ByConditionEraConcept(conditionEra)
    ).reduce(_ unionByName _)
}
