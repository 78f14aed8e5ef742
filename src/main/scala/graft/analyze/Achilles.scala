package graft.analyze

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}

/** Achilles-style analytics (SURVEY.md §2.4 A9/A10): the stratified-count
  * and distribution analyses the reference runs via OHDSI Achilles
  * (query_achilles_results.sh:144-230, achilles_config.json), re-expressed
  * as DataFrame aggregations producing the standard results shape
  * (analysis_id, stratum_1..5, count_value) and the distribution shape
  * (analysis_id, stratum_1, count/min/p10/p25/median/p75/p90/max).
  *
  * Each table is ONE aggregate, as a set-based Achilles SQL run is: every
  * analysis contributes a narrow projection of its rows, keyed by
  * (analysis_id, strata), and a single groupBy over their union computes
  * every analysis at once — map-side partial agg, shuffle ∝ total strata
  * cardinality, never input size. One analysis per aggregate would cost a
  * job or more each, which dominates the ETL at small and medium sizes.
  *
  * Results analyses (stratum_1 unless noted; X00 = persons with ≥1
  * record, X01 = records):
  *   - 1 persons (stratum_1 = ""), 2 by gender, 3 by year of birth,
  *     4 by race;
  *   - 200/201 visits by visit concept, 400/401 conditions;
  *   - 600/601 procedures, 700/701 drug exposures, 800/801 observations
  *     (query_achilles_results.sh:193-220), 1800/1801 measurements
  *     (1801 in the summary's record counts, :152-155);
  *   - 900 drug eras and 1000 condition eras by concept (records).
  *
  * Distribution analyses, over a `len` in days or years:
  *   - 211 visit length (A9; the reference reads it from
  *     `achilles_results_dist`, query_achilles_results.sh:228-230);
  *   - 906 drug-era length;
  *   - 103 age at first observation period, 104 the same by gender
  *     (run_achilles.R:36-57 default set);
  *   - 105 length of each person's first observation period, 106 by
  *     gender, 107 by age decile at first observation.
  */
object Achilles {

  private val strata = (1 to 5).map(i => s"stratum_$i")

  /** One analysis's rows before the count: (analysis_id, stratum_1..5),
    * strata cast to string and padded with NULL. */
  private def rows(analysisId: Int, df: DataFrame,
                   by: Seq[Column], extra: Seq[Column] = Nil): DataFrame =
    df.select((lit(analysisId).as("analysis_id") +:
      by.padTo(5, lit(null)).zip(strata).map { case (c, s) =>
        c.cast(StringType).as(s) }) ++ extra: _*)

  /** Default-analyses run over the full OMOP table set → one stacked
    * results table. An empty table contributes no rows. */
  def run(person: DataFrame, visit: DataFrame, condition: DataFrame,
          drugEra: DataFrame, conditionEra: DataFrame, procedure: DataFrame,
          drugExposure: DataFrame, observation: DataFrame,
          measurement: DataFrame): DataFrame = {
    // (X00 id, table, concept column); X01 is X00 + 1
    val domains = Seq((200, visit, "visit_concept_id"),
      (400, condition, "condition_concept_id"),
      (600, procedure, "procedure_concept_id"),
      (700, drugExposure, "drug_concept_id"),
      (800, observation, "observation_concept_id"),
      (1800, measurement, "measurement_concept_id"))
    // X00: the person rides along, one row per distinct (analysis,
    // concept, person) survives
    val persons = domains
      .map { case (id, df, c) =>
        rows(id, df, Seq(col(c)), Seq(col("person_id"))) }
      .reduce(_ unionByName _)
      .distinct()
      .drop("person_id")
    val records = Seq(
      rows(1, person, Seq(lit(""))),
      rows(2, person, Seq(col("gender_concept_id"))),
      rows(3, person, Seq(col("year_of_birth"))),
      rows(4, person, Seq(col("race_concept_id")))) ++
      domains.map { case (id, df, c) => rows(id + 1, df, Seq(col(c))) } ++
      Seq(rows(900, drugEra, Seq(col("drug_concept_id"))),
        rows(1000, conditionEra, Seq(col("condition_concept_id"))))
    (persons +: records).reduce(_ unionByName _)
      .groupBy(("analysis_id" +: strata).map(col): _*)
      .agg(count(lit(1)).as("count_value"))
  }

  /** Person × first observation period: (person_id, gender_concept_id,
    * age at first obs). Shared by analyses 103/104. */
  private def ageAtFirstObs(person: DataFrame,
                            observationPeriod: DataFrame): DataFrame =
    person.join(
      observationPeriod.groupBy(col("person_id"))
        .agg(min(col("observation_period_start_date")).as("first_obs")),
      "person_id")
      .withColumn("len",
        (year(col("first_obs")) - col("year_of_birth")).cast(DoubleType))

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
          .cast(DoubleType).as("len"))

  /** Distribution analyses → the separate achilles_results_dist table,
    * the observation-period defaults of the R Achilles set (103–107)
    * included.
    *
    * Every analysis contributes (analysis_id, stratum_1, len, w) rows of
    * weight 1. An unstratified analysis reports one row even over empty
    * input (count 0, NULL statistics), as a global aggregate does: each
    * gets one seed row with a NULL `len` and weight 0, and `count_value`
    * sums the weights. Exact `percentile` for oracle parity — swap
    * percentile_approx at scale (SURVEY §8). */
  def runDist(visit: DataFrame, drugEra: DataFrame, person: DataFrame,
              observationPeriod: DataFrame): DataFrame = {
    def days(end: String, start: String) =
      datediff(col(end), col(start)).cast(DoubleType).as("len")
    val age = ageAtFirstObs(person, observationPeriod)
    val first = firstPeriodLength(observationPeriod)
    // (analysis_id, rows with a `len`, stratum_1 if stratified)
    val analyses: Seq[(Int, DataFrame, Option[Column])] = Seq(
      (211, visit.select(days("visit_end_date", "visit_start_date")), None),
      (906, drugEra.select(days("drug_era_end_date", "drug_era_start_date")),
        None),
      (103, age, None),
      (104, age, Some(col("gender_concept_id"))),
      (106, first.join(person.select(col("person_id"),
        col("gender_concept_id")), "person_id"),
        Some(col("gender_concept_id"))),
      (107, first.join(person.select(col("person_id"),
        col("year_of_birth")), "person_id"),
        Some(floor((year(col("first_start")) - col("year_of_birth")) / 10))),
      (105, first, None))
    val values = analyses.map { case (id, df, stratum) =>
      df.select(lit(id).as("analysis_id"),
        stratum.getOrElse(lit(null)).cast(StringType).as("stratum_1"),
        col("len"), lit(1L).as("w"))
    }
    val seeds = visit.sparkSession.createDataFrame(
      java.util.Arrays.asList(analyses.collect { case (id, _, None) =>
        Row(id, null, null, 0L) }: _*),
      StructType(Seq(StructField("analysis_id", IntegerType, nullable = false),
        StructField("stratum_1", StringType), StructField("len", DoubleType),
        StructField("w", LongType, nullable = false))))
    (values :+ seeds).reduce(_ unionByName _)
      .groupBy(col("analysis_id"), col("stratum_1"))
      .agg(sum(col("w")).as("count_value"),
        min(col("len")).as("min_value"),
        expr("percentile(len, 0.10)").as("p10_value"),
        expr("percentile(len, 0.25)").as("p25_value"),
        expr("percentile(len, 0.50)").as("median_value"),
        expr("percentile(len, 0.75)").as("p75_value"),
        expr("percentile(len, 0.90)").as("p90_value"),
        max(col("len")).as("max_value"))
  }
}
