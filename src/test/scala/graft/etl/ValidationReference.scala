package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference for [[Validation.report]]: one one-row aggregate per check,
  * stacked, which the single-aggregate report must equal row for row.
  * Only specs use it.
  */
object ValidationReference {

  private def asCheck(name: String, oneRowCount: DataFrame): DataFrame =
    oneRowCount.select(lit(name).as("check_name"),
      col("failed_count").cast("long").as("failed_count"))

  private def countDf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("failed_count"))

  /** Orphaned FKs: child rows whose parent key is missing
    * (etl_validation.py:236-246). One-row count frame; the anti join's
    * build side is the parent's pruned key column, so Catalyst/AQE picks
    * broadcast vs shuffle from its measured size — correct at both the
    * 2.3M-person test shape and a cluster-scale parent. */
  def orphans(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame =
    countDf(child.select(col(childKey)).filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
        "left_anti"))

  /** Date sanity: end before start / future dates
    * (etl_validation.py:313-330). */
  def endBeforeStart(df: DataFrame, startCol: String,
                     endCol: String): DataFrame =
    countDf(df.filter(col(endCol) < col(startCol)))

  /** Domain check: gender concept ∈ {8507, 8532, 0}
    * (etl_validation.py:369-401). */
  def invalidGender(person: DataFrame): DataFrame =
    countDf(person.filter(!col("gender_concept_id").isin(8507L, 8532L, 0L)))

  /** Era-derivation invariants: an era must be well-ordered, belong to a
    * known person, and contain at least one contributing row. The two
    * per-era predicates come from ONE aggregate row over the era table,
    * exploded into the two report rows — the plan itself guarantees a
    * single scan (no reliance on exchange reuse firing) — plus the
    * orphan anti join. */
  def eraChecks(prefix: String, era: DataFrame, person: DataFrame,
                startCol: String, endCol: String,
                countCol: String): Seq[DataFrame] = {
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    val scanOnce = era.agg(
      cnt(col(endCol) < col(startCol)).as("end_before_start"),
      cnt(col(countCol) < 1).as("empty"))
    val bothFromOneScan = scanOnce.select(explode(array(
      struct(lit(s"${prefix}_end_before_start").as("check_name"),
        col("end_before_start").cast("long").as("failed_count")),
      struct(lit(s"${prefix}_empty").as("check_name"),
        col("empty").cast("long").as("failed_count")))).as("c"))
      .select(col("c.check_name").as("check_name"),
        col("c.failed_count").as("failed_count"))
    Seq(
      bothFromOneScan,
      asCheck(s"${prefix}_orphan_person",
        orphans(era, "person_id", person, "person_id")))
  }

  /** Full report over a built OMOP set — a single lazy plan; the caller's
    * one action (collect or write) runs every check concurrently. */
  def report(spark: SparkSession, person: DataFrame, visit: DataFrame,
             condition: DataFrame, measurement: DataFrame,
             observation: DataFrame, drugEra: DataFrame,
             conditionEra: DataFrame): DataFrame = {
    val checks: Seq[DataFrame] =
      eraChecks("drug_era", drugEra, person, "drug_era_start_date",
        "drug_era_end_date", "drug_exposure_count") ++
      eraChecks("condition_era", conditionEra, person,
        "condition_era_start_date", "condition_era_end_date",
        "condition_occurrence_count") ++
      Seq(
        asCheck("visit_orphan_person",
          orphans(visit, "person_id", person, "person_id")),
        asCheck("condition_orphan_person",
          orphans(condition, "person_id", person, "person_id")),
        asCheck("condition_orphan_visit",
          orphans(condition, "visit_occurrence_id", visit,
            "visit_occurrence_id")),
        asCheck("measurement_orphan_person",
          orphans(measurement, "person_id", person, "person_id")),
        asCheck("observation_orphan_person",
          orphans(observation, "person_id", person, "person_id")),
        asCheck("visit_end_before_start",
          endBeforeStart(visit, "visit_start_date", "visit_end_date")),
        asCheck("condition_end_before_start",
          endBeforeStart(condition, "condition_start_date",
            "condition_end_date")),
        asCheck("invalid_gender_concept", invalidGender(person)),
        asCheck("duplicate_person_ids", countDf(
          person.groupBy("person_id").count().filter(col("count") > 1))))
    checks.reduce(_ unionByName _)
  }
}
