package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Post-ETL validation suite (SURVEY.md §5) — the reference's real
  * correctness net (etl_pipeline/etl_validation.py), re-expressed as one
  * set-based statement that returns one (check_name, failed_count) row per
  * check. A clean run returns all zeros.
  *
  * The report is ONE aggregate: every failing record contributes a
  * (check_name, 1) row, and a (check_name, 0) row per check keeps a check
  * in the report when its table is empty; one groupBy(check_name) sums
  * them. The failing rows come from per-record predicates, one left anti
  * join per parent key (all person-keyed children in one union against
  * person, the conditions against visit) and the duplicate-key count, so
  * the whole suite scans each table once or twice in a handful of jobs
  * rather than one aggregate per check. A predicate on a NULL value is
  * not a failure, and a NULL foreign key is not an orphan.
  */
object Validation {

  /** (check_name, 1) for each row of `df` that `failed` holds for. */
  private def failing(name: String, df: DataFrame, failed: Column)
      : DataFrame =
    df.filter(failed).select(lit(name).as("check_name"),
      lit(1L).as("failed_count"))

  /** Orphaned FKs: (check_name, 1) per child row whose non-null key has no
    * parent (etl_validation.py:236-246). `children` are (check_name, key)
    * rows of any number of child tables; the anti join's build side is
    * the parent's pruned key column, so Catalyst/AQE picks broadcast vs
    * shuffle from its measured size. */
  private def orphans(children: Seq[(String, DataFrame, String)],
                      parent: DataFrame, key: String): DataFrame =
    children.map { case (name, df, childKey) =>
      df.select(lit(name).as("check_name"), col(childKey).as(key))
        .filter(col(key).isNotNull)
    }.reduce(_ unionByName _)
      .join(parent.select(col(key)), Seq(key), "left_anti")
      .select(col("check_name"), lit(1L).as("failed_count"))

  /** Full report over a built OMOP set — one lazy aggregate; the caller's
    * one action (collect or write) runs every check. Checks: orphaned
    * person/visit keys, end before start (etl_validation.py:313-330), the
    * gender domain {8507, 8532, 0} (:369-401), duplicate person ids, and
    * per era table the era invariants: well-ordered, a known person, at
    * least one contributing row. */
  def report(spark: SparkSession, person: DataFrame, visit: DataFrame,
             condition: DataFrame, measurement: DataFrame,
             observation: DataFrame, drugEra: DataFrame,
             conditionEra: DataFrame): DataFrame = {
    // (prefix, era, start, end, count column) of each era table
    val eras = Seq(
      ("drug_era", drugEra, "drug_era_start_date", "drug_era_end_date",
        "drug_exposure_count"),
      ("condition_era", conditionEra, "condition_era_start_date",
        "condition_era_end_date", "condition_occurrence_count"))
    val personChildren =
      eras.map { case (p, e, _, _, _) => (s"${p}_orphan_person", e,
        "person_id") } ++
      Seq(("visit_orphan_person", visit, "person_id"),
        ("condition_orphan_person", condition, "person_id"),
        ("measurement_orphan_person", measurement, "person_id"),
        ("observation_orphan_person", observation, "person_id"))
    val visitChildren =
      Seq(("condition_orphan_visit", condition, "visit_occurrence_id"))
    // (check, table, predicate of a failing row)
    val perRecord: Seq[(String, DataFrame, Column)] =
      eras.flatMap { case (p, e, start, end, n) => Seq(
        (s"${p}_end_before_start", e, col(end) < col(start)),
        (s"${p}_empty", e, col(n) < 1)) } ++
      Seq(
        ("visit_end_before_start", visit,
          col("visit_end_date") < col("visit_start_date")),
        ("condition_end_before_start", condition,
          col("condition_end_date") < col("condition_start_date")),
        ("invalid_gender_concept", person,
          !col("gender_concept_id").isin(8507L, 8532L, 0L)),
        ("duplicate_person_ids", person.groupBy("person_id").count(),
          col("count") > 1))
    val failed = perRecord.map { case (name, df, p) => failing(name, df, p) } ++
      Seq(orphans(personChildren, person, "person_id"),
        orphans(visitChildren, visit, "visit_occurrence_id"))
    val checks = perRecord.map(_._1) ++
      (personChildren ++ visitChildren).map(_._1)
    val zeros = spark.createDataFrame(
      java.util.Arrays.asList(checks.map(Row(_, 0L)): _*),
      new StructType().add("check_name", "string", nullable = false)
        .add("failed_count", "long", nullable = false))
    (failed :+ zeros).reduce(_ unionByName _)
      .groupBy(col("check_name"))
      .agg(sum(col("failed_count")).as("failed_count"))
  }
}
