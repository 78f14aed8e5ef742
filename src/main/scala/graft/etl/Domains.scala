package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.ops.{Dedup, DenseId, SafeCast, Sweep}

/** Silver→gold OMOP domain transforms (SURVEY.md §2.3–§2.7), re-expressed
  * as pure DataFrame functions. Each takes typed inputs + the run's
  * [[IdMaps]] and returns the OMOP table. A rerun overwrites every table
  * with the same rows: ids are dense ranks under a fixed order and every
  * within-batch dedup keeps a tiebreak-first survivor, which is what the
  * reference's NOT IN / NOT EXISTS guards protect. The id maps are the
  * only global coordination — everything else is broadcast-join + project.
  */
object Domains {

  /** The run's id maps — `person` (source_patient_id → person_id) and
    * `visit` (source_visit_id → visit_occurrence_id), both
    * [[buildIdMap]]'s dense 1..n output — and their sizes, which the
    * closed-form dense-id buckets read. */
  final case class IdMaps(person: DataFrame, visit: DataFrame,
                          persons: Long, visits: Long)

  /** person_map / visit_map: UUID → dense int numbered 1..n over the
    * distinct non-null source ids in id order (SURVEY §1.4, W2/M1;
    * enhanced_synthea_to_omop.py:770-777,935-944). */
  def buildIdMap(source: DataFrame, srcCol: String,
                 idCol: String): DataFrame =
    DenseId.withDenseIdScalable(
      source.select(col(srcCol)).filter(col(srcCol).isNotNull).distinct(),
      Seq(col(srcCol)), idCol)
      .select(col(srcCol), col(idCol).cast(LongType))

  /** Closed-form dense-id bucket for the ETL's person-leading orderings:
    * person_id is [[buildIdMap]]'s dense 1..n output, so
    * floor((person_id−1)·P/n) is monotone along every (person_id, …)
    * ordering and balanced across persons — [[DenseId]] then skips its
    * bounds-sampling pass entirely (one narrow counts pass + the single
    * full-width pass). */
  private def personBucket(persons: Long, in: DataFrame): Column =
    DenseId.denseLeadingIdBucket(col("person_id"), persons, bucketParts(in))

  /** Dense `idCol` under a person-leading `orderBy`, bucketed by
    * [[personBucket]]. */
  private def personOrderedIds(df: DataFrame, orderBy: Seq[Column],
                               idCol: String, persons: Long): DataFrame =
    DenseId.withDenseIdScalable(df, orderBy, idCol,
      bucketBy = Some(personBucket(persons, df)))

  /** Buckets of a closed-form dense-id bucket: DenseId's own cap. */
  private def bucketParts(in: DataFrame): Int =
    math.min(1024, in.sparkSession.sessionState.conf.numShufflePartitions)

  /** The concept of a demographic source value: [[Lookups]] keyed by the
    * lower-cased value, unmapped or NULL → 0. */
  private def lookup(m: Map[String, Long], src: String): Column =
    coalesce(element_at(typedLit(m), lower(col(src))), lit(0L))

  /** omop.person (enhanced_synthea_to_omop.py:786-859): demographics
    * looked up case-insensitively in literal maps, unmapped → 0, dense
    * person_id via the broadcast person map. */
  def person(typedPatients: DataFrame, ids: IdMaps): DataFrame = {
    val out = typedPatients
      .join(broadcast(ids.person), col("id") === col("source_patient_id"))
      .select(
        col("person_id"),
        lookup(Lookups.gender, "gender_source").as("gender_concept_id"),
        year(col("birthdate")).as("year_of_birth"),
        month(col("birthdate")).as("month_of_birth"),
        dayofmonth(col("birthdate")).as("day_of_birth"),
        col("birthdate").cast("timestamp").as("birth_datetime"),
        lookup(Lookups.race, "race_source").as("race_concept_id"),
        lookup(Lookups.ethnicity, "ethnicity_source")
          .as("ethnicity_concept_id"),
        col("id").as("person_source_value"),
        col("gender_source").as("gender_source_value"),
        col("race_source").as("race_source_value"),
        col("ethnicity_source").as("ethnicity_source_value"))
    // deterministic survivor for duplicated source patient rows:
    // buildIdMap assigns one person_id per distinct source id, so two
    // identical source rows would otherwise both emit person rows sharing
    // that person_id, tripping the pipeline's own duplicate_person_ids
    // validation. Rerun output is byte-stable regardless of partitioning.
    Dedup.firstRowPerGroup(out, Seq(col("person_id")),
      Seq(col("birth_datetime").asc_nulls_last,
        col("gender_source_value").asc_nulls_last,
        col("race_source_value").asc_nulls_last,
        col("ethnicity_source_value").asc_nulls_last))
  }

  /** ENCOUNTERCLASS → visit concept (transform_visit_occurrence_v2.sql:
    * 29-40; the broader v2 set incl. home/virtual/hospice). */
  val visitConcept: org.apache.spark.sql.Column = {
    val c = lower(col("encounterclass"))
    when(c === "inpatient", 9201L)
      .when(c.isin("ambulatory", "wellness", "outpatient", "office"), 9202L)
      .when(c.isin("emergency", "urgentcare"), 9203L)
      .when(c === "home", 581476L)
      .when(c === "virtual", 42898160L)
      .when(c === "hospice", 42898160L)
      .otherwise(0L)
  }

  /** omop.visit_occurrence (enhanced_synthea_to_omop.py:968-1016). */
  def visitOccurrence(typedEncounters: DataFrame, ids: IdMaps): DataFrame =
    typedEncounters
      .join(broadcast(ids.visit), col("id") === col("source_visit_id"))
      .join(broadcast(ids.person), col("patient") === col("source_patient_id"))
      .select(
        col("visit_occurrence_id"),
        col("person_id"),
        visitConcept.as("visit_concept_id"),
        col("start_ts").cast("date").as("visit_start_date"),
        col("start_ts").as("visit_start_datetime"),
        col("stop_ts").cast("date").as("visit_end_date"),
        col("stop_ts").as("visit_end_datetime"),
        lit(32817L).as("visit_type_concept_id"), // EHR
        col("id").as("visit_source_value"))

  /** Shared event-domain shape: person (inner) / visit (left) resolution +
    * within-batch dedup on the reference's NOT EXISTS key (J1/J4;
    * enhanced_synthea_to_omop.py:1102-1127 for conditions).
    *
    * `tiebreak` makes the SURVIVOR deterministic: rows agreeing on the
    * dedup key can still differ in non-key columns (a re-recorded
    * diagnosis with a different stop date, a device or vaccination
    * re-recorded across same-instant encounters), and a plain
    * dropDuplicates would leave those columns to partition order —
    * reruns would not be byte-stable, against the pipeline's determinism
    * contract. */
  private def eventDomain(typed: DataFrame, ids: IdMaps,
                          dedupKeys: Seq[String],
                          tiebreak: Seq[Column]): DataFrame =
    Dedup.firstRowPerGroup(
      typed
        .join(broadcast(ids.person),
          col("patient") === col("source_patient_id"))
        .join(broadcast(ids.visit),
          col("encounter") === col("source_visit_id"), "left"),
      dedupKeys.map(col), tiebreak)

  /** omop.condition_occurrence (:1102-1150). */
  def conditionOccurrence(typedConditions: DataFrame,
                          ids: IdMaps): DataFrame =
    personOrderedIds(
      eventDomain(typedConditions, ids,
        Seq("person_id", "encounter", "code"),
        Seq(col("start_date").asc_nulls_last,
          col("stop_date").asc_nulls_last)),
      Seq(col("person_id"), col("encounter"), col("code")),
      "condition_occurrence_id", ids.persons)
      .select(
        col("condition_occurrence_id"),
        col("person_id"),
        lit(0L).as("condition_concept_id"), // staged mapping fills (J9)
        col("start_date").as("condition_start_date"),
        coalesce(col("stop_date"), col("start_date"))
          .as("condition_end_date"),
        lit(32020L).as("condition_type_concept_id"),
        col("visit_occurrence_id"),
        col("code").as("condition_source_value"))

  /** omop.drug_exposure (:1230-1290; default 30-day end date, P7,
    * enhanced_synthea_to_omop.py:1236-1238) + its omop.cost Drug rows
    * (transform_cost.sql:64-121) off one shared dense-id'd frame: the two
    * projections are lazy slivers of the same lineage (each consumer's action
    * re-derives it — cheap narrow scans now that the id assignment is
    * pass-based rather than checkpoint-materialized).
    *
    * The reference attaches costs by re-joining medications_raw to
    * drug_exposure on (person_id, visit_occurrence_id) only — a fan-out
    * when a visit carries several drugs (every med row matches every
    * exposure of the visit). We keep the 1:1 intent: one cost row per
    * surviving exposure row, using the survivor's cost columns. Cost rows
    * carry no cost_id here — [[cost]] assigns one dense sequence across
    * all three domains, mirroring the reference's shared staging.cost_seq
    * — and keep `person_id` for its closed-form bucket. */
  def drugExposureAndCost(typedMedications: DataFrame, ids: IdMaps)
      : (DataFrame, DataFrame) = {
    val based = personOrderedIds(
      eventDomain(typedMedications, ids,
        Seq("person_id", "encounter", "code", "start_ts"),
        Seq(col("stop_ts").asc_nulls_last)),
      Seq(col("person_id"), col("encounter"), col("code"), col("start_ts")),
      "drug_exposure_id", ids.persons)
    val exposure = based
      .select(
        col("drug_exposure_id"),
        col("person_id"),
        lit(0L).as("drug_concept_id"),
        col("start_ts").cast("date").as("drug_exposure_start_date"),
        coalesce(col("stop_ts").cast("date"),
          date_add(col("start_ts").cast("date"), 30))
          .as("drug_exposure_end_date"),
        lit(32817L).as("drug_type_concept_id"),
        col("visit_occurrence_id"),
        col("code").as("drug_source_value"))
    // transform_cost.sql:91-97: total_charge = TOTALCOST, total_cost =
    // BASE_COST, paid_by_patient = TOTALCOST − PAYER_COVERAGE (decimal)
    val drugCost = based
      .filter(col("base_cost").isNotNull || col("total_cost").isNotNull ||
        col("payer_coverage").isNotNull)
      .select(
        col("drug_exposure_id").as("cost_event_id"),
        col("person_id"),
        lit("Drug").as("cost_domain_id"),
        col("total_cost").as("total_charge"),
        col("base_cost").as("total_cost"),
        col("payer_coverage").as("total_paid"),
        col("payer_coverage").as("paid_by_payer"),
        (col("total_cost") - col("payer_coverage")).as("paid_by_patient"))
    (exposure, drugCost)
  }

  /** omop.procedure_occurrence (:1358-1400) + its omop.cost Procedure rows
    * (transform_cost.sql:123-180: total_charge = total_cost = BASE_COST;
    * the paid-side columns are NULL by reference contract — Synthea
    * procedures carry no payer split). Same one-pass sharing as
    * [[drugExposureAndCost]]. */
  def procedureOccurrenceAndCost(typedProcedures: DataFrame, ids: IdMaps)
      : (DataFrame, DataFrame) = {
    val based = personOrderedIds(
      eventDomain(typedProcedures, ids,
        Seq("person_id", "encounter", "code", "start_ts"),
        Seq(col("stop_ts").asc_nulls_last)),
      Seq(col("person_id"), col("encounter"), col("code"), col("start_ts")),
      "procedure_occurrence_id", ids.persons)
    val occurrence = based
      .select(
        col("procedure_occurrence_id"),
        col("person_id"),
        lit(0L).as("procedure_concept_id"),
        col("start_ts").cast("date").as("procedure_date"),
        col("start_ts").as("procedure_datetime"),
        lit(32817L).as("procedure_type_concept_id"),
        col("visit_occurrence_id"),
        col("code").as("procedure_source_value"))
    val nullMoney = lit(null).cast(DecimalType(10, 2))
    val procCost = based
      .filter(col("base_cost").isNotNull)
      .select(
        col("procedure_occurrence_id").as("cost_event_id"),
        col("person_id"),
        lit("Procedure").as("cost_domain_id"),
        col("base_cost").as("total_charge"),
        col("base_cost").as("total_cost"),
        nullMoney.as("total_paid"),
        nullMoney.as("paid_by_payer"),
        nullMoney.as("paid_by_patient"))
    (occurrence, procCost)
  }

  /** omop.device_exposure (synthea-omop-ETL.sql:242-296): UDI carried as
    * unique_device_id, start/stop timestamps projected to date+datetime,
    * type 44818707 ("Device Recorded from EHR"), concept mapped by the
    * reference's case-insensitive code prefix rule (ILIKE 'DEVICE123%' →
    * 4263759, else 0 until staged vocabulary mapping fills it). Dedup
    * mirrors the NOT EXISTS key (person, start datetime, code). */
  def deviceExposure(typedDevices: DataFrame, ids: IdMaps): DataFrame =
    personOrderedIds(
      eventDomain(typedDevices, ids,
        Seq("person_id", "start_time", "code"),
        Seq(col("encounter").asc_nulls_last,
          col("stop_time").asc_nulls_last)),
      Seq(col("person_id"), col("start_time"), col("code")),
      "device_exposure_id", ids.persons)
      .select(
        col("device_exposure_id"),
        col("person_id"),
        when(lower(col("code")).like("device123%"), 4263759L)
          .otherwise(0L).as("device_concept_id"),
        col("start_time").cast("date").as("device_exposure_start_date"),
        col("start_time").as("device_exposure_start_datetime"),
        col("stop_time").cast("date").as("device_exposure_end_date"),
        col("stop_time").as("device_exposure_end_datetime"),
        lit(44818707L).as("device_type_concept_id"),
        col("udi").as("unique_device_id"),
        col("visit_occurrence_id"),
        col("code").as("device_source_value"))

  /** M5 measurement/observation split (transfer_non_numeric_to_observation
    * .sql:51-120): numeric-looking VALUE → measurement with
    * value_as_number; otherwise → observation with value_as_string. Two
    * filtered projections off one parent — no mutation, no second scan
    * after cache. */
  def measurementObservationSplit(typedObservations: DataFrame, ids: IdMaps)
      : (DataFrame, DataFrame) = {
    val base = eventDomain(typedObservations, ids,
      Seq("person_id", "encounter", "code", "obs_ts", "value"),
      Seq(col("units").asc_nulls_last))
    val isNum = SafeCast.isNumericString(col("value"))
    val meas = personOrderedIds(
      base.filter(col("value").isNotNull && isNum),
      Seq(col("person_id"), col("encounter"), col("code"), col("obs_ts")),
      "measurement_id", ids.persons)
      .select(
        col("measurement_id"),
        col("person_id"),
        lit(0L).as("measurement_concept_id"),
        col("obs_ts").cast("date").as("measurement_date"),
        col("obs_ts").as("measurement_datetime"),
        lit(32817L).as("measurement_type_concept_id"),
        col("value").cast("double").as("value_as_number"),
        substring(col("units"), 1, 50).as("unit_source_value"),
        col("visit_occurrence_id"),
        col("code").as("measurement_source_value"),
        substring(col("value"), 1, 50).as("value_source_value"))
    val obs = personOrderedIds(
      base.filter(col("value").isNull || !isNum),
      Seq(col("person_id"), col("encounter"), col("code"), col("obs_ts")),
      "observation_id", ids.persons)
      .select(
        col("observation_id"),
        col("person_id"),
        lit(0L).as("observation_concept_id"),
        col("obs_ts").cast("date").as("observation_date"),
        col("obs_ts").as("observation_datetime"),
        lit(32817L).as("observation_type_concept_id"),
        substring(col("value"), 1, 60).as("value_as_string"),
        col("visit_occurrence_id"),
        col("code").as("observation_source_value"))
    (meas, obs)
  }

  /** omop.drug_era (OMOPCDM_postgresql_5.4_ddl.sql:347-354): exposures to
    * the same (person, drug concept) whose gaps are within the standard
    * 30-day persistence window merge into one era. The reference ships the
    * DDL but never populates it; the OHDSI-standard derivation is
    * gaps-and-islands, here [[graft.ops.Intervals]] — one shuffle on the
    * (person, concept) key, both windows and the covered-day sub-islands
    * reuse its partitioning. `persons` is the person map's size.
    *
    * gap_days = datediff(era span) − Σ datediff of the maximal
    * continuously-covered sub-islands (un-exposed days inside the era). */
  def drugEra(drugExposure: DataFrame, persons: Long): DataFrame = {
    val keys = Seq(col("person_id"), col("drug_concept_id"))
    val persist30 = expr("INTERVAL 30 DAYS")
    val tagged = graft.ops.Intervals.assignIslands(
      drugExposure.select(col("person_id"), col("drug_concept_id"),
        col("drug_exposure_start_date").as("s"),
        col("drug_exposure_end_date").as("e")),
      keys, col("s"), col("e"), persist30, outCol = "__era")
    // covered sub-islands (gap 0) inside each era, same partitioning
    val sub = graft.ops.Intervals.assignIslands(
      tagged, keys :+ col("__era"), col("s"), col("e"),
      expr("INTERVAL 0 SECONDS"), outCol = "__sub")
    val eras = sub
      .groupBy(keys ++ Seq(col("__era"), col("__sub")): _*)
      .agg(min(col("s")).as("cs"), max(col("e")).as("ce"),
        count(lit(1)).as("n"))
      .groupBy(keys :+ col("__era"): _*)
      .agg(min(col("cs")).as("drug_era_start_date"),
        max(col("ce")).as("drug_era_end_date"),
        sum(col("n")).cast("int").as("drug_exposure_count"),
        sum(datediff(col("ce"), col("cs"))).as("covered_days"))
      .withColumn("gap_days",
        (datediff(col("drug_era_end_date"), col("drug_era_start_date"))
          - col("covered_days")).cast("int")) // DDL: integer (:353-354)
      .drop("__era", "covered_days")
    personOrderedIds(eras,
      Seq(col("person_id"), col("drug_concept_id"),
        col("drug_era_start_date")), "drug_era_id", persons)
      .select(col("drug_era_id"), col("person_id"),
        col("drug_concept_id"), col("drug_era_start_date"),
        col("drug_era_end_date"), col("drug_exposure_count"),
        col("gap_days"))
  }

  /** omop.condition_era (OMOPCDM_postgresql_5.4_ddl.sql:365-371): same
    * 30-day persistence merge keyed on (person, condition concept). */
  def conditionEra(conditionOccurrence: DataFrame,
                   persons: Long): DataFrame = {
    val eras = graft.ops.Intervals.mergeIntervals(
      conditionOccurrence.select(col("person_id"),
        col("condition_concept_id"),
        col("condition_start_date").as("s"),
        col("condition_end_date").as("e")),
      Seq(col("person_id"), col("condition_concept_id")),
      col("s"), col("e"), expr("INTERVAL 30 DAYS"))
      .select(col("person_id"), col("condition_concept_id"),
        col("era_start").as("condition_era_start_date"),
        col("era_end").as("condition_era_end_date"),
        col("n_merged").cast("int").as("condition_occurrence_count"))
    personOrderedIds(eras,
      Seq(col("person_id"), col("condition_concept_id"),
        col("condition_era_start_date")), "condition_era_id", persons)
      .select(col("condition_era_id"), col("person_id"),
        col("condition_concept_id"), col("condition_era_start_date"),
        col("condition_era_end_date"), col("condition_occurrence_count"))
  }

  /** Allergy spans for the observation-period sweep
    * (etl_pipeline/etl_observation_periods.py:81-145 includes allergies):
    * (person_id, start_date, end_date), an open allergy ending where it
    * starts. */
  def allergySpans(typedAllergies: DataFrame, ids: IdMaps): DataFrame =
    typedAllergies
      .join(broadcast(ids.person), col("patient") === col("source_patient_id"))
      .select(col("person_id"),
        col("start_time").cast("date").as("start_date"),
        coalesce(col("stop_time"), col("start_time")).cast("date")
          .as("end_date"))

  /** omop.observation_period (U1+A2; create_observation_period_v2.sql:
    * 10-55): min/max event date per person over the unioned domains'
    * (person_id, start_date, end_date) spans. */
  def observationPeriod(sweepInputs: Seq[DataFrame],
                        persons: Long): DataFrame = {
    val spans = sweepInputs.map(_.select(
      col("person_id"),
      col("start_date").cast("date").as("start_date"),
      col("end_date").cast("date").as("end_date")))
    personOrderedIds(
      Sweep.spanPerKey(Sweep.unionSweep(spans), "person_id",
        "start_date", "end_date"),
      Seq(col("person_id")), "observation_period_id", persons)
      .select(
        col("observation_period_id"),
        col("person_id"),
        col("period_start").as("observation_period_start_date"),
        col("period_end").as("observation_period_end_date"),
        lit(32817L).as("period_type_concept_id"))
  }

  /** Immunizations → omop.drug_exposure (synthea-omop-ETL.sql:460-501):
    * same-day exposure, type 38000177, dedup on (person, datetime, code),
    * the lowest encounter surviving. */
  def immunizationDrugExposure(typedImmunizations: DataFrame,
                               ids: IdMaps): DataFrame =
    personOrderedIds(
      eventDomain(typedImmunizations, ids,
        Seq("person_id", "date_time", "code"),
        Seq(col("encounter").asc_nulls_last)),
      Seq(col("person_id"), col("date_time"), col("code")),
      "drug_exposure_id", ids.persons)
      .select(
        col("drug_exposure_id"),
        col("person_id"),
        lit(0L).as("drug_concept_id"),
        col("date_time").cast("date").as("drug_exposure_start_date"),
        col("date_time").as("drug_exposure_start_datetime"),
        col("date_time").cast("date").as("drug_exposure_end_date"),
        col("date_time").as("drug_exposure_end_datetime"),
        lit(38000177L).as("drug_type_concept_id"), // Prescription written
        col("visit_occurrence_id"),
        col("code").as("drug_source_value"))

  /** omop.cost Visit rows (transform_cost.sql:30-61): decimal money math —
    * paid_by_patient = total_claim − payer_coverage computed in
    * DecimalType, so no float drift (SURVEY §7.4 risk 4). Id-less rows;
    * [[cost]] assigns the shared dense sequence. */
  def visitCost(typedEncounters: DataFrame, ids: IdMaps): DataFrame =
    typedEncounters
      .filter(col("base_encounter_cost").isNotNull ||
        col("total_claim_cost").isNotNull ||
        col("payer_coverage").isNotNull)
      .join(broadcast(ids.visit), col("id") === col("source_visit_id"))
      .select(
        col("visit_occurrence_id").as("cost_event_id"),
        lit("Visit").as("cost_domain_id"),
        col("total_claim_cost").as("total_charge"),
        col("base_encounter_cost").as("total_cost"),
        col("payer_coverage").as("total_paid"),
        col("payer_coverage").as("paid_by_payer"),
        (col("total_claim_cost") - col("payer_coverage"))
          .as("paid_by_patient"))

  /** omop.cost: the three domain strata (Visit / Drug / Procedure —
    * transform_cost.sql's three INSERT blocks) under ONE dense cost_id,
    * mirroring the reference's shared staging.cost_seq. Ordered by
    * (domain, event id) so ids are deterministic across reruns; constant
    * type/currency concepts (5031 "Calculated", 44818668 USD,
    * transform_cost.sql:36-37) applied once here. unionByName with
    * explicit decimal widening: the subtraction branches carry
    * DecimalType(11,2) while Procedure's NULLs are (10,2).
    *
    * The id pass takes a closed-form bucket that is monotone along
    * (domain, event id), so [[DenseId]] skips its bounds-sampling pass:
    * Drug rows (first by name) take [[personBucket]] — drug ids are
    * assigned in person-leading order — Procedure rows P + the same, and
    * Visit rows 2P + the dense visit id's bucket (visit ids are
    * 1..visits). The drug and procedure rows must then carry
    * `person_id`, which is not written. */
  def cost(visitRows: DataFrame, drugRows: DataFrame,
           procedureRows: DataFrame, ids: IdMaps): DataFrame = {
    val widened = Seq(visitRows, drugRows, procedureRows).map { df =>
      df.withColumn("paid_by_patient",
        col("paid_by_patient").cast(DecimalType(11, 2)))
    }
    val parts = bucketParts(visitRows)
    val person = personBucket(ids.persons, visitRows)
    val bucket =
      when(col("cost_domain_id") === "Drug", person)
        .when(col("cost_domain_id") === "Procedure", person + parts)
        .otherwise(DenseId.denseLeadingIdBucket(col("cost_event_id"),
          ids.visits, parts) + 2 * parts)
    DenseId.withDenseIdScalable(
      widened.reduce(_.unionByName(_, allowMissingColumns = true)),
      Seq(col("cost_domain_id"), col("cost_event_id")), "cost_id",
      bucketBy = Some(bucket))
      .select(
        col("cost_id"),
        col("cost_event_id"),
        col("cost_domain_id"),
        lit(5031L).as("cost_type_concept_id"),     // Calculated
        lit(44818668L).as("currency_concept_id"),  // USD
        col("total_charge"),
        col("total_cost"),
        col("total_paid"),
        col("paid_by_payer"),
        col("paid_by_patient"))
  }

  /** omop.payer_plan_period (synthea-omop-ETL.sql:530-565): one row per
    * person-year of coverage, end = start + 1 year − 1 day (P7). The
    * reference's NOT EXISTS key is (person, period start); the payer
    * tiebreak makes the survivor deterministic when one person-year
    * carries two payers (mid-year switch). */
  def payerPlanPeriod(typedExpenses: DataFrame, ids: IdMaps): DataFrame = {
    val personYears = Dedup.firstRowPerGroup(
      typedExpenses
        .join(broadcast(ids.person),
          col("patient_id") === col("source_patient_id"))
        .select(col("person_id"),
          make_date(col("year"), lit(1), lit(1)).as("year_date"),
          col("payer_id"))
        .filter(col("year_date").isNotNull),
      Seq(col("person_id"), col("year_date")),
      Seq(col("payer_id").asc_nulls_last))
    personOrderedIds(personYears,
      Seq(col("person_id"), col("year_date")), "payer_plan_period_id",
      ids.persons)
      .select(
        col("payer_plan_period_id"),
        col("person_id"),
        col("year_date").cast("date").as("payer_plan_period_start_date"),
        date_sub(add_months(col("year_date").cast("date"), 12), 1)
          .as("payer_plan_period_end_date"),
        lit(0L).as("payer_concept_id"),
        col("payer_id").as("payer_source_value"),
        lit(0L).as("plan_concept_id"))
  }

  /** omop.death (transform_death.sql:27): patients with DEATHDATE. */
  def death(typedPatients: DataFrame, ids: IdMaps): DataFrame =
    typedPatients
      .filter(col("deathdate").isNotNull)
      .join(broadcast(ids.person), col("id") === col("source_patient_id"))
      .select(
        col("person_id"),
        col("deathdate").as("death_date"),
        lit(32817L).as("death_type_concept_id"))
}
