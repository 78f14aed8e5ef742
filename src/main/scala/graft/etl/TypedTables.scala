package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.ops.SafeCast

/** The complete bronze→typed layer: all 19 Synthea tables, declared as
  * column specs and executed by one generic projector (the reference
  * hand-writes ~900 lines of CASE/cast SQL,
  * sql/synthea_typing/synthea-typedtables-transformation.sql:8-950; here
  * each table is a data value and the cast semantics live in ONE place —
  * SafeCast). [[Typing]] keeps bespoke entry points for the six tables
  * the OMOP domains consume; this covers the full source surface.
  *
  * Kinds mirror the reference's guard patterns exactly: Ts/Dt prefix-check
  * dates, Uuid shape-checks, Num `^\d+(\.\d+)?$`, SNum adds the sign
  * (lat/lon), IntK `^\d+$`, Enum value lists verbatim.
  */
object TypedTables {

  sealed trait Kind
  case object Ts extends Kind
  case object Dt extends Kind
  case object Uuid extends Kind
  case object Num extends Kind
  case object SNum extends Kind
  case object IntK extends Kind
  case object Txt extends Kind
  final case class Enum(values: Seq[String]) extends Kind

  final case class ColSpec(src: String, dst: String, kind: Kind)
  private def c(src: String, dst: String, kind: Kind) = ColSpec(src, dst, kind)

  private val UnsignedNum = "^\\d+(\\.\\d+)?$"

  def cast(spec: ColSpec): Column = {
    val in = col(spec.src)
    val out = spec.kind match {
      case Ts => SafeCast.safeTimestamp(in)
      case Dt => SafeCast.safeDate(in)
      case Uuid => SafeCast.safeUuid(in)
      case Num => SafeCast.safeCast(in, DecimalType(18, 2), UnsignedNum)
      case SNum => SafeCast.safeSignedNumeric(in)
      case IntK => SafeCast.safeCast(in, IntegerType, "^\\d+$")
      case Txt => in
      case Enum(vs) => SafeCast.enumCast(in, vs)
    }
    out.as(spec.dst)
  }

  def typed(raw: DataFrame, spec: Seq[ColSpec]): DataFrame =
    raw.select(spec.map(cast): _*)

  private val severity = Enum(Seq("MILD", "MODERATE", "SEVERE"))

  /** All 19 tables (source CSV name → column specs). Citations are the
    * CREATE/INSERT blocks of synthea-typedtables-transformation.sql. */
  val specs: Map[String, Seq[ColSpec]] = Map(
    "allergies" -> Seq( // :8-61
      c("START", "start_time", Ts), c("STOP", "stop_time", Ts),
      c("PATIENT", "patient", Uuid), c("ENCOUNTER", "encounter", Uuid),
      c("CODE", "code", Txt), c("SYSTEM", "system", Txt),
      c("DESCRIPTION", "description", Txt),
      c("TYPE", "allergy_type", Enum(Seq("allergy", "intolerance"))),
      c("CATEGORY", "allergy_category",
        Enum(Seq("environment", "medication", "food"))),
      c("REACTION1", "reaction1", Txt), c("DESCRIPTION1", "description1", Txt),
      c("SEVERITY1", "severity1", severity),
      c("REACTION2", "reaction2", Txt), c("DESCRIPTION2", "description2", Txt),
      c("SEVERITY2", "severity2", severity)),
    "careplans" -> Seq( // :69-101
      c("Id", "careplan_id", Uuid), c("START", "start_time", Ts),
      c("STOP", "stop_time", Ts), c("PATIENT", "patient", Uuid),
      c("ENCOUNTER", "encounter", Uuid), c("CODE", "code", Txt),
      c("DESCRIPTION", "description", Txt), c("REASONCODE", "reasoncode", Txt),
      c("REASONDESCRIPTION", "reasondescription", Txt)),
    "claims" -> (Seq( // :103-196
      c("Id", "claim_id", Uuid), c("PATIENTID", "patient_id", Uuid),
      c("PROVIDERID", "provider_id", Uuid),
      c("PRIMARYPATIENTINSURANCEID", "primary_insurance_id", Uuid),
      c("SECONDARYPATIENTINSURANCEID", "secondary_insurance_id", Uuid),
      c("DEPARTMENTID", "department_id", Txt),
      c("PATIENTDEPARTMENTID", "patient_department_id", Txt)) ++
      (1 to 8).map(i => c(s"DIAGNOSIS$i", s"diagnosis$i", Txt)) ++ Seq(
      c("REFERRINGPROVIDERID", "referring_provider_id", Uuid),
      c("APPOINTMENTID", "appointment_id", Uuid),
      c("CURRENTILLNESSDATE", "current_illness_date", Ts),
      c("SERVICEDATE", "service_date", Ts),
      c("SUPERVISINGPROVIDERID", "supervising_provider_id", Uuid),
      c("STATUS1", "status1", Enum(Seq("OPEN", "CLOSED", "PENDING", "DENIED"))),
      c("STATUS2", "status2", Enum(Seq("OPEN", "CLOSED", "PENDING", "DENIED"))),
      c("STATUSP", "statusp", Enum(Seq("OPEN", "CLOSED", "PENDING", "DENIED"))),
      c("OUTSTANDING1", "outstanding1", Num),
      c("OUTSTANDING2", "outstanding2", Num),
      c("OUTSTANDINGP", "outstandingp", Num),
      c("LASTBILLEDDATE1", "last_billed_date1", Ts),
      c("LASTBILLEDDATE2", "last_billed_date2", Ts),
      c("LASTBILLEDDATEP", "last_billed_datep", Ts),
      c("HEALTHCARECLAIMTYPEID1", "healthcare_claimtypeid1", Txt),
      c("HEALTHCARECLAIMTYPEID2", "healthcare_claimtypeid2", Txt))),
    "claims_transactions" -> (Seq( // :198-290
      c("ID", "id", Uuid), c("CLAIMID", "claim_id", Uuid),
      c("CHARGEID", "charge_id", Uuid), c("PATIENTID", "patient_id", Uuid),
      c("TYPE", "transaction_type",
        Enum(Seq("CHARGE", "PAYMENT", "TRANSFERIN", "TRANSFEROUT"))),
      c("AMOUNT", "amount", Num),
      c("METHOD", "payment_method", Enum(Seq("CASH", "CHECK", "CC", "ECHECK"))),
      c("FROMDATE", "from_date", Ts), c("TODATE", "to_date", Ts),
      c("PLACEOFSERVICE", "place_of_service", Txt),
      c("PROCEDURECODE", "procedure_code", Txt),
      c("MODIFIER1", "modifier1", Txt), c("MODIFIER2", "modifier2", Txt)) ++
      (1 to 4).map(i => c(s"DIAGNOSISREF$i", s"diagnosisref$i", Txt)) ++ Seq(
      c("UNITS", "units", Num), c("DEPARTMENTID", "department_id", Txt),
      c("NOTES", "notes", Txt), c("UNITAMOUNT", "unit_amount", Num),
      c("TRANSFEROUTID", "transferout_id", Uuid),
      c("TRANSFERTYPE", "transfer_type", Enum(Seq("1", "p"))),
      c("PAYMENTS", "payments", Num), c("ADJUSTMENTS", "adjustments", Num),
      c("TRANSFERS", "transfers", Num), c("OUTSTANDING", "outstanding", Num),
      c("APPOINTMENTID", "appointment_id", Uuid), c("LINENOTE", "linenote", Txt),
      c("PATIENTINSURANCEID", "patientinsuranceid", Uuid),
      c("FEESCHEDULEID", "feescheduleid", Txt),
      c("PROVIDERID", "provider_id", Uuid),
      c("SUPERVISINGPROVIDERID", "supervisingproviderid", Uuid))),
    "conditions" -> Seq( // :297-324
      c("START", "start_date", Dt), c("STOP", "stop_date", Dt),
      c("PATIENT", "patient", Uuid), c("ENCOUNTER", "encounter", Uuid),
      c("SYSTEM", "system", Txt), c("CODE", "code", Txt),
      c("DESCRIPTION", "description", Txt)),
    "devices" -> Seq( // :326-353
      c("START", "start_time", Ts), c("STOP", "stop_time", Ts),
      c("PATIENT", "patient", Uuid), c("ENCOUNTER", "encounter", Uuid),
      c("CODE", "code", Txt), c("DESCRIPTION", "description", Txt),
      c("UDI", "udi", Txt)),
    "encounters" -> Seq( // :355-403
      c("Id", "encounter_id", Uuid), c("START", "start_time", Ts),
      c("STOP", "stop_time", Ts), c("PATIENT", "patient", Uuid),
      c("ORGANIZATION", "organization", Uuid), c("PROVIDER", "provider", Uuid),
      c("PAYER", "payer", Uuid), c("ENCOUNTERCLASS", "encounter_class", Txt),
      c("CODE", "code", Txt), c("DESCRIPTION", "description", Txt),
      c("BASE_ENCOUNTER_COST", "base_encounter_cost", Num),
      c("TOTAL_CLAIM_COST", "total_claim_cost", Num),
      c("PAYER_COVERAGE", "payer_coverage", Num),
      c("REASONCODE", "reasoncode", Txt),
      c("REASONDESCRIPTION", "reasondescription", Txt)),
    "imaging_studies" -> Seq( // :405-450
      c("Id", "imaging_id", Uuid), c("DATE", "date_time", Ts),
      c("PATIENT", "patient", Uuid), c("ENCOUNTER", "encounter", Uuid),
      c("SERIES_UID", "series_uid", Txt),
      c("BODYSITE_CODE", "bodysite_code", Txt),
      c("BODYSITE_DESCRIPTION", "bodysite_desc", Txt),
      c("MODALITY_CODE", "modality_code", Enum(Seq("DX", "CR", "US"))),
      c("MODALITY_DESCRIPTION", "modality_desc", Txt),
      c("INSTANCE_UID", "instance_uid", Txt), c("SOP_CODE", "sop_code", Txt),
      c("SOP_DESCRIPTION", "sop_description", Txt),
      c("PROCEDURE_CODE", "procedure_code", Txt)),
    "immunizations" -> Seq( // :452-481
      c("DATE", "date_time", Ts), c("PATIENT", "patient", Uuid),
      c("ENCOUNTER", "encounter", Uuid),
      c("CODE", "code",
        Enum(Seq("08", "10", "20", "49", "119", "133", "140"))),
      c("DESCRIPTION", "description", Txt), c("BASE_COST", "base_cost", Num)),
    "medications" -> Seq( // :483-523
      c("START", "start_time", Ts), c("STOP", "stop_time", Ts),
      c("PATIENT", "patient", Uuid), c("PAYER", "payer", Uuid),
      c("ENCOUNTER", "encounter", Uuid), c("CODE", "code", Txt),
      c("DESCRIPTION", "description", Txt), c("BASE_COST", "base_cost", Num),
      c("PAYER_COVERAGE", "payer_coverage", Num),
      c("DISPENSES", "dispenses", IntK), c("TOTALCOST", "total_cost", Num),
      c("REASONCODE", "reasoncode", Txt),
      c("REASONDESCRIPTION", "reasondescription", Txt)),
    "observations" -> Seq( // :525-567
      c("DATE", "date_time", Ts), c("PATIENT", "patient", Uuid),
      c("ENCOUNTER", "encounter", Uuid),
      c("CATEGORY", "category", Enum(Seq("vital-signs"))),
      c("CODE", "code", Txt), c("DESCRIPTION", "description", Txt),
      c("VALUE", "value", Txt),
      c("UNITS", "units",
        Enum(Seq("cm", "kg", "%", "mm[Hg]", "/min", "{score}"))),
      c("TYPE", "obs_type", Enum(Seq("numeric")))),
    "organizations" -> Seq( // :569-598
      c("Id", "organization_id", Uuid), c("NAME", "name", Txt),
      c("ADDRESS", "address", Txt), c("CITY", "city", Txt),
      c("STATE", "state", Txt), c("ZIP", "zip", Txt),
      c("LAT", "lat", SNum), c("LON", "lon", SNum),
      c("PHONE", "phone", Txt), c("REVENUE", "revenue", Num),
      c("UTILIZATION", "utilization", Num)),
    "patient_expenses" -> Seq( // :606-626
      c("PATIENT_ID", "patient_id", Uuid), c("YEAR", "year", IntK),
      c("PAYER_ID", "payer_id", Uuid),
      c("HEALTHCARE_EXPENSES", "healthcare_expenses", Num),
      c("INSURANCE_COSTS", "insurance_costs", Num),
      c("COVERED_COSTS", "covered_costs", Num)),
    "patients" -> Seq( // :633-701
      c("Id", "patient_id", Uuid), c("BIRTHDATE", "birthdate", Dt),
      c("DEATHDATE", "deathdate", Dt), c("SSN", "ssn", Txt),
      c("DRIVERS", "drivers", Txt), c("PASSPORT", "passport", Txt),
      c("PREFIX", "prefix", Enum(Seq("Mr.", "Mrs.", "Ms."))),
      c("FIRST", "first", Txt), c("MIDDLE", "middle", Txt),
      c("LAST", "last", Txt), c("SUFFIX", "suffix", Txt),
      c("MAIDEN", "maiden", Txt),
      c("MARITAL", "marital", Enum(Seq("M", "S", "D", "W"))),
      c("RACE", "race", Enum(Seq("white", "black", "asian", "hawaiian"))),
      c("ETHNICITY", "ethnicity", Enum(Seq("hispanic", "nonhispanic"))),
      c("GENDER", "gender", Enum(Seq("M", "F"))),
      c("BIRTHPLACE", "birthplace", Txt), c("ADDRESS", "address", Txt),
      c("CITY", "city", Txt), c("STATE", "state", Txt),
      c("COUNTY", "county", Txt), c("FIPS", "fips", Txt),
      c("ZIP", "zip", Txt), c("LAT", "lat", SNum), c("LON", "lon", SNum),
      c("HEALTHCARE_EXPENSES", "healthcare_expenses", Num),
      c("HEALTHCARE_COVERAGE", "healthcare_coverage", Num),
      c("INCOME", "income", Num)),
    "payer_transitions" -> Seq( // :708-735
      c("PATIENT", "patient", Uuid), c("MEMBERID", "member_id", Uuid),
      c("START_DATE", "start_date", Ts), c("END_DATE", "end_date", Ts),
      c("PAYER", "payer", Uuid), c("SECONDARY_PAYER", "secondary_payer", Uuid),
      c("PLAN_OWNERSHIP", "plan_ownership",
        Enum(Seq("Self", "Spouse", "Guardian"))),
      c("OWNER_NAME", "owner_name", Txt)),
    "payers" -> Seq( // :742-802
      c("Id", "payer_id", Uuid), c("NAME", "name", Txt),
      c("OWNERSHIP", "ownership",
        Enum(Seq("GOVERNMENT", "PRIVATE", "NO_INSURANCE"))),
      c("ADDRESS", "address", Txt), c("CITY", "city", Txt),
      c("STATE_HEADQUARTERED", "state_headquartered", Txt),
      c("ZIP", "zip", Txt), c("PHONE", "phone", Txt),
      c("AMOUNT_COVERED", "amount_covered", Num),
      c("AMOUNT_UNCOVERED", "amount_uncovered", Num),
      c("REVENUE", "revenue", Num),
      c("COVERED_ENCOUNTERS", "covered_encounters", Num),
      c("UNCOVERED_ENCOUNTERS", "uncovered_encounters", Num),
      c("COVERED_MEDICATIONS", "covered_medications", Num),
      c("UNCOVERED_MEDICATIONS", "uncovered_medications", Num),
      c("COVERED_PROCEDURES", "covered_procedures", Num),
      c("UNCOVERED_PROCEDURES", "uncovered_procedures", Num),
      c("COVERED_IMMUNIZATIONS", "covered_immunizations", Num),
      c("UNCOVERED_IMMUNIZATIONS", "uncovered_immunizations", Num),
      c("UNIQUE_CUSTOMERS", "unique_customers", IntK),
      c("QOLS_AVG", "qols_avg", Num),
      c("MEMBER_MONTHS", "member_months", IntK)),
    "procedures" -> Seq( // :809-846
      c("START", "start_time", Ts), c("STOP", "stop_time", Ts),
      c("PATIENT", "patient", Uuid), c("ENCOUNTER", "encounter", Uuid),
      c("SYSTEM", "system",
        Enum(Seq("SNOMED-CT", "CPT", "HCPCS", "ICD-10-PCS"))),
      c("CODE", "code", Txt), c("DESCRIPTION", "description", Txt),
      c("BASE_COST", "base_cost", Num), c("REASONCODE", "reasoncode", Txt),
      c("REASONDESCRIPTION", "reasondescription", Txt)),
    "providers" -> Seq( // :848-887
      c("Id", "provider_id", Uuid), c("ORGANIZATION", "organization", Uuid),
      c("NAME", "name", Txt),
      c("GENDER", "gender", Enum(Seq("M", "F"))),
      c("SPECIALITY", "speciality", Txt), c("ADDRESS", "address", Txt),
      c("CITY", "city", Txt), c("STATE", "state", Txt), c("ZIP", "zip", Txt),
      c("LAT", "lat", SNum), c("LON", "lon", SNum),
      c("ENCOUNTERS", "encounters", Num), c("PROCEDURES", "procedures", Num)),
    "supplies" -> Seq( // :889-930
      c("DATE", "date_time", Ts), c("PATIENT", "patient", Uuid),
      c("ENCOUNTER", "encounter", Uuid), c("CODE", "code", Txt),
      c("DESCRIPTION", "description", Txt), c("QUANTITY", "quantity", Num))
  )

  /** Type one source table by name. */
  def typedTable(raw: DataFrame, table: String): DataFrame =
    typed(raw, specs(table))
}
