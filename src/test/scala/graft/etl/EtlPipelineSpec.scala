package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** End-to-end ETL over fixture CSVs with the FIXTURES.md schemas: bronze
  * ingest (incl. malformed-row repair) → regex typing → dense id maps →
  * OMOP domain transforms → validation report. Expectations hand-computed
  * from the reference's documented semantics. */
class EtlPipelineSpec extends SparkSpecBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("synthea").toString
    def w(name: String, content: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$d/$name"), content)

    val u = (i: Int) => f"00000000-0000-0000-0000-${i}%012d"
    w("patients.csv",
      s"""Id,BIRTHDATE,DEATHDATE,GENDER,RACE,ETHNICITY,MARITAL
         |${u(1)},1980-03-15,,M,white,nonhispanic,M
         |${u(2)},1975-07-01,2020-01-10,F,asian,hispanic,S
         |${u(3)},1990-12-31,,X,martian,nonhispanic,Q
         |not-a-uuid,not-a-date,,M,white,nonhispanic,M
         |""".stripMargin)
    w("encounters.csv",
      s"""Id,START,STOP,PATIENT,ENCOUNTERCLASS,CODE,DESCRIPTION,BASE_ENCOUNTER_COST,TOTAL_CLAIM_COST,PAYER_COVERAGE
         |${u(101)},2015-01-01T09:00:00Z,2015-01-01T10:00:00Z,${u(1)},ambulatory,185349003,Well child visit,129.16,129.16,0.00
         |${u(102)},2016-06-5T08:00:00Z,2016-06-05T12:30:00Z,${u(1)},inpatient,32485007,Hospital admission,1500.00,2000.00,500.00
         |${u(103)},2018-02-01T11:00:00Z,2018-02-01T11:30:00Z,${u(2)},emergency,50849002,ER visit,bad-cost,600.00,100.00
         |""".stripMargin)
    w("conditions.csv",
      s"""START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION
         |2015-01-01,2015-02-01,${u(1)},${u(101)},44054006,Diabetes
         |2015-01-01,2015-02-01,${u(1)},${u(101)},44054006,Diabetes
         |2016-06-05,,${u(1)},${u(102)},38341003,Hypertension
         |2018-02-01,2018-03-01,${u(2)},${u(103)},195662009,Acute viral pharyngitis, with complications
         |""".stripMargin)
    w("medications.csv",
      s"""START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION
         |2015-01-01T09:30:00Z,,${u(1)},${u(101)},313782,Acetaminophen
         |2016-06-05T09:00:00Z,2016-07-01T00:00:00Z,${u(1)},${u(102)},308136,Lisinopril
         |""".stripMargin)
    w("procedures.csv",
      s"""START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION
         |2016-06-05T10:00:00Z,2016-06-05T11:00:00Z,${u(1)},${u(102)},232717009,CABG
         |""".stripMargin)
    w("observations.csv",
      s"""DATE,PATIENT,ENCOUNTER,CODE,DESCRIPTION,VALUE,UNITS
         |2015-01-01T09:15:00Z,${u(1)},${u(101)},8302-2,Body Height,175.3,cm
         |2015-01-01T09:16:00Z,${u(1)},${u(101)},72166-2,Tobacco status,Never smoker,
         |2018-02-01T11:10:00Z,${u(2)},${u(103)},8331-1,Temperature,38.9,Cel
         |""".stripMargin)
    d
  }

  private lazy val typedPatients =
    Typing.patients(Ingest.readAllString(spark, s"$dir/patients.csv"))
  private lazy val typedEncounters =
    Typing.encounters(Ingest.readAllString(spark, s"$dir/encounters.csv"))
  private lazy val personMap = Domains.buildIdMap(typedPatients, "id",
    "person_id").withColumnRenamed("id", "source_patient_id")
  private lazy val visitMap = Domains.buildIdMap(typedEncounters, "id",
    "visit_occurrence_id").withColumnRenamed("id", "source_visit_id")
  private lazy val ids = Domains.IdMaps(personMap, visitMap,
    personMap.count(), visitMap.count())

  test("splitCsv honors quotes, escaped quotes, and empty fields") {
    assert(Ingest.splitCsv("a,\"b,c\",d").toSeq == Seq("a", "b,c", "d"))
    assert(Ingest.splitCsv("a,\"say \"\"hi\"\"\",c").toSeq
      == Seq("a", "say \"hi\"", "c"))
    // an unquoted empty field is NULL, a quoted one the empty string
    assert(Ingest.splitCsv("a,,c,").toSeq == Seq("a", null, "c", null))
    assert(Ingest.splitCsv("a,\"\",\"\"").toSeq == Seq("a", "", ""))
    assert(Ingest.splitCsv("").toSeq == Seq(null))
  }

  test("readRepaired reads unquoted empty fields as NULL, as readAllString") {
    val d = Files.createTempDirectory("csv-empty")
    def csv(name: String, body: String): String = {
      Files.writeString(d.resolve(name), "A,B,C\n" + body)
      d.resolve(name).toString
    }
    // empty first, middle and last fields
    val unquoted = csv("unquoted.csv", "x,,z\n,y,\n,\"a,b\",\n")
    assertSameRows(Ingest.readRepaired(spark, unquoted),
      Ingest.readAllString(spark, unquoted))
    // a quoted "" is the empty string, as the reference's COPY reads it
    // (Spark's reader reads it as NULL)
    val quoted = Ingest.readRepaired(spark, csv("quoted.csv", "x,\"\",\n"))
      .head()
    assert(quoted.getString(1) == "" && quoted.isNullAt(2))
  }

  test("readRepaired: an empty UNITS field gives a NULL unit_source_value") {
    val typed = Typing.observations(
      Ingest.readRepaired(spark, s"$dir/observations.csv"))
    val tobacco = col("code") === "72166-2"
    assert(typed.filter(tobacco).select("units").head().isNullAt(0))
    // the same row with a numeric value lands in measurement
    val (meas, _) = Domains.measurementObservationSplit(
      typed.withColumn("value", when(tobacco, lit("1")).otherwise(col("value"))),
      ids)
    assert(meas.filter(col("measurement_source_value") === "72166-2")
      .select("unit_source_value").head().isNullAt(0))
  }

  test("S3 repair: unquoted comma row is merged into the last field") {
    val repaired = Ingest.readRepaired(spark, s"$dir/conditions.csv")
    assert(repaired.count() == 4)
    val desc = repaired.filter(col("CODE") === "195662009")
      .head().getAs[String]("DESCRIPTION")
    assert(desc == "Acute viral pharyngitis, with complications")
  }

  test("typing: regex guards null dirty values instead of erroring") {
    val p = typedPatients.collect()
    assert(p.length == 4)
    val bad = p.find(_.getAs[String]("gender_source") == "M") // both 1 & dirty
    assert(typedPatients.filter(col("id").isNull).count() == 1)     // bad uuid
    assert(typedPatients.filter(col("gender").isNull).count() == 1) // X
    assert(typedPatients.filter(col("race").isNull).count() == 1)   // martian
    // encounter with bad cost → null decimal, others parse
    val enc = Typing.encounters(
      Ingest.readAllString(spark, s"$dir/encounters.csv"))
    assert(enc.filter(col("base_encounter_cost").isNull).count() == 1)
  }

  test("id maps are dense, 1-based, ordered by source id") {
    val ids = personMap.orderBy("person_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(ids.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(ids.map(_._1).toSeq == ids.map(_._1).sorted.toSeq)
  }

  test("person: demographics map to OMOP concepts, unmapped → 0") {
    val person = Domains.person(typedPatients, ids)
    assert(person.count() == 3)
    val byId = person.collect()
      .map(r => r.getAs[String]("person_source_value") -> r).toMap
    val p1 = byId.keys.find(_.endsWith("1")).map(byId).get
    assert(p1.getAs[Long]("gender_concept_id") == 8507L)
    assert(p1.getAs[Long]("race_concept_id") == 8527L)
    assert(p1.getAs[Long]("ethnicity_concept_id") == 38003564L)
    assert(p1.getAs[Int]("year_of_birth") == 1980)
    val p3 = byId.keys.find(_.endsWith("3")).map(byId).get
    assert(p3.getAs[Long]("gender_concept_id") == 0L)
    assert(p3.getAs[Long]("race_concept_id") == 0L)
  }

  test("person: duplicated source rows collapse to one row on FIRST run") {
    import spark.implicits._
    // buildIdMap assigns one person_id per distinct source id, so a
    // twice-ingested patient row must not emit two person rows sharing
    // that person_id, which duplicate_person_ids validation would flag
    val doubled = typedPatients.unionByName(typedPatients)
    val person = Domains.person(doubled, ids)
    assert(person.count() == 3)
    assert(person.select("person_id").distinct().count() == 3)
  }

  test("person: literal lookups give the old lookup-table joins' concepts") {
    import spark.implicits._
    // the reference's lookup tables, each key in both cases, as person
    // once joined them (broadcast, on the lower-cased key, unmapped → 0)
    val tables = Seq(
      ("gender_source", "gender_concept_id", Seq(("M", 8507L), ("F", 8532L),
        ("MALE", 8507L), ("FEMALE", 8532L), ("male", 8507L),
        ("female", 8532L), ("m", 8507L), ("f", 8532L))),
      ("race_source", "race_concept_id", Seq(("white", 8527L),
        ("black", 8516L), ("asian", 8515L), ("native", 8657L),
        ("other", 8522L), ("WHITE", 8527L), ("BLACK", 8516L),
        ("ASIAN", 8515L), ("NATIVE", 8657L), ("OTHER", 8522L))),
      ("ethnicity_source", "ethnicity_concept_id", Seq(
        ("hispanic", 38003563L), ("nonhispanic", 38003564L),
        ("HISPANIC", 38003563L), ("NONHISPANIC", 38003564L))))
    // every key in both cases, an unknown value and NULL, fed to all
    // three attributes
    val values = tables.flatMap(_._3.map(_._1))
      .flatMap(k => Seq(k.toUpperCase, k.toLowerCase)).distinct.map(Option(_)) ++
      Seq(Some("martian"), Some("Male "), None)
    val typed = values.zipWithIndex.map { case (v, i) => (s"p$i", v, v, v) }
      .toDF("id", "gender_source", "race_source", "ethnicity_source")
      .withColumn("birthdate", lit("1980-01-01").cast("date"))
    val pm = Domains.buildIdMap(typed, "id", "person_id")
      .withColumnRenamed("id", "source_patient_id")
    val oldJoin = tables.foldLeft(typed) { case (df, (src, out, rows)) =>
      val t = broadcast(rows.toDF("k", out)
        .select(lower(col("k")).as("k"), col(out)).dropDuplicates("k"))
      df.join(t, lower(col(src)) === t("k"), "left")
        .withColumn(out, coalesce(col(out), lit(0L))).drop("k")
    }
    val concepts = Seq("gender_concept_id", "race_concept_id",
      "ethnicity_concept_id")
    assertSameRows(
      Domains.person(typed, Domains.IdMaps(pm, visitMap, values.size, 0))
        .select((col("person_source_value") +: concepts.map(col)): _*),
      oldJoin.select((col("id").as("person_source_value") +:
        concepts.map(col)): _*))
  }

  test("visit_occurrence: class→concept CASE mapping and EHR type") {
    val visit = Domains.visitOccurrence(typedEncounters, ids)
    val byClass = visit.collect()
      .map(r => r.getAs[String]("visit_source_value") ->
        r.getAs[Long]("visit_concept_id")).toMap
    assert(byClass.values.toSet == Set(9202L, 9201L, 9203L))
    assert(visit.filter(col("visit_type_concept_id") =!= 32817L).count() == 0)
  }

  test("condition: within-batch dedup collapses the duplicate row") {
    val cond = Domains.conditionOccurrence(
      Typing.conditions(Ingest.readRepaired(spark, s"$dir/conditions.csv")),
      ids)
    assert(cond.count() == 3) // 4 rows - 1 dup
    assert(cond.select("condition_occurrence_id").distinct().count() == 3)
  }

  test("immunization: same person, time and code keep the lowest encounter") {
    import spark.implicits._
    val u = (i: Int) => f"00000000-0000-0000-0000-${i}%012d"
    val t = java.sql.Timestamp.valueOf("2016-06-05 09:00:00")
    // the higher encounter comes first in the only partition
    val typed = Seq((t, u(1), u(102), "140"), (t, u(1), u(101), "140"))
      .toDF("date_time", "patient", "encounter", "code").coalesce(1)
    val imm = Domains.immunizationDrugExposure(typed, ids).collect()
    assert(imm.length == 1)
    val lowest = visitMap.filter(col("source_visit_id") === u(101))
      .head().getAs[Long]("visit_occurrence_id")
    assert(imm.head.getAs[Long]("visit_occurrence_id") == lowest)
  }

  test("measurement/observation split routes by numeric detector") {
    val (meas, obs) = Domains.measurementObservationSplit(
      Typing.observations(Ingest.readAllString(spark, s"$dir/observations.csv")),
      ids)
    assert(meas.count() == 2)
    assert(obs.count() == 1)
    assert(meas.filter(col("value_as_number").isNull).count() == 0)
    assert(obs.head().getAs[String]("value_as_string") == "Never smoker")
  }

  test("observation_period spans min/max across unioned domains") {
    val cond = Domains.conditionOccurrence(
      Typing.conditions(Ingest.readRepaired(spark, s"$dir/conditions.csv")),
      ids)
    val visit = Domains.visitOccurrence(typedEncounters, ids)
    val op = Domains.observationPeriod(Seq(
      visit.select(col("person_id"),
        col("visit_start_date").as("start_date"),
        col("visit_end_date").as("end_date")),
      cond.select(col("person_id"),
        col("condition_start_date").as("start_date"),
        col("condition_end_date").as("end_date"))), ids.persons)
    val p1 = op.filter(col("person_id") === 1).head()
    assert(p1.getAs[java.sql.Date]("observation_period_start_date").toString
      == "2015-01-01")
    assert(p1.getAs[java.sql.Date]("observation_period_end_date").toString
      == "2016-06-05")
  }

  test("death: only deceased patients, date preserved") {
    val death = Domains.death(typedPatients, ids)
    assert(death.count() == 1)
    assert(death.head().getAs[java.sql.Date]("death_date").toString
      == "2020-01-10")
  }

  test("validation report is all-zero on the clean build") {
    val visit = Domains.visitOccurrence(typedEncounters, ids)
    val cond = Domains.conditionOccurrence(
      Typing.conditions(Ingest.readRepaired(spark, s"$dir/conditions.csv")),
      ids)
    val (meas, obs) = Domains.measurementObservationSplit(
      Typing.observations(Ingest.readAllString(spark, s"$dir/observations.csv")),
      ids)
    // the fixture's medications carry no cost columns
    val meds = Seq("BASE_COST", "PAYER_COVERAGE", "DISPENSES", "TOTALCOST")
      .foldLeft(Ingest.readRepaired(spark, s"$dir/medications.csv"))(
        (d, c) => d.withColumn(c, lit(null).cast("string")))
    val (drug, _) = Domains.drugExposureAndCost(Typing.medications(meds), ids)
    val person = Domains.person(typedPatients, ids)
    val rep = Validation.report(spark, person, visit, cond, meas, obs,
      Domains.drugEra(drug, ids.persons),
      Domains.conditionEra(cond, ids.persons))
    val failed = rep.filter(col("failed_count") > 0).collect()
    assert(failed.isEmpty, failed.mkString(", "))
  }
}
