package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftspark.ListenerBusAccess
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpecBase

/** Regression net for the CLI contract: EtlRunner.run over a full fixture
  * set (incl. optional immunizations/allergies + vocab) produces all OMOP
  * outputs and a zero-failure validation report, the same outputs on a
  * rerun, and a clean stop when a step fails. */
class EtlRunnerSpec extends SparkSpecBase {

  private val mpbKey = "spark.sql.files.maxPartitionBytes"

  private def writeInputs(in: String): Unit = {
    def w(name: String, content: String): Unit =
      Files.writeString(Paths.get(s"$in/$name"), content)
    val u1 = "11111111-1111-1111-1111-111111111111"
    val e1 = "aaaaaaaa-0000-0000-0000-000000000001"
    w("patients.csv",
      s"Id,BIRTHDATE,DEATHDATE,GENDER,RACE,ETHNICITY,MARITAL\n" +
        s"$u1,1980-03-15,,M,white,nonhispanic,M\n")
    w("encounters.csv",
      "Id,START,STOP,PATIENT,ENCOUNTERCLASS,CODE,DESCRIPTION," +
        "BASE_ENCOUNTER_COST,TOTAL_CLAIM_COST,PAYER_COVERAGE\n" +
        s"$e1,2015-01-01T09:00:00Z,2015-01-01T10:00:00Z,$u1,ambulatory," +
        "185349003,Visit,100.00,120.00,20.00\n")
    w("conditions.csv",
      "START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION\n" +
        s"2015-01-01,2015-02-01,$u1,$e1,44054006,Diabetes\n")
    w("medications.csv",
      "START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION,BASE_COST," +
        "PAYER_COVERAGE,DISPENSES,TOTALCOST\n" +
        s"2015-01-01T09:30:00Z,,$u1,$e1,313782,Acetaminophen," +
        "12.50,9.00,2,25.00\n")
    w("procedures.csv",
      "START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION,BASE_COST\n" +
        s"2015-01-01T09:45:00Z,,$u1,$e1,232717009,CABG,431.40\n")
    w("observations.csv",
      "DATE,PATIENT,ENCOUNTER,CODE,DESCRIPTION,VALUE,UNITS\n" +
        s"2015-01-01T09:15:00Z,$u1,$e1,8302-2,Height,175.3,cm\n")
    w("immunizations.csv",
      "DATE,PATIENT,ENCOUNTER,CODE,DESCRIPTION,BASE_COST\n" +
        s"2016-04-01T10:00:00Z,$u1,$e1,140,Flu,140.52\n")
    w("patient_expenses.csv",
      "PATIENT_ID,YEAR,PAYER_ID,HEALTHCARE_EXPENSES,INSURANCE_COSTS," +
        "COVERED_COSTS\n" +
        s"$u1,2015,abcdefab-0000-0000-0000-000000000001,1000.00,200.00," +
        "800.00\n" +
        // duplicate person-year: NOT EXISTS key keeps one
        s"$u1,2015,abcdefab-0000-0000-0000-000000000001,1000.00,200.00," +
        "800.00\n" +
        s"$u1,2016,abcdefab-0000-0000-0000-000000000001,1100.00,220.00," +
        "880.00\n")
    w("devices.csv",
      "START,STOP,PATIENT,ENCOUNTER,CODE,DESCRIPTION,UDI\n" +
        // duplicate (person, start, code) row: dedup must keep one
        s"2015-01-01T09:20:00Z,,$u1,$e1,DEVICE123-A,Stent," +
        "(01)00643169007222(11)141231(17)150707(10)A213B1(21)1234\n" +
        s"2015-01-01T09:20:00Z,,$u1,$e1,DEVICE123-A,Stent," +
        "(01)00643169007222(11)141231(17)150707(10)A213B1(21)1234\n" +
        s"2015-01-01T09:25:00Z,2015-01-02T09:25:00Z,$u1,$e1,706689003," +
        "Oximeter,(01)00643169001111(11)141231(17)150707(10)Z9(21)77\n")
    w("allergies.csv",
      "START,STOP,PATIENT,ENCOUNTER,CODE,SYSTEM,DESCRIPTION,TYPE,CATEGORY," +
        "REACTION1,DESCRIPTION1,SEVERITY1,REACTION2,DESCRIPTION2,SEVERITY2\n" +
        s"2014-06-01T00:00:00Z,,$u1,$e1,419474003,SNOMED,Peanut,allergy," +
        "food,271807003,Rash,MILD,,,\n")
  }

  private lazy val dirs = {
    val in = Files.createTempDirectory("runner_in").toString
    val out = Files.createTempDirectory("runner_out").toString
    val vocab = Files.createTempDirectory("runner_vocab").toString
    writeInputs(in)
    def w(d: String, name: String, content: String): Unit =
      Files.writeString(Paths.get(s"$d/$name"), content)
    w(vocab, "CONCEPT.csv",
      "concept_id\tconcept_name\tdomain_id\tvocabulary_id\tconcept_class_id" +
        "\tstandard_concept\tconcept_code\tinvalid_reason\n" +
        "1001\tDiabetes src\tCondition\tSNOMED\tCF\t\t44054006\t\n" +
        "201826\tT2DM\tCondition\tSNOMED\tCF\tS\t201826X\t\n")
    w(vocab, "CONCEPT_RELATIONSHIP.csv",
      "concept_id_1\tconcept_id_2\trelationship_id\tvalid_start_date" +
        "\tvalid_end_date\tinvalid_reason\n" +
        "1001\t201826\tMaps to\t2000-01-01\t2099-12-31\t\n")
    (in, out, vocab)
  }

  /** The validation report of the fixture's run into `dirs._2`. */
  private lazy val firstRun = {
    val (in, out, vocab) = dirs
    EtlRunner.run(spark, in, out, Some(vocab))
  }

  private def stepThreadsAlive: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-etl-step-"))
      .map(_.getName)

  test("full run produces every OMOP output and a clean validation report") {
    val (_, out, _) = dirs
    // run() tunes spark.sql.files.maxPartitionBytes for its own scans;
    // the session-global conf must be restored on exit — a library
    // caller must not inherit 4x more scan partitions for all
    // subsequent reads
    val mpbBefore = spark.conf.getOption(mpbKey)
    val report = firstRun
    assert(spark.conf.getOption(mpbKey) == mpbBefore,
      s"$mpbKey not restored after EtlRunner.run")
    eventually(timeout(10.seconds)) {
      assert(stepThreadsAlive.isEmpty, "step pool outlived the run")
    }
    assert(report.filter(col("failed_count") > 0).count() == 0)
    val expected = Seq("person_map", "visit_map", "person",
      "visit_occurrence", "condition_occurrence", "drug_exposure",
      "procedure_occurrence", "drug_era", "condition_era",
      "measurement", "observation", "death", "cost",
      "drug_exposure_immunizations", "achilles_results",
      "achilles_results_dist", "observation_period",
      "device_exposure", "payer_plan_period")
    for (t <- expected)
      assert(Files.exists(Paths.get(s"$out/$t")), t)
    // payer plan periods: dup person-year collapsed; end = start+1y-1d
    val ppp = spark.read.parquet(s"$out/payer_plan_period")
      .orderBy("payer_plan_period_start_date")
    assert(ppp.count() == 2)
    val p0 = ppp.head()
    assert(p0.getAs[java.sql.Date]("payer_plan_period_start_date").toString
      == "2015-01-01")
    assert(p0.getAs[java.sql.Date]("payer_plan_period_end_date").toString
      == "2015-12-31")
    assert(p0.getAs[String]("payer_source_value").startsWith("abcdefab"))
    // devices: dup (person, start, code) collapsed; prefix rule mapped the
    // DEVICE123 code; UDI carried through
    val dev = spark.read.parquet(s"$out/device_exposure")
      .orderBy("device_exposure_start_datetime")
    assert(dev.count() == 2)
    val d0 = dev.head()
    assert(d0.getAs[Long]("device_concept_id") == 4263759L)
    assert(d0.getAs[String]("unique_device_id").startsWith("(01)00643169007222"))
    assert(d0.getAs[Long]("device_type_concept_id") == 44818707L)
    assert(dev.filter(col("device_source_value") === "706689003")
      .head().getAs[Long]("device_concept_id") == 0L)
    // vocab mapping applied
    val cond = spark.read.parquet(s"$out/condition_occurrence").head()
    assert(cond.getAs[Long]("condition_concept_id") == 201826L)
    // cost: all three reference strata under one dense id sequence,
    // exact decimal arithmetic per transform_cost.sql's three blocks
    val costT = spark.read.parquet(s"$out/cost")
    def bd(s: String) = new java.math.BigDecimal(s)
    def money(r: org.apache.spark.sql.Row, c: String) =
      r.getAs[java.math.BigDecimal](c)
    assert(costT.count() == 3)
    assert(costT.select("cost_id").orderBy("cost_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byDom = costT.collect().map(r =>
      r.getAs[String]("cost_domain_id") -> r).toMap
    assert(byDom.keySet == Set("Visit", "Drug", "Procedure"))
    val v = byDom("Visit")
    assert(money(v, "total_charge").compareTo(bd("120.00")) == 0)
    assert(money(v, "total_cost").compareTo(bd("100.00")) == 0)
    assert(money(v, "paid_by_patient").compareTo(bd("100.00")) == 0)
    val dr = byDom("Drug")
    assert(money(dr, "total_charge").compareTo(bd("25.00")) == 0)
    assert(money(dr, "total_cost").compareTo(bd("12.50")) == 0)
    assert(money(dr, "total_paid").compareTo(bd("9.00")) == 0)
    assert(money(dr, "paid_by_patient").compareTo(bd("16.00")) == 0)
    val pr = byDom("Procedure")
    assert(money(pr, "total_charge").compareTo(bd("431.40")) == 0)
    assert(money(pr, "total_cost").compareTo(bd("431.40")) == 0)
    assert(pr.isNullAt(pr.fieldIndex("total_paid")))
    assert(pr.isNullAt(pr.fieldIndex("paid_by_patient")))
    assert(byDom.values.forall(r =>
      r.getAs[Long]("cost_type_concept_id") == 5031L &&
        r.getAs[Long]("currency_concept_id") == 44818668L))
    // observation period spans allergy (2014) → immunization (2016)
    val op = spark.read.parquet(s"$out/observation_period").head()
    assert(op.getAs[java.sql.Date]("observation_period_start_date").toString
      == "2014-06-01")
    assert(op.getAs[java.sql.Date]("observation_period_end_date").toString
      == "2016-04-01")
  }

  test("a rerun writes the same gold tables, ids included") {
    val (in, out, vocab) = dirs
    firstRun
    val out2 = Files.createTempDirectory("runner_out2").toString
    EtlRunner.run(spark, in, out2, Some(vocab))
    def tables(d: String): Seq[String] =
      new java.io.File(d).listFiles.toSeq
        .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
          f.getName != "validation")
        .map(_.getName).sorted
    assert(tables(out2) == tables(out))
    assert(tables(out).size == 19)
    for (t <- tables(out)) {
      val a = spark.read.parquet(s"$out/$t")
      val b = spark.read.parquet(s"$out2/$t")
      assert(a.exceptAll(b).union(b.exceptAll(a)).isEmpty, t)
    }
  }

  test("a failing step cancels the run's jobs and stops its threads") {
    val (_, _, vocab) = dirs
    val in = Files.createTempDirectory("runner_fail_in").toString
    val out = Files.createTempDirectory("runner_fail_out").toString
    writeInputs(in)
    // an empty devices.csv/ directory: the device step, which starts once
    // the id maps are written, fails on its header read while the other
    // domain steps are running
    Files.delete(Paths.get(s"$in/devices.csv"))
    Files.createDirectory(Paths.get(s"$in/devices.csv"))
    val mpbBefore = spark.conf.getOption(mpbKey)
    intercept[NoSuchElementException] {
      EtlRunner.run(spark, in, out, Some(vocab))
    }
    assert(spark.conf.getOption(mpbKey) == mpbBefore)
    // job ends reach the status tracker through the listener bus
    eventually(timeout(10.seconds)) {
      ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 10000L)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }
    eventually(timeout(10.seconds)) {
      assert(stepThreadsAlive.isEmpty)
    }
  }

  test("missing required file fails fast with the full list") {
    val empty = Files.createTempDirectory("runner_empty").toString
    val e = intercept[IllegalArgumentException] {
      EtlRunner.run(spark, empty, empty)
    }
    assert(e.getMessage.contains("patients.csv"))
    assert(e.getMessage.contains("medications.csv"))
  }
}
