package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpecBase

class CostPayerSpec extends SparkSpecBase {
  import spark.implicits._

  /** Id maps of `persons` persons and `visits` visits; a test passes the
    * maps it joins. */
  private def ids(persons: Long, visits: Long,
                  personMap: DataFrame = Seq.empty[(String, Long)]
                    .toDF("source_patient_id", "person_id"),
                  visitMap: DataFrame = Seq.empty[(String, Long)]
                    .toDF("source_visit_id", "visit_occurrence_id")) =
    Domains.IdMaps(personMap, visitMap, persons, visits)

  test("visitCost: decimal money math, paid_by_patient exact") {
    val enc = Seq(
      ("e1", "100.10", "250.25", "200.00"),
      ("e2", null, null, null) // filtered: no cost info
    ).toDF("id", "BASE", "TOTAL", "COVER")
      .select(col("id"),
        col("BASE").cast(DecimalType(10, 2)).as("base_encounter_cost"),
        col("TOTAL").cast(DecimalType(10, 2)).as("total_claim_cost"),
        col("COVER").cast(DecimalType(10, 2)).as("payer_coverage"))
    val vm = Seq(("e1", 10L), ("e2", 20L))
      .toDF("source_visit_id", "visit_occurrence_id")
    val cost = Domains.visitCost(enc, ids(0, 2, visitMap = vm))
    assert(cost.count() == 1)
    val r = cost.head()
    assert(r.getAs[java.math.BigDecimal]("paid_by_patient")
      .compareTo(new java.math.BigDecimal("50.25")) == 0)
    assert(r.getAs[String]("cost_domain_id") == "Visit")
  }

  test("cost: three domain strata share one dense deterministic id") {
    // (event id, person id) per row; visit rows carry no person
    def rows(domain: String, events: Seq[(Long, Long)]) =
      events.map { case (i, p) =>
        (i, p, domain, "10.00", "8.00", "6.00", "6.00", "4.00") }
        .toDF("cost_event_id", "person_id", "cost_domain_id", "tc", "tcost",
          "tp", "pbp", "pbpat")
        .select(col("cost_event_id"), col("person_id"), col("cost_domain_id"),
          col("tc").cast(DecimalType(10, 2)).as("total_charge"),
          col("tcost").cast(DecimalType(10, 2)).as("total_cost"),
          col("tp").cast(DecimalType(10, 2)).as("total_paid"),
          col("pbp").cast(DecimalType(10, 2)).as("paid_by_payer"),
          col("pbpat").cast(DecimalType(11, 2)).as("paid_by_patient"))
    val out = Domains.cost(rows("Visit", Seq(7L -> 0L, 3L -> 0L))
      .drop("person_id"), rows("Drug", Seq(5L -> 1L)),
      rows("Procedure", Seq(9L -> 2L)), ids(2, 7))
    // ids are 1..4, ordered by (domain, event id): Drug-5, Procedure-9,
    // Visit-3, Visit-7 — deterministic across reruns and partitionings
    val got = out.orderBy("cost_id")
      .select("cost_id", "cost_domain_id", "cost_event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "Drug", 5L), (2L, "Procedure", 9L),
      (3L, "Visit", 3L), (4L, "Visit", 7L)))
    assert(out.head().getAs[Long]("cost_type_concept_id") == 5031L)
    assert(out.head().getAs[Long]("currency_concept_id") == 44818668L)
  }

  test("payerPlanPeriod: end date is start + 1 year - 1 day") {
    // one row per person-year: p1's two 2020 payers keep the smaller,
    // a NULL year and an unknown patient give no row
    val expenses = Seq[(String, Option[Int], String)](
      ("u1", Some(2020), "p9"), ("u1", Some(2020), "p2"),
      ("u1", Some(2023), "p9"), ("u1", None, "p9"), ("u7", Some(2020), "p9"))
      .toDF("patient_id", "year", "payer_id")
    val pm = Seq(("u1", 1L)).toDF("source_patient_id", "person_id")
    val ppp = Domains.payerPlanPeriod(expenses, ids(1, 0, personMap = pm))
      .orderBy("payer_plan_period_id")
      .select("payer_plan_period_id", "person_id",
        "payer_plan_period_start_date", "payer_plan_period_end_date",
        "payer_source_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toString,
        r.getDate(3).toString, r.getString(4))).toSeq
    assert(ppp == Seq((1L, 1L, "2020-01-01", "2020-12-31", "p2"),
      (2L, 1L, "2023-01-01", "2023-12-31", "p9")))
  }

  test("cost: the closed-form bucket gives the global window's ids") {
    // events in person-leading id order, as the domain id passes assign
    // them: person 1 has drug, procedure and visit cost rows; ids and
    // persons spread over several of the 3 x 4 buckets
    def rows(domain: String, events: Seq[(Long, Long)]) =
      events.toDF("cost_event_id", "person_id")
        .select(col("cost_event_id"), col("person_id"),
          lit(domain).as("cost_domain_id"),
          lit("10.00").cast(DecimalType(10, 2)).as("total_charge"),
          (col("cost_event_id") / 100).cast(DecimalType(10, 2))
            .as("total_cost"),
          lit(null).cast(DecimalType(10, 2)).as("total_paid"),
          lit("1.50").cast(DecimalType(10, 2)).as("paid_by_payer"),
          lit("2.25").cast(DecimalType(11, 2)).as("paid_by_patient"))
    val nPersons = 9L
    val drug = rows("Drug", Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 5L -> 4L,
      8L -> 7L, 9L -> 9L, 10L -> 9L))
    val proc = rows("Procedure", Seq(1L -> 1L, 4L -> 3L, 6L -> 8L))
    val nVisits = 12L
    val visit = rows("Visit", Seq(1L -> 1L, 2L -> 1L, 5L -> 3L, 11L -> 8L,
      12L -> 9L)).drop("person_id")
    val closed = Domains.cost(visit, drug, proc, ids(nPersons, nVisits))
    assert(!closed.columns.contains("person_id"))
    // the reference: one global row_number() over (domain, event id)
    val window = closed.withColumn("cost_id", row_number().over(
      Window.orderBy(col("cost_domain_id"), col("cost_event_id")))
      .cast("long"))
    assertSameRows(closed, window)
    assert(closed.select("cost_id").as[Long].collect().sorted.toSeq
      == (1L to 15L))
  }
}
