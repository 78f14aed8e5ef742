package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class VocabSpec extends SparkSpecBase {
  import spark.implicits._

  /** Tiny OMOP-shaped vocabulary: 44054006 (SNOMED source, non-standard)
    * Maps-to 201826 (standard); 38341003 has no relationship but IS
    * standard itself (stage-3 fallback); 99999 is unknown. */
  private lazy val vocabDir = {
    val d = Files.createTempDirectory("vocab").toString
    Files.writeString(java.nio.file.Paths.get(s"$d/CONCEPT.csv"),
      Seq(
        "concept_id\tconcept_name\tdomain_id\tvocabulary_id\tconcept_class_id\tstandard_concept\tconcept_code\tinvalid_reason",
        "1001\tDiabetes src\tCondition\tSNOMED\tClinical Finding\t\t44054006\t",
        "201826\tType 2 DM\tCondition\tSNOMED\tClinical Finding\tS\t201826X\t",
        "1002\tHypertension\tCondition\tSNOMED\tClinical Finding\tS\t38341003\t"
      ).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$d/CONCEPT_RELATIONSHIP.csv"),
      Seq(
        "concept_id_1\tconcept_id_2\trelationship_id\tvalid_start_date\tvalid_end_date\tinvalid_reason",
        "1001\t201826\tMaps to\t2000-01-01\t2099-12-31\t"
      ).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$d/CONCEPT_ANCESTOR.csv"),
      Seq(
        "ancestor_concept_id\tdescendant_concept_id\tmin_levels_of_separation\tmax_levels_of_separation",
        "5000\t201826\t1\t2",   // ATC class 5000 covers T2DM
        "5000\t1002\t2\t2",     // …and hypertension
        "5001\t1002\t1\t1",     // second class covers only hypertension
        "201826\t201826\t0\t0", // self-rows the closure table carries
        "bad\t201826\t0\t0"     // malformed id → dropped, not fatal
      ).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$d/CONCEPT_SYNONYM.csv"),
      Seq(
        "concept_id\tconcept_synonym_name\tlanguage_concept_id",
        "201826\tType II diabetes mellitus\t4180186",
        "201826\tNIDDM\t4180186",
        "junk\tbroken row\t4180186"
      ).mkString("\n"))
    d
  }

  /** The live path for one (vocabulary, domain) pair: its code map, then
    * the join. */
  private def mapDomain(table: org.apache.spark.sql.DataFrame,
                        concept: org.apache.spark.sql.DataFrame,
                        rel: org.apache.spark.sql.DataFrame,
                        sourceValueCol: String, sourceConceptCol: String,
                        targetConceptCol: String, vocabularyId: String,
                        domainId: String) =
    Vocab.mapDomain(table, new Vocab.CodeMap(
        Vocab.codeMap(concept, rel, Seq((vocabularyId, domainId)))),
      sourceValueCol, sourceConceptCol, targetConceptCol, vocabularyId,
      domainId)

  test("3-stage mapping: Maps-to, fallback-standard, and unmapped → 0") {
    val concept = Vocab.loadConcept(spark, s"$vocabDir/CONCEPT.csv")
    val rel = Vocab.loadConceptRelationship(spark,
      s"$vocabDir/CONCEPT_RELATIONSHIP.csv")
    val table = Seq(
      (1L, "44054006"), // → src 1001 → Maps-to → 201826 (stage 2)
      (2L, "38341003"), // no rel; direct standard match → 1002 (stage 3)
      (3L, "99999")     // unknown → 0
    ).toDF("condition_occurrence_id", "condition_source_value")
      .withColumn("condition_source_concept_id", lit(0L))
      .withColumn("condition_concept_id", lit(0L))

    val mapped = mapDomain(table, concept, rel,
      "condition_source_value", "condition_source_concept_id",
      "condition_concept_id", "SNOMED", "Condition")
      .collect()
      .map(r => r.getAs[Long]("condition_occurrence_id") ->
        (r.getAs[Long]("condition_source_concept_id"),
         r.getAs[Long]("condition_concept_id"))).toMap

    assert(mapped(1L) == (1001L, 201826L))
    assert(mapped(2L) == (1002L, 1002L))
    assert(mapped(3L) == (0L, 0L))
  }

  test("ambiguous code/mapping resolves to the lowest concept id, stably") {
    // code "7777" carried by TWO concept rows, and source 1001 with TWO
    // Maps-to targets: dropDuplicates would pick per partition order —
    // concept assignments flipping between reruns. The contract is the
    // lowest concept id, independent of partitioning.
    val none: Option[String] = None
    val concept = Seq(
      (3001L, "dup code A", "Condition", "SNOMED", "", "7777", none),
      (3002L, "dup code B", "Condition", "SNOMED", "", "7777", none),
      (1001L, "src", "Condition", "SNOMED", "", "44054006", none),
      (2001L, "std A", "Condition", "SNOMED", "S", "2001X", none),
      (2002L, "std B", "Condition", "SNOMED", "S", "2002X", none))
      .toDF("concept_id", "concept_name", "domain_id", "vocabulary_id",
        "standard_concept", "concept_code", "invalid_reason")
    val rel = Seq((1001L, 2002L, "Maps to"), (1001L, 2001L, "Maps to"))
      .toDF("concept_id_1", "concept_id_2", "relationship_id")
    val table = Seq((1L, "44054006"), (2L, "7777"))
      .toDF("condition_occurrence_id", "condition_source_value")
      .withColumn("condition_source_concept_id", lit(0L))
      .withColumn("condition_concept_id", lit(0L))
    for (parts <- Seq(1, 5)) {
      val mapped = mapDomain(table.repartition(parts), concept, rel,
        "condition_source_value", "condition_source_concept_id",
        "condition_concept_id", "SNOMED", "Condition")
        .collect()
        .map(r => r.getAs[Long]("condition_occurrence_id") ->
          (r.getAs[Long]("condition_source_concept_id"),
           r.getAs[Long]("condition_concept_id"))).toMap
      assert(mapped(1L) == (1001L, 2001L), s"$mapped") // lowest Maps-to
      assert(mapped(2L)._1 == 3001L, s"$mapped")       // lowest code match
    }
  }

  test("concept_ancestor and concept_synonym round-trip with bad-row drop") {
    val anc = Vocab.loadConceptAncestor(spark,
      s"$vocabDir/CONCEPT_ANCESTOR.csv")
    assert(anc.count() == 4) // malformed 'bad' ancestor id dropped
    val self = anc.filter(col("ancestor_concept_id") === 201826L).head()
    assert(self.getAs[Int]("min_levels_of_separation") == 0)
    assert(anc.filter(col("ancestor_concept_id") === 5000L).count() == 2)
    val syn = Vocab.loadConceptSynonym(spark,
      s"$vocabDir/CONCEPT_SYNONYM.csv")
    assert(syn.count() == 2) // 'junk' concept id dropped
    assert(syn.filter(col("concept_synonym_name") === "NIDDM").count() == 1)
  }

  test("ancestor rollup aggregates domain rows to class-level concepts") {
    // concepts 5000/5001 act as the class tier (give them a class id)
    val concept = Vocab.loadConcept(spark, s"$vocabDir/CONCEPT.csv")
      .unionByName(Seq(
        (5000L, "Antidiabetics+HTN class", "Drug", "ATC", "ATC 3rd",
          "C", "A10", null.asInstanceOf[String]),
        (5001L, "HTN-only class", "Drug", "ATC", "ATC 3rd",
          "C", "C02", null.asInstanceOf[String])
      ).toDF("concept_id", "concept_name", "domain_id", "vocabulary_id",
        "concept_class_id", "standard_concept", "concept_code",
        "invalid_reason"))
    val anc = Vocab.loadConceptAncestor(spark,
      s"$vocabDir/CONCEPT_ANCESTOR.csv")
    // person 1 twice on 201826; person 2 once on 1002
    val facts = Seq((1L, 201826L), (1L, 201826L), (2L, 1002L))
      .toDF("person_id", "drug_concept_id")
    val roll = Vocab.rollupByAncestor(facts, "drug_concept_id", anc,
      concept, "ATC 3rd")
      .collect().map(r => r.getAs[Long]("ancestor_concept_id") ->
        (r.getAs[String]("ancestor_concept_name"),
         r.getAs[Long]("record_count"), r.getAs[Long]("person_count")))
      .toMap
    // hand-computed: 5000 covers both concepts → 3 records / 2 persons;
    // 5001 covers only 1002 → 1 record / 1 person
    assert(roll(5000L) == (("Antidiabetics+HTN class", 3L, 2L)))
    assert(roll(5001L) == (("HTN-only class", 1L, 1L)))
    // the self-row (201826→201826) is NOT class-tier → never surfaces
    assert(!roll.contains(201826L))
  }

  test("the code map equals the 3-stage reference on edge codes") {
    val none: Option[String] = None
    def c(id: Long, domain: String, vocabulary: String, std: String,
          code: String, invalid: Option[String] = none) =
      (id, s"$vocabulary $code", domain, vocabulary, "Clinical", std, code,
        invalid)
    val concept = Seq(
      // concept 0 is standard here, and Maps to 1400: NULL and unknown
      // codes then map to 1400 in Condition
      c(0L, "Condition", "None", "S", "No matching concept"),
      c(1400L, "Condition", "SNOMED", "S", "STD1400"),
      // C1: Maps to 1200 AND a direct match (itself); the lower-id Maps-to
      // targets are non-standard or deprecated, so stage 2 skips them
      c(1100L, "Condition", "SNOMED", "S", "C1"),
      c(1200L, "Condition", "SNOMED", "S", "STD1200"),
      c(1050L, "Condition", "SNOMED", "", "ALT1050"),
      c(1051L, "Condition", "SNOMED", "S", "OLD1051", Some("D")),
      // C2: a deprecated higher-id duplicate with its own Maps-to target
      c(1101L, "Condition", "SNOMED", "", "C2"),
      c(1190L, "Condition", "SNOMED", "", "C2", Some("U")),
      c(1201L, "Condition", "SNOMED", "S", "STD1201"),
      c(1202L, "Condition", "SNOMED", "S", "STD1202"),
      // SHARED: one code in SNOMED (Maps to) and LOINC (direct)
      c(1300L, "Condition", "SNOMED", "", "SHARED"),
      c(1301L, "Measurement", "LOINC", "S", "SHARED"),
      // Z: Maps to concept 0, so the direct match 1501 wins
      c(1500L, "Condition", "SNOMED", "", "Z"),
      c(1501L, "Condition", "SNOMED", "S", "Z"),
      // L1: one source concept, a target per domain
      c(1700L, "Measurement", "LOINC", "", "L1"),
      c(1701L, "Measurement", "LOINC", "S", "STD1701"),
      c(1702L, "Observation", "LOINC", "S", "STD1702"),
      c(1800L, "Drug", "RxNorm", "S", "R1"),
      c(1900L, "Procedure", "SNOMED", "", "P1"),
      c(1901L, "Procedure", "SNOMED", "S", "STD1901"))
      .toDF("concept_id", "concept_name", "domain_id", "vocabulary_id",
        "concept_class_id", "standard_concept", "concept_code",
        "invalid_reason")
    val rel = Seq((0L, 1400L, "Maps to"), (1100L, 1200L, "Maps to"),
      (1100L, 1050L, "Maps to"), (1100L, 1051L, "Maps to"),
      (1101L, 1202L, "Maps to"), (1190L, 1201L, "Maps to"),
      (1300L, 1202L, "Maps to"), (1500L, 0L, "Maps to"),
      (1700L, 1701L, "Maps to"), (1700L, 1702L, "Maps to"),
      (1900L, 1901L, "Maps to"), (1900L, 1200L, "Is a"))
      .toDF("concept_id_1", "concept_id_2", "relationship_id")
    val pairs = Seq("Condition" -> "SNOMED", "Drug" -> "RxNorm",
      "Procedure" -> "SNOMED", "Measurement" -> "LOINC",
      "Observation" -> "LOINC")
    val codes = new Vocab.CodeMap(
      Vocab.codeMap(concept, rel, pairs.map(_.swap)))
    val values = Seq(None, Some("UNKNOWN"), Some("C1"), Some("C2"),
      Some("C2"), Some("SHARED"), Some("Z"), Some("L1"), Some("R1"),
      Some("P1"), Some("No matching concept"))
    // as the ETL calls it: no source-concept column, the target in place
    val etlShape = values.zipWithIndex.map { case (v, i) =>
      (i.toLong, 7L, 0L, v, s"x$i") }
      .toDF("id", "person_id", "tgt", "src_value", "extra")
    // a source-concept column in the middle
    val inline = etlShape.select(col("id"), lit(5L).as("src"), col("tgt"),
      col("extra"), col("src_value"))
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("src_value", "src", "tgt").collect()
        .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val got = pairs.map { case (domain, vocabulary) =>
      for (table <- Seq(etlShape, inline)) {
        val reference = VocabReference.mapDomain(
          if (table.columns.contains("src")) table
          else table.withColumn("src", lit(0L)),
          concept, rel, "src_value", "src", "tgt", vocabulary, domain)
        assertSameRows(Vocab.mapDomain(table, codes, "src_value", "src",
          "tgt", vocabulary, domain), reference)
      }
      domain -> triples(Vocab.mapDomain(etlShape, codes, "src_value", "src",
        "tgt", vocabulary, domain))
    }.toMap
    val cond = got("Condition")
    assert(cond(None) == ((0L, 1400L)) && cond(Some("UNKNOWN")) == ((0L, 1400L)))
    assert(cond(Some("C1")) == ((1100L, 1200L)))
    assert(cond(Some("C2")) == ((1101L, 1202L)))
    assert(cond(Some("SHARED")) == ((1300L, 1202L)))
    assert(cond(Some("Z")) == ((1500L, 1501L)))
    assert(got("Procedure")(Some("C1")) == ((1100L, 0L)))
    assert(got("Measurement")(None) == ((0L, 0L)))
    assert(got("Measurement")(Some("SHARED")) == ((1301L, 1301L)))
    assert(got("Measurement")(Some("L1")) == ((1700L, 1701L)))
    assert(got("Observation")(Some("L1")) == ((1700L, 1702L)))
    assert(got("Drug")(Some("R1")) == ((1800L, 1800L)))
  }
}
