package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.ConceptMap

/** Vocabulary concept mapping (SURVEY.md §2.3 J7–J9), the reference's
  * 3-stage UPDATE chain (etl_pipeline/etl_concept_mapping.py:136-180)
  * re-expressed set-based:
  *
  *   1. source concept: concept_code = source_value, vocabulary match
  *   2. standard concept via 'Maps to' relationship traversal (J8)
  *   3. fallback: direct standard-concept code match for rows still 0
  *
  * The three stages are resolved once per run, for every mapped
  * (vocabulary, domain) pair together, into one code map ([[codeMap]]):
  * code → (source concept, target concept). Each domain table then takes
  * its concepts in one broadcast left join on the code ([[mapDomain]]),
  * instead of re-reading the concept table and running three deduped
  * lookups of its own. Nothing is mutated; the map is a pure function of
  * the vocabulary tables. The map has at most one row per concept of the
  * mapped vocabularies per domain, so at the reference's ~500k-row concept
  * table (enhanced_vocabulary_loader.py:75) it broadcasts like the
  * per-stage lookups it replaces.
  */
object Vocab {

  /** Load OMOP vocabulary tables from TSV (CONCEPT.csv etc. are
    * tab-separated in OMOP distributions). */
  def loadConcept(spark: SparkSession, path: String): DataFrame =
    Ingest.readVocabTsv(spark, path).select(
      // try_cast: a malformed id in a vocab distribution becomes a
      // droppable NULL row instead of an ANSI CAST error killing the load
      // (the reference's loader also skips bad rows while cleaning,
      // enhanced_vocabulary_loader.py:700-760)
      col("concept_id").try_cast("long").as("concept_id"),
      col("concept_name"),
      col("domain_id"),
      col("vocabulary_id"),
      col("concept_class_id"),
      col("standard_concept"),
      col("concept_code"),
      col("invalid_reason"))
      .filter(col("concept_id").isNotNull)

  def loadConceptRelationship(spark: SparkSession, path: String): DataFrame =
    Ingest.readVocabTsv(spark, path).select(
      col("concept_id_1").try_cast("long").as("concept_id_1"),
      col("concept_id_2").try_cast("long").as("concept_id_2"),
      col("relationship_id"))
      .filter(col("concept_id_1").isNotNull && col("concept_id_2").isNotNull)

  /** Load omop.concept_ancestor (enhanced_vocabulary_loader.py:492-498 DDL;
    * the OMOP distribution ships it as CONCEPT_ANCESTOR.csv TSV). The
    * transitive-closure hierarchy table: one row per (ancestor, descendant)
    * pair with min/max separation levels. ~500k rows in the reference's
    * estimate (enhanced_vocabulary_loader.py:78) — broadcastable. */
  def loadConceptAncestor(spark: SparkSession, path: String): DataFrame =
    Ingest.readVocabTsv(spark, path).select(
      col("ancestor_concept_id").try_cast("long").as("ancestor_concept_id"),
      col("descendant_concept_id").try_cast("long")
        .as("descendant_concept_id"),
      col("min_levels_of_separation").try_cast("int")
        .as("min_levels_of_separation"),
      col("max_levels_of_separation").try_cast("int")
        .as("max_levels_of_separation"))
      .filter(col("ancestor_concept_id").isNotNull &&
        col("descendant_concept_id").isNotNull)

  /** Load omop.concept_synonym (enhanced_vocabulary_loader.py:564-570 DDL):
    * alternate names per concept, used for name-based lookups. */
  def loadConceptSynonym(spark: SparkSession, path: String): DataFrame =
    Ingest.readVocabTsv(spark, path).select(
      col("concept_id").try_cast("long").as("concept_id"),
      col("concept_synonym_name"),
      col("language_concept_id").try_cast("long")
        .as("language_concept_id"))
      .filter(col("concept_id").isNotNull)

  /** Ancestor rollup — how real OMOP users aggregate drugs to classes
    * (e.g. RxNorm ingredients → ATC classes): domain rows join
    * concept_ancestor on descendant = their concept, restricted to
    * ancestors of the requested concept class, then count per ancestor.
    *
    * Plan shape: the hierarchy slice (ancestors of one class) is a small
    * filtered projection → broadcast; the fact table never shuffles on the
    * hierarchy — one hash-agg on ancestor_concept_id whose shuffle is
    * ∝ distinct classes, not rows. */
  def rollupByAncestor(table: DataFrame, conceptCol: String,
                       ancestor: DataFrame, concept: DataFrame,
                       ancestorClassId: String): DataFrame = {
    val classConcepts = concept
      .filter(col("concept_class_id") === ancestorClassId)
      .select(col("concept_id").as("ancestor_concept_id"),
        col("concept_name").as("ancestor_concept_name"))
    val slice = ancestor
      .join(broadcast(classConcepts), Seq("ancestor_concept_id"))
      .select(col("ancestor_concept_id"), col("ancestor_concept_name"),
        col("descendant_concept_id"))
    table
      .join(broadcast(slice),
        col(conceptCol) === col("descendant_concept_id"))
      .groupBy(col("ancestor_concept_id"), col("ancestor_concept_name"))
      .agg(count(lit(1)).as("record_count"),
        countDistinct(col("person_id")).as("person_count"))
  }

  /** The concept code map of one run (J7–J9), for the given (vocabulary,
    * domain) pairs: one row per pair and source code, with the source
    * concept (`source_concept_id`) and the standard concept
    * (`target_concept_id`) the reference's 3-stage UPDATE chain gives it,
    * from three min-aggregates:
    *
    *   1. source concept = the lowest concept id with the code in the
    *      vocabulary (a code carried by several concept rows, e.g. a
    *      valid and a deprecated one, resolves the same way on every
    *      rerun; `loadConcept` drops NULL ids, so none can win);
    *   1. standard concept = the lowest standard concept in the domain
    *      that the source concept `Maps to` (J8);
    *   1. direct match = the lowest standard concept of the domain and
    *      vocabulary with the code itself.
    *
    * The target is the standard concept when it is non-zero, else the
    * direct match, else 0. Each pair also gets one no-match row (NULL
    * `concept_code`) for a NULL or unknown code: source 0, target the
    * `Maps to` standard concept of concept 0 in the domain, else 0. */
  def codeMap(concept: DataFrame, rel: DataFrame,
              pairs: Seq[(String, String)]): DataFrame = {
    val pairRows = concept.sparkSession.createDataFrame(
      java.util.Arrays.asList(pairs.map { case (v, d) => Row(v, d) }: _*),
      new StructType().add("vocabulary_id", "string")
        .add("domain_id", "string"))
    val inVocab = concept.filter(
      col("vocabulary_id").isin(pairs.map(_._1).distinct: _*))
    val source = inVocab.filter(col("concept_code").isNotNull)
      .groupBy(col("vocabulary_id"), col("concept_code"))
      .agg(min(col("concept_id")).as("source_concept_id"))
    val mapsTo = ConceptMap.mapsToStandard(rel, concept)
      .groupBy(col("source_concept_id"), col("domain_id"))
      .agg(min(col("standard_concept_id")).as("__std"))
    val direct = inVocab.filter(col("standard_concept") === "S")
      .groupBy(col("vocabulary_id"), col("domain_id"), col("concept_code"))
      .agg(min(col("concept_id")).as("__direct"))
    val hits = source
      .join(pairRows, Seq("vocabulary_id"))
      .join(mapsTo, Seq("source_concept_id", "domain_id"), "left")
      .join(direct, Seq("vocabulary_id", "domain_id", "concept_code"), "left")
      .select(col("vocabulary_id"), col("domain_id"), col("concept_code"),
        col("source_concept_id"),
        when(col("__std").isNotNull && col("__std") =!= 0L, col("__std"))
          .otherwise(coalesce(col("__direct"), lit(0L)))
          .as("target_concept_id"))
    val misses = pairRows
      .join(mapsTo.filter(col("source_concept_id") === 0L)
        .drop("source_concept_id"), Seq("domain_id"), "left")
      .select(col("vocabulary_id"), col("domain_id"),
        lit(null).cast("string").as("concept_code"),
        lit(0L).as("source_concept_id"),
        coalesce(col("__std"), lit(0L)).as("target_concept_id"))
    hits.unionByName(misses)
  }

  /** A [[codeMap]] ready for [[mapDomain]]: the code rows to join, and the
    * no-match pair of each (vocabulary, domain), collected once. */
  final class CodeMap(codes: DataFrame) {
    val hits: DataFrame = codes.filter(col("concept_code").isNotNull)
    val noMatch: Map[(String, String), (Long, Long)] =
      codes.filter(col("concept_code").isNull)
        .select("vocabulary_id", "domain_id", "source_concept_id",
          "target_concept_id")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
  }

  /** Map one domain table's source codes through the code map: one
    * broadcast left join on the code, and the pair's no-match concepts
    * where the code has no row.
    *
    * @param table          domain rows with `sourceValueCol`
    * @param vocabularyId   e.g. "SNOMED", "RxNorm", "LOINC"
    * @param domainId       e.g. "Condition", "Drug", "Procedure"
    * @return `[sourceValueCol, sourceConceptCol, the other columns of
    *         table…]`, with `targetConceptCol` replaced in place (or
    *         appended when `table` lacks it)
    */
  def mapDomain(table: DataFrame, codes: CodeMap,
                sourceValueCol: String, sourceConceptCol: String,
                targetConceptCol: String, vocabularyId: String,
                domainId: String): DataFrame = {
    val (missSource, missTarget) = codes.noMatch.getOrElse(
      (vocabularyId, domainId), throw new IllegalArgumentException(
        s"the code map has no ($vocabularyId, $domainId) pair"))
    val lookup = codes.hits
      .filter(col("vocabulary_id") === vocabularyId &&
        col("domain_id") === domainId)
      .select(col("concept_code").as(sourceValueCol),
        col("source_concept_id").as("__src"),
        col("target_concept_id").as("__tgt"))
    val target = coalesce(col("__tgt"), lit(missTarget)).as(targetConceptCol)
    val rest = table.columns.toSeq
      .filterNot(Set(sourceValueCol, sourceConceptCol))
      .map(c => if (c == targetConceptCol) target else col(c))
    table.join(broadcast(lookup), Seq(sourceValueCol), "left")
      .select((col(sourceValueCol) +:
        coalesce(col("__src"), lit(missSource)).as(sourceConceptCol) +:
        rest) ++
        (if (table.columns.contains(targetConceptCol)) Nil else Seq(target))
        : _*)
  }
}
