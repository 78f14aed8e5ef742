package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.ConceptMap

/** Reference for [[Vocab.codeMap]] + [[Vocab.mapDomain]]: the 3-stage
  * chain applied to one domain table, each stage a deduped broadcast
  * lookup and a left join + coalesce. The code-map path must equal it row
  * for row and column for column. Only specs use it.
  */
object VocabReference {

  /** Apply the 3-stage mapping to one domain table.
    *
    * @param table          domain rows with `sourceValueCol` and the two
    *                       concept columns pre-initialized to 0
    * @param vocabularyId   e.g. "SNOMED", "RxNorm", "LOINC"
    * @param domainId       e.g. "Condition", "Drug", "Procedure"
    */
  def mapDomain(table: DataFrame, concept: DataFrame, rel: DataFrame,
                sourceValueCol: String, sourceConceptCol: String,
                targetConceptCol: String, vocabularyId: String,
                domainId: String): DataFrame = {
    // stage 1: source concept by exact code in the vocabulary.
    // Lookup dedup is firstRowPerGroup with a concept-id tiebreak, NOT
    // dropDuplicates: a code carried by several concept rows (e.g. a
    // valid and a deprecated concept sharing the code) would otherwise
    // resolve to whichever row a partition delivered first — concept
    // assignments flipping between reruns, against the pipeline's
    // byte-stable contract. Same below for the Maps-to and direct-code
    // tiers.
    val byCode = concept
      .filter(col("vocabulary_id") === vocabularyId)
      .select(col("concept_code").as(sourceValueCol),
        col("concept_id").as("__src_concept"))
    val s1 = table
      .join(broadcast(graft.ops.Dedup.firstRowPerGroup(byCode,
          Seq(col(sourceValueCol)), Seq(col("__src_concept").asc))),
        Seq(sourceValueCol), "left")
      .withColumn(sourceConceptCol, coalesce(col("__src_concept"), lit(0L)))
      .drop("__src_concept")

    // stage 2: standard concept via Maps-to traversal from the source
    // concept (J8)
    val mapsTo = ConceptMap.mapsToStandard(rel, concept)
      .filter(col("domain_id") === domainId)
      .select(col("source_concept_id").as(sourceConceptCol),
        col("standard_concept_id").as("__std_concept"))
    val s2 = s1
      .join(broadcast(graft.ops.Dedup.firstRowPerGroup(mapsTo,
          Seq(col(sourceConceptCol)), Seq(col("__std_concept").asc))),
        Seq(sourceConceptCol), "left")
      .withColumn(targetConceptCol, coalesce(col("__std_concept"), lit(0L)))
      .drop("__std_concept")

    // stage 3: fallback direct standard-code match for still-unmapped rows
    val standardByCode = concept
      .filter(col("vocabulary_id") === vocabularyId &&
        col("standard_concept") === "S" && col("domain_id") === domainId)
      .select(col("concept_code").as(sourceValueCol),
        col("concept_id").as("__direct_concept"))
    s2.join(broadcast(graft.ops.Dedup.firstRowPerGroup(standardByCode,
          Seq(col(sourceValueCol)), Seq(col("__direct_concept").asc))),
        Seq(sourceValueCol), "left")
      .withColumn(targetConceptCol,
        when(col(targetConceptCol) === 0,
          coalesce(col("__direct_concept"), lit(0L)))
          .otherwise(col(targetConceptCol)))
      .drop("__direct_concept")
  }
}
