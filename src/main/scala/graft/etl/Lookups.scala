package graft.etl

/** Demographic concept lookups (SURVEY.md §2.1 S9), values verbatim from
  * the reference (python/enhanced_synthea_to_omop.py:585-625;
  * sql/staging/synthea-omop-staging.sql:55-79), keyed by the lower-case
  * source value. The reference's tables list each key in upper and lower
  * case with one concept; [[Domains.person]] looks up the lower-cased
  * source value as a map literal. */
object Lookups {

  val gender: Map[String, Long] = Map(
    "m" -> 8507L, "f" -> 8532L, "male" -> 8507L, "female" -> 8532L)

  val race: Map[String, Long] = Map(
    "white" -> 8527L, "black" -> 8516L, "asian" -> 8515L,
    "native" -> 8657L, "other" -> 8522L)

  val ethnicity: Map[String, Long] = Map(
    "hispanic" -> 38003563L, "nonhispanic" -> 38003564L)
}
