package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Bronze-layer ingest (SURVEY.md §2.1 S1–S5).
  *
  * The reference COPYs headered CSVs into all-TEXT tables whose schema is
  * derived from the header row (python/enhanced_synthea_to_omop.py:692-730,
  * :698-706) and pre-repairs malformed rows with a heuristic re-parser
  * (python/preprocess_synthea_csv.py:155-230). Spark-first: the header is
  * read once on the driver (one small file-head read, not a full pass),
  * the schema is explicit all-StringType — never inference, because typing
  * semantics are regex-guarded downstream — and repair runs per-partition
  * over spark.read.text, so a 100 TB CSV drop repairs in parallel.
  */
object Ingest {

  /** The CSV's header line: one small Spark job. Through the Spark reader,
    * not `FileSystem.open`, because a CSV written by Spark (SyntheaGen's
    * corpus) is a directory of part files. */
  private def headerLine(spark: SparkSession, path: String): String =
    spark.read.text(path).head().getString(0)

  /** S2: all-string schema from the CSV header line. */
  def headerSchema(header: String): StructType =
    StructType(header.split(",", -1).map(c =>
      StructField(c.trim, StringType, nullable = true)))

  /** S1: header-driven all-TEXT CSV read (COPY equivalent). */
  def readAllString(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", true)
      .schema(headerSchema(headerLine(spark, path)))
      .csv(path)

  /** S3: malformed-row repair, the reference's only true row-level
    * function. Rows whose field count ≠ ncols are fixed per-partition:
    * too few fields → pad with NULLs; too many → the overflow is merged
    * into the LAST base field (the reference sniffs UUID prefixes to
    * decide the merge point, preprocess_synthea_csv.py:155-230; the
    * trailing-merge covers its dominant case of unquoted commas in
    * free-text description columns). Quoted fields are honored. An
    * unquoted empty field is NULL, as [[readAllString]] and the
    * reference's COPY read it; a quoted `""` is the empty string, as COPY
    * reads it (Spark's CSV reader reads NULL there too). */
  def readRepaired(spark: SparkSession, path: String): DataFrame = {
    val header = headerLine(spark, path)
    val schema = headerSchema(header)
    val n = schema.fields.length
    import spark.implicits._
    val repaired = spark.read.textFile(path)
      .filter(_ != header)
      .mapPartitions { lines =>
        lines.map { line =>
          val fields = splitCsv(line)
          val fixed =
            if (fields.length == n) fields
            else if (fields.length < n)
              fields ++ Array.fill[String](n - fields.length)(null)
            else
              fields.take(n - 1) :+
                fields.drop(n - 1).map(f => if (f == null) "" else f)
                  .mkString(",")
          fixed
        }
      }
    spark.createDataFrame(
      repaired.rdd.map(org.apache.spark.sql.Row.fromSeq(_)),
      StructType(schema.fields.map(_.copy(nullable = true))))
  }

  /** Minimal RFC-4180-ish splitter honoring double quotes. An unquoted
    * empty field is NULL; a quoted one is the empty string. */
  private[etl] def splitCsv(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var quoted = false
    def endField(): Unit = {
      out += (if (cur.isEmpty && !quoted) null else cur.result())
      cur.clear(); quoted = false
    }
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') {
        if (inQ && i + 1 < line.length && line.charAt(i + 1) == '"') {
          cur.append('"'); i += 1
        } else { inQ = !inQ; quoted = true }
      } else if (c == ',' && !inQ) endField()
      else cur.append(c)
      i += 1
    }
    endField()
    out.toArray
  }

  /** S5: OMOP vocabulary TSV load (enhanced_vocabulary_loader.py:463-560). */
  def readVocabTsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", true)
      .option("delimiter", "\t")
      .csv(path)
}
