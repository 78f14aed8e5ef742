package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Source/sink format coverage beyond parquet: ORC, JSON-lines, and
  * CSV round-trips with schema and value fidelity. The engine's tables
  * are format-agnostic DataFrames, so each format is just a reader
  * config — these specs pin that none of them silently retype or drop
  * columns (dates→strings, longs→doubles in JSON, etc.). */
class FormatsSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sample = spark.read.parquet(s"$sf/orders.parquet")
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"))

  test("ORC round-trip preserves schema and values exactly") {
    val dir = tmp("graft_orc")
    val src = sample
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("JSON-lines round-trip with explicit schema preserves values") {
    val dir = tmp("graft_json")
    val src = sample
    src.write.mode("overwrite").json(dir)
    // JSON carries no schema: reading with the source schema (the
    // production pattern — never infer on a 100 TB lake) restores types
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("CSV round-trip with explicit schema + header preserves values") {
    val dir = tmp("graft_csv")
    val src = sample
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(src.schema).csv(dir)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("ORC writes are splittable partition-parallel files, not one blob") {
    val dir = tmp("graft_orc_parts")
    sample.repartition(4).write.mode("overwrite").orc(dir)
    val parts = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".orc"))
    assert(parts == 4, s"expected 4 orc part files, got $parts")
  }
}
