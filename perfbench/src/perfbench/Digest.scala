package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a DataFrame: the row count plus
  * Σ pmod(xxhash64(row), p). Evaluating it is one action that reads every
  * column, so a timed digest cannot be shortened by column pruning the way
  * a bare `count()` can.
  *
  * Values are canonicalized before hashing so that equal results hash
  * equally: -0.0 becomes 0.0, every NaN hashes as the one canonical NaN,
  * map columns (which xxhash64 rejects) become key-sorted entry arrays,
  * and each top-level column carries an is-null flag, so `(null, 1)` and
  * `(1, null)` do not collide. */
object Digest {

  final case class Result(rows: Long, digest: Long)

  /** Largest prime below 2^32: a sum of up to 2^31 residues fits a long. */
  private val P = 4294967291L

  def of(df: DataFrame): Result = {
    val cols = df.schema.fields.toSeq.flatMap { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      Seq(canonical(c, f.dataType), c.isNull)
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(P))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Result(r.getLong(0), r.getLong(1))
  }

  def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType => when(c === lit(0.0), lit(0.0)).otherwise(c)
    case FloatType => when(c === lit(0.0f), lit(0.0f)).otherwise(c)
    case ArrayType(et, _) if needsWork(et) => transform(c, x => canonical(x, et))
    case StructType(fs) if fs.exists(f => needsWork(f.dataType)) =>
      when(c.isNull, lit(null).cast(canonicalType(t))).otherwise(struct(
        fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(map_entries(transform_values(
        transform_keys(c, (k, _) => canonical(k, kt)),
        (_, v) => canonical(v, vt))))
    case _ => c
  }

  private def needsWork(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsWork(et)
    case StructType(fs) => fs.exists(f => needsWork(f.dataType))
    case _ => false
  }

  private def canonicalType(t: DataType): DataType = t match {
    case ArrayType(et, n) => ArrayType(canonicalType(et), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = canonicalType(f.dataType))))
    case MapType(kt, vt, _) => ArrayType(StructType(Seq(
      StructField("key", canonicalType(kt), nullable = false),
      StructField("value", canonicalType(vt)))))
    case other => other
  }
}
