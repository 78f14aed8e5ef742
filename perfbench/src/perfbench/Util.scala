package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Input checks that start no Spark job, so that set-up measures the
  * session and the inputs rather than the first jobs' warm-up. */
object Inputs {
  /** Row count of a parquet file or directory, from the footers. */
  def parquetRows(path: File, conf: org.apache.hadoop.conf.Configuration): Long = {
    val files =
      if (path.isDirectory) path.listFiles.filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(path)
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The part files of a CSV directory written with a header per file. */
  def csvParts(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".csv")).sortBy(_.getName)

  /** Data lines (header excluded) of a CSV directory. */
  def csvRows(dir: File): Long = csvParts(dir).map { f =>
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try math.max(0, src.getLines().size - 1) finally src.close()
  }.sum

  /** Distinct values of one column of a CSV directory. Fields are split on
    * commas outside double quotes. */
  def csvColumn(dir: File, column: String): Set[String] = csvParts(dir).flatMap { f =>
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try {
      val lines = src.getLines()
      if (!lines.hasNext) Nil
      else {
        val i = split(lines.next()).indexOf(column)
        require(i >= 0, s"$f has no column $column")
        lines.map(l => split(l)(i)).toList
      }
    } finally src.close()
  }.toSet

  private def split(line: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    for (c <- line) c match {
      case '"' => quoted = !quoted
      case ',' if !quoted => out += cur.result(); cur.clear()
      case _ => cur += c
    }
    (out += cur.result()).result()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON rendering for the result line and the trace record, and
  * reading of the committed expectation files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(render(v)) finally w.close()
  }

  def read(f: File): JsonNode = new ObjectMapper().readTree(f)

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
}
