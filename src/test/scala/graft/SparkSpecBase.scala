package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. One JVM-wide session (getOrCreate) keeps
  * the suite fast; each spec only reads, never mutates, global state
  * (`gateOff` sets one session conf key and restores it). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with every driver-side twin's size gate off
    * ([[graft.core.LocalGate]]), restoring the session conf after. The
    * twins probe when called, so `body` must call them inside. */
  def gateOff[T](body: => T): T = {
    val key = graft.core.LocalGate.EnabledKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `got` equals `want`: the same column names and types in the same
    * order, and the same rows as a multiset (exceptAll both ways), with
    * doubles compared by their bits. */
  def assertSameRows(got: org.apache.spark.sql.DataFrame,
                     want: org.apache.spark.sql.DataFrame): Unit = {
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    assert(cols(got) == cols(want))
    def canon(x: Any): Any = x match {
      case d: Double => ("double bits", java.lang.Double.doubleToLongBits(d))
      case r: org.apache.spark.sql.Row => r.toSeq.map(canon)
      case other => other
    }
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(canon).groupBy(identity).view
        .mapValues(_.size).toMap
    val (g, w) = (bag(got), bag(want))
    assert(g == w, s"\nonly got: ${g.toSet -- w.toSet}" +
      s"\nonly want: ${w.toSet -- g.toSet}")
  }
}
