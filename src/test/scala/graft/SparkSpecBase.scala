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
}
