package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def testdata(sf: String, table: String): DataFrame =
    spark.read.parquet(s"/root/testdata/$sf/$table.parquet")

  /** Runs `body` with session conf `key` set to `value`, then restores
    * the previous setting, so no later suite in the JVM inherits it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
