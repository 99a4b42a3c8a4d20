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

  /** `body`'s result and the Spark jobs it started, counted by a
    * [[Measure.Layers]] listener (flushed by its marker job). */
  def withJobs[T](body: => T): (T, Measure.Cost) = {
    val layers = Measure.listen(spark)
    try {
      val out = Measure.tagged(spark, "body")(body)
      (out, layers.drain(spark).getOrElse("body", Measure.Cost(0, Vector.empty, 0L)))
    } finally spark.sparkContext.removeSparkListener(layers)
  }

  def jobsOf[T](body: => T): Int = withJobs(body)._2.jobs

  /** The WARN-or-worse messages that loggers under `logger` (a logger
    * name or package prefix) emit while `body` runs. */
  def warnings(logger: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"spec-warnings-$logger", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val loggerConfig = new LoggerConfig(logger, Level.WARN, false)
    loggerConfig.addAppender(appender, null, null)
    config.addLogger(logger, loggerConfig)
    ctx.updateLoggers()
    try body
    finally {
      config.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
    warns.toArray(Array.empty[String]).toSeq
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
