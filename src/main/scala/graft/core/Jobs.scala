package graft.core

import org.apache.spark.sql.SparkSession

/** Spark job labels for the engine's own steps. */
object Jobs {
  /** The local property Spark keeps a job description in. */
  val DescriptionProperty = "spark.job.description"

  /** Runs `body` with `description` as the job description of every job it
    * starts, then restores the caller's, so a listener can tell which
    * catalog or chain step a job belongs to. Jobs started on broadcast and
    * query-stage threads inherit it through Spark's captured thread
    * locals. */
  def described[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(DescriptionProperty)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(DescriptionProperty, previous)
  }
}
