package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement core every harness shares (Bench, StagerBench,
  * ScaleProbe, Verify, Explain): one session size, one warm-up, one sink,
  * one release rule and one job/stage/task listener, so two harnesses
  * cannot time or count different things.
  */
object Measure {
  /** `local[N]` cores for every harness session: `SPARK_GRAFT_CPUS`,
    * default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(logLevel: String = "WARN"): SparkSession = {
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Warm the session (JVM, codegen, parquet reader) so cold-start cost
    * is not attributed to whichever query happens to run first. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.range(1000).selectExpr("sum(id % 7)").collect()
  }

  /** Materializes EVERY output column and row. A count() would let
    * ColumnPruning/EliminateSorts strip the very expressions under test,
    * timing a bare parquet scan instead of the operator. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `body`, then unpersists exactly the RDDs persisted during it.
    * Staged intermediates (localCheckpoint / persist) otherwise pile up
    * and later work is measured under earlier work's memory pressure;
    * `Dataset.unpersist` is a no-op for localCheckpoint blocks, so the
    * persistent-RDD delta is the only handle that works for every
    * stager. RDDs persisted before `body` are never touched: a standing
    * localCheckpoint has no lineage to recompute from. Frees through
    * [[org.apache.spark.sql.graft.Storage.unpersist]], which skips the
    * "cannot be recomputed" WARN every freed localCheckpoint would log. */
  def releasing[T](spark: SparkSession, blocking: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
      .values.foreach(org.apache.spark.sql.graft.Storage.unpersist(_, blocking))
  }

  /** Median as the lower-middle order statistic (odd N: the true middle). */
  def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)

  /** Local property naming the key that [[Layers]] charges a job to. */
  private val KeyProperty = "graft.measure.key"
  private val FlushProperty = "graft.measure.flush"
  private val ConstructingProperty = "graft.measure.constructing"

  /** Runs `body` with its jobs charged to `key`. Broadcast and subquery
    * jobs inherit the property through Spark's captured thread locals. */
  def tagged[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(KeyProperty, key)
    try body finally sc.setLocalProperty(KeyProperty, null)
  }

  /** Runs `body`, the construction of a frame, with its jobs marked as
    * construction: the jobs stagers run before the frame exists. */
  def constructing[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ConstructingProperty, "1")
    try body finally sc.setLocalProperty(ConstructingProperty, null)
  }

  /** A completed stage; `name` is its call site, followed by its job's
    * description when one was set, and `cons` marks a stage of a job
    * started under [[constructing]]. */
  final case class Stage(id: Int, ms: Long, tasks: Int, name: String, cons: Boolean)

  /** One key's executed work: its job count, every completed stage (wall
    * from submission to completion) and the summed task run time. */
  final case class Cost(jobs: Int, stages: Vector[Stage], taskMs: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def stageMs: Long = stages.map(_.ms).sum
    /** Stage wall of the jobs started while the frame was constructed. */
    def consStageMs: Long = stages.filter(_.cons).map(_.ms).sum
  }

  /** Registers a [[Layers]] listener on the session's context. */
  def listen(spark: SparkSession): Layers = {
    val l = new Layers
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Charges jobs, stages and tasks to the [[tagged]] key their job was
    * submitted under; untagged jobs are ignored. */
  final class Layers extends SparkListener {
    private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val stageKey = mutable.Map.empty[Int, String]
    /** Per stage: its job's description and whether it ran in construction. */
    private val stageJob = mutable.Map.empty[Int, (Option[String], Boolean)]
    private val stages = mutable.Map.empty[String, Vector[Stage]]
      .withDefaultValue(Vector.empty)
    private val taskMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    @volatile private var flushed = new CountDownLatch(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(FlushProperty) != null)) flushed.countDown()
      else props.flatMap(p => Option(p.getProperty(KeyProperty))).foreach { k =>
        val job = (props.flatMap(p => Option(p.getProperty(graft.core.Jobs.DescriptionProperty))),
          props.exists(_.getProperty(ConstructingProperty) != null))
        synchronized {
          jobs(k) += 1
          e.stageIds.foreach { id => stageKey(id) = k; stageJob(id) = job }
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stageKey.get(i.stageId).foreach { k =>
        val ms = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
          .getOrElse(0L)
        val (description, cons) = stageJob.getOrElse(i.stageId, (None, false))
        val callSite = i.name.takeWhile(_ != '\n')
        stages(k) :+= Stage(i.stageId, ms, i.numTasks,
          description.fold(callSite)(d => s"$callSite [$d]"), cons)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized {
        stageKey.get(e.stageId).foreach(k => taskMs(k) += e.taskMetrics.executorRunTime)
      }

    /** Returns the cost charged to each key since the last drain, and
      * forgets it. The listener bus is asynchronous, so a marker job runs
      * first: once its start event arrives, every earlier event has been
      * delivered. One drain per batch of keys keeps the wait out of any
      * timed region. */
    def drain(spark: SparkSession): Map[String, Cost] = {
      val sc = spark.sparkContext
      val latch = new CountDownLatch(1)
      flushed = latch
      sc.setLocalProperty(FlushProperty, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(FlushProperty, null)
      require(latch.await(60, TimeUnit.SECONDS), "listener bus never delivered the flush marker")
      synchronized {
        val out = jobs.keys.map(k => k -> Cost(jobs(k), stages(k), taskMs(k))).toMap
        jobs.clear(); stageKey.clear(); stageJob.clear(); stages.clear(); taskMs.clear()
        out
      }
    }
  }
}
