package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval on the epoch-microsecond clock. */
final case class Span(op: Int, name: String, parent: String, startUs: Long, endUs: Long) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** Epoch-microsecond clock with nanoTime resolution, so benchmark spans and
  * Spark's epoch-millisecond listener timestamps share one axis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = baseUs + System.nanoTime() / 1000L
}

/** Span recorder and Spark listeners for a traced run.
  *
  * Spans of one op share an op id. The benchmark's own calls are recorded
  * with [[span]]; Spark work is read from the public listener APIs:
  *  - jobs carry the op id as the local property [[OpProperty]], and each
  *    stage and task is attributed to the op of the job that submitted it;
  *  - a job's call site (its first stage's name and stack, or for jobs AQE
  *    submits from its own threads the call site of the job's SQL
  *    execution) names the source file that triggered it, which attributes
  *    the job to a graft operator module;
  *  - a [[QueryExecutionListener]] reads the analysis / optimization /
  *    planning phases of `qe.tracker` and counts the executed plan's
  *    exchanges; a query belongs to the op whose window holds its phases.
  * Everything stays in memory until the run writes its result.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack = List.empty[String]
  private var curOp = -1

  // listener-side records
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentLinkedQueue[(Int, String, Long)]()
  private val stages = new ConcurrentLinkedQueue[(Int, StageRec)]()
  private val tasks = new ConcurrentLinkedQueue[(Int, TaskRec)]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val jobsStarted = new AtomicLong(0)
  private val jobsEnded = new AtomicLong(0)
  private val lastEventUs = new AtomicLong(Clock.nowUs)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet(); lastEventUs.set(Clock.nowUs)
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(OpProperty))).foreach { op =>
        // the stage name is the call site of an eagerly triggered job; jobs
        // that AQE submits from its own threads inherit the call site of
        // their SQL execution, whose action ran on the op's thread
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execModule.get(id.toLong)))
        val module = e.stageInfos.headOption.map(s => moduleOf(s.name, s.details))
          .filter(_ != "other").orElse(exec).getOrElse("other")
        e.stageIds.foreach(id => stageOp.put(id, (op.toInt, module)))
        jobs.add((op.toInt, module, e.time * 1000L))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execModule.put(x.executionId, moduleOf(x.description, x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet(); lastEventUs.set(Clock.nowUs)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventUs.set(Clock.nowUs)
      val i = e.stageInfo
      Option(stageOp.get(i.stageId)).foreach { case (op, module) =>
        for (s <- i.submissionTime; c <- i.completionTime)
          stages.add((op, StageRec(module, s * 1000L, c * 1000L)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventUs.set(Clock.nowUs)
      val m = e.taskMetrics
      if (m != null) Option(stageOp.get(e.stageId)).foreach { case (op, _) =>
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        tasks.add((op, TaskRec(e.taskInfo.finishTime * 1000L, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          read == 0 && written == 0)))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      lastEventUs.set(Clock.nowUs)
      val phases = qe.tracker.phases.toSeq.collect {
        case (name, p) if PlanPhases.contains(name) => (name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      val (sh, bc) = try exchanges(qe.executedPlan) catch { case _: Throwable => (0, 0) }
      if (phases.nonEmpty) queries.add(QueryRec(phases, sh, bc))
    }
  }

  /** Start recording Spark events (untraced passes run with no listener). */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the asynchronous listener buses have delivered every event
    * of the finished ops, then stop recording. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while ((jobsEnded.get < jobsStarted.get || Clock.nowUs - lastEventUs.get < 400000L) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def beginOp(op: Int): Unit = {
    curOp = op
    spark.sparkContext.setLocalProperty(OpProperty, op.toString)
  }

  def endOp(): Unit = {
    spark.sparkContext.setLocalProperty(OpProperty, null)
    curOp = -1
  }

  /** Record `f` as a span of the current op, nested under the open span. */
  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = Clock.nowUs
    try f
    finally {
      stack = stack.tail
      if (curOp >= 0) spans.add(Span(curOp, name, parent, t0, Clock.nowUs))
    }
  }

  /** Everything recorded for one op window: the benchmark's spans plus the
    * Spark jobs, stages, tasks and planning phases attributed to it. Event
    * times are milliseconds, so the window is widened by one. */
  def opRecord(op: Int, startUs: Long, endUs: Long): OpRecord = {
    def in(t: Long) = t >= startUs - 1000L && t <= endUs + 1000L
    OpRecord(
      spans.asScala.filter(x => x.op == op && in(x.startUs)).toSeq,
      jobs.asScala.collect { case (`op`, m, t) if in(t) => m }.toSeq,
      stages.asScala.collect { case (`op`, st) if in(st.startUs) => st }.toSeq,
      tasks.asScala.collect { case (`op`, t) if in(t.finishUs) => t }.toSeq,
      queries.asScala.filter(_.phases.forall { case (_, a, b) => in(a) && in(b) }).toSeq)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

final case class TaskRec(finishUs: Long, runMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, empty: Boolean)
final case class StageRec(module: String, startUs: Long, endUs: Long)
final case class QueryRec(phases: Seq[(String, Long, Long)], shuffles: Int, broadcasts: Int)
final case class OpRecord(spans: Seq[Span], jobs: Seq[String], stages: Seq[StageRec],
    tasks: Seq[TaskRec], queries: Seq[QueryRec])

object Trace {
  val OpProperty = "perfbench.op"
  val PlanPhases = Set("analysis", "optimization", "planning")
  /** Operator modules whose jobs are attributed by call site; every other
    * file (the benchmark's sink, registry code, Spark internals) is "other". */
  val Modules = Seq("Curation", "Dedup", "DupClusters", "Decontaminate", "Mixture",
    "Splits", "Packing", "Stager")

  /** The operator module of a call site: the innermost operator frame other
    * than Stager, reading the short form ("count at Curation.scala:88") and
    * then the long form (a stack trace); else Stager, when the registry
    * staged a frame directly; else "other". Taking Stager's own frame put
    * 39 of p233's 46 jobs under Stager, since most operators stage. */
  def moduleOf(short: String, long: String): String = {
    val file = """([A-Za-z0-9_$]+)\.scala""".r
    val frames = (file.findFirstMatchIn(short) ++ file.findAllMatchIn(long))
      .map(_.group(1)).filter(Modules.contains).toSeq
    frames.find(_ != "Stager").orElse(frames.headOption).getOrElse("other")
  }

  /** (shuffle, broadcast) exchange count of an executed plan, looking
    * through adaptive wrappers, query stages and subqueries. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var sh = 0
    var bc = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case e: ShuffleExchangeLike => sh += 1; e.children.foreach(walk)
      case e: BroadcastExchangeLike => bc += 1; e.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (sh, bc)
  }

  /** Total length of the union of intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = merge(iv).map { case (a, b) => b - a }.sum

  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    for ((a, b) <- iv.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** Length of `iv` not covered by `cover`. */
  def exclusiveUs(iv: Seq[(Long, Long)], cover: Seq[(Long, Long)]): Long = {
    val a = merge(iv)
    unionUs(a) - unionUs(intersect(a, merge(cover)))
  }

  private def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for {
      (x1, x2) <- a
      (y1, y2) <- b
      lo = math.max(x1, y1)
      hi = math.min(x2, y2)
      if hi > lo
    } yield (lo, hi)
}
