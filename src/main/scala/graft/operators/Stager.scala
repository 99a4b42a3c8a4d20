package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.core.TableGraph

/** Strategy for materializing a multiply-consumed intermediate EXACTLY once.
  *
  * Several operators (minhash dedup most of all) build an intermediate that
  * feeds 3+ consumers; Catalyst's column pruning specializes each copy of
  * the subtree, defeating ReuseExchange, so without an explicit
  * materialization the whole upstream recomputes per consumer. HOW to
  * materialize is a deployment decision, not an operator argument:
  * operators stage through [[Stager.stage]] and free through
  * [[Stager.release]], which use the calling thread's current stager, and
  * a caller picks that stager for a block of work with [[Stager.using]]:
  *
  *  - [[Stager.LocalCheckpoint]] (default): in-memory/disk checkpoint.
  *    Fast (the cut keeps the downstream plans small), but it TRUNCATES
  *    LINEAGE: on a real cluster a lost executor cannot recompute its
  *    blocks and the job dies. Right where re-running the job is an
  *    acceptable recovery.
  *  - [[Stager.Parquet]]: stage through the [[TableGraph]] warehouse
  *    (durable storage — HDFS/S3 on a cluster). The cluster-safe mode:
  *    lineage restarts from the staged files, any executor can re-read
  *    them, and the staged table participates in graph lineage/TTL.
  *    `Stager.using(Stager.Parquet(graph)) { ... }` stages every operator
  *    called inside the block there.
  *
  * [[Stager.recording]] hands a caller an idempotent release for exactly
  * the stages made inside its block (`Curation.curateStaged` is one).
  *
  * Contract: [[stage]] MATERIALIZES before it returns (DupClusters'
  * convergence Observation rides that action; [[Stager.Rounds]] frees
  * round k-1 once round k is staged; [[Dedup.spreadStaged]] reads the
  * staged partition count as metadata), and [[release]] frees the storage
  * of one frame [[stage]] returned, and nothing else in the session.
  */
trait Stager {
  /** Materialize `df` and return an equivalent DataFrame that consumers
    * can scan repeatedly without recomputing `df`'s plan. */
  def stage(df: DataFrame, name: String): DataFrame

  /** Free the storage of `staged`, a frame this stager's [[stage]]
    * returned under `name`. */
  def release(staged: DataFrame, name: String): Unit
}

object Stager {

  /** Local checkpoint (lineage-truncating — local mode / tests). */
  object LocalCheckpoint extends Stager {
    override def stage(df: DataFrame, name: String): DataFrame = df.localCheckpoint()

    /** Frees the blocks of the checkpointed RDD at the root of the staged
      * plan (`Dataset.unpersist` is a no-op for checkpoint blocks, and
      * `RDD.unpersist` warns on every locally checkpointed RDD). */
    override def release(staged: DataFrame, name: String): Unit =
      staged.queryExecution.logical match {
        case r: LogicalRDD => org.apache.spark.sql.graft.Storage.unpersist(r.rdd, blocking = false)
        case other => throw new IllegalArgumentException(
          s"release: '$name' is not a local checkpoint (plan root ${other.nodeName})")
      }
  }

  /** Durable parquet staging through the TableGraph warehouse. */
  final case class Parquet(graph: TableGraph) extends Stager {
    override def stage(df: DataFrame, name: String): DataFrame = {
      graph.addTable(name, df, metadata = Map("role" -> "stage"))
      graph.getTable(df.sparkSession, name)
        .getOrElse(sys.error(s"stage $name vanished from the graph"))
    }
    override def release(staged: DataFrame, name: String): Unit = graph.dropStage(name)
  }

  /** One stage, freed at most once through the stager that made it (every
    * enclosing [[recording]] holds the same entry). */
  private final class Staged(val df: DataFrame, val name: String, val by: Stager) {
    private var live = true
    def free(): Unit = synchronized {
      if (live) { live = false; by.release(df, name) }
    }
  }

  /** The stages one [[recording]] block made. */
  private final class Recorder {
    private val staged = scala.collection.mutable.ListBuffer[Staged]()
    def add(s: Staged): Unit = synchronized { staged += s }
    def find(df: DataFrame, name: String): Option[Staged] = synchronized {
      staged.find(s => s.df.eq(df) && s.name == name)
    }
    def release(): Unit = synchronized { staged.foreach(_.free()); staged.clear() }
  }

  /** A thread's staging scope: its stager and its open recordings. */
  private final case class Scope(stager: Stager, recorders: List[Recorder])

  private val scope = ThreadLocal.withInitial[Scope](() => Scope(LocalCheckpoint, Nil))

  private def within[T](f: Scope => Scope)(body: => T): T = {
    val outer = scope.get
    scope.set(f(outer))
    try body finally scope.set(outer)
  }

  /** Stage `df` through the calling thread's current stager; every open
    * [[recording]] records the stage. */
  def stage(df: DataFrame, name: String): DataFrame = {
    val s = scope.get
    val out = s.stager.stage(df, name)
    val entry = new Staged(out, name, s.stager)
    s.recorders.foreach(_.add(entry))
    out
  }

  /** Free `staged`, a frame [[stage]] returned under `name`: through the
    * stager that made it when an open [[recording]] holds it (which then
    * does not free it again), else through the current stager. */
  def release(staged: DataFrame, name: String): Unit = {
    val s = scope.get
    s.recorders.view.flatMap(_.find(staged, name)).headOption match {
      case Some(entry) => entry.free()
      case None => s.stager.release(staged, name)
    }
  }

  /** Run `body` with `stager` as the calling thread's current stager. */
  def using[T](stager: Stager)(body: => T): T =
    within(_.copy(stager = stager))(body)

  /** Run `body` and return its result with an idempotent release of every
    * stage made inside it, each through the stager that made it — never
    * storage of concurrent work or other callers' stage tables. Invoke the
    * release AFTER materializing the result. */
  def recording[T](body: => T): (T, () => Unit) = {
    val rec = new Recorder
    val out = within(s => s.copy(recorders = rec :: s.recorders))(body)
    (out, () => rec.release())
  }

  /** The rounds of an iterative loop: [[next]] stages round k, then
    * releases round k-1 — [[stage]] has materialized round k, so nothing
    * reads round k-1 again and at most two rounds are live, whatever the
    * round count. [[release]] frees the last round. Rounds stage through
    * the stager that was current when the loop was built. */
  final class Rounds {
    private val stager = scope.get.stager
    private var last: Option[(DataFrame, String)] = None

    def next(df: DataFrame, name: String): DataFrame = {
      val out = using(stager)(Stager.stage(df, name))
      release()
      last = Some((out, name))
      out
    }

    def release(): Unit = {
      last.foreach { case (s, n) => using(stager)(Stager.release(s, n)) }
      last = None
    }
  }
}
