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
  * materialize is a deployment decision, so it is pluggable:
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
  *
  * Contract: [[stage]] MATERIALIZES before it returns (DupClusters'
  * convergence Observation rides that action; [[Rounds]] frees round k-1
  * once round k is staged; [[Dedup.spreadStaged]] reads the staged
  * partition count as metadata), and [[release]] frees the storage of one
  * frame [[stage]] returned, and nothing else in the session.
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

    /** Unpersists the checkpointed RDD at the root of the staged plan
      * (`Dataset.unpersist` is a no-op for checkpoint blocks). */
    override def release(staged: DataFrame, name: String): Unit =
      staged.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
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

  /** Delegating wrapper that records every `(staged, name)` it creates, so
    * a caller (Curation.curateStaged) frees exactly its own stages with one
    * [[release]]() — never storage of concurrent work in the same session
    * or other callers' Parquet stage tables. */
  final class Recording(underlying: Stager) extends Stager {
    private val staged = scala.collection.mutable.ListBuffer[(DataFrame, String)]()

    override def stage(df: DataFrame, name: String): DataFrame = synchronized {
      val out = underlying.stage(df, name)
      staged += ((out, name))
      out
    }

    override def release(df: DataFrame, name: String): Unit = synchronized {
      staged.filterInPlace { case (s, n) => !(s.eq(df) && n == name) }
      underlying.release(df, name)
    }

    /** Release everything staged through this wrapper (idempotent). */
    def release(): Unit = synchronized {
      staged.foreach { case (s, n) => underlying.release(s, n) }
      staged.clear()
    }
  }

  /** The rounds of an iterative loop: [[next]] stages round k, then
    * releases round k-1 — [[stage]] has materialized round k, so nothing
    * reads round k-1 again and at most two rounds are live, whatever the
    * round count. [[release]] frees the last round. */
  final class Rounds(stager: Stager) {
    private var last: Option[(DataFrame, String)] = None

    def next(df: DataFrame, name: String): DataFrame = {
      val out = stager.stage(df, name)
      release()
      last = Some((out, name))
      out
    }

    def release(): Unit = {
      last.foreach { case (s, n) => stager.release(s, n) }
      last = None
    }
  }
}
