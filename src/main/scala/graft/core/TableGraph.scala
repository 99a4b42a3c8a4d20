package graft.core

import java.nio.file.Paths
import java.time.Instant
import org.apache.hadoop.fs.{Path => HPath}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** One lineage edge (reference: magictables/magictablechain.py:5-23 —
  * 8 fields, JSON round-trip at :35-59). chainType is "api_chain" or
  * "transform", exactly the two the reference emits.
  */
case class ChainRecord(
    sourceTable: String,
    apiResultTable: String,
    mergedResultTable: String,
    chainType: String,
    sourceKey: String,
    targetKey: String,
    metadata: Map[String, String],
    createdAt: Instant) {
  def toJsonValue: Map[String, Any] = Map(
    "source_table" -> sourceTable,
    "api_result_table" -> apiResultTable,
    "merged_result_table" -> mergedResultTable,
    "chain_type" -> chainType,
    "source_key" -> sourceKey,
    "target_key" -> targetKey,
    "metadata" -> metadata,
    "created_at" -> createdAt.toString)
}

/** Catalog node: table metadata only — the payload lives as Parquet in the
  * warehouse. The reference serializes the ENTIRE DataFrame into the graph
  * node and dill-pickles the whole graph on every mutation
  * (tablegraph.py:29,33,120-123) — at 100 TB that design is fatal, so here
  * the graph holds paths + metadata and data is written once at
  * registration.
  *
  * `schema` is the written frame's schema made nullable — what
  * `spark.read.parquet` would infer from the footer — so a read needs no
  * footer job. It is None only for a node loaded from a checkpoint written
  * before schemas were recorded.
  */
case class TableNode(
    name: String,
    path: String,
    createdAt: Instant,
    rowCount: Long,
    sourceInfo: Seq[Map[String, Any]],
    metadata: Map[String, String],
    schema: Option[StructType]) {
  /** The recorded schema, or the footer's for a node without one (one
    * Spark job): the catalog's only schema-inference site. */
  def schemaIn(spark: SparkSession): StructType =
    schema.getOrElse(spark.read.parquet(path).schema)
}

/** Lineage graph + three-level memo cache (reference: tablegraph.py).
  *  1. source cache: key = Source.getId           (magictable.py:58-63)
  *  2. transform-code cache: key = s"${table}_$q" (magictable.py:150-152)
  *  3. chain caches: whole-chain result (1h TTL, tablegraph.py:17,91-97)
  *     and per-URL responses (magictable.py:355-366).
  * Metadata checkpoints to warehouse/_graph.json once per mutating call:
  * MagicTable applies each public call's mutations in one [[batch]], so a
  * call writes the file at most once. Payloads are Parquet under
  * warehouse/<tableName>; each node records the payload's schema, so every
  * read ([[getTable]]) is planned without a footer job. The clock is
  * injectable for TTL tests (C14).
  */
class TableGraph(
    val warehouseDir: String,
    val cacheExpiry: java.time.Duration = java.time.Duration.ofHours(1),
    val clock: () => Instant = () => Instant.now()) extends Serializable {

  private val nodes = mutable.LinkedHashMap.empty[String, TableNode]
  private val chains = mutable.ArrayBuffer.empty[ChainRecord]
  /** NL-transform compilation cache: s"${table}_$query" -> compiled plan
    * description (the reference caches generated code strings). Mutate via
    * [[putTransformation]] so the checkpoint stays in sync. */
  val transformations = mutable.LinkedHashMap.empty[String, String]

  def putTransformation(key: String, describe: String): Unit = synchronized {
    transformations.put(key, describe)
    checkpoint()
  }

  /** Nesting depth of open [[batch]]es, and whether one of them mutated. */
  private var batches = 0
  private var dirty = false
  /** `_graph.json` writes so far: each one is a temp create plus an
    * overwrite-rename, tens of milliseconds on a local disk. */
  @volatile private var writes = 0L
  def checkpointWrites: Long = writes

  /** Runs `body` with its mutations checkpointed once, when the outermost
    * batch ends (also when `body` throws, so the file always matches the
    * graph in memory). */
  private[core] def batch[T](body: => T): T = synchronized {
    batches += 1
    try body
    finally {
      batches -= 1
      if (batches == 0 && dirty) checkpoint()
    }
  }

  /** All warehouse IO goes through the Hadoop FileSystem API ([[Fs]]) so a
    * warehouseDir of `hdfs://...` or `s3a://...` works exactly like a local
    * path — `java.nio` must never touch a warehouse URI. Resolved lazily per
    * op (cheap: FileSystem instances are cached by scheme+authority). */
  private def hconf = Fs.driverConf()

  Fs.mkdirs(warehouseDir, hconf)
  loadCheckpoint()

  // ------------------------------------------------------------ tables

  def tablePath(name: String): String =
    new HPath(warehouseDir, sanitize(name)).toString

  private def sanitize(name: String): String = {
    val s = name.map(c => if (c.isLetterOrDigit || "._-".contains(c)) c else '_').take(200)
    // lossy sanitization (special chars flattened or name truncated) could
    // collide two DISTINCT table names onto one path — the second addTable
    // would silently overwrite the first's parquet while both catalog nodes
    // remain. Disambiguate with a hash of the original name.
    if (s == name) s else s.take(187) + "-" + Jsons.md5Hex(name).take(12)
  }

  def addTable(
      name: String,
      df: DataFrame,
      sourceInfo: Seq[Map[String, Any]] = Seq.empty,
      metadata: Map[String, String] = Map.empty): TableNode = synchronized {
    val path = tablePath(name)
    // write to a temp dir and swap: the DataFrame being registered may
    // itself read from `path` (a cache-hydrated table), and Spark refuses
    // to overwrite a path that is also being read from
    val tmp = path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    // row count rides the write job as an observed metric — re-reading the
    // parquet just to count() would schedule a second job per registration,
    // a needless driver round-trip when registering many tables
    val obs = org.apache.spark.sql.Observation()
    Jobs.described(df.sparkSession, s"graft register $name") {
      df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(tmp)
    }
    Fs.replace(tmp, path, hconf)
    val cnt = obs.get("rows") match { case l: Long => l; case x => String.valueOf(x).toLong }
    // the node and its files are replaced together, so the recorded schema
    // is always the payload's
    val schema = org.apache.spark.sql.graft.Schemas.asNullable(df.schema)
    val node = TableNode(name, path, clock(), cnt, sourceInfo, metadata, Some(schema))
    nodes.put(name, node)
    checkpoint()
    node
  }

  def getNode(name: String): Option[TableNode] = synchronized { nodes.get(name) }

  def allNodes: Seq[TableNode] = synchronized { nodes.values.toSeq }

  /** Reads a table with its recorded schema: Spark plans the scan without
    * the footer job that schema inference runs. */
  def getTable(spark: SparkSession, name: String): Option[DataFrame] =
    getNode(name).map(n => spark.read.schema(schemaOf(spark, n)).parquet(n.path))

  /** A node from an old checkpoint infers its schema once and keeps it (in
    * memory; the next checkpoint persists it). */
  private def schemaOf(spark: SparkSession, n: TableNode): StructType =
    n.schema.getOrElse {
      val s = n.schemaIn(spark)
      synchronized {
        if (nodes.get(n.name).exists(_ eq n)) nodes.put(n.name, n.copy(schema = Some(s)))
      }
      s
    }

  /** Is the node still inside the cache TTL? (tablegraph.py:91-97) */
  def isFresh(name: String): Boolean = synchronized {
    nodes.get(name).exists(n =>
      java.time.Duration.between(n.createdAt, clock()).compareTo(cacheExpiry) < 0)
  }

  /** Rehydrate a cached table, optionally with an equality-conjunction
    * filter (tablegraph.py:109-118). Returns None on cache miss.
    */
  def queryOrFetch(
      spark: SparkSession,
      name: String,
      conditions: Map[String, Any] = Map.empty): Option[DataFrame] =
    getTable(spark, name).map { df =>
      conditions.foldLeft(df) { case (d, (c, v)) => d.filter(col(c) === lit(v)) }
    }

  // ------------------------------------------------------------ chains

  /** Two edges per chain in the reference (tablegraph.py:35-56); one record
    * here carries the same information (the reconstruction at
    * tablegraph.py:58-89 pairs the two edges back into one record anyway).
    * A record equal to a present one in every field but `createdAt` is
    * dropped: a repeated call adds no parallel edge and writes nothing
    * (the reference's MultiDiGraph.add_edge would add one).
    */
  def addChain(c: ChainRecord): Unit = synchronized {
    if (!chains.exists(_.copy(createdAt = c.createdAt) == c)) {
      chains += c
      checkpoint()
    }
  }

  def getChains(table: String): Seq[ChainRecord] = synchronized {
    chains.filter(c =>
      c.sourceTable == table || c.apiResultTable == table || c.mergedResultTable == table).toSeq
  }

  def allChains: Seq[ChainRecord] = synchronized { chains.toSeq }

  /** Wipe every cache level: nodes, chains, transformation cache, the
    * warehouse Parquet payloads, the per-URL response cache, and the
    * checkpoint (reference intent: notsomagictable.py:30-32 forwards
    * clear_all_data to a MagicTable method that does not exist there). */
  def clearAllData(): Unit = synchronized {
    nodes.clear()
    chains.clear()
    transformations.clear()
    Fs.clearDir(warehouseDir, hconf)
    checkpoint()
  }

  /** Drop every staging table ([[graft.operators.Stager.Parquet]] registers
    * its UUID-named intermediates with metadata role=stage; their names can
    * never cache-hit, so a periodic job should reclaim them). */
  def dropStages(): Unit = synchronized {
    val staged = nodes.values.filter(_.metadata.get("role").contains("stage")).toSeq
    staged.foreach { n =>
      Fs.delete(n.path, hconf)
      nodes.remove(n.name)
    }
    if (staged.nonEmpty) checkpoint()
  }

  /** Drop ONE staging table by name — the precise-release path
    * ([[graft.operators.Stager.Parquet]]'s `release`): callers that know exactly what
    * they staged must not reclaim other callers' stages the way the blanket
    * [[dropStages]] does. No-op for unknown names and for nodes that are
    * not role=stage (never deletes a real table). */
  def dropStage(name: String): Unit = synchronized {
    nodes.get(name).filter(_.metadata.get("role").contains("stage")).foreach { n =>
      Fs.delete(n.path, hconf)
      nodes.remove(n.name)
      checkpoint()
    }
  }

  // ------------------------------------------------------------ URL cache

  /** The per-URL cache dir Chain wires into executor-side fetches. */
  def urlCacheDir: String = new HPath(warehouseDir, "_urls").toString

  def getCachedUrl(url: String): Option[String] =
    graft.sources.UrlDiskCache.get(urlCacheDir, url)

  def putCachedUrl(url: String, body: String): Unit =
    graft.sources.UrlDiskCache.put(urlCacheDir, url, body)

  // ------------------------------------------------------------ persistence

  private def checkpointPath = new HPath(warehouseDir, "_graph.json").toString

  /** Writes `_graph.json`, or inside a [[batch]] only marks it due. */
  private def checkpoint(): Unit = synchronized {
    if (batches > 0) dirty = true
    else {
      dirty = false
      val payload = Map(
        "nodes" -> nodes.values.toSeq.map(n => Map(
          "name" -> n.name, "path" -> n.path,
          "created_at" -> n.createdAt.toString, "row_count" -> n.rowCount,
          "source_info" -> n.sourceInfo, "metadata" -> n.metadata) ++
          n.schema.map(s => "schema" -> s.json)),
        "chains" -> chains.toSeq.map(_.toJsonValue),
        "transformations" -> transformations.toMap)
      // atomic (temp+rename): a crash mid-checkpoint must not leave a torn
      // _graph.json that loadCheckpoint would discard, losing the catalog
      Fs.writeStringAtomic(checkpointPath, Jsons.render(payload), hconf)
      writes += 1
    }
  }

  private def loadCheckpoint(): Unit = {
    try {
      // temp fallback: recovers the catalog when a crash hit the
      // non-atomic overwrite-rename window on local/object stores
      val raw = Fs.readStringWithTempFallback(checkpointPath, hconf).getOrElse(return)
      Jsons.parse(raw) match {
        case m: Map[String, Any] @unchecked =>
          m.get("nodes").collect { case ns: Seq[_] =>
            ns.foreach {
              case n: Map[String, Any] @unchecked =>
                val node = TableNode(
                  n("name").toString, n("path").toString,
                  Instant.parse(n("created_at").toString),
                  n.get("row_count").collect { case l: Long => l }.getOrElse(0L),
                  n.get("source_info").collect {
                    case s: Seq[Map[String, Any]] @unchecked => s
                  }.getOrElse(Seq.empty),
                  n.get("metadata").collect {
                    case mm: Map[_, _] =>
                      mm.map { case (k, v) => k.toString -> String.valueOf(v) }
                  }.getOrElse(Map.empty),
                  n.get("schema").collect {
                    case js: String => DataType.fromJson(js).asInstanceOf[StructType]
                  })
                nodes.put(node.name, node)
              case _ =>
            }
          }
          m.get("chains").collect { case cs: Seq[_] =>
            cs.foreach {
              case c: Map[String, Any] @unchecked =>
                chains += ChainRecord(
                  c("source_table").toString, c("api_result_table").toString,
                  c("merged_result_table").toString, c("chain_type").toString,
                  c("source_key").toString, c("target_key").toString,
                  c.get("metadata").collect {
                    case mm: Map[_, _] =>
                      mm.map { case (k, v) => k.toString -> String.valueOf(v) }
                  }.getOrElse(Map.empty),
                  Instant.parse(c("created_at").toString))
              case _ =>
            }
          }
          m.get("transformations").collect { case t: Map[_, _] =>
            t.foreach { case (k, v) => transformations.put(k.toString, String.valueOf(v)) }
          }
        case _ =>
      }
    } catch { case _: Exception => /* corrupt checkpoint -> start clean */ }
  }
}

object TableGraph {
  @volatile private var default: Option[TableGraph] = None

  /** Lazy default graph (reference get_default_graph, magictable.py:48-53).
    * Warehouse location: $GRAFT_WAREHOUSE or java.io.tmpdir/graft_warehouse.
    */
  def defaultGraph: TableGraph = synchronized {
    default.getOrElse {
      val dir = sys.env.getOrElse("GRAFT_WAREHOUSE",
        Paths.get(System.getProperty("java.io.tmpdir"), "graft_warehouse").toString)
      val g = new TableGraph(dir)
      default = Some(g)
      g
    }
  }

  def setDefault(g: TableGraph): Unit = synchronized { default = Some(g) }
}
