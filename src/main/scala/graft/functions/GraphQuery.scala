package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{TableGraph, TableNode}

/** NL querying over the WHOLE data graph (reference README.md:250-277 — the
  * "Unified Data Graph and Natural Language Querying" feature the reference
  * marks In Progress; its generate_embeddings, utils.py:179-242, is dead
  * code with no caller precisely because this consumer was never built).
  *
  * The declared mechanism, implemented offline:
  *  1. every registered table gets a PROFILE (name, column names split on
  *     underscores, source types/identifiers) embedded with the pluggable
  *     [[Embedder]] (offline default: deterministic feature hashing);
  *  2. the plain-English query embeds the same way; cosine picks the table
  *     the query is about;
  *  3. the query then compiles against that table's schema through the
  *     deterministic [[NlCompiler]] grammar and runs distributed.
  *
  * Everything is driver-side ONLY over graph METADATA (the node list and
  * each node's recorded schema — no Spark job, never row data); the
  * returned plan executes on the cluster.
  */
object GraphQuery {

  /** Text profile of a node: table name + schema tokens + source lineage.
    * Column names contribute their underscore fragments too ("o_totalprice"
    * -> "o", "totalprice") so NL words match TPC-H-style prefixed columns. */
  def profile(spark: SparkSession, node: TableNode): String = {
    val cols = node.schemaIn(spark).fieldNames.toSeq
    val fragments = cols.flatMap(c => c.split("_").filter(_.nonEmpty))
    val sources = node.sourceInfo.flatMap(m =>
      Seq(m.get("type"), m.get("identifier")).flatten.map(String.valueOf))
    (Seq(node.name) ++ cols ++ fragments ++ sources).mkString(" ")
  }

  /** True cosine — normalizes both sides (the [[Embedder]] trait does not
    * promise unit vectors; an online client's raw vectors would otherwise
    * rank tables by profile magnitude, not relevance). Dimensions must
    * agree: silently truncating a mismatch would compare different spaces. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length,
      s"embedding dims differ: ${a.length} vs ${b.length} (mixed embedders?)")
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  // profiles depend only on (table, registration time): memoize so a node
  // from a checkpoint without recorded schemas pays its footer read once,
  // not on every query.
  // Keyed by PATH, not name: the map is JVM-global, and two graphs holding a
  // same-named table created at the same instant (easy with the injectable
  // fixed clock) must not serve each other's stale profile — the warehouse
  // path is unique per graph.
  private val profileCache =
    new java.util.concurrent.ConcurrentHashMap[(String, java.time.Instant), String]()

  /** Rank every table in the graph by embedding similarity to the query.
    * Staging intermediates (metadata role=stage, written by
    * [[graft.operators.Stager.Parquet]]) are an operator's internal frames,
    * not tables a query is about, and are never ranked. A node whose
    * parquet payload has gone missing is skipped (with a stderr note)
    * rather than failing queries about healthy tables. */
  def rankTables(spark: SparkSession, graph: TableGraph, query: String,
      embedder: Embedder = new FeatureHashEmbedder(64)): Seq[(TableNode, Double)] = {
    val qv = embedder.embed(query)
    val conf = spark.sparkContext.hadoopConfiguration
    graph.allNodes.filterNot(_.metadata.get("role").contains("stage")).flatMap { n =>
      scala.util.Try {
        // the profile never opens the payload, so check it is still there
        require(graft.core.Fs.exists(n.path, conf), s"${n.path} does not exist")
        profileCache.computeIfAbsent((n.path, n.createdAt), _ => profile(spark, n))
      } match {
        case scala.util.Success(p) => Some(n -> cosine(qv, embedder.embed(p)))
        case scala.util.Failure(e) =>
          System.err.println(s"[graph-query] skipping unreadable table ${n.name}: ${e.getMessage}")
          None
      }
    }.sortBy { case (n, s) => (-s, n.name) }
  }

  /** Query the graph in plain English: route to the highest-ranked table
    * against which EVERY clause of the query resolves, then compile and
    * run the query there. 64-dim feature hashing can rank an unrelated
    * table first, so the rank only orders the candidates and the schema
    * decides. Refuses when no table qualifies, naming the top-ranked
    * table's failure — silently returning every row (or a partially
    * filtered copy) of a vaguely-related table is worse than an error. */
  def queryNl(spark: SparkSession, graph: TableGraph, query: String,
      embedder: Embedder = new FeatureHashEmbedder(64)): DataFrame = {
    val ranked = rankTables(spark, graph, query, embedder)
    require(ranked.nonEmpty, "the graph has no registered (readable) tables to query")
    val candidates = ranked.iterator.map { case (node, _) =>
      val df = graph.getTable(spark, node.name).getOrElse(
        sys.error(s"table ${node.name} vanished from the graph"))
      (node, df, compileOn(query, node, df.columns.toSeq))
    }.buffered
    val (best, _, bestCompiled) = candidates.head
    candidates.find { case (_, _, c) => c.describe.nonEmpty && c.warnings.isEmpty } match {
      case Some((_, df, compiled)) => compiled.apply(df)
      case None =>
        require(bestCompiled.describe.nonEmpty,
          s"query '$query' resolved on no table; on the top-ranked ${best.name} " +
            "no clause resolved against its columns — refusing to return the " +
            "unfiltered table")
        // strict mode: a PARTIALLY-resolved query (typo'd filter column,
        // say) would silently widen the result — error instead
        throw new IllegalArgumentException(
          s"query '$query' resolved on no table; on the top-ranked ${best.name} " +
            s"some clauses were dropped: ${bestCompiled.warnings.mkString("; ")}")
    }
  }

  /** Compile `query` against one table's `columns`. Natural phrasings
    * mention the table in prose ("top 2 orders by total price") and the
    * table word then lands inside a clause capture and fails to resolve.
    * Compile the query as written first; only if clauses were dropped,
    * retry with the table's name tokens (±plural) stripped and keep the
    * retry when IT resolves cleanly — queries that never mention the
    * table are untouched. */
  private def compileOn(query: String, node: TableNode,
      columns: Seq[String]): NlCompiler.Compiled = {
    val first = NlCompiler.compile(query, columns)
    // a clause is "accounted for" when it either compiled (a describe step)
    // or was explicitly warned about — the count must never DROP across the
    // stripped retry, or stripping could silently delete a clause whose
    // column tokens coincide with the table name ("top 3 by total sales"
    // on table total_sales must keep erroring, not return unsorted rows)
    def clauseCount(c: NlCompiler.Compiled): Int =
      (if (c.describe.isEmpty) 0 else c.describe.split(";").length) + c.warnings.length
    if (first.warnings.isEmpty) first
    else {
      val nameToks = node.name.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .flatMap(t => Seq(t, t.stripSuffix("s"), t + "s")).toSet
      val stripped = query.split("\\s+")
        .filterNot(w => nameToks.contains(w.toLowerCase.replaceAll("[^a-z0-9]", "")))
        .mkString(" ")
      val second = NlCompiler.compile(stripped, columns)
      if (second.warnings.isEmpty && second.describe.nonEmpty &&
          clauseCount(second) >= clauseCount(first)) second
      else first
    }
  }
}
