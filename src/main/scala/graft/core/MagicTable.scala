package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ApiSource, Fetcher, FileFetcher, GenerativeSource, Source}
import graft.functions.NlCompiler
import graft.operators.{Chain, Stager}

/** The user-facing table (reference: class MagicTable(pl.DataFrame),
  * magictable.py:39-42). Scala can't usefully subclass Dataset, so this is
  * composition: every forwarder re-wraps the resulting DataFrame so lineage
  * (name + sources) survives the call — the Scala equivalent of the
  * reference's blanket Polars-method wrapper (magictable.py:28-36,451-459).
  * `mapDf` is the escape hatch: ANY Spark transformation stays inside the
  * MagicTable world.
  */
class MagicTable(
    val df: DataFrame,
    val name: String,
    val sources: Seq[Source],
    val graph: TableGraph) {

  private def wrap(d: DataFrame, newName: String = name): MagicTable =
    new MagicTable(d, newName, sources, graph)

  /** The blanket-wrapper equivalent: apply any DataFrame -> DataFrame fn. */
  def mapDf(f: DataFrame => DataFrame): MagicTable = wrap(f(df))

  // ---- forwarders (delegated relational surface, SURVEY §2.2) -----------
  def select(cols: Column*): MagicTable = wrap(df.select(cols: _*))
  def selectNames(cols: String*): MagicTable = wrap(df.select(cols.head, cols.tail: _*))
  def filter(cond: Column): MagicTable = wrap(df.filter(cond))
  def where(cond: Column): MagicTable = filter(cond)
  def withColumn(n: String, c: Column): MagicTable = wrap(df.withColumn(n, c))
  def withColumnRenamed(a: String, b: String): MagicTable = wrap(df.withColumnRenamed(a, b))
  def drop(cols: String*): MagicTable = wrap(df.drop(cols: _*))
  def distinct(): MagicTable = wrap(df.distinct())
  def dropDuplicates(cols: Seq[String]): MagicTable = wrap(df.dropDuplicates(cols))
  def orderBy(cols: Column*): MagicTable = wrap(df.orderBy(cols: _*))
  def sort(cols: Column*): MagicTable = orderBy(cols: _*)
  def limit(n: Int): MagicTable = wrap(df.limit(n))
  def join(other: MagicTable, on: Seq[String], how: String = "inner"): MagicTable =
    new MagicTable(df.join(other.df, on, how), name, sources ++ other.sources, graph)
  def join(other: MagicTable, cond: Column, how: String): MagicTable =
    new MagicTable(df.join(other.df, cond, how), name, sources ++ other.sources, graph)
  def union(other: MagicTable): MagicTable =
    new MagicTable(df.unionByName(other.df, allowMissingColumns = true),
      name, sources ++ other.sources, graph)
  def intersect(other: MagicTable): MagicTable = wrap(df.intersect(other.df))
  def except(other: MagicTable): MagicTable = wrap(df.except(other.df))
  def groupByAgg(groupCols: Seq[Column], aggs: Seq[Column]): MagicTable =
    wrap(df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*))
  def flatten(): MagicTable = wrap(JsonFlatten.flattenAll(df))
  def cache(): MagicTable = wrap(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // ---- wider delegated surface (C22: the reference wraps every Polars
  //      method and the LLM emits arbitrary pandas — these cover the
  //      operation families actually reachable there; mapDf covers the rest)
  def withColumns(cols: Map[String, Column]): MagicTable =
    wrap(cols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) })
  def renameAll(mapping: Map[String, String]): MagicTable =
    wrap(mapping.foldLeft(df) { case (d, (a, b)) => d.withColumnRenamed(a, b) })
  def crossJoin(other: MagicTable): MagicTable =
    new MagicTable(df.crossJoin(other.df), name, sources ++ other.sources, graph)
  def sample(fraction: Double, seed: Long = 42L): MagicTable =
    wrap(df.sample(fraction, seed))
  def fillNa(value: Any, cols: Seq[String] = Seq.empty): MagicTable = wrap(value match {
    case v: Long => if (cols.isEmpty) df.na.fill(v) else df.na.fill(v, cols)
    case v: Int => if (cols.isEmpty) df.na.fill(v.toLong) else df.na.fill(v.toLong, cols)
    case v: Double => if (cols.isEmpty) df.na.fill(v) else df.na.fill(v, cols)
    case v: String => if (cols.isEmpty) df.na.fill(v) else df.na.fill(v, cols)
    case v: Boolean => if (cols.isEmpty) df.na.fill(v) else df.na.fill(v, cols)
    case other => throw new IllegalArgumentException(s"unsupported fill value: $other")
  })
  def dropNa(cols: Seq[String] = Seq.empty): MagicTable =
    wrap(if (cols.isEmpty) df.na.drop() else df.na.drop(cols))
  def explodeCol(column: String, as: String): MagicTable =
    wrap(df.withColumn(as, explode_outer(col(s"`$column`"))))
  def pivotAgg(groupCol: String, pivotCol: String, agg: Column): MagicTable =
    wrap(df.groupBy(col(s"`$groupCol`")).pivot(pivotCol).agg(agg))
  /** Polars `unpivot`/`melt` analogue: wide → long. Pure narrow expand
    * (Spark's Unpivot node — one generator row per value column, no
    * shuffle). */
  def unpivot(ids: Seq[String], values: Seq[String],
      variableColumnName: String = "variable",
      valueColumnName: String = "value"): MagicTable =
    wrap(df.unpivot(ids.map(c => col(s"`$c`")).toArray,
      values.map(c => col(s"`$c`")).toArray, variableColumnName, valueColumnName))
  /** Polars `join_asof` analogue (reachable through the reference's blanket
    * wrapper): backward/forward/nearest, one-shuffle union+window — see
    * [[graft.operators.AsofJoin]]. */
  def joinAsof(other: MagicTable, on: Seq[String], leftTs: String, rightTs: String,
      values: Seq[String], strategy: String = "backward",
      tolerance: Option[Double] = None): MagicTable =
    new MagicTable(
      graft.operators.AsofJoin(df, other.df, on, leftTs, rightTs, values, strategy,
        tolerance),
      name, sources ++ other.sources, graph)
  def describeStats(cols: String*): MagicTable = wrap(df.describe(cols: _*))

  // ---- pipeline-operator forwarders: the training-data verbs a reference
  //      user reaches for most, surfaced on the wrapper so lineage and
  //      re-wrapping are free (full signatures live on the operators)
  def dedupExact(idCol: String, textCol: String): MagicTable =
    wrap(graft.operators.Dedup.exactDedup(df, idCol, textCol))
  def dedupNear(idCol: String, textCol: String): MagicTable =
    wrap(graft.operators.DupClusters.dedupByPairs(df, idCol,
      graft.operators.Dedup.nearDupPairsMinhash(df, idCol, textCol)))
  def profileBy(groupCol: String, idCol: String, textCol: String): MagicTable =
    wrap(graft.operators.Profile.corpusProfile(df, groupCol, idCol, textCol))
  def scoreFluency(idCol: String, textCol: String, vocabSize: Int = 10000): MagicTable =
    wrap(graft.operators.LmScore.scoreBigramSelf(df, idCol, textCol, vocabSize))
  def scrubPii(textCol: String): MagicTable =
    wrap(graft.operators.Scrub.redactColumn(df, textCol))
  def boilerplateNgrams(idCol: String, textCol: String, shingleN: Int = 5,
      k: Int = 20): MagicTable =
    wrap(graft.operators.Dedup.boilerplateNgrams(df, idCol, textCol, shingleN, k))
  def head(n: Int): Seq[org.apache.spark.sql.Row] = df.head(n).toSeq
  /** Sink escape hatch (delegated write surface: parquet/csv/json/orc...). */
  def write: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = df.write

  def columns: Seq[String] = df.columns.toSeq
  def count(): Long = df.count()

  /** One-line profile (reference magictable.py:145-146): rows x cols,
    * names, dtypes, first row. Feeds the NL compiler context. */
  def summary: String = {
    val first = df.head(1).headOption.map(_.toString).getOrElse("<empty>")
    s"${df.count()} rows x ${df.columns.length} cols; " +
      s"columns=${df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}; " +
      s"first=$first"
  }

  // ---- native operators --------------------------------------------------

  /** NL transform (reference C3, magictable.py:148-200): compile the query
    * against this schema, cache the compiled plan by "{name}_{query}"
    * (magictable.py:150), execute, register result + lineage. The result
    * name and the GenerativeSource lineage marker mirror
    * magictable.py:180-184.
    */
  def transform(query: String, model: String = "deterministic"): MagicTable = {
    val cacheKey = s"${name}_$query"
    val compiled = NlCompiler.compile(query, df.columns.toSeq)
    val out = compiled.apply(df)
    val newName = s"${name}_query:${query}_model:$model"
    graph.batch {
      // write the compilation cache only on first sight: the entry's
      // purpose is skipping a pluggable-LLM recompile (an online LlmClient
      // should consult it), and an identical entry changes nothing
      if (!graph.transformations.contains(cacheKey))
        graph.putTransformation(cacheKey, compiled.describe)
      graph.addChain(ChainRecord(name, newName, newName, "transform",
        query, "", Map("describe" -> compiled.describe), graph.clock()))
    }
    new MagicTable(out, newName, sources :+ GenerativeSource(name), graph)
  }

  /** NL join (reference intent: notsomagictable.py:15-18 declares
    * join_with_query forwarding to a MagicTable method that does not exist
    * — the declared surface, implemented). The query names the join type
    * and key ("left join on custkey where ..."); remaining NL clauses run
    * on the joined frame. Lineage merges both tables' sources. */
  def joinWithQuery(other: MagicTable, query: String): MagicTable = {
    val compiled = NlCompiler.compileJoin(query, df.columns.toSeq, other.df.columns.toSeq)
    val cacheKey = s"${name}_join_${other.name}_$query"
    val out = compiled.apply(df, other.df)
    val newName = s"${name}_join_${other.name}"
    graph.batch {
      // first-sight gating, like transform's
      if (!graph.transformations.contains(cacheKey))
        graph.putTransformation(cacheKey, compiled.describe)
      graph.addChain(ChainRecord(name, other.name, newName, "nl_join",
        query, "", Map("describe" -> compiled.describe), graph.clock()))
    }
    new MagicTable(out, newName, sources ++ other.sources, graph)
  }

  /** Per-row API fan-out (reference C1). Whole-chain result cache keyed by
    * source ids with the 1 h TTL (magictable.py:221-230). */
  def chain(
      urlTemplate: String,
      fetcher: Fetcher = MagicTable.defaultFetcher,
      sourceKey: Option[String] = None,
      targetKey: Option[String] = None): MagicTable =
    chainImpl(urlTemplate, sources :+ ApiSource(urlTemplate), fetcher, sourceKey, targetKey)

  /** Chain off ANOTHER table (reference magictable.py:202-219): the URL
    * template is the other table's LAST source identifier, and the result
    * carries BOTH tables' source lineage (new_sources = self + other). */
  def chain(other: MagicTable): MagicTable =
    chain(other, MagicTable.defaultFetcher, None, None)

  def chain(other: MagicTable, fetcher: Fetcher,
      sourceKey: Option[String], targetKey: Option[String]): MagicTable = {
    require(other.sources.nonEmpty,
      "Invalid input for chaining: expected MagicTable with sources or an API URL template string")
    chainImpl(other.sources.last.getIdentifier, sources ++ other.sources,
      fetcher, sourceKey, targetKey)
  }

  private def chainImpl(
      urlTemplate: String,
      newSources: Seq[Source],
      fetcher: Fetcher,
      sourceKey: Option[String],
      targetKey: Option[String]): MagicTable = {
    // the cache key must cover everything that changes the result: the
    // template AND any explicit key mapping (two calls differing only in
    // sourceKey must not share a cache entry)
    val newName = s"${name}_chain_" +
      Jsons.md5Hex(s"$urlTemplate|${sourceKey.getOrElse("")}|${targetKey.getOrElse("")}").take(12)
    if (graph.isFresh(newName)) {
      graph.getTable(df.sparkSession, newName) match {
        case Some(cached) => return new MagicTable(cached, newName, newSources, graph)
        case None =>
      }
    }
    val ((out, keyCols), release) = Stager.recording(
      Chain(df, urlTemplate, fetcher, sourceKey, targetKey, Some(graph.urlCacheDir)))
    graph.batch {
      graph.addTable(newName, out, MagicTable.sourceInfo(newSources))
      release() // result is parquet now; free the staged responses
      graph.addChain(ChainRecord(name, newName, newName, "api_chain",
        keyCols.mkString(","), "", Map("api_url_template" -> urlTemplate), graph.clock()))
    }
    new MagicTable(graph.getTable(df.sparkSession, newName).get, newName, newSources, graph)
  }

  /** Register this table in the catalog (Parquet write + node). */
  def register(): MagicTable = {
    graph.addTable(name, df, MagicTable.sourceInfo(sources))
    this
  }
}

object MagicTable {

  def defaultFetcher: Fetcher =
    new FileFetcher(sys.env.getOrElse("GRAFT_FIXTURES",
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_fixtures").toString))

  def sourceInfo(sources: Seq[Source]): Seq[Map[String, Any]] =
    sources.map(s => Map(
      "type" -> s.getType, "identifier" -> s.getIdentifier, "params" -> s.getParams))

  /** Ingestion entry point (reference C5, magictable.py:56-67): source-id
    * cache lookup; on miss fetch -> flatten -> infer -> register. Table
    * name = "_"-joined source ids (magictable.py:102).
    */
  def fromSource(
      spark: SparkSession,
      source: Source,
      fetcher: Fetcher = defaultFetcher,
      graph: TableGraph = TableGraph.defaultGraph): MagicTable = {
    val tableName = source.getId
    // honor the same TTL as chain (C14): a stale node is refetched, not
    // served forever
    (if (graph.isFresh(tableName)) graph.getTable(spark, tableName) else None) match {
      case Some(cached) => new MagicTable(cached, tableName, Seq(source), graph)
      case None =>
        import spark.implicits._
        val lines = source.fetchRows(fetcher)
        val df = spark.read.json(spark.createDataset(lines))
        graph.addTable(tableName, df, sourceInfo(Seq(source)))
        new MagicTable(graph.getTable(spark, tableName).get, tableName, Seq(source), graph)
    }
  }

  /** Wrap an existing DataFrame (no registration until .register()). */
  def fromDataFrame(df: DataFrame, name: String,
      graph: TableGraph = TableGraph.defaultGraph): MagicTable =
    new MagicTable(df, name, Seq.empty, graph)
}
