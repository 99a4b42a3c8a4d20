package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{Jobs, Jsons}
import graft.sources.Fetcher

/** The reference's signature operator: per-row parameterized API fan-out
  * (reference C1, magictable.py:202-315). Semantically a left lateral join:
  * for each row, build a URL from row values, fetch JSON, lateral-join the
  * 1..N response records back as api_* columns.
  *
  * The reference builds URLs in a driver-side row loop (magictable.py:
  * 250-266), fetches with asyncio, and aligns results to rows POSITIONALLY
  * (magictable.py:273-281). None of that survives 100 TB. The distributed
  * decomposition here:
  *   (a) URL build    -> a single concat() Catalyst expression per row
  *   (b) fetch        -> distinct URLs only (mirrors the reference's
  *                       per-URL cache, magictable.py:355-366), fetched in
  *                       mapPartitions on EXECUTORS via the injected Fetcher
  *   (c) re-join      -> left equi-join on __url (duplicate URLs across rows
  *                       reuse one fetch; empty/failed responses keep the
  *                       row with all-null api_* — magictable.py:340,389)
  *   (d) parse+infer  -> responses wrapped as JSON lines, schema inferred by
  *                       spark.read.json (permissive-nullable, key-union —
  *                       magictable.py:284-289)
  *   (e) fan-out      -> one output row per response element (the explode
  *                       happens while wrapping: element-level JSON lines)
  *   (f) prefixing    -> response fields surfaced as api_<field>
  */
object Chain {

  /** Build the per-row URL as a pure Catalyst expression. Placeholders
    * mapped to columns substitute the column value; unmapped placeholders
    * stay literal "{p}" (magictable.py:434-437).
    */
  def urlExpression(template: String, mapping: Map[String, String]): Column = {
    val rx = """\{([^{}]+)\}""".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    rx.findAllMatchIn(template).foreach { m =>
      if (m.start > last) parts += lit(template.substring(last, m.start))
      val ph = m.group(1)
      mapping.get(ph) match {
        case Some(column) =>
          // dotted names (flattened key.subKey) must be backticked
          parts += col(s"`${column.replace("`", "``")}`").cast("string")
        case None => parts += lit(s"{$ph}")
      }
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit(template) else concat(parts.toSeq: _*)
  }

  /** Fetch each distinct URL (executor-side), returning one JSON line per
    * response ELEMENT: {"__url": u, "resp": <element>}. A failed or empty
    * fetch emits {"__url": u} so the later left join keeps provenance
    * explicit. List responses fan out 1..N; object responses yield 1.
    */
  def fetchResponses(
      urls: Dataset[String],
      fetcher: Fetcher,
      urlCacheDir: Option[String],
      maxSleepMs: Long = 30000L): Dataset[String] = {
    import urls.sparkSession.implicits._
    // ship the session's Hadoop conf into the task closure so the executor
    // resolves the cache dir on the SAME filesystem (HDFS/S3 credentials
    // included) as the driver — a bare `new Configuration()` on an executor
    // would miss spark.hadoop.* overrides and fork the cache per-node
    val hconf = new graft.core.SerializableHadoopConf(
      urls.sparkSession.sparkContext.hadoopConfiguration)
    urls.mapPartitions { it =>
      val conf = hconf.value
      it.flatMap { url =>
        val cached = urlCacheDir.flatMap(dir => graft.sources.UrlDiskCache.get(dir, url, conf))
        val body = cached.orElse {
          val fetched = fetcher.fetchWithRetry(url, maxSleepMs = maxSleepMs)
          for (dir <- urlCacheDir; b <- fetched)
            graft.sources.UrlDiskCache.put(dir, url, b, conf)
          fetched
        }
        // flatten each response like the reference does BEFORE exploding
        // (utils.py:36-80): a nested detail object fans out into one row
        // per nested-list element with dotted key.subKey columns.
        val flatRows: Seq[Map[String, Any]] = body.flatMap(b => Jsons.parseOpt(b)) match {
          case Some(v) => graft.core.JsonFlatten.flattenValue(v)
          case None => Seq.empty
        }
        if (flatRows.isEmpty) Iterator.single(Jsons.render(Map("__url" -> url)))
        else flatRows.iterator.map(r => Jsons.render(Map("__url" -> url, "resp" -> r)))
      }
    }
  }

  /** Full chain. Returns (result, resolvedKeyColumns). The fetched
    * responses are staged through the calling thread's [[Stager]] (the
    * result plan reads the stage lazily), so a caller that MATERIALIZES
    * the result frees them with [[Stager.recording]]'s release. */
  def apply(
      df: DataFrame,
      template: String,
      fetcher: Fetcher,
      sourceKey: Option[String] = None,
      targetKey: Option[String] = None,
      urlCacheDir: Option[String] = None,
      maxSleepMs: Long = 30000L,
      maxBroadcastBytes: Long = 64L << 20): (DataFrame, Seq[String]) = {
    val spark = df.sparkSession
    // the jobs below (the response stage, schema inference, the broadcast
    // size scan) are labelled with the chain they serve
    Jobs.described(spark, s"graft chain $template") {
      import spark.implicits._

      require(!df.columns.contains("__url"),
        "__url is a reserved helper name in chain (rename the input column)")
      val mapping = KeyResolver.resolve(template, df.columns.toSeq, sourceKey, targetKey)
      val withUrl = df.withColumn("__url", urlExpression(template, mapping))

      // rows whose key columns are null produce a null __url: keep the ROW
      // (all-null api_* after the left join) but never fetch a null URL
      val distinctUrls = withUrl.select($"__url")
        .filter($"__url".isNotNull).distinct().as[String]
      // read.json(Dataset[String]) scans its input TWICE (schema inference +
      // execution) — stage the fetched lines or every URL is fetched twice.
      val respLines = Stager.stage(
        fetchResponses(distinctUrls, fetcher, urlCacheDir, maxSleepMs).toDF("value"),
        s"chain_resp_${java.util.UUID.randomUUID().toString.take(8)}")
      val respDf = spark.read.json(respLines.as[String])

      val result =
        if (!respDf.columns.contains("resp")) {
          // every fetch failed/empty: keep rows, no api_* columns to add
          withUrl.drop("__url")
        } else {
          // left join preserves source rows; element rows fan out per URL.
          // Broadcast the response side only while it is actually small —
          // with per-row-unique keys it scales with the input, and a forced
          // broadcast hint would bypass Spark's size checks and OOM. Decide
          // by BYTES, not row count: a handful of rows with megabyte JSON
          // payloads must not be driver-collected. octet_length counts UTF-8
          // bytes (length counts chars — up to 4x off on multibyte text). What
          // actually broadcasts is the PARSED-STRUCT respDf, whose in-memory
          // rows can be several x larger than their JSON text (per-field
          // object headers, UTF8String copies, null bitmaps) — so the text
          // bytes are compared against the budget with a 4x expansion
          // headroom: 64 MB budget admits <=16 MB of response text. The size
          // scan is cheap — respLines is already staged.
          val respBytes = respLines
            .agg(coalesce(sum(octet_length($"value")), lit(0L)).cast("long")).as[Long].head()
          val structExpansionHeadroom = 4L
          val respSide =
            if (respBytes * structExpansionHeadroom <= maxBroadcastBytes) broadcast(respDf)
            else respDf
          val joined = withUrl.join(respSide, Seq("__url"), "left")
          val respFields = respDf.schema("resp").dataType match {
            case st: org.apache.spark.sql.types.StructType => st.fields.toSeq
            case _ => Seq.empty
          }
          val baseCols = df.columns.toSeq.map(c => col(s"`$c`"))
          val apiCols =
            if (respFields.nonEmpty)
              respFields.map(f => col("resp").getField(f.name).as(s"api_${f.name}"))
            else Seq(col("resp").as("api_resp"))
          val apiNames =
            if (respFields.nonEmpty) respFields.map(f => s"api_${f.name}") else Seq("api_resp")
          require(apiNames.forall(!df.columns.contains(_)),
            s"response columns ${apiNames.filter(df.columns.contains).mkString(", ")} " +
              "collide with input columns (a previous chain output? rename before re-chaining)")
          joined.select(baseCols ++ apiCols: _*)
        }
      (result, mapping.values.toSeq)
    }
  }
}
