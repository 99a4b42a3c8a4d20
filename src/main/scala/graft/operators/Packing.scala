package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sequence packing (beyond-reference, SURVEY.md §2.4):
  * assign documents to fixed token-budget bins — the batching step that
  * turns a curated corpus into training sequences. This is CONTIGUOUS
  * packing in a total per-group order (docs sorted by id, bin = which
  * budget multiple the running token count has crossed), the
  * deterministic variant every engine can reproduce — unlike first-fit
  * bin packing, whose result depends on visit order and defeats both
  * distribution and oracle checks.
  *
  * Semantics per group: docs ordered by `idCol`; doc i lands in bin
  * floor(cum_tokens_before_i / budget). A document longer than the budget
  * still gets exactly one bin assignment (it will overflow its bin — the
  * caller decides whether to truncate or drop; `oversize` marks it).
  *
  * 100 TB shape (the r13 migration off the cumulative-sum windows):
  * the per-group running token count rides
  * [[PrefixSum.withKeyedRunningSums]] — a giant group (per-language
  * packing over a corpus-sized language) never serializes into one
  * window reducer — and GLOBAL packing (groupCol = None) rides
  * [[PrefixSum.withRunningSums]]' range exchange, so it distributes
  * too; `allowGlobal` is retained for API compatibility but no longer
  * gates anything (the single-reducer hazard it guarded is gone).
  * `idCol` values must be DISTINCT and non-null (the prefix-sum order
  * contract — already the semantic contract here: ties in the packing
  * order would be nondeterministic); NULL ids and NULL groups drop.
  */
object Packing {

  def assignBins(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Long,
      groupCol: Option[String] = None,
      binCol: String = "bin",
      allowGlobal: Boolean = false): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    (Seq(binCol, "oversize", "__pk_t", "cum___pk_t") intersect df.columns)
      .foreach(c => throw new IllegalArgumentException(
        s"output column '$c' already exists in the input"))
    val toks = col(s"`$tokensCol`").cast("long")
    val id = col(s"`$idCol`")
    // packing sits at the TAIL of composed funnels (curate -> decon ->
    // split -> pack), where the input plan is a long broadcast-join chain
    // — stage it once so the range exchange's bounds sampling does not
    // re-run the whole chain (PrefixSum.stagedInput rationale)
    val base0 = PrefixSum.stagedInput(
      df.filter(id.isNotNull).withColumn("__pk_t", toks),
      stage = true)
    val cum = groupCol match {
      case Some(g) =>
        PrefixSum.withKeyedRunningSums(
          base0.filter(col(s"`$g`").isNotNull),
          Seq(g), Seq(idCol), Seq("__pk_t"))
      case None =>
        PrefixSum.withRunningSums(base0, Seq(idCol), Seq("__pk_t"))
    }
    cum
      // exact LONG floor-division (SQL `div`), not a double `/` + cast:
      // double loses exactness past 2^53 cumulative tokens, and engines
      // disagree on double->int conversion (truncate vs round)
      .withColumn("__before", col("cum___pk_t") - col("__pk_t"))
      .withColumn(binCol, expr(s"__before div ${budget}L"))
      .withColumn("oversize", col("__pk_t") > budget)
      .drop("cum___pk_t", "__pk_t", "__before")
  }

  /** Overlapping fixed-size windows over each document's whitespace-token
    * sequence — the long-document chunking step (context-window slicing
    * with stride overlap). Window i covers tokens [i·stride,
    * i·stride+window); starts run 0, stride, … up to the first start that
    * reaches the tail, so every token lands in ≥ 1 chunk and the last
    * chunk may be short. Docs with zero tokens emit no rows; token case
    * is preserved (chunks are payload, not analysis features).
    *
    * Output: (idCol, chunk_id, chunk_text, n_chunk_tokens).
    *
    * 100 TB shape: pure narrow, codegen'd per-row work (split, sequence,
    * slice, explode) — NO shuffle anywhere; output row count is
    * Σ ceil(max(len−window,0)/stride)+1, bounded by (overlap factor) ×
    * input tokens. */
  def slidingWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      strideTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(strideTokens >= 1 && strideTokens <= windowTokens,
      s"strideTokens must be in [1, windowTokens], got $strideTokens")
    (Seq("chunk_id", "chunk_text", "n_chunk_tokens") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"output column '$c' already exists in the input"))
    // same reserved-name guard as Sink (__shard) / capPerGroup (__cap_rn):
    // an input column named like an internal temporary would be silently
    // overwritten and then dropped
    (Seq("__toks", "__k", "__chunk") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by slidingWindows"))
    val toks = filter(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"), t => t =!= "")
    val w = windowTokens
    val s = strideTokens
    // every expression below references the materialized __toks/__chunk
    // columns, never the raw text — the regex split and the slice each
    // run ONCE per row/chunk on this hot path
    df
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) > 0)
      // last start index: ceil(max(n-w,0)/s) via exact integer floor-division
      .withColumn("__k", expr(s"CAST(greatest(size(__toks) - $w + $s - 1, 0) div $s AS INT)"))
      .withColumn("chunk_id", explode(sequence(lit(0), col("__k"))))
      .withColumn("__chunk", slice(col("__toks"), col("chunk_id") * lit(s) + 1, lit(w)))
      .withColumn("chunk_text", concat_ws(" ", col("__chunk")))
      .withColumn("n_chunk_tokens", size(col("__chunk")))
      .drop("__toks", "__k", "__chunk")
  }

  /** Content-defined chunking (Rabin-style, LBFS — Muthitacharoen et al.
    * 2001): split each document at positions where the rolling hash of
    * the trailing `window` codepoints divides `divisor` (average chunk ≈
    * `divisor` codepoints). Because boundaries are LOCAL content
    * decisions, an edit shifts only the chunks it touches — chunk-hash
    * dedup then finds the shared content between near-identical
    * documents where fixed-width chunking finds nothing (the
    * storage-dedup upgrade of [[slidingWindows]]; the complement of
    * [[Dedup.removeDuplicateSpans]]' token-aligned spans).
    *
    * Output: (idCol, chunk_idx long — 0-based, start_pos, end_pos long —
    * 1-based inclusive codepoint positions, chunk, chunk_hash long — the
    * shared 60-bit md5, the dedup join key). Chunks concatenate back to
    * the exact document; NULL-text docs emit no rows; docs shorter than
    * `window` emit one whole-document chunk.
    *
    * 100 TB shape: boundary detection is the codegen'd
    * [[org.apache.spark.sql.graft.CdcBoundaries]] one-pass kernel (O(1)
    * rolling update per codepoint); chunking is a zip + explode
    * projection — zero shuffle; downstream dedup joins on chunk_hash
    * only. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 64): DataFrame = {
    val id = col(s"`$idCol`")
    val txt = col(s"`$textCol`")
    val bnd = org.apache.spark.sql.graft.CdcBoundaries
      .boundaries(txt, window, divisor)
    df.filter(txt.isNotNull)
      .select(id, txt.as("__t"), bnd.as("__bnd"), length(txt).as("__len"))
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__bnd"), b => b + 1)))
      .withColumn("__ends", concat(col("__bnd"), array(col("__len"))))
      .select(id, col("__t"),
        posexplode(arrays_zip(col("__starts"), col("__ends")))
          .as(Seq("chunk_idx", "__se")))
      .filter(col("__se.__starts") <= col("__se.__ends"))
      .select(id, col("chunk_idx").cast("long").as("chunk_idx"),
        col("__se.__starts").cast("long").as("start_pos"),
        col("__se.__ends").cast("long").as("end_pos"),
        col("__t").substr(col("__se.__starts"),
          col("__se.__ends") - col("__se.__starts") + 1).as("chunk"))
      .withColumn("chunk_hash",
        graft.functions.TextFunctions.md5Hash60(col("chunk")))
  }

  /** Packing-efficiency report over [[assignBins]]' contiguous bins —
    * the "how much context window are we wasting?" rollup a training
    * pipeline reads before changing budget or packing policy. Per
    * group: (groupCol, n_docs, n_oversize longs — docs alone exceeding
    * the budget, n_bins, total_tokens, capacity longs — n_bins·budget,
    * fill_rate double — total_tokens/capacity; can exceed 1.0 exactly
    * when oversize docs exist, waste_rate double — max(0, 1−fill_rate)).
    * Rates are single divisions of exact integers.
    *
    * 100 TB shape: assignBins' one per-group cumulative window, then a
    * (group, bin) count collapse and a group rollup — both map-side
    * combinable. */
  def packingEfficiency(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, groupCol: String): DataFrame = {
    val binned = assignBins(df, idCol, tokensCol, budget, Some(groupCol))
    val g = col(s"`$groupCol`")
    binned.groupBy(g)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("oversize"), 1L).otherwise(0L)).as("n_oversize"),
        countDistinct(col("bin")).as("n_bins"),
        sum(col(s"`$tokensCol`")).as("total_tokens"))
      .withColumn("capacity", col("n_bins") * budget)
      .withColumn("fill_rate",
        when(col("capacity") > 0L,
          col("total_tokens").cast("double") / col("capacity").cast("double")))
      .withColumn("waste_rate",
        when(col("capacity") > 0L,
          greatest(lit(0.0), lit(1.0) - col("fill_rate"))))
  }
}
